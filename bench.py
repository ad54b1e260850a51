"""Benchmark harness: the headline query sum, the flagship's pages/s and
its N-vs-4N scaling ratio, all sized from the host.

Prints ONE JSON line:
  {"metric": ..., "value": <sum of headline seconds>, "unit": "sec",
   "queries": {name: sec}, "sf": ..., "steal_frac_headline": ...,
   "flagship_pages": n, "flagship_pages_per_sec": <at local[nproc]>,
   "scaling": {"n_cores": N, "4n_cores": nproc, "pages_per_sec_n": ...,
               "pages_per_sec_4n": ..., "speedup": ..., "efficiency": ...,
               "steal_frac_n": ..., "steal_frac_4n": ...},
   "host": {"cores": nproc, "mem_gb": ...}}

Headline: after one untimed warm pass over the HEADLINE queries, each
runs twice in the same ``get_spark()`` session, written to the noop sink
so every column is evaluated; the faster run counts. A run's time
includes building its DataFrame, where iterative queries run jobs.
steal_frac_headline covers the timed runs, not the warm pass.

Flagship: ``operators.tiling.flagship_pipeline`` over the sf pages table
replicated SPARK_GRAFT_BENCH_REPL times, materialized once as parquet
under /tmp and reused. It runs at local[N] with N = max(1, nproc // 4)
and at local[nproc], each side in a child process pinned to its cores
before the JVM starts, so service threads cannot leak onto idle cores.
Each side reports the faster of 2 timed passes after a warm pass.
efficiency = speedup / (nproc / N). Steal is recorded as context only.

Usage: python bench.py   (from any working directory)
Env: SPARK_GRAFT_SF_DIR (default: the sf0.1 testdata directory),
     SPARK_GRAFT_BENCH_REPL (default 16: about 1.6M pages at sf0.1).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from geotiff_processor_spark.operators.tiling import flagship_pipeline
from geotiff_processor_spark.session import (get_spark, host_cores,
                                             host_memory_bytes)
from geotiff_processor_spark.sources import synth

HEADLINE = [
    "pip_count", "cell_encode", "tile_counts", "tile_pyramid", "knn",
    "zonal_stats", "pyramid_l8", "mapbox_encode", "terrarium_encode",
    "percentile_breaks", "hillshade", "outline_components", "preview_math",
    "dedup_exact", "text_quality", "minhash_sigs", "ann_cosine",
    "simhash", "media_meta", "decode_images", "tpch_pricing",
    "tpch_join_nation_revenue", "events_window", "reproject_utm",
    "reproject_lcc", "decode_jpeg", "decode_audio", "reproject_ps",
    "repetition_signals", "chunk_tokens", "pii_scrub",
    "stratified_sample", "dedup_canonical", "shuffle_rank",
    "pack_sequences", "source_cap", "line_dedup", "vocab_topk",
    "decode_video", "substr_dedup", "decode_gif", "pagerank",
    "bm25", "postings", "kmv_distinct", "winnow", "extract_text",
    "reproject_albers", "warc_parse", "image_dhash",
    "asof_join", "scd2_history", "bloom_join", "geoparse_pip",
    "decode_geotiff", "warc_gzip", "radius_join", "merge_upsert",
    "geotiff_pipeline", "robots_gate", "jsonl_source", "csv_source",
    "udtf_fields", "edit_distance", "grouped_median", "pivot_counts",
    "range_frame", "ntile_buckets", "dispersion_stats",
    "snapshot_diff", "cms_counts",
    "hilbert_cells", "datum_shift", "hll_distinct", "weighted_sample",
    "hilbert_bbox_scan",
]
# bpe_merges, bpe_apply, flagship_stream and stream_sessions are
# deliberately NOT in the headline: their wall time is fixed-cost
# dominated (20 sequential argmax rounds — bpe_apply re-trains before
# applying; stream-machinery startup + temp-dir writes), so a
# sum-of-wall-times metric would measure the harness, not engine
# throughput. All remain driver-checked queries with full oracles.


def _force(df) -> None:
    """Fully evaluate every column (noop sink defeats count-only pruning)."""
    df.write.format("noop").mode("overwrite").save()


def _seconds(build) -> float:
    """Wall seconds to build a DataFrame and evaluate it. Building counts:
    iterative queries (PageRank, dedup components) run jobs there."""
    t0 = time.perf_counter()
    _force(build())
    return time.perf_counter() - t0


def _cpu_counters() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat: hypervisor steal is the
    share of this VM's time other tenants took."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def _steal_window(fn):
    """Run fn(), return (fn result, steal fraction during the run)."""
    s0, t0 = _cpu_counters()
    out = fn()
    s1, t1 = _cpu_counters()
    return out, (s1 - s0) / max(t1 - t0, 1)


def run_headline(spark, sf_dir: str) -> tuple[dict[str, float], float]:
    """({query: seconds}, steal fraction during the timed runs)."""
    qs = entrymod.queries()
    # one untimed pass first: in a fresh session the first ~20 queries
    # ran up to 2.5x slower in both of their runs than after a pass over
    # the list, so a query's time depended on its place in the list
    for name in HEADLINE:
        _force(qs[name](spark, sf_dir))
    return _steal_window(lambda: {
        name: round(min(_seconds(lambda: qs[name](spark, sf_dir))
                        for _ in range(2)), 3)
        for name in HEADLINE})


def materialize_pages(spark, sf_dir: str, repl: int, path: str) -> None:
    """Synthesize the pages table once and write it as parquet, so the
    flagship measures the engine path (columnar scan -> geocode -> join)
    and not the synthesizer. Replicas shift the url keyspace."""
    pages = synth.build_pages(spark, sf_dir, with_html=True)
    out = pages
    for r in range(1, repl):
        out = out.unionByName(pages.withColumn(
            "url", F.concat(F.lit(f"r{r}-"), F.col("url"))))
    out.repartition(64).write.mode("overwrite").parquet(path)


def _flagship_worker(cores: int, pages_path: str) -> None:
    """Child-process side of run_flagship: pin, then start the JVM."""
    allowed = sorted(os.sched_getaffinity(0))
    os.sched_setaffinity(0, allowed[:cores])
    spark = get_spark("bench-flagship", master=f"local[{cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    pages = spark.read.parquet(pages_path)
    n = pages.count()
    job = flagship_pipeline(pages)
    _force(job)  # warm pass
    dt, steal = min(_steal_window(lambda: _seconds(lambda: job))
                    for _ in range(2))
    spark.stop()
    print(json.dumps({"pages": n, "pages_per_sec": n / dt, "steal": steal}))


def run_flagship(cores: int, pages_path: str) -> dict:
    """Flagship pages/s at local[cores] in a child process whose CPU
    affinity (inherited by its JVM and Python workers) is ``cores``."""
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--flagship-worker",
         str(cores), pages_path],
        capture_output=True, text=True, timeout=1800)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise RuntimeError(f"local[{cores}] flagship failed "
                           f"rc={out.returncode}: {out.stderr[-2000:]}")
    return json.loads(lines[-1])


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    repl = int(os.environ.get("SPARK_GRAFT_BENCH_REPL", "16"))
    sf = sf_dir.rstrip("/").split("sf")[-1]
    nproc = host_cores()
    n_cores = max(1, nproc // 4)

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    times, steal_headline = run_headline(spark, sf_dir)
    pages_path = f"/tmp/bench_pages_sf{sf}_x{repl}.parquet"
    if not os.path.exists(os.path.join(pages_path, "_SUCCESS")):
        materialize_pages(spark, sf_dir, repl, pages_path)
    spark.stop()

    small = run_flagship(n_cores, pages_path)
    full = run_flagship(nproc, pages_path)
    speedup = full["pages_per_sec"] / small["pages_per_sec"]
    print(json.dumps({
        "metric": "headline query wall-time (sum) at sf; flagship "
                  "geocode->PIP->tile pages/sec at local[nproc]; "
                  "local[nproc//4] vs local[nproc] scaling",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "steal_frac_headline": round(steal_headline, 4),
        "sf": sf,
        "flagship_pages": full["pages"],
        "flagship_pages_per_sec": round(full["pages_per_sec"]),
        "scaling": {
            "n_cores": n_cores,
            "4n_cores": nproc,
            "pages_per_sec_n": round(small["pages_per_sec"]),
            "pages_per_sec_4n": round(full["pages_per_sec"]),
            "speedup": round(speedup, 3),
            "efficiency": round(speedup * n_cores / nproc, 3),
            "steal_frac_n": round(small["steal"], 4),
            "steal_frac_4n": round(full["steal"], 4),
        },
        "host": {"cores": nproc,
                 "mem_gb": round(host_memory_bytes() / 2**30, 1)},
    }))


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--flagship-worker":
        _flagship_worker(int(sys.argv[2]), sys.argv[3])
    else:
        main()
