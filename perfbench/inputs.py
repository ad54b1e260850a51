"""Seeded benchmark inputs.

The ``sources.synth`` build functions make every row from its event id
alone, so a table built over ids ``[0, P)`` holds, for any window
``[lo, lo + n)`` inside it, exactly the rows they would make for that
window. The benchmark therefore builds one pool per checkout
(``build_pool``, a Spark job) and, per seed, copies the seed's window
out of it with pyarrow (``make_window``) into the benchmark's own data
directory. A run then pays for neither a JVM start nor payload encoding
before it starts timing, and nothing goes through the ``/tmp`` staging
caches of ``build_*_staged``.

Usage (what ``run.py`` invokes): ``python3 perfbench/inputs.py
<pool_dir> <scale>`` builds the pool.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

# Rows per window at scale 1. The multistage jobs are barrier-bound, so
# they use the sf0.01 test sizes (pages, documents, graph nodes).
SIZES = {"pages": 400_000, "media": 4_000,
         "ms_pages": 10_000, "docs": 500, "graph": 10_000}
MIN_ROWS = 200
# The pool spans this many windows, so seeds pick distinct windows.
POOL_FACTOR = 2
# Files per window table: the layout build_*_staged writes at 4 cores.
N_FILES = 8
# codec -> (payload column, decode call named in the trace)
CODECS = {"png": ("png", "decode_png"), "jpeg": ("jpg", "decode_jpeg"),
          "gif": ("gif", "decode_gif"), "tiff": ("tiff", "decode_geotiff")}
_ID_FROM_URL = "cast(substring_index(url, '/', -1) as bigint)"


def sizes(scale: float) -> dict[str, int]:
    return {k: max(MIN_ROWS, int(v * scale)) for k, v in SIZES.items()}


def _write_events(path: str, lo: int, hi: int) -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table({"event_id": pa.array(range(lo, hi), pa.int64())}),
                   os.path.join(path, "events.parquet"))


def build_pool(spark, pool_dir: str, scale: float) -> None:
    """Build every pool table with the synth build functions; the directory
    appears only once all of them are written."""
    from pyspark.sql import functions as F

    from geotiff_processor_spark.sources import synth

    n = sizes(scale)
    tmp = pool_dir + ".building"
    shutil.rmtree(tmp, ignore_errors=True)
    builders = {"png": synth.build_media, "jpeg": synth.build_media_jpeg,
                "gif": synth.build_media_gif, "tiff": synth.build_media_tiff}
    n_pages = POOL_FACTOR * max(n["pages"], n["ms_pages"])
    _write_events(os.path.join(tmp, "ev_pages"), 0, n_pages)
    _write_events(os.path.join(tmp, "ev_media"), 0, POOL_FACTOR * n["media"])
    tables = {"pages": synth.build_pages(spark, os.path.join(tmp, "ev_pages"))}
    for codec, build in builders.items():
        tables[codec] = build(spark, os.path.join(tmp, "ev_media"))
    for name, df in tables.items():
        (df.withColumn("event_id", F.expr(_ID_FROM_URL))
         .write.mode("overwrite").parquet(os.path.join(tmp, name)))
    shutil.rmtree(pool_dir, ignore_errors=True)
    os.rename(tmp, pool_dir)


def _offset(key: str, pool_rows: int, n: int) -> int:
    return random.Random(key).randrange(pool_rows - n + 1)


def _copy_window(pool_table: str, lo: int, hi: int, out: str) -> int:
    """Rows of ``pool_table`` with event ids in [lo, hi), written as
    N_FILES parquet files without the id column; returns the row count."""
    t = ds.dataset(pool_table, format="parquet").to_table(
        filter=(pc.field("event_id") >= lo) & (pc.field("event_id") < hi))
    t = t.sort_by("event_id").drop_columns(["event_id"])
    # Spark writes INT96 timestamps, which pyarrow reads back as naive
    # nanoseconds; store them as UTC microseconds (Spark's TIMESTAMP)
    fields = [pa.field(f.name, pa.timestamp("us", tz="UTC"))
              if pa.types.is_timestamp(f.type) else f for f in t.schema]
    t = t.cast(pa.schema(fields))
    os.makedirs(out)
    step = -(-t.num_rows // N_FILES)
    for k in range(N_FILES):
        pq.write_table(t.slice(k * step, step),
                       os.path.join(out, f"part-{k:05d}.snappy.parquet"))
    return t.num_rows


VOCAB = (
    "agg batch column data fast filter join key part row scan slow small "
    "table value window spark order hash merge shuffle stage task cell "
    "tile zoom polygon page crawl text lang source index query plan cost "
    "sort group count sum mean max min rank graph node edge link score "
    "token word line block frame pixel band raster vector point ring"
).split()


def documents(seed: int, n: int, id_base: int) -> pa.Table:
    """A seeded corpus of ``n`` base docs plus planted duplicates.

    Every 20th doc has a verbatim clone and every 40th a second one
    (clusters of 3); every doc with ``j % 10 == 5`` is doc ``j - 5``
    with one word changed, a near duplicate that LSH may propose and
    exact verification must reject.
    """
    rng = random.Random(seed)
    texts = [" ".join(rng.choice(VOCAB) for _ in range(rng.randint(20, 60)))
             for _ in range(n)]
    for j in range(5, n, 10):
        words = texts[j - 5].split()
        words[rng.randrange(len(words))] = "changed"
        texts[j] = " ".join(words)
    ids = list(range(id_base, id_base + n))
    for j in range(0, n, 20):
        ids.append(id_base + n + j)
        texts.append(texts[j])
    for j in range(0, n, 40):
        ids.append(id_base + 2 * n + j)
        texts.append(texts[j])
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": [("en", "es", "pt", "fr")[i % 4] for i in ids],
        "source": [f"src{i % 7}" for i in ids],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def make_window(pool_dir: str, out_dir: str, workload: str, seed: int,
                scale: float) -> dict:
    """Copy the seed's window of ``workload``'s tables into ``out_dir``
    (once per seed and size) and return its description."""
    meta_path = os.path.join(out_dir, "window.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        if (meta["dir"], meta["seed"], meta["scale"]) == (out_dir, seed, scale):
            return meta
    shutil.rmtree(out_dir, ignore_errors=True)
    n = sizes(scale)
    meta: dict = {"workload": workload, "seed": seed, "scale": scale,
                  "dir": out_dir}
    key = f"{workload}:{seed}"
    if workload == "spatial_join":
        lo = _offset(key, POOL_FACTOR * max(n["pages"], n["ms_pages"]),
                     n["pages"])
        path = os.path.join(out_dir, "pages.parquet")
        meta.update(lo=lo, hi=lo + n["pages"], pages=path,
                    rows=_copy_window(os.path.join(pool_dir, "pages"),
                                      lo, lo + n["pages"], path))
    elif workload == "media_decode":
        lo = _offset(key, POOL_FACTOR * n["media"], n["media"])
        meta.update(lo=lo, hi=lo + n["media"], rows=0)
        for codec in CODECS:
            path = os.path.join(out_dir, f"{codec}.parquet")
            meta[codec] = path
            meta["rows"] += _copy_window(os.path.join(pool_dir, codec),
                                         lo, lo + n["media"], path)
    elif workload == "multistage":
        lo = _offset(key, POOL_FACTOR * max(n["pages"], n["ms_pages"]),
                     n["ms_pages"])
        path = os.path.join(out_dir, "pages.parquet")
        rows = _copy_window(os.path.join(pool_dir, "pages"),
                            lo, lo + n["ms_pages"], path)
        docs = documents(seed, n["docs"], id_base=_offset(key, 10**9, 0))
        pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
        # pagerank's link formula assumes node ids 0..n-1
        graph = os.path.join(out_dir, "graph")
        _write_events(graph, 0, n["graph"])
        meta.update(lo=lo, hi=lo + n["ms_pages"], pages=path,
                    documents=os.path.join(out_dir, "documents.parquet"),
                    graph=graph, nodes=n["graph"],
                    rows=rows + docs.num_rows + n["graph"])
    else:
        raise ValueError(f"unknown workload {workload!r}")
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    return meta


def main(argv: list[str]) -> int:
    from measure import start_session

    pool_dir, scale = argv[0], float(argv[1])
    spark, _ = start_session("perfbench-pool")
    try:
        build_pool(spark, pool_dir, scale)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
