"""Checkpoint/resume + partition metrics (north_rule resumability)."""

import os

from pyspark.sql import functions as F

from geotiff_processor_spark.operators import pip
from geotiff_processor_spark.plans import lineage
from geotiff_processor_spark.session import PACKAGE_ROOT
from geotiff_processor_spark.sources import synth


def _geocoded(spark, sf_dir):
    return synth.geocode(synth.build_pages(spark, sf_dir, with_html=False))


def test_partition_metrics_sum_to_total(spark, sf_dir):
    g = _geocoded(spark, sf_dir)
    m = lineage.partition_metrics(
        g.withColumn("cell_pfx", F.substring("cell_id", 1, 2)),
        ["cell_pfx"], bytes_col="text")
    agg = m.agg(F.sum("n_rows"), F.sum("n_bytes")).first()
    assert agg[0] == g.count()
    assert agg[1] == g.agg(F.sum(F.length("text"))).first()[0]


def test_resume_skips_committed_partitions(spark, sf_dir, tmp_path):
    out = str(tmp_path / "ckpt")
    g = _geocoded(spark, sf_dir).withColumn(
        "cell_pfx", F.substring("cell_id", 1, 1))
    # nothing committed yet: resume passes everything through
    assert lineage.resume_filter(g, spark, out, "geocode",
                                 ["cell_pfx"]).count() == g.count()
    lineage.checkpoint_write(g, out, "geocode", ["cell_pfx"])
    # everything committed: resume leaves nothing
    remaining = lineage.resume_filter(g, spark, out, "geocode", ["cell_pfx"])
    assert remaining.count() == 0
    # written data round-trips
    back = spark.read.parquet(f"{out}/geocode")
    assert back.count() == g.count()


def test_write_after_resume_keeps_committed_partitions(spark, sf_dir, tmp_path):
    """Checkpoint half, resume, write the rest: BOTH halves must survive
    (dynamic partition overwrite — the static default truncates)."""
    out = str(tmp_path / "ckpt3")
    g = _geocoded(spark, sf_dir).withColumn(
        "cell_pfx", F.substring("cell_id", 1, 1))
    half = g.filter(F.col("cell_pfx") < "2")
    lineage.checkpoint_write(half, out, "geocode", ["cell_pfx"])
    remaining = lineage.resume_filter(g, spark, out, "geocode", ["cell_pfx"])
    lineage.checkpoint_write(remaining, out, "geocode", ["cell_pfx"])
    back = spark.read.parquet(f"{out}/geocode")
    assert back.count() == g.count()
    assert back.filter(F.col("cell_pfx") < "2").count() == half.count()
    # done markers accumulate across the two writes
    done = lineage.completed_keys(spark, out, "geocode")
    assert done.count() == g.select("cell_pfx").distinct().count()
    # a second resume now filters everything
    assert lineage.resume_filter(g, spark, out, "geocode",
                                 ["cell_pfx"]).count() == 0


def test_resume_partial_commit(spark, sf_dir, tmp_path):
    out = str(tmp_path / "ckpt2")
    g = _geocoded(spark, sf_dir).withColumn(
        "cell_pfx", F.substring("cell_id", 1, 1))
    half = g.filter(F.col("cell_pfx") < "2")
    lineage.checkpoint_write(half, out, "geocode", ["cell_pfx"])
    remaining = lineage.resume_filter(g, spark, out, "geocode", ["cell_pfx"])
    assert remaining.count() == g.count() - half.count()
    assert remaining.filter(F.col("cell_pfx") < "2").count() == 0


def test_submit_pipeline_end_to_end_and_resume(spark, sf_dir, tmp_path):
    """The full multi-stage submit script: all five stages commit with
    lineage markers; a deleted stage is rebuilt on rerun while committed
    stages are left as-is (resume mid-pipeline)."""
    import importlib.util
    import shutil

    spec = importlib.util.spec_from_file_location(
        "submit_pipeline",
        os.path.join(PACKAGE_ROOT, "scripts", "submit_pipeline.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    from geotiff_processor_spark.sources import synth as _synth

    pages_path = str(tmp_path / "pages.parquet")
    _synth.build_pages(spark, sf_dir).write.parquet(pages_path)
    out = str(tmp_path / "out")

    mod.run(spark, pages_path, out)
    stages = ["geocoded", "pip", "zonal", "pyramid", "outline"]
    counts = {s: spark.read.parquet(f"{out}/{s}").count() for s in stages}
    assert all(c > 0 for c in counts.values())
    assert spark.read.parquet(f"{out}/metrics").count() > 0

    # kill the outline stage mid-pipeline; geocoded keeps a sentinel
    # mtime so we can prove it is NOT rewritten on resume
    shutil.rmtree(f"{out}/outline")
    shutil.rmtree(f"{out}/outline__done")
    # DATA files only: the unconditional (empty) dynamic-overwrite
    # commit may refresh _SUCCESS, but must not rewrite any partition
    sentinel = max(
        os.path.getmtime(os.path.join(r, f))
        for r, _, fs in os.walk(f"{out}/geocoded")
        for f in fs if not f.startswith("_"))
    mod.run(spark, pages_path, out)
    counts2 = {s: spark.read.parquet(f"{out}/{s}").count() for s in stages}
    assert counts2 == counts
    rewritten = max(
        os.path.getmtime(os.path.join(r, f))
        for r, _, fs in os.walk(f"{out}/geocoded")
        for f in fs if not f.startswith("_"))
    assert rewritten == sentinel


def test_checkpoint_write_empty_first_run(spark, sf_dir, tmp_path):
    """ADVICE r3: an empty first-run input must still produce a
    readable (empty) stage and a working resume path, with the stage
    plan executed exactly once (no limit-probe)."""
    out = str(tmp_path / "ckpt_empty")
    g = _geocoded(spark, sf_dir).withColumn(
        "cell_pfx", F.substring("cell_id", 1, 1))
    empty = g.filter(F.lit(False))
    committed = lineage.checkpoint_write(empty, out, "geocode",
                                         ["cell_pfx"])
    assert committed.count() == 0
    # same columns and types (nullability may legitimately widen on a
    # parquet read-back)
    assert [(f.name, f.dataType) for f in committed.schema] \
        == [(f.name, f.dataType) for f in empty.schema]
    # resume over the empty commit passes everything through
    assert lineage.resume_filter(g, spark, out, "geocode",
                                 ["cell_pfx"]).count() == g.count()
    # a later real commit lands normally and returns the full stage
    committed2 = lineage.checkpoint_write(g, out, "geocode", ["cell_pfx"])
    assert committed2.count() == g.count()


def test_corpus_pipeline_end_to_end_and_resume(spark, sf_dir, tmp_path):
    """The corpus-prep submit script: five stages commit with lineage
    markers; dedup keeps exactly one doc per near-dup cluster; a
    deleted tail stage is rebuilt on rerun while committed stages are
    untouched."""
    import importlib.util
    import shutil

    spec = importlib.util.spec_from_file_location(
        "submit_corpus_pipeline",
        os.path.join(PACKAGE_ROOT, "scripts", "submit_corpus_pipeline.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    docs_path = f"{sf_dir}/documents.parquet"
    out = str(tmp_path / "corpus")
    mod.run(spark, docs_path, out)

    stages = ["scored", "kept", "scrubbed", "sampled", "chunks"]
    counts = {s: spark.read.parquet(f"{out}/{s}").count() for s in stages}
    assert all(c > 0 for c in counts.values())
    # monotone corpus narrowing: each filter stage keeps a subset
    assert counts["kept"] <= counts["scored"]
    assert counts["scrubbed"] == counts["kept"]
    assert counts["sampled"] <= counts["scrubbed"]
    assert counts["chunks"] >= counts["sampled"]  # 1:N chunking
    assert spark.read.parquet(f"{out}/metrics").count() > 0

    # resume: rebuild only the chunks stage
    shutil.rmtree(f"{out}/chunks")
    shutil.rmtree(f"{out}/chunks__done")
    sentinel = max(
        os.path.getmtime(os.path.join(r, f))
        for r, _, fs in os.walk(f"{out}/scored")
        for f in fs if not f.startswith("_"))
    mod.run(spark, docs_path, out)
    counts2 = {s: spark.read.parquet(f"{out}/{s}").count() for s in stages}
    assert counts2 == counts
    rewritten = max(
        os.path.getmtime(os.path.join(r, f))
        for r, _, fs in os.walk(f"{out}/scored")
        for f in fs if not f.startswith("_"))
    assert rewritten == sentinel


def test_pipeline_kill_restart_mid_pyramid(spark, tmp_path):
    """north_rule 'resumable from checkpoint' at QUERY granularity
    (VERDICT r4 item 7): a REAL subprocess run of the multi-stage
    pipeline is hard-killed (os._exit, no cleanup — SIGKILL semantics)
    between pyramid levels; the restarted run must (a) leave the
    already-committed levels' data files byte-untouched, (b) produce
    zero duplicate rows, and (c) end bit-identical to an uninterrupted
    run. sf0.01 input."""
    import subprocess
    import sys as _sys

    from geotiff_processor_spark.sources import synth as _synth

    sf = "/root/testdata/sf0.01"
    pages_path = str(tmp_path / "pages01.parquet")
    _synth.build_pages(spark, sf).write.parquet(pages_path)

    env = {**os.environ, "GPS_PIPELINE_MASTER": "local[8]",
           "PYTHONPATH": PACKAGE_ROOT}

    def run_sub(out, crash_after_zoom=None):
        e = dict(env)
        if crash_after_zoom is not None:
            e["GPS_PIPELINE_CRASH_AFTER_ZOOM"] = str(crash_after_zoom)
        return subprocess.run(
            [_sys.executable,
             os.path.join(PACKAGE_ROOT, "scripts", "submit_pipeline.py"),
             pages_path, out],
            env=e, capture_output=True, text=True, timeout=600)

    # golden: uninterrupted run
    out_gold = str(tmp_path / "gold")
    r = run_sub(out_gold)
    assert r.returncode == 0, r.stderr[-2000:]
    gold = sorted(
        tuple(x) for x in spark.read.parquet(f"{out_gold}/pyramid")
        .select("zoom", "tile_x", "tile_y", "n_pages").collect())

    # killed run: dies right after committing zoom level 5
    out_kill = str(tmp_path / "killed")
    r = run_sub(out_kill, crash_after_zoom=5)
    assert r.returncode == 137, (r.returncode, r.stderr[-2000:])
    zooms = {row["zoom"] for row in
             spark.read.parquet(f"{out_kill}/pyramid")
             .select("zoom").distinct().collect()}
    assert zooms == {5, 6}  # died mid-pyramid, z4/z3 never committed

    # fingerprint the committed levels' data files (path, size, mtime)
    def data_files(root):
        return sorted(
            (os.path.join(r_, f), os.path.getsize(os.path.join(r_, f)),
             os.path.getmtime(os.path.join(r_, f)))
            for r_, _, fs in os.walk(root)
            for f in fs if not f.startswith("_") and f.endswith(".parquet"))

    before = data_files(f"{out_kill}/pyramid")

    # restart: completes, resumes where it died
    r = run_sub(out_kill)
    assert r.returncode == 0, r.stderr[-2000:]
    got = sorted(
        tuple(x) for x in spark.read.parquet(f"{out_kill}/pyramid")
        .select("zoom", "tile_x", "tile_y", "n_pages").collect())
    # (b) no duplicates: every (zoom, tile) key appears exactly once
    keys = [g[:3] for g in got]
    assert len(keys) == len(set(keys))
    # (c) identical to the uninterrupted run
    assert got == gold
    # (a) committed z5/z6 data files byte-untouched by the resume
    after = data_files(f"{out_kill}/pyramid")
    assert [x for x in after if x in before] == before
