"""Structured-Streaming AvailableNow ingest: drain, checkpoint, idempotent."""

import os

from pyspark.sql import functions as F

from geotiff_processor_spark.sources import synth
from geotiff_processor_spark.streaming import ingest


def test_available_now_ingest_and_resume(spark, sf_dir, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    pages = synth.build_pages(spark, sf_dir, with_html=False)
    pages.repartition(4).write.parquet(src)

    ingest.ingest_pages_stream(spark, src, out, ckpt)
    first = spark.read.parquet(out)
    assert first.count() == pages.count()
    assert "cell_id" in first.columns
    n_files = len([f for root, _, fs in os.walk(out)
                   for f in fs if f.endswith(".parquet")])

    # rerun with same checkpoint: no new input => no new files
    ingest.ingest_pages_stream(spark, src, out, ckpt)
    again = spark.read.parquet(out)
    assert again.count() == pages.count()
    n_files2 = len([f for root, _, fs in os.walk(out)
                    for f in fs if f.endswith(".parquet")])
    assert n_files2 == n_files


def test_windowed_throughput(spark, sf_dir):
    import __spark_entry__ as entrymod

    pages = synth.build_pages(spark, sf_dir, with_html=False)
    w = entrymod.queries()["hourly_ingest"](spark, sf_dir)
    total = w.agg(F.sum("n_pages")).first()[0]
    assert total == pages.count()


def test_watermark_drops_late_rows(spark, tmp_path):
    """Late-data discipline: a row arriving behind the watermark is
    dropped; finalized windows carry on-time counts only."""
    src = str(tmp_path / "wsrc")
    out = str(tmp_path / "wout")
    ckpt = str(tmp_path / "wckpt")
    base = "2025-01-01 {:02d}:30:00"

    def mk(rows):
        return spark.createDataFrame(rows, ["url", "warc_ts", "lang"]) \
            .select("url", F.col("warc_ts").cast("timestamp"), "lang")

    # run 1: hours 0,0,1,2 plus an hour-9 row that advances the
    # watermark to 08:30 (far past those windows' ends). The watermark
    # persists in the checkpoint across AvailableNow runs.
    mk([("a", base.format(0), "es"), ("b", base.format(0), "es"),
        ("c", base.format(1), "es"), ("d", base.format(2), "es"),
        ("e", base.format(9), "es")]).coalesce(1).write.parquet(src)
    schema = spark.read.parquet(src).schema
    ingest.windowed_ingest_stream(spark, src, out, ckpt, schema=schema)
    # run 2: one LATE hour-0 row (behind the checkpointed 08:30
    # watermark => dropped) + an on-time hour-10 row
    mk([("late", base.format(0), "es"), ("f", base.format(10), "es")]) \
        .coalesce(1).write.mode("append").parquet(src)
    ingest.windowed_ingest_stream(spark, src, out, ckpt, schema=schema)
    got = {r["window_start"].hour: r["n_pages"]
           for r in spark.read.parquet(out).collect()}
    # hour-0 window finalized with the 2 on-time rows; the late row is gone
    assert got[0] == 2
    assert got[1] == 1 and got[2] == 1


def test_flagship_stream_matches_batch(spark, sf_dir, tmp_path):
    """The north-rule pipeline as a stream: geocode -> broadcast PIP ->
    tile assign -> watermarked windowed counts must emit EXACTLY the
    batch plan's rows for every finalized window (stateless joins add
    no streaming state; the window agg is the only stateful op)."""
    from geotiff_processor_spark.functions.geo import sql_tile_x, sql_tile_y
    from geotiff_processor_spark.operators import pip

    src = str(tmp_path / "fsrc")
    out = str(tmp_path / "fout")
    ckpt = str(tmp_path / "fckpt")
    pages = synth.build_pages(spark, sf_dir, with_html=False)
    # one real file (no intra-stream late rows), then two far-future
    # flush rows in separate files: the first advances the watermark
    # past every real window, the second forces the micro-batch that
    # emits them (append mode emits on the batch AFTER finalization)
    pages.coalesce(1).write.mode("append").parquet(src)
    flush = pages.limit(1)
    for hours in (2, 4):
        flush.withColumn(
            "warc_ts", F.col("warc_ts") + F.expr(f"INTERVAL {hours} HOURS")
        ).coalesce(1).write.mode("append").parquet(src)

    ingest.flagship_stream(spark, src, out, ckpt,
                           window="5 minutes", watermark="2 minutes")

    emitted = (spark.read.parquet(out)
               .filter(F.col("window_start") < "2025-01-01 01:00:00"))
    asg = pip.pip_join(synth.geocode(pages), pip.build_cover_table(spark))
    expected = (
        asg.withColumn("tile_x", F.expr(sql_tile_x("lonm", 6)))
        .withColumn("tile_y", F.expr(sql_tile_y("lat", 6)))
        .groupBy(F.window("warc_ts", "5 minutes").alias("w"),
                 "polygon_id", "zone", "tile_x", "tile_y")
        .agg(F.count(F.lit(1)).alias("n_pages"),
             F.sum(F.length("text")).alias("n_bytes"))
        .select(F.col("w.start").alias("window_start"),
                "polygon_id", "zone", "tile_x", "tile_y",
                "n_pages", "n_bytes")
    )
    assert emitted.count() == expected.count() > 0
    assert emitted.exceptAll(expected).count() == 0
    assert expected.exceptAll(emitted).count() == 0


def test_flagship_stream_long_span_flush(spark, tmp_path):
    """Regression: flush rows anchored to max(warc_ts) (not a fixed
    offset from an arbitrary row) must finalize EVERY real window even
    when the data span exceeds any fixed offset — here 30 hours of
    events vs 1-hour windows."""
    from geotiff_processor_spark.functions.geo import sql_tile_x, sql_tile_y
    from geotiff_processor_spark.operators import pip

    src = str(tmp_path / "lsrc")
    out = str(tmp_path / "lout")
    ckpt = str(tmp_path / "lckpt")
    base = synth.build_pages(spark, "/root/testdata/sf0.001",
                             with_html=False).limit(60)
    # spread the 60 pages over 30 hours (one every 30 min)
    pages = base.withColumn(
        "warc_ts",
        F.expr("timestamp '2025-01-01 00:00:00'"
               " + make_interval(0, 0, 0, 0, 0, 30 * "
               "(row_number() over (order by url) - 1), 0)"))
    pages.coalesce(1).write.mode("append").parquet(src)
    max_real = pages.agg(F.max("warc_ts")).first()[0]
    flush = pages.limit(1)
    for hours in (12, 24):
        flush.withColumn(
            "warc_ts", F.lit(max_real) + F.expr(f"INTERVAL {hours} HOURS")
        ).coalesce(1).write.mode("append").parquet(src)
    ingest.flagship_stream(spark, src, out, ckpt,
                           window="1 hour", watermark="2 minutes")
    emitted = (spark.read.parquet(out)
               .filter(F.col("window_start") <= F.lit(max_real)))
    asg = pip.pip_join(synth.geocode(pages), pip.build_cover_table(spark))
    expected = (
        asg.withColumn("tile_x", F.expr(sql_tile_x("lonm", 6)))
        .withColumn("tile_y", F.expr(sql_tile_y("lat", 6)))
        .groupBy(F.window("warc_ts", "1 hour").alias("w"),
                 "polygon_id", "zone", "tile_x", "tile_y")
        .agg(F.count(F.lit(1)).alias("n_pages"),
             F.sum(F.length("text")).alias("n_bytes"))
        .select(F.col("w.start").alias("window_start"), "polygon_id",
                "zone", "tile_x", "tile_y", "n_pages", "n_bytes")
    )
    # the LAST real window (containing max_real) finalizes too: its end
    # is max_real-aligned + 1h <= the +12h flush watermark
    assert emitted.count() == expected.count() > 0
    assert emitted.exceptAll(expected).count() == 0
    assert expected.exceptAll(emitted).count() == 0


def test_session_stream_merge_and_split(spark, tmp_path):
    """session_window semantics through the REAL stream: gaps up to
    AND INCLUDING the 30-min gap merge (touching windows coalesce; a
    split needs a strictly larger gap), end = last_ts + gap, and only
    watermark-passed sessions are emitted in append mode."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def ev(eid, uid, minutes):
        return (eid, t0 + dt.timedelta(minutes=minutes), uid, "click",
                1.0, "{}")
    rows = [ev(1, 7, 0), ev(2, 7, 29), ev(3, 7, 58),   # chained session
            ev(4, 7, 88),     # exactly 30 -> touching windows MERGE
            ev(5, 7, 119), ev(6, 7, 150),  # 31-min gaps -> two splits
            ev(7, 8, 10),
            # sentinel flush far in the future advances the watermark
            ev(8, -1, 60 * 24), ev(9, -1, 60 * 48)]
    schema = ("event_id bigint, ts timestamp, user_id bigint,"
              " event_type string, value double, props string")
    src = str(tmp_path / "src")
    for step, chunk in enumerate([rows[:7], rows[7:8], rows[8:]], start=1):
        spark.createDataFrame(chunk, schema) \
            .coalesce(1).write.mode("append").parquet(src)
        for name in sorted(os.listdir(src)):
            if name.endswith(".parquet"):
                p = os.path.join(src, name)
                if os.stat(p).st_mtime_ns > 10 * 10**9:
                    os.utime(p, ns=(step * 10**9, step * 10**9))
    ingest.session_stream(spark, src, str(tmp_path / "out"),
                          str(tmp_path / "ckpt"))
    got = {(r["user_id"], r["session_start"], r["session_end"],
            r["n_events"])
           for r in spark.read.parquet(str(tmp_path / "out"))
           .filter(F.col("user_id") >= 0).collect()}
    g = dt.timedelta(minutes=30)
    m = dt.timedelta
    assert got == {
        (7, t0, t0 + m(minutes=88) + g, 4),
        (7, t0 + m(minutes=119), t0 + m(minutes=119) + g, 1),
        (7, t0 + m(minutes=150), t0 + m(minutes=150) + g, 1),
        (8, t0 + m(minutes=10), t0 + m(minutes=10) + g, 1),
    }
