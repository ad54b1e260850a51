"""Structured-Streaming ingest: Trigger.AvailableNow micro-batches.

The reference's per-file loop (/root/reference/process.py:100-241) maps
to resumable micro-batch ingestion: each batch is processed through the
geocode -> cell-encode pipeline and committed with exactly-once file
sink semantics; the checkpoint directory replaces the in-memory
processed dict (helpers.py:166-183). Watermarked event-time tumbling
windows over ``warc_ts`` provide the throughput-metrics stream.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..sources.synth import geocode


def ingest_pages_stream(spark: SparkSession, input_dir: str,
                        output_dir: str, checkpoint_dir: str,
                        schema=None) -> None:
    """Read parquet files as a stream, geocode + cell-encode, write
    partitioned parquet with AvailableNow (drain-everything-then-stop:
    the batch-with-resume execution mode of SURVEY.md §2.9)."""
    if schema is None:
        schema = spark.read.parquet(input_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(input_dir)
    )
    enriched = geocode(stream).withColumn(
        "cell_pfx", F.substring("cell_id", 1, 2))
    q = (
        enriched.writeStream
        .format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("cell_pfx")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def windowed_ingest_stream(spark: SparkSession, input_dir: str,
                           output_dir: str, checkpoint_dir: str,
                           schema=None, window: str = "1 hour",
                           watermark: str = "30 minutes") -> None:
    """Watermarked event-time windowed counts as a real stream (late-data
    discipline, SURVEY.md §2.9): rows older than ``watermark`` behind
    the max seen event time are DROPPED; windows are emitted to the
    append-mode sink only once the watermark passes their end
    (exactly-once finalized windows — the streaming analog of the
    reference's once-per-registro processing discipline)."""
    if schema is None:
        schema = spark.read.parquet(input_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # one micro-batch per file =>
        .parquet(input_dir)               # watermark advances between files
    )
    agg = (
        stream.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "lang")
        .agg(F.count(F.lit(1)).alias("n_pages"))
        .select(F.col("w.start").alias("window_start"), "lang", "n_pages")
    )
    q = (
        agg.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def flagship_stream(spark: SparkSession, input_dir: str,
                    output_dir: str, checkpoint_dir: str,
                    schema=None, window: str = "1 hour",
                    watermark: str = "30 minutes", zoom: int = 6) -> None:
    """The north-rule spatial pipeline AS A STREAM: pages stream ->
    geocode -> broadcast PIP join -> XYZ tile assign -> watermarked
    event-time windowed (polygon, tile) page counts, append-mode
    exactly-once sink.

    Everything upstream of the window agg is STATELESS in streaming
    terms (projections + a broadcast join — the polygon side is a
    static bounded table, so no stream-stream state grows); the only
    stateful operator is the watermarked window count, whose state is
    bounded by (windows in flight) x (polygon, tile) keys. That makes
    this the same plan shape the batch flagship runs
    (``operators.tiling.flagship_pipeline``), executed incrementally
    with late-data discipline — the streaming analog of the reference's
    per-file loop with its processed-registry (process.py:100-241,
    helpers.py:166-183).
    """
    from ..functions.geo import sql_tile_x, sql_tile_y
    from ..operators import pip
    if schema is None:
        schema = spark.read.parquet(input_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )
    asg = pip.pip_join(geocode(stream), pip.build_cover_table(spark))
    agg = (
        asg.withColumn("tile_x", F.expr(sql_tile_x("lonm", zoom)))
        .withColumn("tile_y", F.expr(sql_tile_y("lat", zoom)))
        .withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"),
                 "polygon_id", "zone", "tile_x", "tile_y")
        .agg(F.count(F.lit(1)).alias("n_pages"),
             F.sum(F.length("text")).alias("n_bytes"))
        .select(F.col("w.start").alias("window_start"),
                "polygon_id", "zone", "tile_x", "tile_y",
                "n_pages", "n_bytes")
    )
    q = (
        agg.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def session_stream(spark: SparkSession, input_dir: str,
                   output_dir: str, checkpoint_dir: str,
                   schema=None, gap: str = "30 minutes",
                   watermark: str = "2 minutes") -> None:
    """Streaming gap-sessionization via ``session_window`` — the
    MERGING-window stateful rule (tumbling windows never merge;
    session state does): per-user sessions grow/merge as events
    arrive and are emitted exactly once when the watermark passes
    ``last_event + gap``. State is bounded by open sessions x keys;
    watermark expiry is what closes them (the streaming counterpart
    of operators/sessions.py's batch gaps-and-islands).

    The event-time column is cast to TIMESTAMP (LTZ) before the
    watermark — parquet written with isAdjustedToUTC=false round-trips
    as TIMESTAMP_NTZ under Spark 4's inference and withWatermark
    rejects NTZ outright; the window bounds are cast back to
    TIMESTAMP_NTZ on output so emitted wall-clock values are identical
    to the source's regardless of where the feed's files came from
    (the session timezone is pinned to UTC, so both casts are exact
    inverses)."""
    if schema is None:
        schema = spark.read.parquet(input_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )
    agg = (
        stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum(F.expr("cast(round(value * 100) as bigint)"))
             .alias("total_value_c"))
        .select("user_id",
                F.col("w.start").cast("timestamp_ntz")
                .alias("session_start"),
                F.col("w.end").cast("timestamp_ntz")
                .alias("session_end"),
                "n_events", "total_value_c")
    )
    q = (
        agg.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def dedup_within_watermark_stream(spark: SparkSession, input_dir: str,
                                  output_dir: str, checkpoint_dir: str,
                                  schema=None,
                                  watermark: str = "30 minutes") -> None:
    """Spark's NATIVE streaming dedup (dropDuplicatesWithinWatermark):
    first occurrence of each content digest passes through, replays
    within the watermark horizon are dropped, and — unlike plain
    dropDuplicates — state is EVICTED once the watermark passes a
    key's last-seen time, so the dedup registry is bounded for an
    unbounded crawl. Complements streaming/stateful.streaming_dedup
    (the applyInPandasWithState form, which also tracks a min-id
    policy); this pins the built-in API's semantics."""
    if schema is None:
        schema = spark.read.parquet(input_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )
    dd = (
        stream.withColumn("digest", F.md5("text"))
        # NTZ-proof (see session_stream): watermark requires TIMESTAMP
        .withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
        .withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark(["digest"])
        .select("digest")
    )
    q = (
        dd.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_finalized_stream(spark: SparkSession, name: str, cache_key: str,
                         build_src, run_stream) -> str:
    """Shared staging/atomic-publish harness for flush-finalized
    AvailableNow streams (q_flagship_stream and q_stream_sessions both
    use it — ONE copy of the subtle mtime-ordering logic):

    - the whole attempt runs inside a UNIQUE work dir; only an atomic
      rename publishes the finished output, so a killed run can never
      leave a partial result behind the content key, and concurrent
      sessions each stage privately (one rename wins, the rest discard);
    - ``build_src(src_dir, stamp)`` writes the source files; it MUST
      call ``stamp(step)`` with strictly increasing steps after each
      write — FileStreamSource orders micro-batches by file mtime, and
      an mtime tie could process a watermark-flush file before the real
      data and drop every real row as late;
    - ``run_stream(src, out, ckpt)`` runs the stream to completion;
    - the COMMITTED row set is re-materialized to a plain parquet dir
      (reading the staged sink honors its _spark_metadata exactly-once
      log, whose absolute staging paths would dangle after a rename).

    Returns the published output dir.
    """
    import os
    import shutil
    import tempfile
    import uuid

    out = os.path.join(tempfile.gettempdir(),
                       f"gps_{name}_{cache_key}_out")
    if not os.path.exists(out):
        work = tempfile.mkdtemp(
            prefix=f"gps_{name}_stage_{cache_key}_{uuid.uuid4().hex[:8]}_")
        src, ckpt, stage_out = f"{work}/src", f"{work}/ckpt", f"{work}/out"
        seen: set[str] = set()

        def stamp(step: int) -> None:
            for fname in sorted(os.listdir(src)):
                p = os.path.join(src, fname)
                if p not in seen and fname.endswith(".parquet"):
                    os.utime(p, ns=(step * 10**9, step * 10**9))
                    seen.add(p)

        build_src(src, stamp)
        run_stream(src, stage_out, ckpt)
        clean = f"{work}/clean"
        spark.read.parquet(stage_out).write.parquet(clean)
        try:
            os.rename(clean, out)  # publish only AFTER completion
        except OSError:
            pass  # another session already published the same key
        shutil.rmtree(work, ignore_errors=True)
    return out
