"""Cluster entry point: the TRAINING-CORPUS pipeline, resumable.

The webtext twin of ``submit_pipeline.py`` — every corpus-preparation
stage a 100 TB Common-Crawl-style run needs, with a lineage checkpoint
between stages so a killed run resumes mid-pipeline:

    quality/lang signals -> near-dup canonical keep -> PII scrub
        -> stratified sample -> token chunks

    zip -qr /tmp/gps.zip geotiff_processor_spark
    spark-submit --master <cluster-master> \
        --py-files /tmp/gps.zip \
        scripts/submit_corpus_pipeline.py <documents_parquet> <output_dir>

Same commit discipline as the raster pipeline: each stage reads the
previous stage's committed parquet (never the upstream plan), commits
with dynamic partition overwrite plus a ``__done`` marker table, and
``resume_filter`` anti-joins committed partitions away on restart —
resume cost is bounded by the one interrupted stage. Partition key is
``source`` throughout (the crawl-shard analog); ``lang`` rides along
as a column.
"""

import os
import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

QUALITY_MIN_TOKENS = 10
QUALITY_MAX_DUP_GRAM_FRAC = 0.9


def main() -> None:
    docs_path, out_dir = sys.argv[1], sys.argv[2]
    # No spark.python.daemon.module here, unlike get_spark: under
    # spark-submit the package may arrive through --py-files only after
    # the worker daemon has started, so the stock daemon is kept.
    spark = SparkSession.builder.appName("gps-corpus-pipeline") \
        .getOrCreate()
    run(spark, docs_path, out_dir)
    spark.stop()


def run(spark: SparkSession, docs_path: str, out_dir: str) -> None:
    from geotiff_processor_spark.functions import text as T
    from geotiff_processor_spark.operators import dedup, textprep
    from geotiff_processor_spark.plans import lineage

    def stage_path(name: str) -> str:
        return os.path.join(out_dir, name)

    def stage(df, name: str, keys: list[str]):
        todo = lineage.resume_filter(df, spark, out_dir, name, keys)
        committed[name] = lineage.checkpoint_write(todo, out_dir, name, keys)
        return committed[name]

    committed: dict = {}

    # ---- stage 1: quality + language + repetition signals ----------------
    docs = spark.read.parquet(docs_path)
    q = T.sql_quality_cols("text", dialect="spark")
    signals = docs.select(
        "doc_id", "text", "lang", "source",
        *[F.expr(e).alias(k) for k, e in q.items()],
    )
    rep = textprep.repetition_signals(docs.select("doc_id", "text"))
    scored = signals.join(rep, "doc_id")
    scored = scored.filter(
        (F.col("n_tokens") >= QUALITY_MIN_TOKENS)
        & (F.col("dup_gram_frac") <= QUALITY_MAX_DUP_GRAM_FRAC))
    scored = stage(scored, "scored", ["source"])

    # ---- stage 2: near-dup canonical keep ---------------------------------
    pairs = dedup.jaccard_verify(
        scored, dedup.lsh_candidate_pairs(dedup.minhash_signatures(scored)),
        threshold=0.9).select("key_a", "key_b")
    canon = dedup.canonical_docs(scored, pairs)
    kept = (
        scored.join(canon.filter(F.col("kept") == 1)
                    .select("doc_id", "cluster_size"), "doc_id")
    )
    kept = stage(kept, "kept", ["source"])

    # ---- stage 3: PII scrub ------------------------------------------------
    scrubbed = (
        kept.select("doc_id", "text", "lang", "source")
        .join(textprep.pii_scrub(kept.select("doc_id", "text")), "doc_id")
        .select("doc_id", "lang", "source", "n_emails", "n_numbers",
                F.col("clean_text").alias("text"))
    )
    scrubbed = stage(scrubbed, "scrubbed", ["source"])

    # ---- stage 4: deterministic stratified sample --------------------------
    rates = spark.createDataFrame(
        [("src0", 5000), ("src1", 5000)], "source string, keep_per_10k int")
    sampled_ids = textprep.stratified_sample(
        scrubbed.select("doc_id", "source"), rates)
    sampled = scrubbed.join(sampled_ids.select("doc_id"), "doc_id")
    sampled = stage(sampled, "sampled", ["source"])

    # ---- stage 5: token chunks (training-sample prep) ----------------------
    chunks = (
        textprep.chunk_tokens(sampled.select("doc_id", "text"))
        .join(sampled.select("doc_id", "source"), "doc_id")
    )
    stage(chunks, "chunks", ["source"])

    # ---- audit: per-stage partition metrics --------------------------------
    metrics = None
    for name in ["scored", "kept", "scrubbed", "sampled", "chunks"]:
        df = committed[name]
        bytes_col = "text" if "text" in df.columns else (
            "chunk_text" if "chunk_text" in df.columns else None)
        m = (lineage.partition_metrics(df, ["source"], bytes_col=bytes_col)
             .select(F.lit(name).alias("stage"),
                     F.concat_ws("=", F.lit("source"),
                                 F.col("source").cast("string")).alias("key"),
                     "n_rows", "n_bytes"))
        metrics = m if metrics is None else metrics.unionByName(m)
    metrics.write.mode("overwrite").parquet(stage_path("metrics"))


if __name__ == "__main__":
    main()
