"""Physical-plan assertions backing PLANS.md's scale claims: shuffles
counted, pruning verified, codegen confirmed. A regression that adds a
shuffle or re-reads pruned columns fails HERE, not at 100 TB."""

import re

from pyspark.sql import functions as F

from geotiff_processor_spark.operators import dedup, graph, knn, pip, tiling
from geotiff_processor_spark.sources import synth


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    df.collect()  # finalize the AQE plan so codegen ids are annotated
    spark = df.sparkSession
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode \
        .fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def _exchanges(plan: str) -> list[str]:
    # AQE wraps exchanges; count distinct shuffle origins
    return re.findall(r"Exchange hashpartitioning|Exchange rangepartitioning"
                      r"|Exchange SinglePartition", plan)


def _staged_pages(spark, sf_dir):
    return synth.build_pages_staged(spark, sf_dir, with_html=False)


def test_flagship_single_shuffle_and_pruned_scan(spark, sf_dir):
    """The flagship's ONLY shuffle carries pre-aggregated rows; the
    parquet scan decodes just the text column."""
    pages = _staged_pages(spark, sf_dir)
    job = tiling.flagship_pipeline(pages)
    plan = _plan(job)
    assert len(_exchanges(plan)) == 1, plan[:2000]
    assert "BroadcastHashJoin" in plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and m.group(1).startswith("text"), m
    assert "codegen id" in _formatted(job)


def test_minhash_shuffle_free_single_split(spark, sf_dir):
    """MinHash signatures are a pure per-doc function (round 6): ZERO
    hash/range exchanges, and the let-bound expression tokenizes and
    hashes each doc exactly once (no CollapseProject re-inlining)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    df = dedup.minhash_signatures(docs)
    plan = _plan(df)
    assert len(_exchanges(plan)) == 0, plan[:2000]
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("split(") == 1 and opt.count("md5(") == 1, opt[:2000]


def test_tile_pyramid_levels_derive_from_child_level(spark, sf_dir):
    """Zoom z-1 aggregates zoom z's counts (4 rows in per row out) —
    each level adds ONE shuffle over shrinking data; no level rescans
    the pages table with a fresh wide aggregation. Building the levels
    starts no Spark job: the caller already knows the base zoom."""
    g = synth.geocode(_staged_pages(spark, sf_dir))
    base = tiling.tile_counts(g, zoom=6)
    sc = spark.sparkContext
    sc.setJobGroup("tile_pyramid_counts", "build the pyramid levels")
    try:
        levels = tiling.tile_pyramid_counts(base, 6, down_to_zoom=4)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(
        "tile_pyramid_counts")) == []
    # z4 plan = base shuffle + 2 rollup shuffles
    assert len(_exchanges(_plan(levels[4]))) == 3
    assert len(_exchanges(_plan(levels[5]))) == 2
    assert len(_exchanges(_plan(levels[6]))) == 1


def test_general_pip_predicate_in_codegen(spark, sf_dir):
    """The concave ray-cast CASE must execute inside whole-stage
    codegen (a janino blowout would silently fall back and 5-10x the
    cost at scale)."""
    g = synth.geocode(_staged_pages(spark, sf_dir))
    out = pip.pip_join_general(g, synth.general_polygon_rows())
    fm = _formatted(out)
    # the operator of the final plan evaluating the ray-cast (the join
    # condition of the BroadcastHashJoin, or a Filter) carries a codegen
    # id itself
    tree = fm[fm.index("== Final Plan =="):fm.index("== Initial Plan ==")]
    final_ids = set(re.findall(r"\((\d+)\)", tree))
    holders = []
    for sec in fm.split("\n\n"):
        m = re.match(r"\((\d+)\) ", sec)
        if m and m.group(1) in final_ids and "CASE WHEN (polygon_id" in sec:
            holders.append(sec)
    assert holders, fm[:3000]
    for sec in holders:
        assert "[codegen id : " in sec.splitlines()[0], sec[:500]


def test_pip_paths_parse_each_coordinate_once(spark, sf_dir):
    """The cover join (and the radius join's band join) leaves the
    optimizer no null-intolerant predicate on a pages column, so no
    inferred isnotnull Filter is pushed below geocode to repeat its text
    parse: the optimized plan parses ``loc=`` once per coordinate, and
    no Filter tests the text."""
    pages = _staged_pages(spark, sf_dir)
    g = synth.geocode(pages)
    polys = synth.general_polygon_rows()
    queries = synth.build_knn_queries(spark)
    for name, df in (("flagship", tiling.flagship_pipeline(pages)),
                     ("general", pip.pip_join_general(g, polys)),
                     ("raycast", pip.pip_join_raycast(g, polys)),
                     ("radius", knn.radius_join(g, queries, 400_000.0))):
        opt = df._jdf.queryExecution().optimizedPlan().toString()
        assert opt.count("loc=") == 2, (name, opt)
        filters = re.findall(r"[+:-] Filter .*", opt)
        assert not [f for f in filters if "text#" in f], (name, opt)


def test_chunk_and_scrub_are_shuffle_free(spark, sf_dir):
    """Chunking and PII scrub stay map-side at any scale: no Exchange,
    no Python eval in either plan."""
    from geotiff_processor_spark.operators import textprep
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    for df in (textprep.chunk_tokens(docs), textprep.pii_scrub(docs)):
        plan = _plan(df)
        assert len(_exchanges(plan)) == 0, plan[:2000]
        assert "EvalPython" not in plan


def test_repetition_signals_shuffle_free_single_pass(spark, sf_dir):
    """Repetition stats are per-doc (round 6): ZERO hash/range
    exchanges — one in-array sort + run-length walk per document,
    with the token array split exactly once (let-binding holds)."""
    from geotiff_processor_spark.operators import textprep
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    df = textprep.repetition_signals(docs)
    plan = _plan(df)
    assert len(_exchanges(plan)) == 0, plan[:2000]
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("split(") == 1 and opt.count("aggregate(") == 1, \
        opt[:2000]


def test_stratified_sample_broadcasts_rates(spark, sf_dir):
    """The rate table joins broadcast; the corpus is never shuffled."""
    from geotiff_processor_spark.operators import textprep
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "source")
    rates = spark.createDataFrame(
        [("src0", 5000)], "source string, keep_per_10k int")
    plan = _plan(textprep.stratified_sample(docs, rates))
    assert "BroadcastHashJoin" in plan
    assert len(_exchanges(plan)) == 0, plan[:2000]


def test_cc_rounds_carry_two_bigints_only(spark):
    """Label propagation shuffles (id, label) bigint pairs: the rows
    crossing every round's exchange are exactly two 8-byte columns, so
    round cost is bounded by node count regardless of document width.
    The returned frame is a localCheckpoint scan (lineage truncated —
    itself a scale property: plans don't grow with iteration count)."""
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "src bigint, dst bigint")
    cc = graph.connected_components(pairs, collect_limit=0)
    assert [f.dataType.simpleString() for f in cc.schema.fields] == \
        ["bigint", "bigint"]
    plan = _plan(cc)
    # lineage was truncated: no exploded join tree survives to the
    # returned plan, so iteration N's plan is as small as iteration 1's
    assert "ExistingRDD" in plan or "Scan" in plan
    assert len(_exchanges(plan)) == 0, plan[:2000]


def test_decontaminate_broadcast_gram_join(spark, sf_dir):
    """The benchmark gram set must broadcast: the corpus side's gram
    join runs map-side, and the only corpus-scale exchanges are the
    per-doc hit partial-agg and the final key join — never an exchange
    of all exploded corpus grams by gram hash."""
    from geotiff_processor_spark.operators import textprep
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    plan = _plan(textprep.decontaminate(docs, docs.limit(50)))
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert not re.search(r"Exchange hashpartitioning\(gh", plan), plan


def test_line_dedup_span_text_never_shuffles(spark, sf_dir):
    """Line (span) dedup reduces each occurrence to (digest, key, idx,
    len) map-side: no exchange input carries the span text or the raw
    document text — at 100 TB the shuffles move fixed-width rows only."""
    from geotiff_processor_spark.operators import dedup as dd
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    df = dd.line_dedup(docs)
    plan = _plan(df)
    # round 6: ONE digest-keyed window exchange + the per-doc rollup
    assert len(_exchanges(plan)) == 2, plan[:2000]
    for ex in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert " text#" not in ex.group(1)
        assert " _txt#" not in ex.group(1)
        assert " _t#" not in ex.group(1)
    assert "EvalPython" not in plan
    # each document is tokenized ONCE per scan branch (the let-bound
    # span build slices one shared token array), so the map stage is
    # O(tokens) per doc, not O(spans x tokens)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    n_scans = max(plan.count("FileScan parquet"), 1)
    assert opt.count("split(") == n_scans, opt[:3000]


def test_vocab_topk_uses_topk_not_global_sort(spark, sf_dir):
    """Top-k must plan as TakeOrderedAndProject (per-partition heaps),
    never a full Sort over the vocabulary, and the single corpus-scale
    exchange is the token-count partial agg."""
    from geotiff_processor_spark.operators import textprep
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("text")
    plan = _plan(textprep.vocab_topk(docs))
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert "partial_count" in plan or "partial" in plan.lower()


def test_bucketed_join_is_shuffle_free(spark, sf_dir, tmp_path):
    """The 100 TB co-located-join recipe: bucketBy both sides on the
    join key and the sort-merge join plans with ZERO exchanges — the
    corpus joins bucket-to-bucket with no network movement. This is the
    engine's substitute for the reference's single-process in-memory
    joins, and the pattern the docs prescribe for repeated doc-keyed
    joins (signatures, scores, metadata) over the same corpus."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    meta = docs.select("doc_id", F.length("text").alias("n_chars"))
    for name, df in (("b_docs", docs), ("b_meta", meta)):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (df.write.bucketBy(8, "doc_id").sortBy("doc_id")
         .option("path", str(tmp_path / name))
         .mode("overwrite").format("parquet").saveAsTable(name))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("b_docs").join(spark.table("b_meta"), "doc_id") \
            .select("doc_id", "n_chars")
        plan = _plan(j)
        assert len(_exchanges(plan)) == 0, plan[:2000]
        assert "SortMergeJoin" in plan, plan[:2000]
        assert j.count() == docs.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        for name in ("b_docs", "b_meta"):
            spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_substr_dedup_gram_text_never_shuffles(spark, sf_dir):
    """ExactSubstr: every occurrence reduces to a 16-byte md5 before
    any exchange — no shuffle carries the gram or document text, and
    the per-(digest,doc) rollup is a partial agg (boilerplate skew is
    bounded map-side)."""
    from geotiff_processor_spark.operators import dedup as dd
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    df = dd.exact_substr_dedup(docs, k=8)
    plan = _plan(df)
    # round 6: per-(doc,digest) counts pre-agg in-array map-side, so
    # only the two irreducible cross-doc exchanges remain (digest-keyed
    # window count + per-doc rollup)
    assert len(_exchanges(plan)) == 2, plan[:2000]
    for ex in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert " text#" not in ex.group(1) and " _txt#" not in ex.group(1)
    assert "partial" in plan.lower()
    assert "EvalPython" not in plan  # all-native: no Python in the path
    # the let-bound expression tokenizes each doc exactly once
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("split(") == 1, opt[:2000]


def test_decode_video_is_map_only(spark, sf_dir):
    """Video decode + frame sampling runs entirely map-side: payloads
    never shuffle (the only stages are scan -> Arrow eval)."""
    media = synth.build_media_y4m_staged(spark, sf_dir)
    from geotiff_processor_spark.operators import multimodal as mm
    plan = _plan(mm.decode_video(media, payload_col="y4m",
                                 key_col="url", every=2))
    assert len(_exchanges(plan)) == 0, plan[:2000]
    assert "MapInPandas" in plan


def test_bpe_pair_count_stage_partial_aggs(spark, sf_dir):
    """The per-step pair-count job must partial-agg map-side so the
    exchange carries (pair, count) rows bounded by distinct pairs —
    asserted on the stage plan the trainer runs each iteration."""
    from geotiff_processor_spark.operators import bpe as bp
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("text")
    vocab = (bp.word_counts(docs)
             .withColumn("syms", F.expr(
                 "transform(sequence(1, length(word)),"
                 " i -> substr(word, i, 1))"))
             .select("syms", "cnt"))
    pairs = (
        vocab.select(
            "cnt",
            F.explode(F.arrays_zip(
                F.slice("syms", 1, F.size("syms") - 1).alias("lhs"),
                F.slice("syms", 2, F.size("syms") - 1).alias("rhs"),
            )).alias("p"))
        .groupBy(F.col("p.lhs").alias("lhs"), F.col("p.rhs").alias("rhs"))
        .agg(F.sum("cnt").alias("pair_count")))
    plan = _plan(pairs)
    assert "partial" in plan.lower(), plan[:2000]
    # word-count agg + pair agg, both hash exchanges of (key, count)
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 2, \
        plan[:2000]
