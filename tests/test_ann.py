"""ANN: LSH and IVF recall floors against the exact top-k, near-dup."""

from pyspark.sql import functions as F

from geotiff_processor_spark.operators import ann


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_lsh_recall_floor(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    exact = {(r["query_vec_id"], r["vec_id"])
             for r in ann.cosine_topk(emb, n_queries=5, k=10).collect()}
    got = {(r["query_vec_id"], r["vec_id"])
           for r in ann.lsh_bucket_ann(emb, n_queries=5, k=10,
                                       bits=4, n_tables=8).collect()}
    recall = len(exact & got) / len(exact)
    # 8 tables x 4-bit SRP; documented approximate operator
    assert recall >= 0.4


def test_srp_buckets_deterministic(spark, sf_dir):
    emb = _emb(spark, sf_dir).limit(50)
    a = ann.srp_signature(emb).select("vec_id", "bucket")
    b = ann.srp_signature(emb).select("vec_id", "bucket")
    assert a.exceptAll(b).count() == 0


def test_embedding_near_dup_bucketed_no_all_pairs(spark, sf_dir):
    """SRP-bucketed near-dup finds every planted scaled copy (cos=1
    pairs collide in every table) with NO cartesian/all-pairs join in
    the executed plan."""
    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    scaled = emb.filter(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.expr("transform(embedding, x -> x * cast(1.25 as float))")
        .alias("embedding"))
    corpus = emb.unionByName(scaled)
    out = ann.embedding_near_dup(corpus, threshold=0.9999)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    planted = {(r["vec_id"], r["vec_id"] + 100000)
               for r in emb.filter(F.col("vec_id") % 25 == 0).collect()}
    got = {(r["vid_a"], r["vid_b"]) for r in out.collect()}
    assert planted <= got
    for r in out.collect():
        assert r["cos_sim"] >= 0.9999


def test_auto_bits_sizing():
    """bits grow with corpus size so expected bucket population stays
    ~target; floor 8 keeps test scales identical to the fixed oracle."""
    assert ann._auto_bits(100, 1024) == 8
    assert ann._auto_bits(1024, 1024) == 8
    assert ann._auto_bits(1 << 20, 1024) == 10
    assert ann._auto_bits(10**12, 1024) == 24  # ceiling
    assert ann._auto_bits(0, 1024) == 8


def test_near_dup_star_mode_bounds_skewed_bucket(spark):
    """A skewed corpus (one near-dup class of m identical vectors) is
    m^2 genuine pairs — star mode must emit only the m-1 hub->member
    links per class instead, bounding candidate volume on pathological
    corpora, while leaving normal-sized buckets' pairs untouched."""
    m = 400
    base = spark.range(m).select(
        F.col("id").cast("bigint").alias("vec_id"),
        F.expr("transform(sequence(1, 64),"
               " j -> cast(j as float))").alias("embedding"))
    # two spread-out singleton vectors that pair with nothing (sign
    # pattern differs per id, so they are NOT scalings of each other)
    extra = spark.range(2).select(
        (F.col("id") + 10_000).alias("vec_id"),
        F.expr("transform(sequence(1, 64), j -> cast(j *"
               " case when j % (id + 3) = 0 then -1 else 1 end"
               " as float))").alias("embedding"))
    corpus = base.unionByName(extra)
    out = ann.embedding_near_dup(corpus, threshold=0.9999, bits=8,
                                 oversized="star", max_bucket_rows=50)
    rows = out.collect()
    # exactly hub(0)->member links, not the m*(m-1)/2 pair explosion
    assert len(rows) == m - 1
    assert all(r["vid_a"] == 0 for r in rows)
    assert {r["vid_b"] for r in rows} == set(range(1, m))
    # keep mode (the oracle semantics) on a NON-oversized class still
    # emits full pairs
    small = spark.range(5).select(
        F.col("id").alias("vec_id"),
        F.expr("transform(sequence(1, 64), j -> cast(j as float))")
        .alias("embedding"))
    full = ann.embedding_near_dup(small, threshold=0.9999, bits=8,
                                  oversized="star", max_bucket_rows=50)
    assert full.count() == 5 * 4 // 2


def test_ivf_recall_and_determinism(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    exact = {(r["query_vec_id"], r["vec_id"])
             for r in ann.cosine_topk(emb, n_queries=5, k=10).collect()}
    a = ann.ivf_ann(emb, n_queries=5, k=10, n_lists=16, nprobe=4)
    got = {(r["query_vec_id"], r["vec_id"]) for r in a.collect()}
    recall = len(exact & got) / len(exact)
    assert recall >= 0.5  # nprobe=4/16 lists; documented approximate op
    # deterministic: second build = identical rows
    b = ann.ivf_ann(emb, n_queries=5, k=10, n_lists=16, nprobe=4)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # probing more lists can only improve recall
    wide = ann.ivf_ann(emb, n_queries=5, k=10, n_lists=16, nprobe=16)
    got_w = {(r["query_vec_id"], r["vec_id"]) for r in wide.collect()}
    assert len(exact & got_w) >= len(exact & got)
    assert len(exact & got_w) == len(exact)  # nprobe=all lists == exact
