"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: exact brute-force top-k per query against a small
  broadcast query set. The fold-left ``F.aggregate`` dot product keeps
  the summation order deterministic, so it is the oracle-checked path
  and the reference the approximate searches are scored against.
- ``lsh_bucket_ann``: sign-random-projection LSH — embeddings bucketed
  by a b-bit sign signature against fixed deterministic hyperplanes;
  probing compares only same-bucket candidates.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: str, b: str):
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b),
                   lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm2(a: str):
    return F.aggregate(
        F.transform(F.col(a), lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine_topk(embeddings: DataFrame, n_queries: int = 5,
                k: int = 10) -> DataFrame:
    """(query_vec_id, vec_id, rank, cos_sim) — queries are the first
    ``n_queries`` vec_ids, self-matches excluded, ties broken by vec_id."""
    # norms precomputed ONCE per embedding row / per query row (round
    # 6: both sides' 64-element norm aggregates ran per PAIR before —
    # 2/3 of the candidate-scoring work). sqrt(norm2(..)) is the same
    # expression over the same values, and the final multiply/divide
    # chain is unchanged, so every cos_sim double is bit-identical.
    q = (
        embeddings.filter(F.col("vec_id") < n_queries)
        .select(F.col("vec_id").alias("query_vec_id"),
                F.col("embedding").alias("q_emb"),
                F.sqrt(_norm2("embedding")).alias("_qn"))
    )
    base = embeddings.select(
        "vec_id", "embedding", F.sqrt(_norm2("embedding")).alias("_en"))
    j = base.crossJoin(F.broadcast(q)) \
        .filter(F.col("vec_id") != F.col("query_vec_id"))
    j = j.withColumn(
        "cos_sim",
        F.round(
            _dot("embedding", "q_emb")
            / (F.col("_en") * F.col("_qn")), 6),
    )
    w = Window.partitionBy("query_vec_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        j.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_vec_id", "vec_id",
                F.col("rank").cast("bigint").alias("rank"), "cos_sim")
    )


def srp_planes(dim: int, bits: int, seed: int, table: int) -> np.ndarray:
    """Deterministic SRP hyperplanes — the ONE source of truth shared by
    the Spark operator and the DuckDB oracle (sql_srp_bucket)."""
    rng = np.random.default_rng(seed + 1000 * table)
    return rng.standard_normal((bits, dim))


def srp_signature(embeddings: DataFrame, dim: int = 64,
                  bits: int = 8, seed: int = 42, table: int = 0) -> DataFrame:
    """Sign-random-projection bucket id: deterministic hyperplanes from a
    seeded RNG, dot products as native fold expressions."""
    planes = srp_planes(dim, bits, seed, table)
    sig = None
    for j in range(bits):
        plane = [float(v) for v in planes[j]]
        dot = F.aggregate(
            F.zip_with(F.col("embedding"),
                       F.array(*[F.lit(v) for v in plane]),
                       lambda x, y: x.cast("double") * y),
            F.lit(0.0), lambda acc, x: acc + x)
        bit = F.when(dot > 0, F.lit(1 << j)).otherwise(F.lit(0))
        sig = bit if sig is None else sig + bit
    return embeddings.withColumn("bucket", sig.cast("bigint"))


def srp_signatures_multi(embeddings: DataFrame, dim: int = 64,
                         bits: int = 8, n_tables: int = 4,
                         seed: int = 42) -> DataFrame:
    """Multi-table SRP: one (table, bucket) row per table — standard LSH
    recall amplification (union of candidates across independent tables)."""
    out = None
    for t in range(n_tables):
        sig = srp_signature(embeddings, dim=dim, bits=bits,
                            seed=seed, table=t) \
            .withColumn("table", F.lit(t))
        out = sig if out is None else out.unionByName(sig)
    return out


def _auto_bits(n: int, target_bucket_rows: int,
               lo: int = 8, hi: int = 24) -> int:
    """Signature width for an n-row corpus: expected bucket population
    n / 2^bits ~ target_bucket_rows, clipped to [lo, hi]. The floor
    keeps test-scale behavior byte-identical to the fixed-8-bit oracle;
    the ceiling bounds plan size (one fold expression per bit)."""
    import math
    if n <= target_bucket_rows:
        return lo
    return min(hi, max(lo, math.ceil(math.log2(n / target_bucket_rows))))


def embedding_near_dup(corpus: DataFrame, threshold: float = 0.9999,
                       dim: int = 64, bits: int | str = "auto",
                       n_tables: int = 4,
                       target_bucket_rows: int = 1024,
                       oversized: str = "keep",
                       max_bucket_rows: int = 100_000) -> DataFrame:
    """Embedding-cosine near-dup via SRP bucketing — never all-pairs.

    Both sides are bucketed by a b-bit sign-random-projection signature
    in ``n_tables`` independent tables; only same-(table, bucket) pairs
    are compared. Exact copies / positive scalings share every sign, so
    they collide in **every** table (recall 1 for the cos=1 near-dup
    class this operator targets); general recall amplifies with tables.
    The dedupe shuffles only (vid_a, vid_b, cos_sim) candidate rows —
    embeddings never re-shuffle after the bucket join.

    ``bits="auto"`` sizes the signature from the corpus count so the
    EXPECTED bucket population stays near ``target_bucket_rows``
    regardless of corpus size: bits = clip(ceil(log2(n/target)), 8, 24).
    At test scales this resolves to the floor (8 bits — identical to
    the committed oracle's planes); at 10^12 rows it grows to 24 so the
    within-bucket self-join never goes quadratic from under-hashing.

    Under-hashing is not the only quadratic risk: a bucket of m
    NEAR-IDENTICAL vectors is m^2 genuine pairs no matter how many bits
    (identical vectors share every SRP sign — re-hashing cannot split
    them). ``oversized`` picks the policy for buckets whose population
    exceeds ``max_bucket_rows``:

    - "keep" (default): emit all pairs — exact pair semantics, the
      oracle-checked mode; quadratic only where the TRUE answer is.
    - "star": inside oversized buckets compare members only against the
      bucket's min-vid representative — O(m) candidate rows that still
      LINK every near-dup to its class representative (transitive dedup
      semantics, the form a 100 TB dedup pipeline consumes). Documented
      recall trade: member-member pairs inside oversized buckets are
      reachable via the hub, not emitted directly.
    """
    if bits == "auto":
        bits = _auto_bits(corpus.count(), target_bucket_rows)
    sig = srp_signatures_multi(corpus, dim=dim, bits=bits,
                               n_tables=n_tables)
    if oversized == "star":
        sizes = sig.groupBy("table", "bucket").agg(
            F.count(F.lit(1)).alias("bkt_n"),
            F.min("vec_id").alias("hub_vid"))
        sig = sig.join(sizes, ["table", "bucket"])
        big = F.col("bkt_n") > F.lit(max_bucket_rows)
        # oversized buckets contribute only hub-rooted edges on the
        # a-side (the hub is the bucket min, so vid_a < vid_b below
        # keeps exactly the hub->member edges)
        a_src = sig.filter(~big | (F.col("vec_id") == F.col("hub_vid")))
        b_src = sig
    else:
        a_src = b_src = sig
    a = a_src.select(F.col("vec_id").alias("vid_a"),
                     F.col("embedding").alias("emb_a"), "table", "bucket")
    b = b_src.select(F.col("vec_id").alias("vid_b"),
                     F.col("embedding").alias("emb_b"), "table", "bucket")
    cand = (
        a.join(b, ["table", "bucket"])
        .filter(F.col("vid_a") < F.col("vid_b"))
        .withColumn(
            "cos_sim",
            F.round(_dot("emb_a", "emb_b")
                    / (F.sqrt(_norm2("emb_a")) * F.sqrt(_norm2("emb_b"))),
                    6))
        .filter(F.col("cos_sim") >= threshold)
    )
    # a pair can collide in several tables: dedupe on ids only (cos_sim
    # is deterministic per pair, so min == the value)
    return cand.groupBy("vid_a", "vid_b").agg(
        F.min("cos_sim").alias("cos_sim"))


def lsh_bucket_ann(embeddings: DataFrame, n_queries: int = 5, k: int = 10,
                   dim: int = 64, bits: int = 4,
                   n_tables: int = 8) -> DataFrame:
    """ANN: compare only candidates sharing an SRP bucket with the query
    in at least one of ``n_tables`` hash tables (recall < 1 by design;
    tested against cosine_topk for recall)."""
    sig = srp_signatures_multi(embeddings, dim=dim, bits=bits,
                               n_tables=n_tables)
    q = (
        sig.filter(F.col("vec_id") < n_queries)
        .select(F.col("vec_id").alias("query_vec_id"),
                F.col("embedding").alias("q_emb"),
                F.col("table").alias("q_table"),
                F.col("bucket").alias("q_bucket"))
    )
    j = sig.join(
        F.broadcast(q),
        (F.col("bucket") == F.col("q_bucket"))
        & (F.col("table") == F.col("q_table"))) \
        .filter(F.col("vec_id") != F.col("query_vec_id")) \
        .select("vec_id", "embedding", "query_vec_id", "q_emb") \
        .distinct()
    j = j.withColumn(
        "cos_sim",
        F.round(
            _dot("embedding", "q_emb")
            / (F.sqrt(_norm2("embedding")) * F.sqrt(_norm2("q_emb"))), 6))
    w = Window.partitionBy("query_vec_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        j.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_vec_id", "vec_id",
                F.col("rank").cast("bigint").alias("rank"), "cos_sim")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: coarse quantizer -> probe nearest lists only
# ---------------------------------------------------------------------------

def _kmeans_centroids(sample: np.ndarray, n_lists: int,
                      iters: int = 8) -> np.ndarray:
    """Deterministic spherical k-means on a driver-side sample: init =
    first n_lists sample rows (input is deterministic), fixed iteration
    count, numpy only. Returns L2-normalized (n_lists, dim) centroids."""
    x = sample / np.linalg.norm(sample, axis=1, keepdims=True)
    c = x[:n_lists].copy()
    for _ in range(iters):
        sims = x @ c.T                      # (n, k)
        assign = np.argmax(sims, axis=1)
        for j in range(n_lists):
            m = assign == j
            if m.any():
                v = x[m].sum(axis=0)
                nv = np.linalg.norm(v)
                if nv > 0:
                    c[j] = v / nv
    return c


def ivf_assign(embeddings: DataFrame, centroids: np.ndarray) -> DataFrame:
    """Add ``list_id`` = argmax-cosine centroid — one Arrow batch matmul
    per partition (map-side only; embeddings never shuffle)."""
    cmat = centroids.astype(np.float64)

    out_schema = "vec_id bigint, list_id int"

    def assign(batches):
        for pdf in batches:
            mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            mat /= np.linalg.norm(mat, axis=1, keepdims=True)
            lid = np.argmax(mat @ cmat.T, axis=1)
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"].to_numpy(np.int64),
                "list_id": lid.astype(np.int32),
            })

    ids = embeddings.select("vec_id", "embedding").mapInPandas(
        assign, schema=out_schema)
    return embeddings.join(ids, "vec_id")


def ivf_ann(embeddings: DataFrame, n_queries: int = 5, k: int = 10,
            n_lists: int = 16, nprobe: int = 4,
            sample_rows: int = 256) -> DataFrame:
    """IVF ANN: partition vectors into ``n_lists`` coarse cells (k-means
    on a deterministic sample), probe only each query's ``nprobe``
    nearest lists, exact cosine on those candidates. At 100 TB the
    assignment is an embarrassingly parallel map; the probe join
    broadcasts |Q| x nprobe (query, list) pairs, so the scan touches
    ~nprobe/n_lists of the corpus instead of all of it. Approximate
    (recall < 1 by design, tested against cosine_topk); see
    ``lsh_bucket_ann`` for the hash-bucketed alternative."""
    sample = embeddings.filter(F.col("vec_id") < sample_rows) \
        .select("vec_id", "embedding").collect()
    smat = np.stack([np.asarray(r["embedding"], dtype=np.float64)
                     for r in sorted(sample, key=lambda r: r["vec_id"])])
    cents = _kmeans_centroids(smat, n_lists)

    indexed = ivf_assign(embeddings, cents)
    qrows = embeddings.filter(F.col("vec_id") < n_queries) \
        .select("vec_id", "embedding").collect()
    probes = []
    for r in qrows:
        v = np.asarray(r["embedding"], dtype=np.float64)
        v /= np.linalg.norm(v)
        near = np.argsort(-(cents @ v))[:nprobe]
        probes += [(int(r["vec_id"]), int(lid)) for lid in near]
    pdf = embeddings.sparkSession.createDataFrame(
        probes, schema=["query_vec_id", "list_id"])
    q = embeddings.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_vec_id"),
        F.col("embedding").alias("q_emb"))
    cand = (
        indexed.join(F.broadcast(pdf), "list_id")
        .join(F.broadcast(q), "query_vec_id")
        .filter(F.col("vec_id") != F.col("query_vec_id"))
    )
    cand = cand.withColumn(
        "cos_sim",
        F.round(_dot("embedding", "q_emb")
                / (F.sqrt(_norm2("embedding")) * F.sqrt(_norm2("q_emb"))),
                6))
    w = Window.partitionBy("query_vec_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_vec_id", "vec_id",
                F.col("rank").cast("bigint").alias("rank"), "cos_sim")
    )


# ---------------------------------------------------------------------------
# DuckDB oracle builders: the SRP planes and IVF centroids are
# deterministic, so they inline as SQL literals — the oracle reproduces
# the FULL approximate result set, not just a recall proxy.
# ---------------------------------------------------------------------------

def sql_dot_literal(emb: str, plane: np.ndarray) -> str:
    """Left-associated double dot product against a literal vector —
    bit-identical to the Spark fold (aggregate starts at 0.0; 0.0 + x1
    == x1 exactly, and both engines then add left-to-right)."""
    return "(" + " + ".join(
        f"cast({emb}[{i + 1}] as double) * {float(plane[i])!r}"
        for i in range(len(plane))) + ")"


def sql_srp_bucket(emb: str, dim: int, bits: int, seed: int,
                   table: int) -> str:
    """SRP bucket id of ``srp_signature`` as DuckDB SQL with the SAME
    hyperplanes (srp_planes) inlined as literals."""
    planes = srp_planes(dim, bits, seed, table)
    return "(" + " + ".join(
        f"(case when {sql_dot_literal(emb, planes[j])} > 0"
        f" then {1 << j} else 0 end)"
        for j in range(bits)) + ")"


# list_sum-based cosine pieces (proven hash-matching at round 6 by the
# ann_cosine oracle since round 1)
_SQL_DOT = ("list_sum(list_transform(range(1, {d1}),"
            " i -> cast({a}[i] as double) * cast({b}[i] as double)))")


def _sql_cos(a: str, b: str, dim: int) -> str:
    dot = _SQL_DOT.format(d1=dim + 1, a=a, b=b)
    na = (f"sqrt(list_sum(list_transform({a},"
          " x -> cast(x as double) * cast(x as double))))")
    nb = (f"sqrt(list_sum(list_transform({b},"
          " x -> cast(x as double) * cast(x as double))))")
    return f"round({dot} / ({na} * {nb}), 6)"


def oracle_sql_lsh_ann(n_queries: int = 5, k: int = 10, dim: int = 64,
                       bits: int = 4, n_tables: int = 8,
                       seed: int = 42) -> str:
    """DuckDB SQL reproducing ``lsh_bucket_ann`` exactly: per-table
    bucket signatures (plane literals), bucket-equality candidate join,
    distinct candidates, cosine round 6, rank <= k."""
    sig_selects = "\nUNION ALL\n".join(
        f"SELECT vec_id, embedding, {t} AS tbl,"
        f" {sql_srp_bucket('embedding', dim, bits, seed, t)} AS bucket"
        " FROM embeddings"
        for t in range(n_tables))
    return f"""
WITH sig AS (
{sig_selects}
),
q AS (
  SELECT vec_id AS query_vec_id, embedding AS q_emb, tbl, bucket
  FROM sig WHERE vec_id < {n_queries}
),
cand AS (
  SELECT DISTINCT s.vec_id, s.embedding, q.query_vec_id, q.q_emb
  FROM sig s JOIN q ON s.tbl = q.tbl AND s.bucket = q.bucket
  WHERE s.vec_id <> q.query_vec_id
),
sims AS (
  SELECT query_vec_id, vec_id,
    {_sql_cos('embedding', 'q_emb', dim)} AS cos_sim
  FROM cand
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_vec_id ORDER BY cos_sim DESC, vec_id) AS rnk
  FROM sims
)
SELECT query_vec_id, vec_id, cast(rnk as bigint) AS rank, cos_sim
FROM ranked WHERE rnk <= {k}"""


def load_sample_embeddings(sf_dir: str, sample_rows: int = 256) -> np.ndarray:
    """Driver/oracle-side: the deterministic k-means sample (vec_id <
    sample_rows, vec_id order) as float64 — identical to what
    ``ivf_ann`` collects through Spark (float32 -> float64 is exact)."""
    import duckdb as _duckdb

    rows = _duckdb.sql(
        f"SELECT embedding FROM '{sf_dir}/embeddings.parquet'"
        f" WHERE vec_id < {sample_rows} ORDER BY vec_id").fetchall()
    return np.stack([np.asarray(r[0], dtype=np.float64) for r in rows])


def oracle_sql_ivf_ann(sf_dir: str, n_queries: int = 5, k: int = 10,
                       n_lists: int = 16, nprobe: int = 4,
                       sample_rows: int = 256, dim: int = 64) -> str:
    """DuckDB SQL reproducing ``ivf_ann`` exactly: the deterministic
    k-means centroids (same numpy code, same sample) inline as literals;
    assignment = rank-1 centroid by dot (ties to lowest list_id, the
    np.argmax rule), probes = top-nprobe centroids per query, then exact
    cosine top-k over the probed lists only.

    ``sf_dir`` must be the directory the driver runs the correctness
    gate at (sf0.01) — the centroids are data-derived.
    """
    cents = _kmeans_centroids(load_sample_embeddings(sf_dir, sample_rows),
                              n_lists)
    vals = ",\n    ".join(
        "({}, [{}])".format(
            j, ", ".join(repr(float(v)) for v in cents[j]))
        for j in range(n_lists))
    cdot = _SQL_DOT.format(d1=dim + 1, a="e.embedding", b="c.cvec")
    return f"""
WITH cents AS (
  SELECT * FROM (VALUES
    {vals}
  ) AS t(list_id, cvec)
),
arank AS (
  SELECT e.vec_id, e.embedding, c.list_id,
    row_number() OVER (PARTITION BY e.vec_id
      ORDER BY {cdot} DESC, c.list_id) AS rnk
  FROM embeddings e CROSS JOIN cents c
),
assigned AS (SELECT vec_id, embedding, list_id FROM arank WHERE rnk = 1),
qrank AS (
  SELECT e.vec_id AS query_vec_id, e.embedding AS q_emb, c.list_id,
    row_number() OVER (PARTITION BY e.vec_id
      ORDER BY {cdot} DESC, c.list_id) AS rnk
  FROM embeddings e CROSS JOIN cents c
  WHERE e.vec_id < {n_queries}
),
probes AS (SELECT query_vec_id, q_emb, list_id FROM qrank
           WHERE rnk <= {nprobe}),
cand AS (
  SELECT p.query_vec_id, p.q_emb, a.vec_id, a.embedding
  FROM assigned a JOIN probes p ON a.list_id = p.list_id
  WHERE a.vec_id <> p.query_vec_id
),
sims AS (
  SELECT query_vec_id, vec_id,
    {_sql_cos('embedding', 'q_emb', dim)} AS cos_sim
  FROM cand
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_vec_id ORDER BY cos_sim DESC, vec_id) AS rnk
  FROM sims
)
SELECT query_vec_id, vec_id, cast(rnk as bigint) AS rank, cos_sim
FROM ranked WHERE rnk <= {k}"""
