"""Deduplication operators for the training-data pipeline.

- exact: md5-keyed groupBy (hash partial-agg; at 100 TB this shuffles
  only (hash, count) pairs, never text).
- first-wins registro dedup: the reference's processed-registry dict
  (/root/reference/helpers.py:166-183) as a window row_number()=1 —
  shares one map_id across the rgb/dem pair of a registroid.
- MinHash + LSH banding: shingle -> per-permutation min-hash -> band
  signature -> bucket-join. All native expressions (explode + min
  aggregates over md5-derived 60-bit integers); candidate pairs verified
  with exact Jaccard. No Python in the hot path. Verified pairs
  collapse to clusters through graph.connected_components.
- SimHash: 16-bit sign-sum fingerprint over token hashes.

Hashes are md5-based so the DuckDB oracle can reproduce them verbatim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from geotiff_processor_spark.operators import graph
from geotiff_processor_spark.operators.par import spread

N_MINHASH = 16
N_BANDS = 4  # 4 rows per band
SHINGLE_WORDS = 3
SIMHASH_BITS = 16

# One md5 per shingle, then cheap affine permutations mod a Mersenne
# prime: mh_j = min((h * a_j + b_j) mod P). h < P < 2^31 and a_j < P, so
# the product stays < 2^62 — exact in bigint in both Spark and DuckDB.
# (The previous 16-md5s-per-shingle form was 31% of the whole bench.)
MINHASH_P = 2147483647  # 2^31 - 1


def _mix_consts(n: int = N_MINHASH) -> list[tuple[int, int]]:
    consts, a, b = [], 1103515245, 12345
    for _ in range(n):
        a = (a * 1566083941 + 1013904223) % MINHASH_P
        b = (b * 1103515245 + 12345) % MINHASH_P
        consts.append((a or 1, b))
    return consts


MINHASH_CONSTS = _mix_consts()


def sql_minhash_mix(h_expr: str, j: int) -> str:
    """Affine permutation j over a precomputed 31-bit hash column —
    identical text in Spark SQL and DuckDB (oracle reproducibility)."""
    a, b = MINHASH_CONSTS[j]
    return f"((({h_expr}) * {a} + {b}) % {MINHASH_P})"


def sql_hash60(expr: str, dialect: str = "spark") -> str:
    """60-bit deterministic integer hash from md5 hex (both engines)."""
    if dialect == "duckdb":
        return f"cast(('0x' || substring(md5({expr}), 1, 15)) as bigint)"
    return f"cast(conv(substring(md5({expr}), 1, 15), 16, 10) as bigint)"


def exact_dup_groups(docs: DataFrame, text_col: str = "text",
                     key_col: str = "doc_id") -> DataFrame:
    """(dup_key, n_docs, keeper) for texts appearing more than once."""
    return (
        docs.withColumn("dup_key", F.md5(F.col(text_col)))
        .groupBy("dup_key")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.min(key_col).alias("keeper"))
        .filter(F.col("n_docs") > 1)
    )


def first_wins(df: DataFrame, partition_col: str, order_col: str) -> DataFrame:
    """helpers.py:166-183 as a window: keep the first row per key."""
    w = Window.partitionBy(partition_col).orderBy(order_col)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def shingles(docs: DataFrame, text_col: str = "text",
             n: int = SHINGLE_WORDS) -> DataFrame:
    """Explode word n-gram shingles: (doc row..., shingle string)."""
    toks = F.split(F.col(text_col), " ")
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    sh = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
    return docs.withColumn("shingle", F.explode(F.array_distinct(sh)))


def minhash_signatures(docs: DataFrame, key_col: str = "doc_id",
                       text_col: str = "text",
                       n_hashes: int = N_MINHASH) -> DataFrame:
    """(key, mh_0..mh_{n-1}): one array-min per permutation.

    One md5 per distinct shingle -> 31-bit base hash, then n affine
    integer permutations (sql_minhash_mix), each reduced with
    ``array_min`` INSIDE the document's shingle array — a signature is
    a pure per-doc function, so no explode and ZERO shuffles (round 6;
    the previous explode + 16 partial-agg mins paid a doc-keyed
    exchange whose reduce side AQE coalesced to 2 tasks: 15.8 s at
    sf1 for ~50 k docs). Values are bit-identical: same md5-derived
    base hash, same permutations, same min.
    """
    # token and hash arrays let-bound as lambda variables so Catalyst
    # cannot inline the split/shingle build into every one of the 16
    # permutation mins — see winnow_fingerprints
    ns = SHINGLE_WORDS
    hs_of_t = (
        f"transform(array_distinct("
        f" transform(sequence(0, greatest(size(t) - {ns}, 0)),"
        f"  i -> array_join(slice(t, i + 1, {ns}), ' '))),"
        f" s -> ({sql_hash60('s')}) % {MINHASH_P})")
    mins = ", ".join(
        f"array_min(transform(hs, h -> {sql_minhash_mix('h', j)}))"
        f" as mh_{j}"
        for j in range(n_hashes))
    sig = F.expr(
        f"transform(array(split(_txt, ' ')), t ->"
        f" transform(array({hs_of_t}), hs -> struct({mins}))[0])[0]")
    base = spread(docs.select(key_col, F.col(text_col).alias("_txt")))
    return base.select(key_col, sig.alias("_s")).select(
        key_col, *[F.col(f"_s.mh_{j}").alias(f"mh_{j}")
                   for j in range(n_hashes)])


def lsh_candidate_pairs(signatures: DataFrame, key_col: str = "doc_id",
                        n_hashes: int = N_MINHASH,
                        n_bands: int = N_BANDS) -> DataFrame:
    """Band the signature, self-join on (band, band_sig): (key_a, key_b)."""
    rows_per_band = n_hashes // n_bands
    bands = []
    for b in range(n_bands):
        cols = [F.col(f"mh_{b * rows_per_band + r}")
                for r in range(rows_per_band)]
        bands.append(
            F.struct(F.lit(b).alias("band"),
                     F.md5(F.concat_ws(":", *[c.cast("string") for c in cols])
                           ).alias("sig")))
    banded = signatures.select(
        key_col, F.explode(F.array(*bands)).alias("bs")
    ).select(key_col, F.col("bs.band").alias("band"),
             F.col("bs.sig").alias("sig"))
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(b, ["band", "sig"])
        .filter(F.col(f"a.{key_col}") < F.col(f"b.{key_col}"))
        .select(F.col(f"a.{key_col}").alias("key_a"),
                F.col(f"b.{key_col}").alias("key_b"))
        .distinct()
    )
    return pairs


def jaccard_verify(docs: DataFrame, pairs: DataFrame,
                   key_col: str = "doc_id", text_col: str = "text",
                   threshold: float = 0.7) -> DataFrame:
    """Exact n-gram Jaccard on candidate pairs only (never all-pairs).

    Only docs that appear in a candidate pair are (re-)shingled: LSH
    candidates are a vanishing fraction of the corpus, so the left-semi
    prune (broadcast in practice — AQE sizes it) turns what would be a
    second full-corpus shingle explode into one over the candidate set
    alone. At 10^12 docs the explode is the dominant cost of the verify
    stage; everything downstream of the prune is proportional to the
    candidate count, not the corpus.
    """
    # the candidate-pair lineage (MinHash -> LSH -> distinct) feeds TWO
    # consumers (key prune + the intersection join) and the candidate
    # shingles feed THREE (both join sides + sizes): materialize each
    # once per evaluation (lazy localCheckpoint, computed inside the
    # query's own job) instead of re-running the upstream pipeline per
    # consumer — measured 4.2 s -> ~1.5 s on the sf1 dedup_canonical
    # verify stage (round 6)
    pairs = pairs.localCheckpoint(eager=False)
    keys = (pairs.select(F.col("key_a").alias(key_col))
            .union(pairs.select(F.col("key_b").alias(key_col)))
            .distinct())
    cand_docs = docs.select(key_col, text_col).join(keys, key_col,
                                                    "leftsemi")
    sh = shingles(cand_docs, text_col) \
        .select(F.col(key_col).alias("k"), "shingle") \
        .localCheckpoint(eager=False)
    a = sh.alias("sa").withColumnRenamed("k", "key_a")
    b = sh.alias("sb").withColumnRenamed("k", "key_b")
    inter = (
        pairs.join(a, "key_a").join(
            b, ["key_b", "shingle"])
        .groupBy("key_a", "key_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sizes = sh.groupBy("k").agg(F.count(F.lit(1)).alias("n_sh"))
    out = (
        inter.join(sizes.withColumnRenamed("k", "key_a")
                   .withColumnRenamed("n_sh", "n_a"), "key_a")
        .join(sizes.withColumnRenamed("k", "key_b")
              .withColumnRenamed("n_sh", "n_b"), "key_b")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"))
        .filter(F.col("jaccard") >= threshold)
        .select("key_a", "key_b", F.round("jaccard", 6).alias("jaccard"))
    )
    return out


def canonical_docs(docs: DataFrame, pairs: DataFrame,
                   key_col: str = "doc_id") -> DataFrame:
    """Collapse near-dup pairs into clusters and pick a canonical doc.

    (key, canonical_id, cluster_size, kept): canonical = min key in the
    connected component (``graph.connected_components`` over the
    (key_a, key_b) pairs; docs in no pair are their own canonical,
    cluster_size 1). ``kept=1`` marks the one surviving doc per
    cluster — filtering on it IS the dedup'd corpus. The component
    labels are a tiny fraction of the corpus (only docs in pairs);
    joining them back to the full corpus is a broadcast-sized join in
    practice, expressed as a plain left join so Catalyst/AQE picks the
    strategy from runtime stats.
    """
    cc = graph.connected_components(
        pairs.select(F.col("key_a").alias("src"), F.col("key_b").alias("dst"))
    ).withColumnRenamed("node", key_col)
    with_canon = (
        docs.select(key_col)
        .join(cc, key_col, "left")
        .withColumn("canonical_id",
                    F.coalesce("component", F.col(key_col)).cast("bigint"))
        .drop("component")
    )
    sizes = with_canon.groupBy("canonical_id").agg(
        F.count(F.lit(1)).alias("cluster_size"))
    return (
        with_canon.join(sizes, "canonical_id")
        .select(
            key_col,
            "canonical_id",
            F.col("cluster_size").cast("bigint").alias("cluster_size"),
            (F.col(key_col) == F.col("canonical_id"))
            .cast("int").alias("kept"),
        )
    )


def simhash(docs: DataFrame, key_col: str = "doc_id",
            text_col: str = "text", bits: int = SIMHASH_BITS) -> DataFrame:
    """(key, simhash): sign-sum of per-token hash bits, packed to int.

    Pure per-doc function, so it runs shuffle-free (round 6): one
    in-array pass accumulates all ``bits`` signed counters, a second
    tiny pass packs the sign bits — same md5-derived hashes, same
    sums, same packing as the previous explode + 16-aggregate form.
    """
    cnt_of_hs = (
        f"aggregate(hs, array_repeat(0L, {bits}),"
        f" (acc, h) -> zip_with(acc, sequence(0, {bits - 1}),"
        f"  (a, j) -> a + if((shiftright(h, j) & 1) = 1, 1L, -1L)))")
    pack_of_cnt = (
        f"aggregate(sequence(0, {bits - 1}), 0L,"
        f" (s, j) -> s + if(cnt[j] > 0, shiftleft(1L, j), 0L))")
    sig = F.expr(
        f"transform(array(transform(split(_txt, ' '),"
        f" tok -> {sql_hash60('tok')})), hs ->"
        f" transform(array({cnt_of_hs}), cnt -> {pack_of_cnt})[0])[0]")
    return spread(docs.select(key_col, F.col(text_col).alias("_txt"))) \
        .select(key_col, sig.cast("bigint").alias("simhash"))


SPAN_WIDTH = 8


def exact_substr_dedup(docs: DataFrame, key_col: str = "doc_id",
                       text_col: str = "text",
                       k: int = 8) -> DataFrame:
    """Exact-substring duplication signals (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better" —
    public literature): a token position is duplicated when the
    OVERLAPPING k-token gram starting there also occurs in another
    document. The paper builds a corpus-wide suffix array; the
    distributed re-grounding is rolling k-gram digests — every
    cross-doc repeated substring of >= k tokens is a run of >= 1
    duplicated k-grams, so per-doc duplicated-gram fraction is the
    trim signal without any global sorted structure. Overlapping grams
    distinguish this from ``line_dedup``'s non-overlapping C4 spans.
    Default k=8 at test scale; the paper's operating point (50 BPE
    tokens) is the production default a caller would pass.

    Returns (key, n_grams, dup_grams, dup_frac) per doc.

    Scale shape (round 6): gram text never shuffles — each position
    reduces to a 16-byte binary md5 (``unhex``: half the bytes of the
    previous hex-string digests, bijectively) INSIDE the document's
    token array, and the per-(doc, digest) occurrence counts are
    extracted map-side with an in-array sort + run-length walk, so the
    first (biggest) exchange of the previous three-shuffle form is gone
    before anything moves. Two shuffles remain, the irreducible
    cross-doc ones: (1) a digest-keyed exchange where a whole-partition
    window count yields each digest's distinct-doc count (the input is
    already (doc, digest)-unique; the in-array pre-agg also bounds
    boilerplate skew — a gram repeated 10^6 times inside one doc is ONE
    row); (2) the per-doc rollup. Docs shorter than k tokens emit one
    17-byte per-doc sentinel row (md5(doc_id) || 0x00 — a length no
    real 16-byte digest can collide with) with n_pos = 0, so every doc
    reaches the rollup without a restore join and no single sentinel
    value can hot-spot the digest partitioning. At 10^12 docs nothing
    collects to the driver and no suffix array exists.
    """
    # One nested let-bound expression (transform(array(x), v -> ..)[0]
    # binds each intermediate as a lambda variable — see
    # winnow_fingerprints for why plain projections get inlined):
    #   t  = token array          (split once per doc)
    #   g  = sorted 16-byte gram digests (unhex(md5(..)) once per gram;
    #        guard: sequence(1, 0) DESCENDS in Spark, so short docs
    #        take the sentinel branch instead of positions [1, 0])
    #   h  = run heads of g       (p = 0 or g[p] != g[p-1])
    #   -> (digest, run length) structs, map-side
    runs = F.expr(
        "transform(array(split(_txt, ' ')), t ->"
        f" case when size(t) >= {k} then"
        "  transform(array(array_sort(transform("
        f"    sequence(1, size(t) - {k} + 1),"
        f"    i -> unhex(md5(array_join(slice(t, i, {k}), ' ')))))), g ->"
        "   transform(array(filter(sequence(0, size(g) - 1),"
        "      p -> p = 0 or g[p] != g[p - 1])), h ->"
        "    transform(sequence(0, size(h) - 1),"
        "     j -> struct(g[h[j]] as gh,"
        "      cast(if(j + 1 < size(h), h[j + 1], size(g)) - h[j]"
        "           as bigint) as n_pos)))[0])[0]"
        " else array(struct("
        f"  concat(unhex(md5(cast({key_col} as string))), x'00') as gh,"
        "   0L as n_pos)) end)[0]")
    pre = spread(docs.select(key_col, F.col(text_col).alias("_txt")))
    # explode_outer: a plain explode makes InferFiltersFromGenerate
    # duplicate the whole array expression into a pushed-down filter;
    # runs is never empty (sentinel branch), so no null row exists
    occ = (pre.select(key_col, F.explode_outer(runs).alias("_r"))
           .select(key_col, F.col("_r.gh").alias("gh"),
                   F.col("_r.n_pos").alias("n_pos")))
    # distinct-doc count per digest: input is (doc, digest)-unique, so
    # a whole-partition window count over ONE digest-keyed exchange
    n_docs = F.count(F.lit(1)).over(Window.partitionBy("gh"))
    per_doc = (
        occ.withColumn("n_docs", n_docs)
        .groupBy(key_col)
        .agg(
            F.sum("n_pos").cast("bigint").alias("n_grams"),
            F.sum(F.when(F.col("n_docs") >= 2, F.col("n_pos"))
                  .otherwise(F.lit(0))).cast("bigint").alias("dup_grams"),
        )
    )
    return per_doc.select(
        key_col, "n_grams", "dup_grams",
        F.when(F.col("n_grams") > 0,
               F.round(F.col("dup_grams").cast("double")
                       / F.col("n_grams").cast("double"), 6))
        .otherwise(F.lit(0.0)).alias("dup_frac"))


def line_dedup(docs: DataFrame, key_col: str = "doc_id",
               text_col: str = "text",
               width: int = SPAN_WIDTH) -> DataFrame:
    """Corpus-level line deduplication (the C4 rule — Raffel et al.
    2020 §2.2, public literature: drop every line that occurs more than
    once in the corpus, keeping one occurrence), generalized to
    non-overlapping ``width``-token spans because this corpus carries
    no newlines: span i covers tokens [i*width, (i+1)*width).

    Keep-first policy: a span occurrence survives iff its doc is the
    lowest ``key_col`` containing that span AND it is the earliest such
    span inside that doc — deterministic, stable under partitioning,
    and reproducible in ANSI SQL. Returns per-doc stats
    (key, n_spans, n_kept, n_dropped, kept_chars, dup_span_frac); the
    cleaned corpus is a trivial downstream re-assembly of kept spans.

    Scale shape: span text never shuffles — each occurrence reduces to
    (md5 digest, key, span_idx, span_len) before the exchange. Three
    digest/key-keyed shuffles, each with map-side partial aggregation:
    (1) per-digest stats (count + min key via one agg), (2) occurrences
    re-joined to their digest stats (sort-merge on the digest — both
    sides hash-partitioned the same way, AQE handles skewed boilerplate
    digests), (3) the per-doc rollup. At 10^12 docs the digest table is
    the dedup state; nothing is ever collected to the driver.

    The document is tokenized ONCE (a dedicated projection Catalyst
    keeps, since ``split`` is non-cheap) and every span slices the
    shared token array — O(tokens) map work per doc, not
    O(spans x tokens) (plan-pinned: tests/test_plans.py single-split
    assertion).
    """
    # span structs built from a let-bound token array (see
    # winnow_fingerprints for the CollapseProject rationale); the
    # digest is 16-byte binary (unhex: half the shuffle bytes of hex,
    # bijectively) and the generator is explode_outer so
    # InferFiltersFromGenerate cannot duplicate the array expression
    # (the span array is never empty: min one span per doc)
    spans = F.expr(
        "transform(array(split(_txt, ' ')), t ->"
        f" transform(sequence(0, greatest(size(t) - 1, 0), {width}),"
        f"  s -> struct(cast(s / {width} as bigint) as i,"
        f"   array_join(slice(t, s + 1, {width}), ' ') as sp)))[0]")
    occ = (
        spread(docs.select(key_col, F.col(text_col).alias("_txt")))
        .select(key_col, F.explode_outer(spans).alias("_sp"))
        .select(
            key_col,
            F.col("_sp.i").alias("span_idx"),
            F.unhex(F.md5("_sp.sp")).alias("sh"),
            F.length("_sp.sp").cast("bigint").alias("sl"),
        ))
    # corpus-wide first-occurrence as a whole-partition window min
    # over ONE digest-keyed exchange (round 6: previously a groupBy +
    # join back, i.e. two extra exchanges of the same rows)
    wn = Window.partitionBy("sh")
    flagged = (
        occ.withColumn("first", F.min(F.struct(key_col, "span_idx")).over(wn))
        .withColumn(
            "keep",
            ((F.col(key_col) == F.col(f"first.{key_col}"))
             & (F.col("span_idx") == F.col("first.span_idx"))).cast("int")))
    return (
        flagged.groupBy(key_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_spans"),
            F.sum("keep").cast("bigint").alias("n_kept"),
            (F.count(F.lit(1)) - F.sum("keep")).cast("bigint")
            .alias("n_dropped"),
            F.sum(F.col("keep") * F.col("sl")).cast("bigint")
            .alias("kept_chars"),
            F.round(
                (F.count(F.lit(1)) - F.sum("keep")).cast("double")
                / F.count(F.lit(1)).cast("double"), 6)
            .alias("dup_span_frac"),
        )
    )
