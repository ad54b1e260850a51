"""Web-text prep operators: repetition signals, chunking, PII scrub,
stratified sampling, near-dup canonicalization (operators/textprep.py,
operators/dedup.py CC). Hand-computable fixtures plus oracle-shape
checks on the synthetic documents table.
"""

import pytest
from pyspark.sql import functions as F

from geotiff_processor_spark.operators import dedup, graph, textprep


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


# ---------------------------------------------------------------------------
# repetition signals
# ---------------------------------------------------------------------------

def test_repetition_hand_case(spark):
    # bigrams of "a b a b a": [a b, b a, a b, b a] -> 4 grams, 2 distinct
    out = textprep.repetition_signals(
        _docs(spark, [(1, "a b a b a")])).collect()[0]
    assert out.n_grams == 4
    assert out.n_distinct_grams == 2
    assert out.max_gram_rep == 2
    assert out.dup_gram_frac == 0.5
    assert out.top_gram_frac == 0.5
    assert out.dup_char_frac == 1.0  # every gram is repeated


def test_repetition_no_repeats(spark):
    out = textprep.repetition_signals(
        _docs(spark, [(1, "w x y z")])).collect()[0]
    assert out.n_grams == 3 and out.n_distinct_grams == 3
    assert out.dup_gram_frac == 0.0 and out.dup_char_frac == 0.0


def test_repetition_single_token_doc(spark):
    out = textprep.repetition_signals(_docs(spark, [(1, "solo")])).collect()[0]
    assert out.n_grams == 1 and out.max_gram_rep == 1


# ---------------------------------------------------------------------------
# chunking
# ---------------------------------------------------------------------------

def test_chunk_tokens_strides_and_tail(spark):
    text = " ".join(f"t{i}" for i in range(40))
    rows = textprep.chunk_tokens(_docs(spark, [(1, text)])) \
        .orderBy("chunk_idx").collect()
    assert [r.chunk_idx for r in rows] == [0, 1, 2]
    assert [r.n_tokens for r in rows] == [32, 24, 8]
    assert rows[0].chunk_text.split(" ") == [f"t{i}" for i in range(32)]
    assert rows[2].chunk_text.split(" ") == [f"t{i}" for i in range(32, 40)]


def test_chunk_tokens_short_doc_single_chunk(spark):
    rows = textprep.chunk_tokens(_docs(spark, [(1, "a b c")])).collect()
    assert len(rows) == 1
    assert rows[0].n_tokens == 3 and rows[0].chunk_text == "a b c"


def test_chunk_tokens_overlap_covers_every_token(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text").limit(50)
    chunks = textprep.chunk_tokens(docs)
    # stride < width => consecutive chunks overlap; summed fresh tokens
    # (stride per non-tail chunk) must exactly cover the doc
    per_doc = chunks.groupBy("doc_id").agg(
        F.max(F.col("chunk_idx") * 16 + F.col("n_tokens")).alias("covered"))
    n_toks = docs.select(
        "doc_id", F.size(F.split("text", " ")).alias("nt"))
    joined = per_doc.join(n_toks, "doc_id").collect()
    assert all(r.covered == r.nt for r in joined)


# ---------------------------------------------------------------------------
# PII scrub
# ---------------------------------------------------------------------------

def test_pii_scrub_hand_case(spark):
    out = textprep.pii_scrub(_docs(spark, [
        (1, "mail bob.smith@corp.example.org and call 5551234 now"),
        (2, "no pii here"),
        (3, "two a@b.io c@d.net plus 123 and 99"),
    ])).orderBy("doc_id").collect()
    assert out[0].n_emails == 1 and out[0].n_numbers == 1
    assert out[0].clean_text == "mail <EMAIL> and call <NUM> now"
    assert out[1].n_emails == 0 and out[1].n_numbers == 0
    assert out[1].clean_text == "no pii here"
    # 99 is under the 3-digit floor; both emails caught
    assert out[2].n_emails == 2 and out[2].n_numbers == 1


def test_pii_scrub_email_digits_not_double_counted(spark):
    # digits inside the email must not surface as numbers post-redaction
    out = textprep.pii_scrub(
        _docs(spark, [(1, "user123456@host.example.com")])).collect()[0]
    assert out.n_emails == 1 and out.n_numbers == 0
    assert out.clean_text == "<EMAIL>"


# ---------------------------------------------------------------------------
# stratified sampling
# ---------------------------------------------------------------------------

def test_stratified_sample_deterministic_and_rated(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "source")
    rates = spark.createDataFrame(
        [("src0", 0), ("src1", 10000)], "source string, keep_per_10k int")
    out1 = textprep.stratified_sample(docs, rates).collect()
    out2 = textprep.stratified_sample(docs, rates).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))
    by_src = {}
    for r in out1:
        by_src.setdefault(r.source, []).append(r)
    assert "src0" not in by_src  # rate 0 drops everything
    n_src1 = docs.filter(F.col("source") == "src1").count()
    assert len(by_src.get("src1", [])) == n_src1  # rate 10000 keeps all
    # unrated sources fall back to keep-all
    n_src5 = docs.filter(F.col("source") == "src5").count()
    assert len(by_src.get("src5", [])) == n_src5


# ---------------------------------------------------------------------------
# connected components + canonical docs
# ---------------------------------------------------------------------------

def _pairs(spark, rows):
    return spark.createDataFrame(rows, "key_a bigint, key_b bigint")


def _edges(spark, rows):
    return spark.createDataFrame(rows, "src bigint, dst bigint")


def _chain(n):
    return [(i, i + 1) for i in range(1, n)]


@pytest.mark.parametrize("collect_limit", [200_000, 0])
@pytest.mark.parametrize("n", [6, 40])
def test_connected_components_chain(spark, n, collect_limit):
    # path graph 1-2-...-n (diameter n-1): exercises multi-round
    # propagation, not just one hop, on the driver and the Spark path
    cc = graph.connected_components(_edges(spark, _chain(n)),
                                    collect_limit=collect_limit)
    got = {r.node: r.component for r in cc.collect()}
    assert got == {i: 1 for i in range(1, n + 1)}


def test_connected_components_two_clusters(spark):
    for collect_limit in (200_000, 0):  # driver path, then Spark path
        cc = graph.connected_components(
            _edges(spark, [(10, 20), (20, 30), (100, 200)]),
            collect_limit=collect_limit)
        got = {r.node: r.component for r in cc.collect()}
        assert got == {10: 10, 20: 10, 30: 10, 100: 100, 200: 100}


def test_canonical_docs_sizes_and_kept(spark):
    docs = _docs(spark, [(i, f"d{i}") for i in (1, 2, 3, 7, 8, 9)])
    out = dedup.canonical_docs(
        docs, _pairs(spark, [(1, 2), (2, 3), (7, 8)])).collect()
    by_id = {r.doc_id: r for r in out}
    assert by_id[1].canonical_id == 1 and by_id[3].canonical_id == 1
    assert by_id[1].cluster_size == 3 and by_id[8].cluster_size == 2
    assert by_id[9].canonical_id == 9 and by_id[9].cluster_size == 1
    kept = sorted(r.doc_id for r in out if r.kept == 1)
    assert kept == [1, 7, 9]
    # dedup'd corpus size = number of clusters
    assert len(kept) == len({r.canonical_id for r in out})
    # a 40-doc chain is one cluster with one kept doc
    docs = _docs(spark, [(i, f"d{i}") for i in range(1, 41)])
    out = dedup.canonical_docs(docs, _pairs(spark, _chain(40))).collect()
    assert {(r.canonical_id, r.cluster_size) for r in out} == {(1, 40)}
    assert [r.doc_id for r in out if r.kept == 1] == [1]


def test_dedup_canonical_end_to_end_planted(spark, sf_dir):
    """Full pipeline on the planted-clone corpus: every %40 doc heads a
    3-clone cluster, every other %20 doc a 2-clone cluster."""
    import __spark_entry__ as entry

    out = entry.q_dedup_canonical(spark, sf_dir).collect()
    by_id = {r.doc_id: r for r in out}
    assert by_id[40].cluster_size == 3  # 40, 100040, 200040
    assert by_id[100040].canonical_id == 40 and by_id[100040].kept == 0
    assert by_id[200040].canonical_id == 40
    assert by_id[20].cluster_size == 2  # 20, 100020
    assert by_id[100020].canonical_id == 20
    assert by_id[1].cluster_size == 1 and by_id[1].kept == 1


# ---------------------------------------------------------------------------
# decontamination
# ---------------------------------------------------------------------------

def test_decontaminate_hand_case(spark):
    # benchmark doc: "q w e r t" -> 3-grams {q w e, w e r, e r t}
    # doc 2 contains "w e r" once -> 1 hit; doc 3 repeats it twice;
    # doc 4 shares nothing
    docs = _docs(spark, [
        (1, "q w e r t"),
        (2, "x x w e r y"),
        (3, "w e r z w e r"),
        (4, "a b c d"),
    ])
    out = {r.doc_id: r for r in
           textprep.decontaminate(docs, docs.filter("doc_id = 1"))
           .collect()}
    assert out[1].contaminated == 1 and out[1].n_hit_grams == 3
    assert out[2].n_hit_grams == 1 and out[2].n_distinct_hit_grams == 1
    assert out[3].n_hit_grams == 2 and out[3].n_distinct_hit_grams == 1
    assert out[4].contaminated == 0 and out[4].n_hit_grams == 0
    # every doc reported exactly once, hit or not
    assert sorted(out) == [1, 2, 3, 4]


def test_decontaminate_short_doc_whole_text_gram(spark):
    # docs shorter than n collapse to a single whole-text gram, so an
    # exact short-text match across bench/corpus still collides
    docs = _docs(spark, [(1, "hi there"), (2, "hi there"), (3, "bye")])
    out = {r.doc_id: r for r in
           textprep.decontaminate(docs, docs.filter("doc_id = 1"))
           .collect()}
    assert out[2].contaminated == 1 and out[3].contaminated == 0


# ---------------------------------------------------------------------------
# unigram LM scoring
# ---------------------------------------------------------------------------

def test_lm_score_hand_case(spark):
    # corpus: "a a b" + "a c" -> df: a=3, b=1, c=1; total=5
    import math
    out = {r.doc_id: r for r in
           textprep.lm_score(_docs(spark, [(1, "a a b"), (2, "a c")]))
           .collect()}
    lp_a, lp_b = math.log(3 / 5), math.log(1 / 5)
    assert out[1].n_tokens == 3 and out[2].n_tokens == 2
    assert out[1].logprob_sum == round(2 * lp_a + lp_b, 6)
    assert out[2].logprob_per_token == round((lp_a + lp_b) / 2, 6)
    # rarer tokens -> lower per-token logprob
    assert out[2].logprob_per_token < out[1].logprob_per_token


def test_lm_score_model_broadcast_plan(spark):
    # the token->df model must broadcast; corpus tokens are never
    # exchanged by token for the scoring join
    import re
    from tests.test_plans import _plan
    docs = _docs(spark, [(i, f"w{i % 7} w{i % 3}") for i in range(50)])
    plan = _plan(textprep.lm_score(docs))
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert not re.search(r"SortMergeJoin \[tok", plan), plan


def test_lm_score_shuffle_join_mode_identical(spark):
    # broadcast_model=False (the unbounded-web-vocab scale path) is a
    # physical-plan switch only: identical scores either way
    docs = _docs(spark, [(i, f"w{i % 7} w{i % 3} w{i % 11}")
                         for i in range(40)])
    a = {r.doc_id: (r.n_tokens, r.logprob_sum, r.logprob_per_token)
         for r in textprep.lm_score(docs).collect()}
    b = {r.doc_id: (r.n_tokens, r.logprob_sum, r.logprob_per_token)
         for r in textprep.lm_score(docs, broadcast_model=False).collect()}
    assert a == b


# ---------------------------------------------------------------------------
# line (span) dedup — C4 drop-duplicated-lines rule over 8-token spans
# ---------------------------------------------------------------------------

def test_line_dedup_keep_first_across_docs(spark):
    span_a = " ".join(f"a{i}" for i in range(8))   # shared span
    uniq_1 = " ".join(f"u{i}" for i in range(8))
    uniq_2 = " ".join(f"v{i}" for i in range(8))
    rows = {r.doc_id: r for r in dedup.line_dedup(_docs(spark, [
        (1, span_a + " " + uniq_1),
        (2, span_a + " " + uniq_2),   # dup span -> dropped here
    ])).collect()}
    assert rows[1].n_spans == 2 and rows[1].n_kept == 2
    assert rows[2].n_spans == 2 and rows[2].n_kept == 1
    assert rows[2].n_dropped == 1
    assert rows[2].kept_chars == len(uniq_2)
    assert rows[2].dup_span_frac == 0.5


def test_line_dedup_within_doc_keeps_earliest(spark):
    span = " ".join(f"r{i}" for i in range(8))
    rows = dedup.line_dedup(
        _docs(spark, [(7, span + " " + span)])).collect()
    assert rows[0].n_spans == 2
    assert rows[0].n_kept == 1        # only the earliest occurrence
    assert rows[0].kept_chars == len(span)


def test_line_dedup_short_doc_one_span(spark):
    rows = dedup.line_dedup(_docs(spark, [(3, "tiny doc")])).collect()
    assert rows[0].n_spans == 1 and rows[0].n_kept == 1
    assert rows[0].kept_chars == len("tiny doc")


# ---------------------------------------------------------------------------
# vocab top-k
# ---------------------------------------------------------------------------

def test_vocab_topk_counts_and_tiebreak(spark):
    rows = textprep.vocab_topk(
        _docs(spark, [(1, "b a b c a b")]), k=2).collect()
    assert [(r.tok, r.n, r.rank) for r in rows] == [("b", 3, 1), ("a", 2, 2)]


def test_vocab_topk_tie_broken_by_token(spark):
    rows = textprep.vocab_topk(_docs(spark, [(1, "z y z y")]), k=2).collect()
    assert [(r.tok, r.rank) for r in rows] == [("y", 1), ("z", 2)]


def test_extract_text_byte_identical_and_general(spark, sf_dir):
    """The native tag-strip extraction reproduces the pages table's
    text column byte-for-byte (BASELINE.json per-row invariant), and
    handles script/style/entities on adversarial html."""
    import duckdb

    from geotiff_processor_spark.functions.text import (
        extract_text, sql_extract_text)
    from geotiff_processor_spark.sources import synth

    pages = synth.build_pages_staged(spark, sf_dir, with_html=True)
    bad = pages.filter(
        extract_text("html") != F.col("text")).count()
    assert bad == 0
    gnarly = ('<html><head><style a="b">p {c: &amp;}</style></head>'
              '<body onload="x()"><script>if (1 < 2) { y("</p>"); }'
              '</script><p>A &amp; &quot;B&#39;s&quot; &lt;c&gt;</p>'
              '<SCRIPT>s <b>t</b></SCRIPT><div>line</div></body></html>')
    df = spark.createDataFrame(
        [(1, bytearray(gnarly.encode()))], "i int, html binary")
    got = df.select(extract_text("html").alias("t")).collect()[0]["t"]
    con = duckdb.connect()
    want = con.sql(
        f"SELECT {sql_extract_text(repr(gnarly))}").fetchone()[0]
    con.close()
    assert got == want
    assert "script" not in got and "<" in got and "&" in got


def test_winnow_matches_duckdb_and_bruteforce(spark, sf_dir):
    """Winnowing selection: exact cross-engine agreement AND agreement
    with an independent brute-force reference (rightmost-min rule)."""
    import duckdb
    import hashlib

    from geotiff_processor_spark.operators.textprep import (
        sql_winnow, winnow_fingerprints)
    from geotiff_processor_spark.testing import duck_norm, spark_norm

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM"
            f" '{sf_dir}/documents.parquet'")
    sc, sr = spark_norm(winnow_fingerprints(docs))
    dc, dr = duck_norm(con, sql_winnow())
    assert sc == dc and sr == dr and len(sr) > 0
    con.close()
    k, w = 5, 4
    for row in docs.limit(3).collect():
        t = row["text"].split(" ")
        ghs = [hashlib.md5(" ".join(t[p:p + k]).encode()).hexdigest()
               for p in range(len(t) - k + 1)]
        want = set()
        for q in range(w - 1, len(ghs)):
            h, negp = min((ghs[p], -p) for p in range(q - w + 1, q + 1))
            want.add((-negp, h))
        got = {(r["fp_pos"], r["fp_hash"]) for r in winnow_fingerprints(
            docs.filter(F.col("doc_id") == row["doc_id"])).collect()}
        assert got == want, row["doc_id"]


def test_winnow_guarantee_and_density(spark):
    """Every w-gram window contains a fingerprint position (the
    winnowing guarantee) and density stays near 2/(w+1)."""
    from geotiff_processor_spark.operators.textprep import (
        winnow_fingerprints)

    import random
    rnd = random.Random(7)
    words = " ".join(rnd.choice("abcdefgh") for _ in range(400))
    df = spark.createDataFrame([(1, words)], "doc_id bigint, text string")
    k, w = 5, 4
    fps = sorted(r["fp_pos"] for r in
                 winnow_fingerprints(df, k=k, w=w).collect())
    n_grams = 400 - k + 1
    # guarantee: consecutive selected positions never gap by > w
    assert fps[0] <= w - 1 and n_grams - 1 - fps[-1] <= w - 1
    assert max(b - a for a, b in zip(fps, fps[1:])) <= w
    density = len(fps) / n_grams
    assert 0.25 <= density <= 0.75  # 2/(w+1) = 0.4 nominal


def test_winnow_short_docs_empty_not_crash(spark):
    """Docs shorter than k tokens produce NO fingerprints (matching
    the oracle's empty gram range) — the descending-sequence guard."""
    from geotiff_processor_spark.operators.textprep import (
        winnow_fingerprints)

    df = spark.createDataFrame(
        [(1, ""), (2, "a"), (3, "a b c d"), (4, "a b c d e f g h")],
        "doc_id bigint, text string")
    out = winnow_fingerprints(df, k=5, w=4).collect()
    assert {r["doc_id"] for r in out} == {4}
