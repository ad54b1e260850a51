"""Distributed BPE merge learning (tokenizer training).

Byte-pair-encoding merge-rule learning (Sennrich et al. 2016, public
literature; the algorithm behind GPT-2/LLaMA-style tokenizer training)
as an iterative Spark job — the tokenizer-training stage of an LLM
data pipeline, alongside ``corpus.vocab_topk``'s frequency scan.

Structure (the classic two-level trick real trainers use):

1. ONE corpus-wide shuffle reduces the corpus to its distinct-word
   frequency table — after this, corpus size never matters again: all
   iterations run over the VOCAB (10^6-ish rows at web scale, vs 10^12
   docs), each word held as a symbol array.
2. Per merge step: explode adjacent symbol pairs weighted by word
   count (map-side partial agg => the exchange carries (pair, count)
   rows bounded by the distinct-pair count), take the global argmax
   (TakeOrderedAndProject of ONE row — the same collect-tiny-stat /
   driver-branch pattern as plans/adaptive.py), then apply the merge
   to every word's symbol array with a greedy non-overlapping
   left-to-right scan (Arrow-batched pandas UDF — inherently
   sequential per word, vocab-bounded, never corpus-bounded).
3. ``localCheckpoint`` truncates the per-step lineage like the label-
   propagation loops (operators/outline.py:279, dedup.py:195); on a
   real cluster a storage-backed checkpoint replaces it.

Determinism: ties in pair counts break on (count desc, lhs asc,
rhs asc) — a total order, so the learned merge table is a pure
function of the corpus and is differentially checkable against an
independent single-node implementation (``bpe_reference``, used by
the oracle and tests the same way the IVF oracle inlines its
deterministic k-means centroids).

Reference analog: the reference has no tokenizer stage (geotiff
pipeline); this operator belongs to the training-data family the
engine adds for the 100 TB corpus use case.
"""

from __future__ import annotations

from collections import Counter

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def word_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, cnt): the one corpus-wide shuffle (map-side combined)."""
    return (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


def _merge_udf(lhs: str, rhs: str):
    merged = lhs + rhs

    @pandas_udf("array<string>")
    def apply_merge(syms: pd.Series) -> pd.Series:
        def one(s):
            out, i, n = [], 0, len(s)
            while i < n:
                if i + 1 < n and s[i] == lhs and s[i + 1] == rhs:
                    out.append(merged)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            return out
        return syms.map(one)

    return apply_merge


def bpe_train(docs: DataFrame, text_col: str = "text",
              n_merges: int = 20) -> DataFrame:
    """Learn ``n_merges`` BPE merge rules from the corpus.

    Returns (step int, lhs string, rhs string, pair_count bigint) —
    n_merges rows (fewer if the corpus runs out of adjacent pairs).
    """
    spark = docs.sparkSession
    vocab = (
        word_counts(docs, text_col)
        .withColumn("syms", F.expr(
            "transform(sequence(1, length(word)), i -> substr(word, i, 1))"))
        .select("syms", "cnt")
        .localCheckpoint(eager=True)
    )
    merges = []
    for step in range(1, n_merges + 1):
        pairs = (
            vocab.select(
                "cnt",
                F.explode(F.arrays_zip(
                    F.slice("syms", 1, F.size("syms") - 1).alias("lhs"),
                    F.slice("syms", 2, F.size("syms") - 1).alias("rhs"),
                )).alias("p"))
            .groupBy(F.col("p.lhs").alias("lhs"), F.col("p.rhs").alias("rhs"))
            .agg(F.sum("cnt").cast("bigint").alias("pair_count"))
        )
        best = (pairs
                .orderBy(F.desc("pair_count"), F.asc("lhs"), F.asc("rhs"))
                .limit(1).collect())
        if not best:
            break
        lhs, rhs, cnt = best[0]["lhs"], best[0]["rhs"], best[0]["pair_count"]
        merges.append((step, lhs, rhs, int(cnt)))
        vocab = (
            vocab.withColumn("syms", _merge_udf(lhs, rhs)(F.col("syms")))
            .localCheckpoint(eager=True)
        )
    return spark.createDataFrame(
        merges, "step int, lhs string, rhs string, pair_count bigint")


def bpe_reference(counts: dict[str, int],
                  n_merges: int = 20) -> list[tuple[int, str, str, int]]:
    """Independent single-node BPE (dict/Counter based — no Spark):
    the differential oracle for ``bpe_train`` and the implementation
    the VALUES-literal SQL oracle inlines."""
    vocab = {tuple(w): c for w, c in counts.items() if w}
    out = []
    for step in range(1, n_merges + 1):
        pc: Counter = Counter()
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += c
        if not pc:
            break
        (lhs, rhs), cnt = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        out.append((step, lhs, rhs, cnt))
        nxt = {}
        for syms, c in vocab.items():
            res, i, n = [], 0, len(syms)
            while i < n:
                if i + 1 < n and syms[i] == lhs and syms[i + 1] == rhs:
                    res.append(lhs + rhs)
                    i += 2
                else:
                    res.append(syms[i])
                    i += 1
            key = tuple(res)
            nxt[key] = nxt.get(key, 0) + c
        vocab = nxt
    return out


def _apply_merges_udf(merges: list[tuple[str, str]]):
    """Arrow UDF applying the learned merge rules IN STEP ORDER to a
    word's symbol array (greedy non-overlapping left-to-right per rule,
    the exact semantics of training's per-step rewrite). Runs over the
    VOCAB only — corpus size never reaches Python."""

    @pandas_udf("array<string>")
    def apply_all(syms: pd.Series) -> pd.Series:
        def one(s):
            s = list(s)
            for lhs, rhs in merges:
                out, i, n = [], 0, len(s)
                merged = lhs + rhs
                while i < n:
                    if i + 1 < n and s[i] == lhs and s[i + 1] == rhs:
                        out.append(merged)
                        i += 2
                    else:
                        out.append(s[i])
                        i += 1
                s = out
            return s
        return syms.map(one)

    return apply_all


def bpe_encode(docs: DataFrame, text_col: str = "text",
               n_merges: int = 20) -> DataFrame:
    """Tokenize the corpus with learned BPE rules: per-doc token stats.

    The tokenizer-APPLY stage that follows ``bpe_train`` in an LLM data
    pipeline (token counting for mixture weighting / packing budgets).
    Scale shape: merges are learned once (vocab-bounded iterations, see
    bpe_train); the apply runs over the DISTINCT-WORD table via one
    Arrow UDF, producing a word -> n_tokens map that is broadcast back
    onto the exploded corpus — document text itself never reaches
    Python and never shuffles; the only corpus-sized exchanges are the
    word explode's (doc_id, word) partial-agg and the final per-doc
    sum.

    Returns (doc_id, n_words, n_tokens) — n_tokens under the learned
    merge table, n_words the whitespace token count.
    """
    merges = [(r["lhs"], r["rhs"])
              for r in bpe_train(docs, text_col, n_merges)
              .orderBy("step").collect()]
    words = (
        docs.select(
            F.col("doc_id"),
            F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .filter(F.col("word") != ""))
    per_doc_word = (words.groupBy("doc_id", "word")
                    .agg(F.count(F.lit(1)).cast("bigint").alias("occ")))
    vocab = per_doc_word.select("word").distinct()
    tok = vocab.withColumn(
        "syms", F.expr("transform(sequence(1, length(word)),"
                       " i -> substr(word, i, 1))"))
    tok = tok.select(
        "word",
        F.size(_apply_merges_udf(merges)(F.col("syms")))
        .cast("bigint").alias("word_tokens"))
    return (
        per_doc_word
        .join(F.broadcast(tok), "word")
        .groupBy("doc_id")
        .agg(F.sum("occ").cast("bigint").alias("n_words"),
             F.sum(F.col("occ") * F.col("word_tokens")).cast("bigint")
             .alias("n_tokens")))
