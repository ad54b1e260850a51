"""kNN joins (SURVEY.md J6 / W3).

Two implementations:

- ``knn_exact``: two-phase broadcast kNN. Query points are a small
  broadcast side; phase 1 computes per-input-partition local top-k with
  a vectorized numpy kernel inside ``mapInPandas`` (no shuffle of the
  pages table, map-side reduction to |Q|*k rows per partition); phase 2
  is a global window rank over the tiny survivor set. Exact — this is
  the oracle-checked operator.

- ``knn_cell_prefix``: the cell-prefix candidate join from the
  north_star: candidates share a level-p cell prefix with the query
  (parent-prefix property of the hierarchical cell id), ranked per
  query. The ring around the query's cell expands adaptively until the
  k-th distance provably beats anything outside the block — EXACT
  (pinned equal to ``knn_exact`` in pytest; shares its DuckDB oracle).

Distances are exact bigint squared milli-degree distances — no FP drift
between engines.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.geo import sql_dist2_mdeg


def knn_exact(geocoded: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Exact kNN: (query_id, url, rank, dist2), rank 1..k.

    Ties broken by url (deterministic total order).
    """
    qrows = queries.select("query_id", "qlonm", "qlatm").collect()
    qid = np.array([r["query_id"] for r in qrows], dtype=np.int64)
    qx = np.array([r["qlonm"] for r in qrows], dtype=np.int64)
    qy = np.array([r["qlatm"] for r in qrows], dtype=np.int64)

    out_schema = "query_id bigint, url string, dist2 bigint"

    def local_topk(batches):
        # accumulate the whole partition's best k per query, streaming
        # over Arrow batches: keep a (|Q|, k) running candidate pool
        # plus a per-query running k-th-distance bound. The bound
        # prunes, inside the numpy mask, every batch candidate that
        # provably cannot enter the pool (d2 > bound: the pool already
        # holds k entries all <= bound; ties at the bound are KEPT so
        # the (dist2, url) order still decides them) — after the first
        # batches most pools receive nothing, so the Python append/sort
        # loop touches only a shrinking fraction of queries per batch
        # instead of O(|Q| k log k) every batch.
        best: dict[int, list[tuple[int, str]]] = {int(q): [] for q in qid}
        bound = np.full(len(qid), np.iinfo(np.int64).max, dtype=np.int64)
        for pdf in batches:
            x = pdf["lonm"].to_numpy(np.int64)
            y = pdf["latm"].to_numpy(np.int64)
            urls = pdf["url"].to_numpy(object)
            # (|Q|, batch) squared distances, vectorized
            d2 = ((x[None, :] - qx[:, None]) ** 2
                  + (y[None, :] - qy[:, None]) ** 2)
            kk = min(k, d2.shape[1])
            # keep EVERY candidate tied at the k-th distance (an
            # argpartition cut drops arbitrary members of the tie class
            # before the (dist2, url) order is applied — under integer
            # distance collisions the surviving url could then differ
            # from the oracle's ORDER BY dist2, url)
            kth = np.partition(d2, kk - 1, axis=1)[:, kk - 1]
            thresh = np.minimum(kth, bound)
            qis, js = np.nonzero(d2 <= thresh[:, None])
            touched = set()
            for qi, j in zip(qis.tolist(), js.tolist()):
                best[int(qid[qi])].append((int(d2[qi, j]), urls[j]))
                touched.add(qi)
            for qi in touched:
                pool = best[int(qid[qi])]
                pool.sort()
                del pool[k:]
                if len(pool) == k:
                    bound[qi] = pool[-1][0]
        rows = [
            (q, u, d) for q, pool in best.items() for d, u in pool
        ]
        yield pd.DataFrame(rows, columns=["query_id", "url", "dist2"]) \
            .astype({"query_id": "int64", "dist2": "int64"})

    local = geocoded.select("url", "lonm", "latm").mapInPandas(
        local_topk, schema=out_schema)
    w = Window.partitionBy("query_id").orderBy("dist2", "url")
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "url",
                F.col("rank").cast("bigint").alias("rank"), "dist2")
    )


def knn_crossjoin(geocoded: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Naive broadcast crossJoin + window variant (reference semantics,
    used for differential testing of knn_exact)."""
    j = geocoded.select("url", "lonm", "latm").crossJoin(F.broadcast(queries))
    j = j.withColumn(
        "dist2", F.expr(sql_dist2_mdeg("lonm", "latm", "qlonm", "qlatm")))
    w = Window.partitionBy("query_id").orderBy("dist2", "url")
    return (
        j.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "url",
                F.col("rank").cast("bigint").alias("rank"), "dist2")
    )


def knn_cell_prefix(geocoded: DataFrame, queries: DataFrame, k: int = 5,
                    prefix_level: int = 4, max_rounds: int | None = None
                    ) -> DataFrame:
    """EXACT kNN via the cell hierarchy with adaptive ring expansion.

    Round r: candidates = pages whose level-p cell prefix falls in the
    query's (2*ring+1)x(2*ring+1) cell block — one broadcast equi-join
    on the prefix, no pages shuffle. A query is RESOLVED once it has k
    candidates and the k-th squared distance is provably smaller than
    any point outside the block could achieve: every outside point
    differs by > margin in some axis, where margin is the query's
    distance to the block's inner edge (domain-clipped sides are
    unbounded), so ``dk2 < (margin+1)^2`` certifies global exactness.

    Scale shape (unlike the round-2 driver-dict form): ALL per-query
    state lives in DataFrames — block/margin arithmetic and the cell
    expansion (explode over sequence()) are native expressions, per-row
    results never hit the driver, and the only driver-side value per
    round is the unresolved COUNT (one scalar). |Q| = 10^6 is a
    broadcast-size question, not a driver-loop question.

    Termination: the ring DOUBLES each round (1, 2, 4, ...), so after
    ``prefix_level + 1`` rounds the block provably covers the whole
    2^p x 2^p grid and every query resolves via the full-cover branch —
    no query can be silently dropped (a RuntimeError guards the
    invariant). Exact: pinned equal to ``knn_exact`` in pytest and
    shares its DuckDB oracle.
    """
    from ..functions.geo import LAT_SPAN, LON_SPAN

    n = 1 << prefix_level
    INF = 1 << 60
    if max_rounds is None:
        # rings 1, 2, 4, ..., 2^(max_rounds-1): ring >= n covers the
        # whole grid regardless of the query cell, so this bound is
        # sufficient for ANY input distribution
        max_rounds = prefix_level + 1

    q = queries.select(
        F.col("query_id").cast("bigint").alias("query_id"),
        F.col("qlonm").cast("bigint").alias("qlonm"),
        F.col("qlatm").cast("bigint").alias("qlatm"),
    ).withColumn(
        "xi", F.expr(f"least(greatest(qlonm + 180000, 0), {LON_SPAN - 1})")
    ).withColumn(
        "yi", F.expr(f"least(greatest(90000 - qlatm, 0), {LAT_SPAN - 1})")
    ).withColumn(
        "xq", F.expr(f"cast(floor(xi * {n} / {LON_SPAN}) as bigint)")
    ).withColumn(
        "yq", F.expr(f"cast(floor(yi * {n} / {LAT_SPAN}) as bigint)"))

    pages_pfx = geocoded.select(
        "url", "lonm", "latm",
        F.substring("cell_id", 1, prefix_level).alias("cell_pfx"))

    # quadkey prefix string from block cell coords (same digit rule as
    # sql_cell_id_from_q: digit_l = bit (p-l) of cx + 2 * bit (p-l) of cy)
    prefix_expr = "concat(" + ", ".join(
        f"cast((cx div {1 << (prefix_level - l)}) % 2"
        f" + 2 * ((cy div {1 << (prefix_level - l)}) % 2) as string)"
        for l in range(1, prefix_level + 1)) + ")"

    def ceil_div(a: str, b: int) -> str:
        return f"cast(floor(({a} + {b - 1}) / {b}) as bigint)"

    unresolved = q
    results: DataFrame | None = None
    ring = 1
    remaining = -1
    for _ in range(max_rounds):
        blk = unresolved.select(
            "*",
            F.expr(f"greatest(xq - {ring}, 0)").alias("xlo"),
            F.expr(f"least(xq + {ring}, {n - 1})").alias("xhi"),
            F.expr(f"greatest(yq - {ring}, 0)").alias("ylo"),
            F.expr(f"least(yq + {ring}, {n - 1})").alias("yhi"),
        ).withColumn("margin", F.expr(
            "least("
            f"case when xlo > 0 then"
            f" xi - {ceil_div(f'xlo * {LON_SPAN}', n)} else {INF} end, "
            f"case when xhi < {n - 1} then"
            f" {ceil_div(f'(xhi + 1) * {LON_SPAN}', n)} - 1 - xi"
            f" else {INF} end, "
            f"case when ylo > 0 then"
            f" yi - {ceil_div(f'ylo * {LAT_SPAN}', n)} else {INF} end, "
            f"case when yhi < {n - 1} then"
            f" {ceil_div(f'(yhi + 1) * {LAT_SPAN}', n)} - 1 - yi"
            f" else {INF} end)"))
        cells = (
            blk.select("query_id", "qlonm", "qlatm", "margin", "ylo", "yhi",
                       F.explode(F.expr("sequence(xlo, xhi)")).alias("cx"))
            .select("query_id", "qlonm", "qlatm", "margin", "cx",
                    F.explode(F.expr("sequence(ylo, yhi)")).alias("cy"))
            .withColumn("qcell", F.expr(prefix_expr))
        )
        cand = pages_pfx.join(
            F.broadcast(cells), F.col("cell_pfx") == F.col("qcell"))
        cand = cand.withColumn(
            "dist2", F.expr(sql_dist2_mdeg("lonm", "latm", "qlonm", "qlatm")))
        w = Window.partitionBy("query_id").orderBy("dist2", "url")
        top = (
            cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "url",
                    F.col("rank").cast("bigint").alias("rank"),
                    F.col("dist2").cast("bigint").alias("dist2"), "margin")
        ).persist()
        # resolution: full domain cover, OR k candidates with the k-th
        # distance provably inside the block's safe radius. The bound is
        # NULL on full-cover rows so the bigint square never overflows.
        stats = top.groupBy("query_id", "margin").agg(
            F.count(F.lit(1)).alias("n_cand"), F.max("dist2").alias("dk2"))
        part_done = stats.filter(
            (F.col("n_cand") == k)
            & (F.col("dk2") < F.expr(
                f"case when margin < {INF}"
                " then (margin + 1) * (margin + 1) end"))
        ).select("query_id")
        full_done = blk.filter(F.col("margin") >= INF).select("query_id")
        done = part_done.unionByName(full_done).distinct().persist()
        res = top.join(done, "query_id") \
            .select("query_id", "url", "rank", "dist2")
        results = res if results is None else results.unionByName(res)
        # localCheckpoint truncates the round-over-round lineage — the
        # anti-join references the previous round's plan twice, so
        # without truncation the plan TREE doubles per round (driver
        # OOM on generateTreeString by round ~7)
        unresolved = unresolved.join(done, "query_id", "left_anti") \
            .localCheckpoint(eager=True)
        remaining = unresolved.count()
        if remaining == 0:
            break
        ring *= 2
    if remaining != 0:
        raise RuntimeError(
            f"knn_cell_prefix: {remaining} queries unresolved after"
            f" {max_rounds} rounds — max_rounds must cover the grid"
            " (ring doubling makes this unreachable for the default)")
    return results


def radius_join(geocoded: DataFrame, queries: DataFrame,
                radius_m: float) -> DataFrame:
    """Geodesic radius search: every page within ``radius_m`` metres
    (great-circle, haversine) of each query point ->
    (query_id, url, dist_cm).

    Scale shape: the tiny query set broadcasts; a CONSERVATIVE
    latitude-band prune (|dlat| <= R / 110 km — one degree of latitude
    is never shorter than 110.574 km, so no true match can be cut)
    runs as the join condition, keeping the trig off all but a thin
    band of candidate pairs; the exact haversine then filters inside
    codegen. Because the prune is conservative, the output equals the
    unpruned cross-product filter — which is what the oracle computes.
    Distances are integer centimetres (rounding absorbs last-ulp libm
    divergence between engines)."""
    from ..functions.geodesic import sql_haversine_cm

    band_mdeg = int(radius_m / 110_000.0 * 1000.0) + 1
    dist = F.expr(sql_haversine_cm("lonm", "latm", "qlonm", "qlatm"))
    # band-cell EQUI-join (round 6): the previous broadcast
    # nested-loop band join evaluated |dlat| <= band on every
    # (page, query) pair — O(pages x queries). Each query instead
    # explodes to its band cell +-1 (floor(lat/band)), so any pair
    # with |dlat| <= band shares a cell and the hash join touches only
    # same-cell candidates; the ORIGINAL band predicate and the exact
    # haversine still filter below, so the output is identical (the
    # cell join is a conservative superset and each pair appears once
    # — a query's three cell ids are distinct, a page has one).
    # The page key and the band test are never NULL, so Catalyst infers
    # no isnotnull(latm) Filter to push below geocode, where it would
    # repeat the text parse (as in pip._cover_join; a plan test pins
    # one parse). A page without latitude gets band key Long.MinValue:
    # real bands lie within +-90,001, and a query band equal to it
    # would only add pairs that the band test drops.
    qb = queries.withColumn(
        "_qband", F.floor(F.col("qlatm") / F.lit(band_mdeg)))
    qcells = qb.select(
        "*", F.explode(F.array(
            F.col("_qband") - 1, F.col("_qband"),
            F.col("_qband") + 1)).alias("_band")).drop("_qband")
    in_band = F.abs(F.col("latm") - F.col("qlatm")) <= F.lit(band_mdeg)
    pruned = geocoded.withColumn(
        "_band", F.coalesce(F.floor(F.col("latm") / F.lit(band_mdeg)),
                            F.lit(-(1 << 63)))
    ).join(F.broadcast(qcells), "_band").filter(
        F.coalesce(in_band, F.lit(False)))
    return (pruned.withColumn("dist_cm", dist)
            .filter(F.col("dist_cm") <= int(round(radius_m * 100)))
            .select("query_id", "url", "dist_cm"))
