"""Link-graph operators: PageRank and connected components.

Web-corpus pipelines filter and weight pages by link-graph centrality
(e.g. Common Crawl publishes harmonic-centrality/PageRank host ranks;
RefinedWeb/CCNet-style curation uses them as quality priors — public
literature). This module runs the classic power iteration (Page et al.
1999) as a distributed Spark job over an edge DataFrame.

Fixed-iteration form (K small, damping d): r_{t+1}(v) = (1-d)/n +
d * sum_{(u,v) in E} r_t(u) / outdeg(u). With K fixed the whole
computation is a pure function of the edge list, so the DuckDB oracle
expresses it as K chained CTEs — no inlined literals needed; both
engines run the identical arithmetic and the result rounds to 6
decimals (the repo's float-oracle convention, cf. lm_score).

Scale shape: per iteration ONE join of edges against the current rank
vector (both hash-partitioned on the join key — co-partitioned after
the first iteration, AQE handles hub skew) and one dst-keyed
partial-agg shuffle. State per iteration is the rank vector (one
double per node), never the edge list; lineage is truncated per round
(localCheckpoint; storage checkpoint on a real cluster). Dangling
nodes are handled by the standard redistribute-to-all term when
``dangling=True`` (off for the synthetic 3-out-regular graph).

Reference analog: none (the reference is a raster pipeline); this
belongs to the training-data family the engine adds for web corpora.

``connected_components`` is the package's one components helper: near-dup
clustering (dedup.canonical_docs) and the tile-border merge of the tiled
polygonize (outline.cell_outlines) both call it, and ``union_find`` is
its driver-side kernel, shared with outline's per-tile pass.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

_LOG = logging.getLogger(__name__)

# deterministic synthetic link graph: page i links to (i*a+b) % n for
# each (a, b) — 3-out-regular, no dangling nodes, SQL-reproducible
LINK_COEFS = ((7, 1), (13, 3), (31, 5))


def synth_edges(events: DataFrame, n: int,
                id_col: str = "event_id") -> DataFrame:
    """(src, dst) link table derived from the event id (formula above)."""
    parts = [
        events.select(
            F.col(id_col).cast("long").alias("src"),
            ((F.col(id_col) * a + b) % n).cast("long").alias("dst"))
        for a, b in LINK_COEFS
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def sql_synth_edges(n: int, dialect: str = "duckdb") -> str:
    """The same link table as a SQL CTE body (oracle reproducibility)."""
    selects = [
        f"SELECT cast(event_id as bigint) AS src,"
        f" cast((event_id*{a} + {b}) % {n} as bigint) AS dst FROM events"
        for a, b in LINK_COEFS
    ]
    return "\nUNION ALL\n".join(selects)


def pagerank(nodes: DataFrame, edges: DataFrame, n: int,
             iters: int = 5, d: float = 0.85,
             id_col: str = "page_id") -> DataFrame:
    """Fixed-iteration PageRank: returns (page_id, rank) with rank
    rounded to 6 decimals. ``nodes`` must carry distinct ``id_col``."""
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("od"))
    ed = edges.join(deg, "src").select("src", "dst", "od") \
        .localCheckpoint(eager=True)
    ranks = nodes.select(F.col(id_col).alias("id"),
                         F.lit(1.0 / n).alias("r"))
    base = (1.0 - d) / n
    for _ in range(iters):
        # shuffled-hash joins (guide S3.1): the rank vector is O(nodes)
        # so broadcasting is not scale-safe, but hash-building the
        # per-partition rank/contrib side skips the per-round SMJ sorts
        contrib = (
            ed.join(ranks.hint("shuffle_hash"), ed.src == ranks.id)
            .select(F.col("dst").alias("id"),
                    (F.col("r") / F.col("od")).alias("c"))
            .groupBy("id").agg(F.sum("c").alias("s"))
        )
        # no per-round localCheckpoint (round 6): each rank vector is
        # referenced exactly ONCE by the next round, so the lineage is
        # linear and the whole fixed-iteration recursion runs as a
        # single job — the eager checkpoint per round cost 5 extra job
        # barriers (~0.5 s each at bench scale) and bought nothing
        ranks = (
            nodes.select(F.col(id_col).alias("id"))
            .join(contrib.hint("shuffle_hash"), "id", "left")
            .select("id",
                    (F.lit(base)
                     + F.lit(d) * F.coalesce("s", F.lit(0.0))).alias("r"))
        )
    return ranks.select(F.col("id").alias(id_col),
                        F.round("r", 6).alias("rank"))


def sql_pagerank(n: int, iters: int = 5, d: float = 0.85) -> str:
    """DuckDB oracle: the identical power iteration as chained CTEs."""
    base = f"(1.0 - {d}) / {n}"
    parts = [
        f"e AS (\n{sql_synth_edges(n)}\n)",
        "deg AS (SELECT src, count(*) AS od FROM e GROUP BY src)",
        "nodes AS (SELECT cast(event_id as bigint) AS id FROM events)",
        f"r0 AS (SELECT id, 1.0 / {n} AS r FROM nodes)",
    ]
    for t in range(iters):
        parts.append(
            f"r{t + 1} AS (\n"
            "  SELECT n.id,\n"
            f"    {base} + {d} * coalesce(c.s, 0.0) AS r\n"
            "  FROM nodes n LEFT JOIN (\n"
            "    SELECT e.dst AS id, sum(rr.r / deg.od) AS s\n"
            f"    FROM e JOIN r{t} rr ON e.src = rr.id\n"
            "      JOIN deg ON e.src = deg.src\n"
            "    GROUP BY e.dst\n"
            "  ) c ON n.id = c.id\n)"
        )
    return ("WITH " + ",\n".join(parts)
            + f"\nSELECT id AS page_id, round(r, 6) AS rank FROM r{iters}")


def union_find(pairs, nodes=()) -> dict:
    """{node: min node of its set} over the undirected ``pairs``, plus
    every node in ``nodes`` (isolated ones map to themselves). Nodes
    must be hashable and mutually comparable; the smaller root wins
    each union, so every root is its set's minimum."""
    parent = {n: n for n in nodes}

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for a, b in pairs:
        ra, rb = find(parent.setdefault(a, a)), find(parent.setdefault(b, b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def connected_components(edges: DataFrame, keys=(),
                         collect_limit: int = 200_000) -> DataFrame:
    """(keys..., node, component) for every node of the undirected
    ``(keys..., src, dst)`` edge list; component = the minimum node id
    of its component within the same ``keys`` (edges never cross keys).

    The edge list is checkpointed once and at most ``collect_limit + 1``
    edges are taken from the checkpoint. At or below the limit one
    ``union_find`` on the driver labels them and the result is a small
    local table, hinted for broadcast (its source is a parallelized
    list, whose size the planner cannot see). Past it the graph may not fit the driver, so the labels
    are found in Spark from the same checkpoint: min-label propagation
    with pointer jumping, O(log n) rounds (each round halves the depth
    of the representative trees), each round one (keys, node, label)
    shuffle that is checkpointed so the plan stays flat. Raises rather
    than return a partial labelling after 64 rounds.
    """
    keys = list(keys)
    ck = edges.select(*keys, F.col("src").cast("bigint"),
                      F.col("dst").cast("bigint")).localCheckpoint()
    head = ck.limit(collect_limit + 1).collect()
    if len(head) <= collect_limit:
        _LOG.info("connected_components: %d edges (driver union-find)",
                  len(head))
        nk = len(keys)
        roots = union_find(
            (tuple(r[:nk + 1]), (*r[:nk], r[nk + 1])) for r in head)
        schema = StructType(
            [ck.schema[k] for k in keys]
            + [StructField("node", LongType()),
               StructField("component", LongType())])
        return F.broadcast(ck.sparkSession.createDataFrame(
            [(*n, c[-1]) for n, c in roots.items()], schema))

    _LOG.info("connected_components: > %d edges (in-Spark label "
              "propagation)", collect_limit)
    sym = ck.unionByName(ck.select(*keys, F.col("dst").alias("src"),
                                   F.col("src").alias("dst"))
                         ).distinct().localCheckpoint()
    labels = (sym.select(*keys, F.col("src").alias("node")).distinct()
              .withColumn("lbl", F.col("node")).localCheckpoint())
    for _ in range(64):
        nbr_min = (
            sym.join(labels.select(*keys, F.col("node").alias("dst"),
                                   F.col("lbl").alias("dlbl")),
                     [*keys, "dst"])
            .groupBy(*keys, "src").agg(F.min("dlbl").alias("nlbl"))
            .withColumnRenamed("src", "node"))
        stepped = (
            labels.join(nbr_min, [*keys, "node"], "left")
            .select(*keys, "node", F.col("lbl").alias("olbl"),
                    F.least("lbl", F.coalesce("nlbl", "lbl")).alias("lbl")))
        # pointer jump: lbl <- lbl(lbl) (every label value is itself a
        # node, so the labels double as the representative table). The
        # previous label rides along as olbl, so convergence reads a
        # changed-flag off the new checkpoint (labels only decrease)
        reps = stepped.select(*keys, F.col("node").alias("lbl"),
                              F.col("lbl").alias("plbl"))
        new_labels = (
            stepped.join(reps, [*keys, "lbl"])
            .select(*keys, "node", F.col("plbl").alias("lbl"),
                    (F.col("plbl") < F.col("olbl")).alias("chg"))
        ).localCheckpoint()
        labels = new_labels.select(*keys, "node", "lbl")
        if new_labels.filter("chg").limit(1).count() == 0:
            return labels.withColumnRenamed("lbl", "component")
    raise RuntimeError("label propagation did not converge in 64 rounds")
