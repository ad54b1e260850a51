"""DuckDB oracles for the benchmark's outputs, on the same window.

The media, pyramid and PageRank oracles are the entry module's
``oracle_sql()`` texts. The outline oracle takes the occupied cells from
``oracle_sql()['outline_components']`` but labels components with a
union-find here: its recursive CTE takes about 28 s on 10k pages on a
4-core host, longer than the traced run can spend. The spatial oracle
joins the same geocode,
polygon and containment CTEs that ``oracle_sql()['pip_count']`` uses and
groups by tile as well. The dedup oracle derives its pairs from exact
text equality rather than from the planted clones, so organic identical
docs count too.
"""

from __future__ import annotations

import duckdb

from geotiff_processor_spark.functions.geo import sql_tile_x, sql_tile_y
from geotiff_processor_spark.sources import synth
from geotiff_processor_spark.testing import norm_rows

from inputs import CODECS
from workloads import MEAN_SCALE, TILE_ZOOM

ORACLE_KEYS = {"png": "decode_images", "jpeg": "decode_jpeg",
               "gif": "decode_gif", "tiff": "decode_geotiff"}
# the html column of synth.build_pages wraps the text in this markup
HTML_WRAP_BYTES = len("<html><body><p>") + len("</p></body></html>")

SPATIAL_SQL = (
    "WITH " + synth.geocoded_cte("duckdb") + ",\n" + synth.polygons_cte()
    + ",\npip AS (SELECT g.*, p.polygon_id, p.zone FROM geocoded g "
    + f"JOIN polygons p ON {synth.SQL_PIP_PREDICATE})\n"
    + "SELECT cast(polygon_id as bigint), zone, "
    + f"{sql_tile_x('lonm', TILE_ZOOM)}, {sql_tile_y('lat', TILE_ZOOM)}, "
    + "count(*), cast(sum(strlen(text) + "
    + f"{HTML_WRAP_BYTES}) as bigint), max(cell_id) FROM pip GROUP BY 1, 2, 3, 4"
)

DEDUP_SQL = """
WITH grp AS (
  SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS canonical_id,
    count(*) OVER (PARTITION BY text) AS cluster_size
  FROM documents
)
SELECT doc_id, canonical_id, cast(cluster_size as bigint),
  cast(doc_id = canonical_id as int) FROM grp
"""


def _connect(window: dict) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("CREATE VIEW events AS SELECT range AS event_id"
                f" FROM range({window['lo']}, {window['hi']})")
    if "documents" in window:
        con.execute("CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{window['documents']}')")
    return con


def _entry_oracles(window: dict) -> dict[str, str]:
    import __spark_entry__

    # oracle_sql() reads data-derived literals (PageRank's node count)
    # from this directory when it is called
    __spark_entry__.ORACLE_SF_DIR = window.get("graph", window["dir"])
    return __spark_entry__.oracle_sql()


def _media_digest(rows: list[tuple]) -> list[list]:
    """The digest MediaDecode.digest computes, over oracle rows of
    (url, height, width, mean_r, mean_g, mean_b[, lonm, latm, epsg])."""
    sums = [0] * 8
    for url, h, w, mr, mg, mb, *geo in rows:
        weight = int(url.rsplit("/", 1)[1]) % 1009 + 1
        vals = ([h, w] + [int(m * MEAN_SCALE) for m in (mr, mg, mb)]
                + (geo or [0, 0, 0]))
        for i, v in enumerate(vals):
            sums[i] += weight * v
    return [[len(rows), *sums]]


def _outline_components(con, sql: str) -> list[tuple]:
    """The outline oracle's result, components found by union-find over
    4-neighbour cells and labelled by their smallest cx * 10^6 + cy."""
    cells_sql = sql[:sql.index(",\ncc AS (")] + "\nSELECT grp, cx, cy FROM cells"
    cells = con.execute(cells_sql).fetchall()
    parent = {c: c for c in cells}

    def find(c):
        while parent[c] != c:
            parent[c] = parent[parent[c]]
            c = parent[c]
        return c

    for grp, cx, cy in cells:
        for nb in ((grp, cx + 1, cy), (grp, cx, cy + 1)):
            if nb in parent:
                parent[find(nb)] = find((grp, cx, cy))
    comps: dict = {}
    for c in cells:
        comps.setdefault(find(c), []).append(c)
    rows = []
    for members in comps.values():
        xs, ys = [m[1] for m in members], [m[2] for m in members]
        label = min(x * 1_000_000 + y for _, x, y in members)
        rows.append([members[0][0], label, len(members),
                     min(xs), min(ys), max(xs) + 1, max(ys) + 1])
    rows.sort()
    out, prev, k = [], None, 0
    for grp, _, *stats in rows:
        k = k + 1 if grp == prev else 0
        prev = grp
        out.append((grp, k, *stats))
    return out


def expected(workload: str, window: dict) -> dict[str, list]:
    """Oracle rows for every output ``Workload.run`` returns."""
    con = _connect(window)
    if workload == "spatial_join":
        return {"tile_agg": con.execute(SPATIAL_SQL).fetchall()}
    sql = _entry_oracles(window)
    if workload == "media_decode":
        return {c: _media_digest(con.execute(sql[ORACLE_KEYS[c]]).fetchall())
                for c in CODECS}
    out = {"tile_pyramid": con.execute(sql["tile_pyramid"]).fetchall(),
           "outline_components": _outline_components(
               con, sql["outline_components"])}
    out["dedup_canonical"] = con.execute(DEDUP_SQL).fetchall()
    graph_con = duckdb.connect()
    graph_con.execute("CREATE VIEW events AS SELECT * FROM read_parquet("
                      f"'{window['graph']}/events.parquet')")
    out["pagerank"] = graph_con.execute(sql["pagerank"]).fetchall()
    return out


def mismatches(got: dict[str, list], want: dict[str, list]) -> list[str]:
    """Names of the outputs whose row multisets differ (order-free,
    floats compared to 9 significant digits as scripts/diffcheck.py does)."""
    bad = []
    for name, rows in want.items():
        if name not in got:
            bad.append(name)
            continue
        width = len(rows[0]) if rows else 0
        cols = [str(i) for i in range(width)]
        if (any(len(r) != width for r in got[name])
                or norm_rows(cols, got[name]) != norm_rows(cols, rows)):
            bad.append(name)
    return bad
