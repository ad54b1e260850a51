"""The benchmark's workloads, written against the engine's public functions.

Each workload is registered once per session (``__init__``: read the
input tables, build broadcast-side state), then runs passes. ``run``
is one pass: it builds the workload's plans from the registered inputs,
runs them and returns each output as a list of rows, which ``run.py``
compares with the DuckDB oracle. ``chains`` describes the same work for
the traced run: each chain is a list of steps ``(call, make, keep)``
whose ``make()`` builds the prefix of the pass up to and including
``call``. The tracer forces each prefix in turn (projected on ``keep``,
the columns later steps still use, or, for the last step, through
``collect``) and charges each call the cost of its prefix minus that of
the step before it. Steps whose call starts with ``_`` are prefixes
that are subtracted but not reported.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geotiff_processor_spark.operators import (
    dedup, graph, multimodal, outline, pip, tiling)
from geotiff_processor_spark.plans import lineage
from geotiff_processor_spark.sources import synth

from inputs import CODECS

TILE_ZOOM = 6
PYRAMID_TOP = 3
# media digests weight each row by its event id, so a changed or moved
# value changes the digest; pixel means are multiples of 1/256, so the
# scaled sums are exact integers in both engines
MEDIA_WEIGHT = "(cast(substring_index(url, '/', -1) as bigint) % 1009 + 1)"
MEAN_SCALE = 256


def collect(df: DataFrame) -> list[list]:
    return [list(r) for r in df.collect()]


class SpatialJoin:
    """pages scan -> geocode + cell id -> broadcast PIP -> z6 tiles ->
    (polygon, zone, tile) count, bytes and largest cell id."""

    def __init__(self, spark: SparkSession, window: dict):
        self.pages = spark.read.parquet(window["pages"])
        self.cover = pip.build_cover_table(spark)

    def _tile_agg(self, hits: DataFrame) -> DataFrame:
        return (
            tiling.assign_tiles(hits, TILE_ZOOM)
            .groupBy("polygon_id", "zone", "tile_x", "tile_y")
            .agg(F.count(F.lit(1)).alias("n_pages"),
                 F.sum(F.length("html")).alias("n_bytes"),
                 F.max("cell_id").alias("max_cell"))
        )

    def output(self) -> DataFrame:
        return self._tile_agg(
            pip.pip_join(synth.geocode(self.pages), self.cover))

    def run(self) -> dict[str, list]:
        return {"tile_agg": collect(self.output())}

    def chains(self) -> dict[str, list]:
        geo = lambda: synth.geocode(self.pages)  # noqa: E731
        hits = lambda: pip.pip_join(geo(), self.cover)  # noqa: E731
        return {"tile_agg": [
            ("sources.scan", lambda: self.pages, ["text", "html"]),
            ("functions.geo.geocode", geo,
             ["lonm", "latm", "lat", "cell_id", "html"]),
            ("operators.pip.pip_join", hits,
             ["polygon_id", "zone", "lonm", "lat", "cell_id", "html"]),
            ("operators.tiling.tile_agg", lambda: self._tile_agg(hits()),
             None),
        ]}

    def candidate_rows(self) -> int:
        """Pages matched to a covering cell before the exact test."""
        from geotiff_processor_spark.functions.geo import sql_cell_key

        keyed = synth.geocode(self.pages).withColumn(
            "cell_key", F.expr(sql_cell_key("lonm", "latm",
                                            pip.DEFAULT_COVER_LEVEL)))
        return keyed.join(F.broadcast(self.cover), "cell_key").count()


class MediaDecode:
    """PNG, JPEG and GIF through decode_images, GeoTIFF through
    decode_geotiff; each output reduced to a weighted digest row."""

    def __init__(self, spark: SparkSession, window: dict):
        self.tables = {c: spark.read.parquet(window[c]) for c in CODECS}

    def decoded(self, codec: str) -> DataFrame:
        col = CODECS[codec][0]
        if codec == "tiff":
            return multimodal.decode_geotiff(self.tables[codec],
                                             payload_col=col, key_col="url")
        return multimodal.decode_images(self.tables[codec], payload_col=col,
                                        key_col="url", strict=True)

    @staticmethod
    def digest(decoded: DataFrame) -> DataFrame:
        """One row: the count and weighted sums of every output column
        (the georeference terms are 0 for images without one)."""
        geo = ["lonm", "latm", "epsg"] if "epsg" in decoded.columns else [
            "0"] * 3
        terms = ["height", "width"] + [
            f"cast(mean_{c} * {MEAN_SCALE} as bigint)" for c in "rgb"] + geo
        return decoded.agg(F.count(F.lit(1)).alias("n"), *[
            F.sum(F.expr(f"{MEDIA_WEIGHT} * {t}")).alias(f"s{i}")
            for i, t in enumerate(terms)])

    def run(self) -> dict[str, list]:
        # one job for all four codecs: the decode tasks of every codec
        # share the cores, so no codec waits at its own barrier
        digests = None
        for c in CODECS:
            d = self.digest(self.decoded(c)).select(
                F.lit(c).alias("codec"), "*")
            digests = d if digests is None else digests.unionByName(d)
        return {row[0]: [row[1:]] for row in collect(digests)}

    def chains(self) -> dict[str, list]:
        out = {}
        for codec, (col, call) in CODECS.items():
            out[codec] = [
                (f"_scan_{codec}", lambda c=codec: self.tables[c],
                 ["url", col]),
                (f"operators.multimodal.{call}",
                 lambda c=codec: self.digest(self.decoded(c)), None),
            ]
        return out


class Multistage:
    """Four barrier-heavy jobs: a committed z6->z3 tile pyramid, cell
    outlines, MinHash dedup to canonical docs, and PageRank."""

    def __init__(self, spark: SparkSession, window: dict, work_dir: str):
        self.pages = spark.read.parquet(window["pages"])
        self.docs = spark.read.parquet(window["documents"]).select(
            "doc_id", "text")
        self.events = spark.read.parquet(
            os.path.join(window["graph"], "events.parquet"))
        self.n_nodes = window["nodes"]
        self.work_dir = work_dir
        self.n_commits = 0

    def _geocoded(self) -> DataFrame:
        return synth.geocode(self.pages)

    def _levels(self) -> DataFrame:
        """All pyramid levels, each rolled up from the one below."""
        cur = tiling.tile_counts(self._geocoded(), TILE_ZOOM)
        out = cur
        for z in range(TILE_ZOOM, PYRAMID_TOP, -1):
            cur = tiling.tile_rollup_level(cur, z)
            out = out.unionByName(cur)
        return out

    def _committed_pyramid(self) -> DataFrame:
        """The same levels, each committed before the next is derived
        from it; a fresh directory per pass keeps passes identical."""
        out_dir = os.path.join(self.work_dir, f"pyramid-{self.n_commits}")
        self.n_commits += 1
        shutil.rmtree(out_dir, ignore_errors=True)
        cur = tiling.tile_counts(self._geocoded(), TILE_ZOOM)
        levels = []
        for z in range(TILE_ZOOM, PYRAMID_TOP - 1, -1):
            if z < TILE_ZOOM:
                cur = tiling.tile_rollup_level(cur, z + 1)
            cur = lineage.checkpoint_write(cur, out_dir, f"z{z}", ["zoom"])
            levels.append(cur.select("zoom", "tile_x", "tile_y", "n_pages"))
        out = levels[0]
        for lv in levels[1:]:
            out = out.unionByName(lv)
        return out

    def last_commit_dir(self) -> str:
        return os.path.join(self.work_dir, f"pyramid-{self.n_commits - 1}")

    def _outlines(self) -> DataFrame:
        return outline.cell_outlines(
            self._geocoded(), group_col="lang", level=TILE_ZOOM).select(
            "grp", "component_id", "n_cells",
            "min_x", "min_y", "max_x", "max_y")

    def candidates(self) -> DataFrame:
        return dedup.lsh_candidate_pairs(dedup.minhash_signatures(self.docs))

    def verified(self) -> DataFrame:
        return dedup.jaccard_verify(self.docs, self.candidates(),
                                    threshold=0.999).select("key_a", "key_b")

    def _canonical(self) -> DataFrame:
        return dedup.canonical_docs(self.docs, self.verified())

    def _edges(self) -> DataFrame:
        return graph.synth_edges(self.events, self.n_nodes)

    def _pagerank(self) -> DataFrame:
        nodes = self.events.select(F.col("event_id").alias("page_id"))
        return graph.pagerank(nodes, self._edges(), self.n_nodes, iters=5)

    def run(self) -> dict[str, list]:
        out = {"tile_pyramid": collect(self._committed_pyramid()),
               "outline_components": collect(self._outlines()),
               "dedup_canonical": collect(self._canonical()),
               "pagerank": collect(self._pagerank())}
        shutil.rmtree(self.last_commit_dir(), ignore_errors=True)
        return out

    def chains(self) -> dict[str, list]:
        geo = ("_geocode", self._geocoded, ["lonm", "latm", "lat", "lang"])
        return {
            "tile_pyramid": [
                geo,
                ("operators.tiling.pyramid", self._levels, None),
                ("plans.lineage.checkpoint_write", self._committed_pyramid,
                 None),
            ],
            "outline_components": [
                geo, ("operators.outline.cell_outlines", self._outlines, None),
            ],
            "dedup_canonical": [
                ("_docs", lambda: self.docs, ["doc_id", "text"]),
                ("operators.dedup.minhash_lsh", self.candidates,
                 ["key_a", "key_b"]),
                ("operators.dedup.verify", self.verified, ["key_a", "key_b"]),
                ("operators.dedup.canonical", self._canonical, None),
            ],
            "pagerank": [
                ("_edges", self._edges, ["src", "dst"]),
                ("operators.graph.pagerank", self._pagerank, None),
            ],
        }
