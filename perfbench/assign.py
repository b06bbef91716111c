"""The document-assignment job: cells -> candidate join + PIP -> kNN snap
-> per-cell density rollup -> z11 MVT tiles (``scripts/run_pipeline.py``
without the lineage stages).

Untraced, the job is one ``assign_documents`` call committed with
``localCheckpoint``, then the rollup and the tiles.  Traced, the same calls
run with a span around each module's public function and a materialising
action at the end of each span, so a layer's work lands inside its span:
``extract_geo_points`` feeds ``assign_documents`` as ready points, and
``knn.knn_snap`` is wrapped for the duration of the call so the candidate
join's per-point result (its input) and the snap's output are materialised
in their own spans.
"""

from __future__ import annotations

import gc
import statistics

from pyspark.sql import functions as F

from urbanistic_polygons_spark.functions import cells as C
from urbanistic_polygons_spark.operators import knn
from urbanistic_polygons_spark.operators.spatial_join import (
    assign_documents, explode_polygon_cells, extract_geo_points, pip_udf)
from urbanistic_polygons_spark.sources.mvt import faces_to_mvt


class AssignJob:
    def __init__(self, spark, paths: dict, zoom: int, knn_rings: int):
        self.spark = spark
        self.paths = paths
        self.zoom = zoom
        self.knn_rings = knn_rings
        self.n_spans = 0
        self._out = None
        self._orphans = None

    def _read(self):
        return (self.spark.read.parquet(self.paths["docs"]),
                self.spark.read.parquet(self.paths["polygons"]))

    def load(self) -> None:
        """Count the input's geo spans, outside Spark: the gate's reference."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        spans = pq.read_table(self.paths["docs"], columns=["spans"])["spans"]
        kinds = pc.struct_field(pc.list_flatten(spans), "kind")
        self.n_spans = pc.sum(pc.equal(kinds, "geo")).as_py()

    def run(self, rep) -> None:
        """One complete job: assign every geo span, roll up, tile."""
        docs, polys = self._read()
        points = None
        if rep.on:
            with rep.span("cells") as c:
                points = extract_geo_points(docs).localCheckpoint(eager=True)
                c["points"] = points.count()
        real_knn = knn.knn_snap

        def traced_knn(orphans, polygons, k=1, max_ring=3):
            with rep.span("spatial_join") as c:
                orphans = orphans.localCheckpoint(eager=True)
                c["orphans"] = orphans.count()
            with rep.span("knn") as c:
                out = real_knn(orphans, polygons, k, max_ring).localCheckpoint(
                    eager=True)
                by_method = dict(out.groupBy("method").count().collect())
                c["orphans"] = sum(by_method.values())
                c["unmatched"] = by_method.get("none", 0)
            self._orphans = orphans
            return out

        with rep.span("assign"):
            if rep.on:
                knn.knn_snap = traced_knn
            try:
                assigned = assign_documents(docs, polys, self.knn_rings,
                                            points=points)
            finally:
                knn.knn_snap = real_knn
            assigned = assigned.localCheckpoint(eager=True)
        with rep.span("rollup"):
            rollup = (assigned.groupBy("cell_id", "method")
                      .agg(F.count("*").alias("n_docs"))
                      .localCheckpoint(eager=True))
        with rep.span("mvt") as c:
            tiles = faces_to_mvt(density_faces(rollup), zoom=self.zoom).select(
                "tile_x", "tile_y", "n_features",
                F.length("mvt").alias("bytes")).collect()
            c["tiles"] = len(tiles)
            c["bytes"] = sum(t["bytes"] for t in tiles)
        self._out = (assigned, rollup, tiles)

    def check(self) -> dict:
        """Correctness gate for the last job: one row per geo span, rollup
        totals equal to the rows, and a summary that every other job of the
        run (and the stored value for the seed) must reproduce."""
        assigned, rollup, tiles = self._out
        digest = F.xxhash64("doc_id", "span_idx", "polygon_guid", "method")
        row = assigned.agg(
            F.count("*").alias("rows"),
            *[F.count_if(F.col("method") == m).alias(m)
              for m in ("pip", "knn", "none")],
            F.sum(digest.cast("decimal(38,0)")).cast("string").alias("digest"),
        ).first().asDict()
        rolled = rollup.agg(F.sum("n_docs")).first()[0]
        if row["rows"] != self.n_spans or rolled != row["rows"]:
            raise AssertionError(
                f"{row['rows']} rows and {rolled} rolled up for "
                f"{self.n_spans} geo spans")
        row["tiles"] = len(tiles)
        row["tile_features"] = sum(t["n_features"] for t in tiles)
        row["tile_bytes"] = sum(t["bytes"] for t in tiles)
        return row

    def counters(self) -> dict:
        """Work counts that need their own queries (candidate pairs after
        the bbox prefilter, PIP hits, kNN halo pairs).  Deterministic per
        input, so they run once, after a traced job and outside its time."""
        docs, polys = self._read()
        index = explode_polygon_cells(polys).withColumnRenamed(
            "cell_id", "i_cell")
        cand = extract_geo_points(docs).join(
            F.broadcast(index),
            (F.col("cell_id") == F.col("i_cell"))
            & F.col("lon").between(F.col("min_lon"), F.col("max_lon"))
            & F.col("lat").between(F.col("min_lat"), F.col("max_lat")))
        n_cand, hits = cand.agg(
            F.count("*"),
            F.count_if(pip_udf(F.col("ring"), F.col("lon"), F.col("lat"))),
        ).first()
        halo = self._orphans.select(F.explode_outer(
            C.neighbor_cells_ringed(F.col("cell_id"),
                                    max_ring=self.knn_rings)).alias("h"))
        pairs = halo.join(F.broadcast(knn.polygon_centroids(polys)),
                          F.col("h.cell") == F.col("poly_cell")).count()
        return {"candidates": n_cand, "pip_hits": hits, "halo_pairs": pairs}

    def reset(self) -> None:
        """Drop the job's cached and local-checkpointed state."""
        self._out = None
        self._orphans = None
        self.spark.catalog.clearCache()
        gc.collect()
        self.spark._jvm.System.gc()  # lets the ContextCleaner drop blocks


def density_faces(rollup):
    """Cells holding assigned spans -> square faces for the MVT sink (the
    ``scripts/run_pipeline.py`` tiles stage)."""
    cells = (rollup.filter(F.col("method") != "none")
             .groupBy("cell_id").agg(F.sum("n_docs").alias("n")))
    min_lon, min_lat, max_lon, max_lat = C.cell_bounds(F.col("cell_id"))

    def pt(a, b):
        return F.format_string("%.9f %.9f", a, b)

    return cells.select(
        F.md5(F.col("cell_id").cast("string")).alias("face_guid"),
        F.concat_ws(";", pt(min_lon, max_lat), pt(max_lon, max_lat),
                    pt(max_lon, min_lat), pt(min_lon, min_lat),
                    pt(min_lon, max_lat)).alias("ring"),
        min_lon.alias("min_lon"), min_lat.alias("min_lat"),
        max_lon.alias("max_lon"), max_lat.alias("max_lat"))


def layer_metrics(layers: list[dict], counters: dict,
                  session_start_s: float) -> dict:
    """Median over the traced jobs of each per-layer figure."""
    def med(layer: str, key: str) -> float:
        return statistics.median(l.get(layer, {}).get(key, 0) for l in layers)

    m = {"session.start_s": (session_start_s, "s")}
    for layer in ("cells", "assign", "spatial_join", "knn", "rollup", "mvt"):
        m[f"{layer}.s"] = (med(layer, "s"), "s")
        m[f"{layer}.jobs"] = (med(layer, "jobs"), "count")
        m[f"{layer}.tasks"] = (med(layer, "tasks"), "count")
        m[f"{layer}.failed_tasks"] = (med(layer, "failed_tasks"), "count")
    m["cells.points"] = (med("cells", "points"), "count")
    orphans = med("knn", "orphans")
    m["spatial_join.candidates"] = (counters["candidates"], "count")
    m["spatial_join.pip_hits"] = (counters["pip_hits"], "count")
    m["spatial_join.hit_ratio"] = (
        counters["pip_hits"] / max(counters["candidates"], 1), "ratio")
    m["knn.orphans"] = (orphans, "count")
    m["knn.halo_pairs"] = (counters["halo_pairs"], "count")
    m["knn.pairs_per_orphan"] = (counters["halo_pairs"] / max(orphans, 1),
                                 "ratio")
    m["knn.unmatched"] = (med("knn", "unmatched"), "count")
    m["mvt.tiles"] = (med("mvt", "tiles"), "count")
    m["mvt.bytes"] = (med("mvt", "bytes"), "bytes")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
