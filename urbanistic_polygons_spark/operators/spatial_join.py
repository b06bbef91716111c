"""The flagship operator: document geo-span -> polygon assignment.

Pipeline shape (BASELINE.json north_star):
    cell-index encode -> tiled candidate join (broadcast polygon index)
    -> vectorized point-in-polygon refine -> deterministic assignment
    -> kNN snap for orphans (operators/knn.py)

Scale design:
- the polygon index is the SMALL side (urban boundaries), exploded per
  covering cell and broadcast — no shuffle of the 10^12-doc side for the
  candidate join (reference analog: the per-tile landuse polygon fetch,
  Landuse/LandusePolygons.cs:15-45);
- the doc side is salted-repartitioned on cell prefix before any grouped
  work so hot urban-core cells spread over many tasks (north_rule);
- bbox prefilter runs JVM-side (whole-stage codegen) before the Arrow
  batch PIP refine (reference filter-refine,
  Landuse/TiledBarrierGraphExtensions.cs:45);
- the exact PIP is the reference's W->E ray-cast (PointInPolygon.cs:27-87)
  vectorized in NumPy over Arrow batches, grouped by ring within each batch
  so each ring is parsed once per batch.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import kernels
from ..functions import cells as C


def extract_geo_points(documents: DataFrame) -> DataFrame:
    """documents(doc_id, spans) -> (doc_id, span_idx, lon, lat, cell_id).

    Pure JVM-side: posexplode + string split + cast; the geometry-bearing
    span format is "lon,lat" (input_hint).  Docs can carry several geo
    spans; each becomes a point.
    """
    pts = (
        documents
        .select("doc_id", F.posexplode("spans").alias("span_idx", "span"))
        .filter(F.col("span.kind") == "geo")
        .select(
            "doc_id", "span_idx",
            F.split(F.col("span.text"), ",").getItem(0).cast("double").alias("lon"),
            F.split(F.col("span.text"), ",").getItem(1).cast("double").alias("lat"),
        )
        .filter(F.col("lon").isNotNull() & F.col("lat").isNotNull())
    )
    return pts.withColumn("cell_id", C.cell_id(F.col("lon"), F.col("lat")))


def explode_polygon_cells(polygons: DataFrame) -> DataFrame:
    """polygon rows -> one row per (cell_id, polygon): the tiled polygon
    index, the broadcast side of the hot join."""
    return polygons.select(
        F.explode("cells").alias("cell_id"),
        "polygon_guid", "ring",
        "min_lon", "min_lat", "max_lon", "max_lat",
    )


@F.pandas_udf(T.BooleanType())
def pip_udf(ring: pd.Series, px: pd.Series, py: pd.Series) -> pd.Series:
    """Vectorized ray-cast PIP over an Arrow batch.

    Rows are grouped by ring string so each ring parses once per batch and
    all its points test in one NumPy call (reference PointInPolygon.cs:27-87
    semantics, W->E ray, even-odd rule).

    Null-safe: ``pd.factorize`` maps null rings to code -1 (excluded from
    uniques), so rows from an unmatched LEFT join return False — the
    single-pass ``assign_documents`` path depends on this.
    """
    out = np.zeros(len(ring), dtype=bool)
    if len(ring) == 0:
        return pd.Series(out)
    pxv = px.to_numpy(dtype=np.float64)
    pyv = py.to_numpy(dtype=np.float64)
    codes, uniques = pd.factorize(ring)
    for code, rs in enumerate(uniques):
        idx = np.nonzero(codes == code)[0]
        pts = np.array([p.split() for p in rs.split(";")], dtype=np.float64)
        rx, ry = pts[:-1, 0], pts[:-1, 1]  # drop closing dup
        out[idx] = kernels.points_in_polygon(pxv[idx], pyv[idx], rx, ry)
    return pd.Series(out)


def assign_documents(documents: DataFrame, polygons: DataFrame,
                     knn_rings: int = 3,
                     points: DataFrame | None = None) -> DataFrame:
    """Full flagship pipeline: extract -> candidate join -> PIP -> kNN snap
    for orphans.  Returns (doc_id, span_idx, cell_id, polygon_guid, method);
    method in ('pip', 'knn', 'none').

    Single-pass: one LEFT broadcast join with the bbox prefilter in the
    join condition (JVM-side), PIP refine inside the per-point min
    aggregation, and the tiny per-point result localCheckpointed so the
    pip/orphan branches both read the materialized result instead of
    re-executing the candidate-join + Arrow-PIP subtree (broadcast joins
    end in no exchange, so ReuseExchange can never dedupe them — the
    round-1 plan ran the PIP pipeline twice).

    ``points`` lets a staged pipeline feed an already-checkpointed
    (doc_id, span_idx, lon, lat, cell_id) table so resume skips the
    extract stage; by default points derive from ``documents``."""
    from .knn import knn_snap  # local import to avoid cycle

    if points is None:
        points = extract_geo_points(documents)
    else:
        points = points.select("doc_id", "span_idx", "lon", "lat", "cell_id")
    index = (explode_polygon_cells(polygons)
             .withColumnRenamed("cell_id", "i_cell"))
    cand = points.join(
        F.broadcast(index),
        (F.col("cell_id") == F.col("i_cell"))
        & (F.col("lon") >= F.col("min_lon")) & (F.col("lon") <= F.col("max_lon"))
        & (F.col("lat") >= F.col("min_lat")) & (F.col("lat") <= F.col("max_lat")),
        "left")
    # exact refine: unmatched left rows carry a null ring -> pip_udf False
    hit = F.when(pip_udf(F.col("ring"), F.col("lon"), F.col("lat")),
                 F.col("polygon_guid"))
    per_point = (
        cand.withColumn("g", hit)
        .groupBy("doc_id", "span_idx", "cell_id", "lon", "lat")
        .agg(F.min("g").alias("polygon_guid"))
        .localCheckpoint(eager=False))
    pip = (per_point.filter(F.col("polygon_guid").isNotNull())
           .withColumn("method", F.lit("pip")))
    orphans = per_point.filter(F.col("polygon_guid").isNull()).drop("polygon_guid")
    snapped = knn_snap(orphans, polygons, max_ring=knn_rings)
    out_cols = ["doc_id", "span_idx", "cell_id", "lon", "lat",
                "polygon_guid", "method"]
    return pip.select(*out_cols).unionByName(snapped.select(*out_cols))
