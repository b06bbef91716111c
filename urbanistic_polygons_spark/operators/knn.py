"""kNN orphan snap (SURVEY.md J6, a north_star extension over the reference).

Points whose cell-grid candidate join found no containing polygon snap to
the nearest polygon centroid within a ``max_ring`` cell halo.  The nearest
is the minimum of (tier, equirectangular distance rounded to micrometres,
polygon_guid), where tier = max(1, Chebyshev ring): the first non-empty
block of the reference's expand-until-found probe (own cell + ring 1, then
ring 2, ...) wins, and inside it the nearest centroid.

Plan: one pass.  Each orphan explodes its whole ring-tagged halo, LEFT
joins one broadcast of the per-cell centroid index and keeps the minimum
key in one aggregate; an orphan whose halo holds no centroid keeps a null
key and comes out with method='none'.  Cost is O(orphans x halo) plus one
shuffle of the halo pairs, never O(points x polygons).

Distance kernel: reference Geo/GeoExtensions.cs:208-222
(DistanceEstimateInMeter); nearest-probe analog: Geo/RTree.cs:84-89.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import cells as C
from ..functions import rings

EARTH_RADIUS_M = 6371000.0


def _distance_m(lon1, lat1, lon2, lat2):
    """Equirectangular distance as a pure Column expression (JVM-side)."""
    x = (F.radians(lon2) - F.radians(lon1)) * F.cos((F.radians(lat1) + F.radians(lat2)) / 2)
    y = F.radians(lat2) - F.radians(lat1)
    return F.sqrt(x * x + y * y) * F.lit(EARTH_RADIUS_M)


def polygon_centroids(polygons: DataFrame) -> DataFrame:
    """(polygon_guid, poly_cell [one row per covering cell], c_lon, c_lat):
    centroid = mean of ring vertices (closing dup excluded), computed once
    per polygon with higher-order array functions before the cells are
    exploded, so the interpreted ring parse runs once per polygon."""
    pts = polygons.select("polygon_guid", "cells",
                          rings.points("ring").alias("p"))
    n = F.size("p") - 1  # closing dup excluded
    mean = lambda f: F.aggregate(  # noqa: E731
        F.slice("p", 1, n), F.lit(0.0), lambda a, q: a + q[f]) / n
    return pts.select(
        "polygon_guid", "cells",
        mean("lon").alias("c_lon"), mean("lat").alias("c_lat"),
    ).select("polygon_guid", F.explode("cells").alias("poly_cell"),
             "c_lon", "c_lat")


def knn_snap(orphans: DataFrame, polygons: DataFrame, k: int = 1,
             max_ring: int = 3) -> DataFrame:
    """Snap each orphan point to its nearest polygon within ``max_ring``
    cell halos.  Returns (doc_id, span_idx, cell_id, lon, lat, polygon_guid,
    method) with method='knn', or method='none' and a null guid when no
    halo cell holds a centroid.  ``k`` is kept for callers; only the
    nearest polygon is returned."""
    pts = ["doc_id", "span_idx", "cell_id", "lon", "lat"]
    halo = orphans.select(
        *pts, F.explode_outer(C.neighbor_cells_ringed(
            F.col("cell_id"), max_ring=max_ring)).alias("h"))
    cand = halo.join(F.broadcast(polygon_centroids(polygons)),
                     F.col("h.cell") == F.col("poly_cell"), "left")
    # keyed on the join match, not on the guid: a matched polygon with a
    # null guid still snaps (method='knn'); the micrometre rounding makes
    # the key partition-invariant
    key = F.when(F.col("poly_cell").isNotNull(), F.struct(
        F.greatest(F.lit(1), F.col("h.ring")).alias("r"),
        F.round(_distance_m(F.col("lon"), F.col("lat"),
                            F.col("c_lon"), F.col("c_lat")), 6).alias("d"),
        F.col("polygon_guid").alias("g")))
    return (cand.groupBy(*pts).agg(F.min(key).alias("best"))
            .select(*pts, F.col("best.g").alias("polygon_guid"),
                    F.when(F.col("best").isNull(), F.lit("none"))
                    .otherwise(F.lit("knn")).alias("method")))
