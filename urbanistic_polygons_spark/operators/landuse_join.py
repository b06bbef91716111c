"""J2: the face x landuse area-overlap spatial join + A1 aggregation + A2
dominant type — the reference's flagship join
(Landuse/TiledBarrierGraphExtensions.cs:15-101).

Spark plan shape:
1. both sides tagged with covering cell_ids (explode) — the coarse filter;
2. equi-join on cell_id with the landuse side BROADCAST (it is the tiled
   polygon index, the small side per north_rule), pair-dedup'd;
3. bbox prefilter JVM-side (the reference's EnvelopeInternal.Intersects);
4. exact overlap ratio in one Arrow-batched pandas UDF using the pure-NumPy
   GENERAL intersection kernel (ear-clip triangulation + per-triangle
   Sutherland-Hodgman — handles concave x concave, matching the
   reference's NTS Intersection().Area);
5. groupBy(face).sum per landuse type (A1, map-side partial agg) and a
   struct-min argmax aggregation for the dominant type (A2,
   TileController.cs:91-117) — no window sort.

Invalid-geometry tolerance: the clip kernel never throws; degenerate
results contribute 0 like the reference's catch block (:74-83).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import kernels
from ..functions import cells as C


def _parse_ring(s: str) -> np.ndarray:
    pts = np.array([p.split() for p in s.split(";")], dtype=np.float64)
    if len(pts) > 1 and (pts[0] == pts[-1]).all():
        pts = pts[:-1]
    return pts


@F.pandas_udf(T.DoubleType())
def overlap_ratio_udf(face_ring: pd.Series, lu_ring: pd.Series) -> pd.Series:
    """intersection_area(face, landuse) / face_area per candidate pair,
    vectorized per Arrow batch with per-ring parse caching."""
    cache: dict[str, np.ndarray] = {}

    def ring(s: str) -> np.ndarray:
        if s not in cache:
            cache[s] = _parse_ring(s)
        return cache[s]

    out = np.zeros(len(face_ring))
    for i, (fs, ls) in enumerate(zip(face_ring, lu_ring)):
        f = ring(fs)
        l = ring(ls)
        fa = kernels.polygon_area(f[:, 0], f[:, 1])
        if fa <= 0:
            continue
        # exact general intersection (concave x concave): ear-clip the
        # landuse ring, Sutherland-Hodgman per triangle, sum — replaces the
        # convex-only path that silently under/over-counted concave landuse
        # (reference NTS Intersection().Area semantics,
        # Landuse/TiledBarrierGraphExtensions.cs:58-72)
        inter = kernels.polygon_intersection_area(
            f[:, 0], f[:, 1], l[:, 0], l[:, 1])
        out[i] = min(inter / fa, 1.0)
    return pd.Series(out)


def _with_cells(df: DataFrame) -> DataFrame:
    """Explode bbox cover into cell_id rows (JVM-side sequence/transform)."""
    return df.withColumn(
        "cell_id",
        F.explode(F.flatten(F.transform(
            F.sequence(C.tile_y(F.col("max_lat")), C.tile_y(F.col("min_lat"))),
            lambda cy: F.transform(
                F.sequence(C.tile_x(F.col("min_lon")), C.tile_x(F.col("max_lon"))),
                lambda cx: cy * F.lit(1 << 14) + cx)))))


def landuse_rings(nodes: DataFrame, landuse_ways: DataFrame) -> DataFrame:
    """S8: classified landuse ways (way_id, cls, nodes) -> the landuse
    polygon layer (lu_id, cls, ring, min_lon..max_lat) assign_landuse
    joins against.

    cls rides the explode + groupBy shuffle (FIRST per way) instead of a
    second way-keyed join-back — there is ONE row per landuse way, the
    same cardinality as the rings, so a join here is an avoidable
    full-width shuffle at scale."""
    pts = (landuse_ways.select("way_id", "cls",
                               F.posexplode("nodes").alias("pos", "node_id"))
           .join(nodes.select("node_id", "lon", "lat"), "node_id"))
    return (
        pts.groupBy("way_id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "lon", "lat"))).alias("p"),
             F.first("cls").alias("cls"))
        .select(
            F.col("way_id").alias("lu_id"),
            "cls",
            F.concat_ws(";", F.transform(
                "p", lambda q: F.format_string("%.9f %.9f", q["lon"], q["lat"]))).alias("ring"),
            F.array_min(F.transform("p", lambda q: q["lon"])).alias("min_lon"),
            F.array_min(F.transform("p", lambda q: q["lat"])).alias("min_lat"),
            F.array_max(F.transform("p", lambda q: q["lon"])).alias("max_lon"),
            F.array_max(F.transform("p", lambda q: q["lat"])).alias("max_lat"),
        )
    )


def assign_landuse(faces: DataFrame, landuse: DataFrame) -> DataFrame:
    """faces(face_guid, ring, min_lon..max_lat) x landuse(lu_id, cls, ring,
    min_lon..max_lat) -> (face_guid, cls, pct) rows; pct = summed overlap
    ratio per type (reference types[type] += percentage, :85-91)."""
    f = _with_cells(faces).select(
        "cell_id", "face_guid", F.col("ring").alias("f_ring"),
        F.col("min_lon").alias("f_minx"), F.col("min_lat").alias("f_miny"),
        F.col("max_lon").alias("f_maxx"), F.col("max_lat").alias("f_maxy"))
    l = _with_cells(landuse).select(
        "cell_id", "lu_id", "cls", F.col("ring").alias("l_ring"),
        F.col("min_lon").alias("l_minx"), F.col("min_lat").alias("l_miny"),
        F.col("max_lon").alias("l_maxx"), F.col("max_lat").alias("l_maxy"))
    pairs = (
        f.join(F.broadcast(l), "cell_id")
        # bbox prefilter, JVM-side (reference envelope pre-test :45)
        .filter((F.col("f_minx") <= F.col("l_maxx"))
                & (F.col("f_maxx") >= F.col("l_minx"))
                & (F.col("f_miny") <= F.col("l_maxy"))
                & (F.col("f_maxy") >= F.col("l_miny")))
        # pair-dedup WITHOUT a shuffle (r3 verdict item 6 — this was a
        # dropDuplicates = exchange + sort-agg over every candidate pair):
        # a pair meets once per shared covering cell, so keep only the
        # CANONICAL meeting cell — the cell of the bbox-intersection's
        # top-left corner (greatest min_lon, least max_lat), which both
        # covers contain by construction whenever the bboxes overlap
        .filter(F.col("cell_id")
                == C.tile_y(F.least("f_maxy", "l_maxy")) * F.lit(1 << 14)
                + C.tile_x(F.greatest("f_minx", "l_minx")))
    )
    scored = pairs.withColumn(
        "pct", overlap_ratio_udf(F.col("f_ring"), F.col("l_ring")))
    # filter AFTER the aggregation: a pre-agg pct>0 filter makes Catalyst
    # evaluate the Arrow UDF TWICE (once for the Filter, once for the
    # projection — Python UDFs are not CSE'd across them, measured in the
    # executed plan); zero rows contribute nothing to the sums, and
    # all-zero groups are dropped by the post-agg filter identically
    return (scored.groupBy("face_guid", "cls")
            .agg(F.sum("pct").alias("pct"))
            .filter(F.col("pct") > 0))


def landuse_map(face_landuse: DataFrame) -> DataFrame:
    """(face_guid, landuse map<string,double>) — the face attribute column
    (reference LanduseAttributes)."""
    return (face_landuse.groupBy("face_guid")
            .agg(F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("cls", "pct"))))
                .alias("landuse")))


def dominant_type(face_landuse: DataFrame) -> DataFrame:
    """A2: max-pct type per face (reference TileController.cs:91-117),
    deterministic tie-break on class name.

    Argmax as ONE aggregation — min over the struct (-pct, cls) — instead
    of a row_number window (r3 verdict item 6): both phases stay
    partial-aggregable map-side (the window sorted every (face, cls) row
    inside an extra exchange+sort).  Double negation is an exact IEEE
    sign-bit flip, so dominant_pct round-trips bit-for-bit."""
    best = face_landuse.groupBy("face_guid").agg(
        F.min(F.struct((-F.col("pct")).alias("negpct"),
                       F.col("cls").alias("cls"))).alias("b"))
    return best.select("face_guid", F.col("b.cls").alias("dominant_cls"),
                       (-F.col("b.negpct")).alias("dominant_pct"))
