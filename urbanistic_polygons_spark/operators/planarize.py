"""J4: edge x edge planarization — split edges at proper segment
intersections so the barrier graph is planar before face extraction.

Reference: AddEdgeFlattened + Intersect
(Graphs/Barrier/TiledBarrierGraphExtensions.cs:39-137, :399-443) — there an
incremental R-tree-backed loop per added edge; here one declarative
spatial SELF-JOIN per round:

1. explode edges -> segments (consecutive point pairs incl. shape points)
   with bbox + covering cell;
2. equi-join segment pairs on cell, JVM bbox prefilter, key dedup;
3. vectorized proper-intersection solve (2x2 cross-product form) in one
   Arrow batch — proper only: endpoint touches are NOT intersections,
   matching NTS RobustLineIntersector's IsProper gate;
4. split both edges at their hit parameters (the G2 segmentation
   re-applied per row over the augmented point list);
5. iterate to fixpoint (OSM data is mostly pre-noded: <= 2 rounds),
   re-emitting only the edges that were split.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import cells as C
from ..plans.lineage import fixpoint
from .graph_build import bbox_of, edge_points, polyline, west_to_east

# an edge's identity inside the loop: its (way_id, seg) and, once split,
# the piece path inside that seg (one index per round that split it)
_KEY = ["way_id", "seg", "_piece"]


def _segments(edges: DataFrame) -> DataFrame:
    """One row per consecutive point pair, with bbox + covering cell."""
    pts = edges.withColumn("pts", edge_points())
    segs = (
        pts.select(
            *_KEY,
            F.expr("""
              transform(sequence(0, size(pts) - 2), i -> struct(
                pts[i].ord AS aord, pts[i].lon AS ax, pts[i].lat AS ay,
                pts[i+1].ord AS bord, pts[i+1].lon AS bx, pts[i+1].lat AS by))
            """).alias("segs"))
        .select(*_KEY, F.explode("segs").alias("s"))
        .select(*_KEY, "s.*")
    )
    segs = segs.withColumns({
        "minx": F.least("ax", "bx"), "maxx": F.greatest("ax", "bx"),
        "miny": F.least("ay", "by"), "maxy": F.greatest("ay", "by"),
    })
    # covering cells of the segment bbox (segments are short: usually 1)
    return segs.withColumn(
        "cell_id",
        F.explode(F.flatten(F.transform(
            F.sequence(C.tile_y(F.col("maxy")), C.tile_y(F.col("miny"))),
            lambda cy: F.transform(
                F.sequence(C.tile_x(F.col("minx")), C.tile_x(F.col("maxx"))),
                lambda cx: cy * F.lit(1 << 14) + cx)))))


_HIT_SCHEMA = T.StructType([
    T.StructField("t1", T.DoubleType()), T.StructField("t2", T.DoubleType()),
    T.StructField("x", T.DoubleType()), T.StructField("y", T.DoubleType()),
    T.StructField("hit", T.BooleanType()),
])


@F.pandas_udf(_HIT_SCHEMA)
def _proper_intersection(ax1: pd.Series, ay1: pd.Series, bx1: pd.Series, by1: pd.Series,
                         ax2: pd.Series, ay2: pd.Series, bx2: pd.Series, by2: pd.Series
                         ) -> pd.DataFrame:
    """Vectorized segment-pair proper intersection (strictly interior to
    both segments), NumPy over the whole Arrow batch."""
    p = np.stack([ax1, ay1], 1)
    r = np.stack([bx1, by1], 1) - p
    q = np.stack([ax2, ay2], 1)
    s = np.stack([bx2, by2], 1) - q
    denom = r[:, 0] * s[:, 1] - r[:, 1] * s[:, 0]
    qp = q - p
    with np.errstate(divide="ignore", invalid="ignore"):
        t = (qp[:, 0] * s[:, 1] - qp[:, 1] * s[:, 0]) / denom
        u = (qp[:, 0] * r[:, 1] - qp[:, 1] * r[:, 0]) / denom
    eps = 1e-12
    hit = (np.abs(denom) > eps) & (t > eps) & (t < 1 - eps) & (u > eps) & (u < 1 - eps)
    x = p[:, 0] + t * r[:, 0]
    y = p[:, 1] + t * r[:, 1]
    return pd.DataFrame({"t1": t, "t2": u, "x": x, "y": y, "hit": hit})


def find_intersections(edges: DataFrame) -> DataFrame:
    """(way_id, seg, _piece, ord double, lon, lat) split points from
    proper intersections between segments of DIFFERENT edges."""
    # materialize once: the cell-keyed SELF-join would otherwise recompute
    # the explode/window segment pipeline for each side (self-joins
    # re-execute their subtree per side — repo rule)
    segs = _segments(edges).localCheckpoint(eager=False)
    def pfx(df, p):
        return df.select([F.col(c).alias(f"{p}{c}") if c != "cell_id" else F.col(c)
                          for c in df.columns])
    l = pfx(segs, "l_")
    r = pfx(segs, "r_")
    lkey = [f"l_{k}" for k in _KEY]
    rkey = [f"r_{k}" for k in _KEY]
    pairs = (
        l.join(r, "cell_id")
        .filter(F.struct(*lkey) < F.struct(*rkey))
        .filter((F.col("l_minx") <= F.col("r_maxx"))
                & (F.col("l_maxx") >= F.col("r_minx"))
                & (F.col("l_miny") <= F.col("r_maxy"))
                & (F.col("l_maxy") >= F.col("r_miny")))
        .dropDuplicates([*lkey, "l_aord", *rkey, "r_aord"])
    )
    hits = pairs.withColumn(
        "ix", _proper_intersection(
            F.col("l_ax"), F.col("l_ay"), F.col("l_bx"), F.col("l_by"),
            F.col("r_ax"), F.col("r_ay"), F.col("r_bx"), F.col("r_by")),
    ).filter(F.col("ix.hit"))

    def side_pts(p, t):
        aord, bord = F.col(f"{p}aord"), F.col(f"{p}bord")
        return hits.select(
            *[F.col(f"{p}{k}").alias(k) for k in _KEY],
            (aord + F.col(t) * (bord - aord)).alias("ord"),
            F.col("ix.x").alias("lon"), F.col("ix.y").alias("lat"))
    return (side_pts("l_", "ix.t1").unionByName(side_pts("r_", "ix.t2"))
            .dropDuplicates([*_KEY, "ord"]))


def split_edges_at(edges: DataFrame, splits: DataFrame) -> DataFrame:
    """Rebuild every edge that has points in ``splits`` (way_id, seg,
    _piece, ord, lon, lat) with them inserted as new vertices, flagged
    ``_changed``; every other edge keeps its row, unflagged.

    The G2 segmentation, done per row: each edge's split points arrive
    as one list, the augmented point list is sorted by ``ord``, its ends
    and split points are the vertices, and piece ``j`` runs from vertex
    ``j`` to vertex ``j + 1`` — one projection and one explode.  A piece
    keeps every column of its edge but the geometry (standardized west ->
    east, bbox recomputed) and appends ``j`` to ``_piece``."""
    cols = edges.columns
    cuts = splits.groupBy(*_KEY).agg(F.collect_list(F.struct(
        "ord", "lon", "lat", F.lit(True).alias("cut"))).alias("cuts"))
    aug = edges.join(cuts, _KEY, "left").withColumn(
        "aug", F.when(F.col("cuts").isNotNull(), F.array_sort(F.concat(
            F.transform(edge_points(), lambda p: p.withField("cut", F.lit(False))),
            F.col("cuts")))))
    aug = aug.withColumn("vidx", F.expr(
        "filter(sequence(0, size(aug) - 1),"
        " i -> aug[i].cut OR i IN (0, size(aug) - 1))"))
    pieces = aug.select(*cols, F.posexplode_outer(F.when(
        F.col("cuts").isNotNull(), F.expr(
            "transform(sequence(0, size(vidx) - 2),"
            " j -> slice(aug, vidx[j] + 1, vidx[j + 1] - vidx[j] + 1))")))
        .alias("j", "p"))
    # an unsplit edge (p null) passes through unchanged; a piece is
    # oriented west -> east (an unsplit vertical edge keeps its direction)
    split = F.col("p").isNotNull()
    pieces = pieces.withColumns(polyline("p"))
    rewritten = {**west_to_east(), **bbox_of("p"),
                 "_piece": F.concat("_piece", F.array("j"))}
    return pieces.select(*[
        F.when(split, rewritten[c]).otherwise(F.col(c)).alias(c)
        if c in rewritten else c for c in cols], split.alias("_changed"))


def planarize(edges: DataFrame, max_rounds: int = 3) -> DataFrame:
    """Iterate find-intersections / split until planar (bounded rounds).

    ``edges`` are barrier-edge rows as ``split_ways_to_edges`` emits them:
    ``(way_id, seg, v1_lon..v2_lat, shape_pts, min_lon..max_lat)`` plus
    any columns (``tag_sig``) that pass through.  Each round
    (``plans.lineage.fixpoint``) is one cell-keyed self-join — no
    driver-side geometry — that rewrites only the edges with split points
    (flagged ``_changed``); every other edge keeps its row and
    orientation.  The loop stops on the first round that splits nothing,
    so pre-noded input costs one round.  Last, ``seg`` is renumbered
    densely per way in point order (parent ``seg``, then piece), so a way
    with no split keeps its numbering."""
    # the first round reads its input twice (intersection self-join and
    # split join): derive it once
    start = edges.withColumn(
        "_piece", F.array().cast("array<int>")).localCheckpoint(eager=False)
    flat = fixpoint(lambda cur: split_edges_at(cur.drop("_changed"),
                                               find_intersections(cur)),
                    start, max_rounds, "planarize")
    w = Window.partitionBy("way_id").orderBy("seg", "_piece")
    return flat.withColumn("seg", F.row_number().over(w) - 1).drop("_piece")
