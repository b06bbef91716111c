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
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import cells as C
from ..plans.lineage import fixpoint

_EDGE_COLS = ["edge_key", "v1_lon", "v1_lat", "v2_lon", "v2_lat", "shape_pts"]


def _points() -> F.Column:
    """edge -> ordered point list array<struct<ord double, lon, lat>>."""
    mids = F.when(
        F.col("shape_pts").isNotNull() & (F.col("shape_pts") != ""),
        F.transform(
            F.split("shape_pts", ";"),
            lambda p, i: F.struct(
                (i + 1).cast("double").alias("ord"),
                F.split(p, " ").getItem(0).cast("double").alias("lon"),
                F.split(p, " ").getItem(1).cast("double").alias("lat")))
    ).otherwise(F.array())
    head = F.array(F.struct(F.lit(0.0).alias("ord"),
                            F.col("v1_lon").alias("lon"),
                            F.col("v1_lat").alias("lat")))
    npts = F.size(mids) + 1
    tail = F.array(F.struct(npts.cast("double").alias("ord"),
                            F.col("v2_lon").alias("lon"),
                            F.col("v2_lat").alias("lat")))
    return F.concat(head, mids, tail)


def _segments(edges: DataFrame) -> DataFrame:
    """One row per consecutive point pair, with bbox + covering cell."""
    pts = edges.withColumn("pts", _points())
    segs = (
        pts.select(
            "edge_key",
            F.expr("""
              transform(sequence(0, size(pts) - 2), i -> struct(
                pts[i].ord AS aord, pts[i].lon AS ax, pts[i].lat AS ay,
                pts[i+1].ord AS bord, pts[i+1].lon AS bx, pts[i+1].lat AS by))
            """).alias("segs"))
        .select("edge_key", F.explode("segs").alias("s"))
        .select("edge_key", "s.*")
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
    """(edge_key, ord double, lon, lat) split points from proper
    intersections between segments of DIFFERENT edges."""
    # materialize once: the cell-keyed SELF-join would otherwise recompute
    # the explode/window segment pipeline for each side (self-joins
    # re-execute their subtree per side — repo rule)
    segs = _segments(edges).localCheckpoint(eager=False)
    def pfx(df, p):
        return df.select([F.col(c).alias(f"{p}{c}") if c != "cell_id" else F.col(c)
                          for c in df.columns])
    l = pfx(segs, "l_")
    r = pfx(segs, "r_")
    pairs = (
        l.join(r, "cell_id")
        .filter(F.col("l_edge_key") < F.col("r_edge_key"))
        .filter((F.col("l_minx") <= F.col("r_maxx"))
                & (F.col("l_maxx") >= F.col("r_minx"))
                & (F.col("l_miny") <= F.col("r_maxy"))
                & (F.col("l_maxy") >= F.col("r_miny")))
        .dropDuplicates(["l_edge_key", "l_aord", "r_edge_key", "r_aord"])
    )
    hits = pairs.withColumn(
        "ix", _proper_intersection(
            F.col("l_ax"), F.col("l_ay"), F.col("l_bx"), F.col("l_by"),
            F.col("r_ax"), F.col("r_ay"), F.col("r_bx"), F.col("r_by")),
    ).filter(F.col("ix.hit"))
    left_pts = hits.select(
        F.col("l_edge_key").alias("edge_key"),
        (F.col("l_aord") + F.col("ix.t1") * (F.col("l_bord") - F.col("l_aord"))).alias("ord"),
        F.col("ix.x").alias("lon"), F.col("ix.y").alias("lat"))
    right_pts = hits.select(
        F.col("r_edge_key").alias("edge_key"),
        (F.col("r_aord") + F.col("ix.t2") * (F.col("r_bord") - F.col("r_aord"))).alias("ord"),
        F.col("ix.x").alias("lon"), F.col("ix.y").alias("lat"))
    return left_pts.unionByName(right_pts).dropDuplicates(["edge_key", "ord"])


def split_edges_at(edges: DataFrame, splits: DataFrame) -> DataFrame:
    """Rebuild every edge that has points in ``splits`` (edge_key, ord,
    lon, lat) with them inserted as new vertices, flagged ``_changed``;
    every other edge keeps its row, unflagged.

    The G2 segmentation, done per row: each edge's split points arrive
    as one list, the augmented point list is sorted by ``ord``, its ends
    and split points are the vertices, and piece ``seg`` runs from vertex
    ``seg`` to vertex ``seg + 1`` — one projection and one explode."""
    cuts = splits.groupBy("edge_key").agg(F.collect_list(F.struct(
        "ord", "lon", "lat", F.lit(True).alias("cut"))).alias("cuts"))
    aug = edges.join(cuts, "edge_key", "left").withColumn(
        "aug", F.when(F.col("cuts").isNotNull(), F.array_sort(F.concat(
            F.transform(_points(), lambda p: p.withField("cut", F.lit(False))),
            F.col("cuts")))))
    aug = aug.withColumn("vidx", F.expr(
        "filter(sequence(0, size(aug) - 1),"
        " i -> aug[i].cut OR i IN (0, size(aug) - 1))"))
    pieces = aug.select(*_EDGE_COLS, F.posexplode_outer(F.when(
        F.col("cuts").isNotNull(), F.expr(
            "transform(sequence(0, size(vidx) - 2),"
            " j -> slice(aug, vidx[j] + 1, vidx[j + 1] - vidx[j] + 1))")))
        .alias("seg", "p"))
    # an unsplit edge (p null) passes through as piece a -> b = v1 -> v2
    kept = F.col("p").isNull()
    mids = F.slice("p", 2, F.greatest(F.size("p") - 2, F.lit(0)))
    pieces = pieces.select(
        F.concat_ws("#", "edge_key", "seg").alias("edge_key"),
        F.coalesce(F.col("p")[0]["lon"], "v1_lon").alias("a_lon"),
        F.coalesce(F.col("p")[0]["lat"], "v1_lat").alias("a_lat"),
        F.coalesce(F.element_at("p", -1)["lon"], "v2_lon").alias("b_lon"),
        F.coalesce(F.element_at("p", -1)["lat"], "v2_lat").alias("b_lat"),
        F.when(kept, F.col("shape_pts")).otherwise(F.concat_ws(";", F.transform(
            mids, lambda p: F.format_string("%.9f %.9f", p["lon"], p["lat"]))))
        .alias("mid"),
        (~kept).alias("_changed"))
    # a rewritten piece is oriented west -> east; an unsplit edge keeps
    # its orientation (the strict test would flip a vertical one)
    fwd = ~F.col("_changed") | (F.col("a_lon") < F.col("b_lon"))
    rev = F.concat_ws(";", F.reverse(F.split(F.col("mid"), ";")))
    return pieces.select(
        "edge_key",
        F.when(fwd, F.col("a_lon")).otherwise(F.col("b_lon")).alias("v1_lon"),
        F.when(fwd, F.col("a_lat")).otherwise(F.col("b_lat")).alias("v1_lat"),
        F.when(fwd, F.col("b_lon")).otherwise(F.col("a_lon")).alias("v2_lon"),
        F.when(fwd, F.col("b_lat")).otherwise(F.col("a_lat")).alias("v2_lat"),
        F.when(F.col("mid") == "", F.lit(None)).otherwise(
            F.when(fwd, F.col("mid")).otherwise(rev)).alias("shape_pts"),
        "_changed")


def planarize(edges: DataFrame, max_rounds: int = 3) -> DataFrame:
    """Iterate find-intersections / split until planar (bounded rounds).

    ``edges`` columns: edge_key string + endpoint/shape columns as in
    graph_build output.  Each round (``plans.lineage.fixpoint``) is one
    cell-keyed self-join — no driver-side geometry — that rewrites only
    the edges with split points (flagged ``_changed``); every other edge
    keeps its row, key and orientation.  The loop stops on the first
    round that splits nothing, so pre-noded input costs one round and
    comes back as it went in."""
    return fixpoint(lambda cur: split_edges_at(cur, find_intersections(cur)),
                    edges, max_rounds, "planarize")
