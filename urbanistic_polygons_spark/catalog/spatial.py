"""Geospatial core over the integer micro space (PIP, bbox, knn, halo, pyramid, quantile/salt aggs)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ._shared import (
    PIP_JOIN,
    PTS,
    RECTS,
    _pip_hits,
    _pts_df,
    _rect_cells,
    _rects_df,
    _render,
    register_views,
)


def q_pip_assign_spark(spark, sf_dir):
    return (
        _pip_hits(spark, sf_dir)
        .groupBy("point_id", "cell_id")
        .agg(F.min("poly_id").alias("polygon_id"))
    )


_PIP_ASSIGN_SQL = _render(f"""
WITH {PTS}, {RECTS}, {PIP_JOIN}
SELECT point_id, cell_id, MIN(poly_id) AS polygon_id
FROM hits GROUP BY point_id, cell_id""", "duckdb")


def q_bbox_join_spark(spark, sf_dir):
    return (
        _pip_hits(spark, sf_dir)
        .groupBy("poly_id")
        .agg(F.count("*").alias("n_points"),
             F.sum("weight_cents").alias("sum_weight_cents"))
    )


_BBOX_JOIN_SQL = _render(f"""
WITH {PTS}, {RECTS}, {PIP_JOIN}
SELECT poly_id, COUNT(*) AS n_points,
       CAST(SUM(weight_cents) AS BIGINT) AS sum_weight_cents
FROM hits GROUP BY poly_id""", "duckdb")


def q_landuse_agg_spark(spark, sf_dir):
    return (
        _pip_hits(spark, sf_dir)
        .groupBy("cell_id", "cls")
        .agg(F.sum("weight_cents").alias("sum_weight_cents"),
             F.count("*").alias("n_points"))
    )


_LANDUSE_AGG_SQL = _render(f"""
WITH {PTS}, {RECTS}, {PIP_JOIN}
SELECT cell_id, cls, CAST(SUM(weight_cents) AS BIGINT) AS sum_weight_cents,
       COUNT(*) AS n_points
FROM hits GROUP BY cell_id, cls""", "duckdb")


def q_tile_assign_spark(spark, sf_dir):
    """A2 dominant type per cell: argmax(n) with asc-cls tie-break as ONE
    aggregation — min over the struct (-n, cls) — instead of a window
    row_number, which would sort every (cell, cls) row; both phases stay
    partial-aggregable map-side."""
    counts = (_pip_hits(spark, sf_dir)
              .groupBy("cell_id", "cls").agg(F.count("*").alias("n")))
    best = counts.groupBy("cell_id").agg(
        F.min(F.struct((-F.col("n")).alias("negn"),
                       F.col("cls").alias("cls"))).alias("b"))
    return best.select("cell_id", F.col("b.cls").alias("dominant_cls"),
                       (-F.col("b.negn")).alias("n"))


_TILE_ASSIGN_SQL = _render(f"""
WITH {PTS}, {RECTS}, {PIP_JOIN},
c AS (SELECT cell_id, cls, COUNT(*) AS n FROM hits GROUP BY 1, 2)
SELECT cell_id, cls AS dominant_cls, n FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY cell_id ORDER BY n DESC, cls) AS rn
  FROM c
) WHERE rn = 1""", "duckdb")


def q_bbox_agg_spark(spark, sf_dir):
    return (
        _pip_hits(spark, sf_dir)
        .groupBy("poly_id")
        .agg(F.min("px").alias("min_px"), F.max("px").alias("max_px"),
             F.min("py").alias("min_py"), F.max("py").alias("max_py"),
             F.count("*").alias("n_points"))
    )


_BBOX_AGG_SQL = _render(f"""
WITH {PTS}, {RECTS}, {PIP_JOIN}
SELECT poly_id, MIN(px) AS min_px, MAX(px) AS max_px,
       MIN(py) AS min_py, MAX(py) AS max_py, COUNT(*) AS n_points
FROM hits GROUP BY poly_id""", "duckdb")


def q_landuse_rollup_spark(spark, sf_dir):
    """A1/A3 hierarchical rollup WITHOUT the oracle's theta join: the engine
    plan is the candidate cell equi-join + refine (`_pip_hits`, broadcast
    tiled index) feeding `rollup(cls, cell_y)` — Catalyst expands the
    grouping sets in a single Expand+HashAggregate, no nested-loop join.
    The O(points x rects) theta-join SQL remains oracle-only."""
    base = _pip_hits(spark, sf_dir).select(
        "cls", F.expr("cell_id DIV 16384").alias("cell_y"), "weight_cents")
    return (
        base.rollup("cls", "cell_y")
        .agg(F.count("*").alias("n_points"),
             F.sum("weight_cents").alias("sum_weight_cents"))
        .select(
            F.coalesce(F.col("cls"), F.lit("<all>")).alias("cls"),
            F.coalesce(F.col("cell_y").cast("string"),
                       F.lit("<all>")).alias("row_band"),
            "n_points", "sum_weight_cents"))


_LANDUSE_ROLLUP_SQL = _render(f"""
WITH {PTS}, {RECTS}, {PIP_JOIN}
SELECT COALESCE(cls, '<all>') AS cls,
       COALESCE(CAST(cell_y AS STRING), '<all>') AS row_band,
       COUNT(*) AS n_points,
       CAST(SUM(weight_cents) AS BIGINT) AS sum_weight_cents
FROM (SELECT cls, cell_id {{D}} 16384 AS cell_y, weight_cents FROM hits)
GROUP BY GROUPING SETS ((cls, cell_y), (cls), ())""", "duckdb")


def q_knn_snap_spark(spark, sf_dir):
    """Orphan points snapped to nearest rect: ring distance (cell Chebyshev
    to the rect's covering-cell range) then integer squared distance to the
    rect center, tie-break poly_id — broadcast join, no shuffle of points."""
    pts = _pts_df(spark, sf_dir)
    rects = _rects_df(spark, sf_dir)
    # single-pass orphan detection: LEFT broadcast join with the refine
    # predicates in the join condition — the PIP chain runs ONCE (a
    # separate matched-ids anti-join would execute the whole
    # candidate+refine subtree a second time; broadcast joins end in no
    # exchange, so ReuseExchange cannot dedupe them).  No aggregation is
    # needed to DETECT orphans: a left join emits its null-extended row
    # only when a point matched NOTHING, and exactly once — so a null
    # filter replaces what was the heaviest shuffle in the suite (a
    # groupBy over every point on the wide (point_id, cell_id, px, py)
    # key).
    # ONE broadcast index shared by both joins: identical subplans let
    # ReuseExchange dedupe the BroadcastExchange, so the rects scan +
    # covering-cell explode executes once instead of once per join.
    r = rects.withColumns({
        "cx": F.expr("(x0 + x1) DIV 2"),
        "cy": F.expr("(y0 + y1) DIV 2"),
    })
    index = _rect_cells(r).select(
        F.col("cell_id").alias("i_cell"), "poly_id",
        "x0", "x1", "y0", "y1", "cx", "cy")
    orphans = (
        pts.join(F.broadcast(index),
                 (F.col("cell_id") == F.col("i_cell"))
                 & (F.col("px") >= F.col("x0")) & (F.col("px") < F.col("x1"))
                 & (F.col("py") >= F.col("y0")) & (F.col("py") < F.col("y1")),
                 "left")
        .filter(F.col("poly_id").isNull())
        .select("point_id", "cell_id", "px", "py"))
    # ringed-halo equi-join, NOT a cross join: explode each orphan's 7x7
    # ring-tagged halo and equi-join the broadcast rect covering-cell
    # index on cell_id.  min(ring per matched cell) == Chebyshev distance
    # to the rect's covering-cell RANGE, so results are identical to the
    # O(orphans x rects) theta join the oracle SQL uses — but the work is
    # O(orphans x 49 x density), independent of the total rect count.
    from ..functions import cells as CELLS
    halo = orphans.select(
        "point_id", "cell_id", "px", "py",
        F.explode_outer(CELLS.neighbor_cells_ringed(
            F.col("cell_id"), max_ring=3)).alias("h"))
    cand = (halo.join(F.broadcast(index),
                      F.col("h.cell") == F.col("i_cell"))
            .drop("i_cell", "x0", "x1", "y0", "y1"))
    d2 = ((F.col("px") - F.col("cx")) * (F.col("px") - F.col("cx"))
          + (F.col("py") - F.col("cy")) * (F.col("py") - F.col("cy")))
    scored = cand.select(
        "point_id", "cell_id", "poly_id",
        F.col("h.ring").cast("long").alias("ring"), d2.alias("d2"))
    best = F.struct(F.col("ring"), F.col("d2"), F.col("poly_id").alias("p"))
    return (scored.withColumn("b", best)
            .groupBy("point_id", "cell_id")
            .agg(F.min("b").alias("b"))
            .select("point_id", "cell_id",
                    F.col("b.p").alias("polygon_id"),
                    F.col("b.ring").alias("ring"),
                    F.col("b.d2").alias("d2")))


_KNN_SNAP_SQL = _render(f"""
WITH {PTS}, {RECTS}, {PIP_JOIN},
orph AS (
  SELECT * FROM pts_cell
  WHERE point_id NOT IN (SELECT point_id FROM hits)
), r2 AS (
  SELECT *, x0 {{D}} 10000 + 8300 AS rcx0, x1 {{D}} 10000 + 8300 AS rcx1,
         y0 {{D}} 10000 + 5447 AS rcy0, y1 {{D}} 10000 + 5447 AS rcy1,
         (x0 + x1) {{D}} 2 AS cx, (y0 + y1) {{D}} 2 AS cy
  FROM rects
), scored AS (
  SELECT o.point_id, o.cell_id, r2.poly_id,
         GREATEST(GREATEST(0, rcx0 - o.cell_x, o.cell_x - rcx1),
                  GREATEST(0, rcy0 - o.cell_y, o.cell_y - rcy1)) AS ring,
         (o.px - cx) * (o.px - cx) + (o.py - cy) * (o.py - cy) AS d2
  FROM orph o CROSS JOIN r2
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY point_id
                               ORDER BY ring, d2, poly_id) AS rn
  FROM scored WHERE ring <= 3
)
SELECT point_id, cell_id, poly_id AS polygon_id, ring, d2
FROM ranked WHERE rn = 1""", "duckdb")


def q_overlap_area_spark(spark, sf_dir):
    """J2 area-overlap join in oracle-exact integer form: rect pairs that
    share a covering cell, refined to exact intersection AREA (the landuse
    percentage numerator, Landuse/TiledBarrierGraphExtensions.cs:40-91).

    Engine plan: explode both sides to covering cells, equi-join on
    cell_id (broadcast one side), dedup pairs that meet in several cells
    via groupBy, compute the exact integer overlap.  The oracle is the
    O(n^2) theta join — identical output, different physical strategy."""
    rects = _rects_df(spark, sf_dir)
    a = _rect_cells(rects).select(
        "cell_id", F.col("poly_id").alias("pa"),
        F.col("x0").alias("ax0"), F.col("x1").alias("ax1"),
        F.col("y0").alias("ay0"), F.col("y1").alias("ay1"))
    b = _rect_cells(rects).select(
        "cell_id", F.col("poly_id").alias("pb"),
        F.col("x0").alias("bx0"), F.col("x1").alias("bx1"),
        F.col("y0").alias("by0"), F.col("y1").alias("by1"),
        F.col("cls").alias("cls_b"))
    ow = (F.least("ax1", "bx1") - F.greatest("ax0", "bx0"))
    oh = (F.least("ay1", "by1") - F.greatest("ay0", "by0"))
    pairs = (a.join(F.broadcast(b), "cell_id")
             .filter(F.col("pa") < F.col("pb"))
             .filter((ow > 0) & (oh > 0))
             .groupBy("pa", "pb", "cls_b")
             .agg(F.first(ow * oh).alias("inter_area")))
    return pairs.select(F.col("pa").alias("poly_a"),
                        F.col("pb").alias("poly_b"),
                        F.col("cls_b").alias("cls_b"),
                        F.col("inter_area"))


_OVERLAP_AREA_SQL = """
WITH rects AS (
  SELECT p_partkey AS poly_id,
         (p_partkey * 7919) % 1850000 AS x0,
         (p_partkey * 7907) % 1470000 AS y0,
         (p_partkey * 7919) % 1850000 + 10000 + (p_partkey % 37) * 1000 AS x1,
         (p_partkey * 7907) % 1470000 + 10000 + (p_partkey % 41) * 1000 AS y1,
         CASE p_partkey % 6 WHEN 0 THEN 'residential' WHEN 1 THEN 'industrial'
              WHEN 2 THEN 'water' WHEN 3 THEN 'rural' WHEN 4 THEN 'natural'
              ELSE 'school' END AS cls
  FROM part
)
SELECT a.poly_id AS poly_a, b.poly_id AS poly_b, b.cls AS cls_b,
       (LEAST(a.x1, b.x1) - GREATEST(a.x0, b.x0))
       * (LEAST(a.y1, b.y1) - GREATEST(a.y0, b.y0)) AS inter_area
FROM rects a JOIN rects b ON a.poly_id < b.poly_id
WHERE LEAST(a.x1, b.x1) > GREATEST(a.x0, b.x0)
  AND LEAST(a.y1, b.y1) > GREATEST(a.y0, b.y0)
"""


def q_areal_interp_spark(spark, sf_dir):
    """Area-weighted areal interpolation (Goodchild & Lam 1980): transfer
    a source-zone attribute onto the target grid in proportion to exact
    integer overlap area — per (rect, cell): pop * |rect ∩ cell| / |rect|,
    floored per term so both engines sum identical integers.

    Engine plan: the covering-cell explode (_rect_cells — the same tiled
    index every PIP join broadcasts) computes each term MAP-SIDE; the
    only shuffle is the final (cell, cls) aggregation, whose partial agg
    reduces map-side.  At 100 TB the explode fan-out is bounded by rect
    extent and the agg keys by the grid — no join at all."""
    return (_areal_terms(spark, sf_dir)
            .groupBy("cell_id", "cls")
            .agg(F.count("*").alias("n_rects"),
                 F.sum("term").alias("interp_cents")))


def _areal_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(rect, cell) floored transfer terms — the map-side body of
    areal_interp, exposed so the conservation property (per-rect term
    sums bracket pop_cents) is testable pre-aggregation."""
    rects = _rects_df(spark, sf_dir).withColumn(
        "pop_cents", (F.col("poly_id") * 97) % 90000 + 10000)
    cov = _rect_cells(rects)
    gx = (F.col("cell_id") % 16384 - 8300) * 10000
    gy = (F.expr("cell_id DIV 16384") - 5447) * 10000
    return (cov.withColumns({
        "ow": F.least(F.col("x1"), gx + 10000) - F.greatest(F.col("x0"), gx),
        "oh": F.least(F.col("y1"), gy + 10000) - F.greatest(F.col("y0"), gy),
        "area": (F.col("x1") - F.col("x0")) * (F.col("y1") - F.col("y0")),
    }).filter((F.col("ow") > 0) & (F.col("oh") > 0))
        .withColumn("term", F.expr("(pop_cents * ow * oh) DIV area")))


_AREAL_SQL = _render(f"""
WITH {RECTS},
r2 AS (
  SELECT poly_id, cls, x0, y0, x1, y1,
         (poly_id * 97) % 90000 + 10000 AS pop_cents,
         (x1 - x0) * (y1 - y0) AS area
  FROM rects
), cx AS (
  SELECT r2.*, unnest(range(x0 {{D}} 10000, x1 {{D}} 10000 + 1)) AS gx FROM r2
), cxy AS (
  SELECT cx.*, unnest(range(y0 {{D}} 10000, y1 {{D}} 10000 + 1)) AS gy FROM cx
), ov AS (
  SELECT (gy + 5447) * 16384 + (gx + 8300) AS cell_id, cls,
         LEAST(x1, gx * 10000 + 10000) - GREATEST(x0, gx * 10000) AS ow,
         LEAST(y1, gy * 10000 + 10000) - GREATEST(y0, gy * 10000) AS oh,
         pop_cents, area
  FROM cxy
)
SELECT cell_id, cls, COUNT(*) AS n_rects,
       CAST(SUM((pop_cents * ow * oh) {{D}} area) AS BIGINT) AS interp_cents
FROM ov WHERE ow > 0 AND oh > 0
GROUP BY cell_id, cls""", "duckdb")


def q_cell_compact_spark(spark, sf_dir):
    """Cell-cover compaction (operators/compact.py::compact_cover — H3
    ``compact_cells`` / S2 ``Normalize`` analog over the engine's
    quadtree grid): each rect's z14 covering-cell set (the same
    _rect_cells index every PIP join broadcasts) reduced to the unique
    minimal mixed-resolution cover, z14 down to z10.  One bounded
    partially-aggregable groupBy per level, no joins; the pytest gate
    asserts the uncompact roundtrip reproduces the input set exactly and
    that no four siblings survive (minimality).  Reference analog: the
    fixed-zoom SubTilesFor descent (Tiles/TileStatic.cs:141-176) that
    this replaces with the standard compacted-cover form."""
    from ..operators.compact import compact_cover
    cover = _rect_cells(_rects_df(spark, sf_dir)).select("poly_id",
                                                         "cell_id")
    return compact_cover(cover, "poly_id", "cell_id", 14, 10)


def _cell_compact_sql() -> str:
    """Exact unrolled per-level oracle: the same promote-complete-quads
    recursion as compact_cover, one CTE trio per zoom level."""
    lvls, prev = [], "c14"
    for z in range(14, 10, -1):
        n, h = 1 << z, 1 << (z - 1)
        lvls.append(f"""p{z} AS (
  SELECT poly_id, cell,
         ((cell {{D}} {n}) {{D}} 2) * {h} + ((cell % {n}) {{D}} 2) AS par
  FROM {prev}
), a{z} AS (
  SELECT poly_id, par, COUNT(*) AS k FROM p{z} GROUP BY poly_id, par
), f{z} AS (
  SELECT p.poly_id, {z} AS zoom, p.cell
  FROM p{z} p JOIN a{z} a ON a.poly_id = p.poly_id AND a.par = p.par
  WHERE a.k < 4
), c{z - 1} AS (SELECT poly_id, par AS cell FROM a{z} WHERE k = 4)""")
        prev = f"c{z - 1}"
    union = " UNION ALL ".join(
        [f"SELECT poly_id, zoom, cell FROM f{z}" for z in range(14, 10, -1)]
        + ["SELECT poly_id, 10 AS zoom, cell FROM c10"])
    body = ",\n".join(lvls)
    return _render(f"""
WITH {RECTS},
cx AS (SELECT poly_id, x0, x1, y0, y1,
              unnest(range(x0 {{D}} 10000, x1 {{D}} 10000 + 1)) AS gx
       FROM rects),
cxy AS (SELECT poly_id, gx,
               unnest(range(y0 {{D}} 10000, y1 {{D}} 10000 + 1)) AS gy
        FROM cx),
c14 AS (SELECT poly_id, (gy + 5447) * 16384 + (gx + 8300) AS cell FROM cxy),
{body}
SELECT poly_id, CAST(zoom AS BIGINT) AS zoom, CAST(cell AS BIGINT) AS cell
FROM ({union})""", "duckdb")


def q_hdr_quantiles_spark(spark, sf_dir):
    """HDR-histogram quantile sketch (operators/sketches.py
    hdr_quantiles): per-returnflag price-cents quantile BRACKETS from the
    (exponent, mantissa) cell table — exponent = length(bin(v)) - 1, so
    the whole sketch is integer-exact in both engines (no float log).
    The value set is never sorted or shuffled: one bounded cell groupBy,
    a window over <= 64 * 2^5 cells per group, a broadcast rank join.
    [est_lo, est_hi] bracket the exact ceil-rank value with <= 2^-5
    relative width (bracket + mergeability asserted in pytest)."""
    from ..operators.sketches import hdr_quantiles
    register_views(spark, sf_dir)
    li = spark.table("lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100, 0).cast("long")
        .alias("cents"))
    return hdr_quantiles(li, "l_returnflag", "cents",
                         [2500, 5000, 9000, 9900])


_HDR_SQL = """
WITH v AS (
  SELECT l_returnflag AS g,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS v
  FROM lineitem
), b AS (
  SELECT g, v, CAST(length(bin(v)) - 1 AS BIGINT) AS e,
         v >> GREATEST(length(bin(v)) - 1 - 5, 0) AS m
  FROM v
), cells AS (
  SELECT g, e, m, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY 1, 2, 3
), cum AS (
  SELECT g, e, m, c,
         CAST(SUM(c) OVER (PARTITION BY g ORDER BY e, m) AS BIGINT) AS cum
  FROM cells
), nn AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n FROM cells GROUP BY g),
t(q_permyriad) AS (VALUES (2500), (5000), (9000), (9900)),
k AS (
  SELECT g, n, CAST(q_permyriad AS BIGINT) AS q_permyriad,
         LEAST(GREATEST(1, (CAST(q_permyriad AS BIGINT) * n + 9999)
                           // 10000), n) AS k
  FROM t, nn
)
SELECT k.g AS l_returnflag, k.q_permyriad, k.n, k.k,
       CAST(cum.m << CAST(GREATEST(cum.e - 5, 0) AS INT) AS BIGINT)
         AS est_lo,
       CAST((cum.m << CAST(GREATEST(cum.e - 5, 0) AS INT))
            + (CAST(1 AS BIGINT) << CAST(GREATEST(cum.e - 5, 0) AS INT))
            - 1 AS BIGINT) AS est_hi
FROM k JOIN cum ON cum.g = k.g AND cum.cum >= k.k AND cum.cum - cum.c < k.k
"""


def q_salted_agg_spark(spark, sf_dir):
    """Two-phase salted aggregation (north_rule skew pattern): hot cells
    are split across 8 salted partial-agg keys, then merged.  The oracle
    is the plain per-cell grouping — identical results by construction,
    so the skew machinery is verified value-exact."""
    pts = _pts_df(spark, sf_dir)
    salted = pts.withColumn("salt", F.pmod(F.hash("point_id"), F.lit(8)))
    partial = (salted.groupBy("cell_id", "salt")
               .agg(F.count("*").alias("pn"),
                    F.sum("weight_cents").alias("pw")))
    return (partial.groupBy("cell_id")
            .agg(F.sum("pn").alias("n_points"),
                 F.sum("pw").alias("sum_weight_cents")))


_SALTED_AGG_SQL = """
WITH pts AS (
  SELECT o_orderkey AS point_id,
         (o_orderkey * 7919) % 1890000 AS px,
         (o_custkey * 7907 + o_orderkey * 13) % 1520000 AS py,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS weight_cents
  FROM orders
)
SELECT (py // 10000 + 5447) * 16384 + (px // 10000 + 8300) AS cell_id,
       COUNT(*) AS n_points,
       CAST(SUM(weight_cents) AS BIGINT) AS sum_weight_cents
FROM pts GROUP BY 1
"""


def q_tile_pyramid_spark(spark, sf_dir):
    """Pyramid descent (G7 / reference SubTilesFor, TileStatic.cs:141-171):
    z11 parents of occupied cells -> enumerate all 64 z14 descendants ->
    equi-join occupied-cell counts -> per-parent rollup.

    The oracle verifies via the algebraic identity (grouping occupied cells
    directly by parent), so the descent machinery is cross-checked against
    straight integer arithmetic."""
    from ..functions import cells as CELLS
    per_cell = (_pts_df(spark, sf_dir)
                .groupBy("cell_id").agg(F.count("*").alias("n")))
    parents = per_cell.select(
        CELLS.parent_cell(F.col("cell_id"), 14, 11).alias("parent")).distinct()
    children = parents.select(
        "parent",
        F.explode_outer(CELLS.sub_tiles_for(F.col("parent"), 11, 14)).alias("cell_id"))
    return (children.join(per_cell, "cell_id")
            .groupBy("parent")
            .agg(F.count("*").alias("n_occupied_children"),
                 F.sum("n").alias("n_points")))


_TILE_PYRAMID_SQL = """
WITH pts AS (
  SELECT (o_orderkey * 7919) % 1890000 AS px,
         (o_custkey * 7907 + o_orderkey * 13) % 1520000 AS py
  FROM orders
), c AS (
  SELECT (py // 10000 + 5447) * 16384 + (px // 10000 + 8300) AS cell_id,
         px // 10000 + 8300 AS cx, py // 10000 + 5447 AS cy, COUNT(*) AS n
  FROM pts GROUP BY 1, 2, 3
)
SELECT (cy // 8) * 2048 + (cx // 8) AS parent,
       COUNT(*) AS n_occupied_children, CAST(SUM(n) AS BIGINT) AS n_points
FROM c GROUP BY 1
"""


def q_cell_halo_spark(spark, sf_dir):
    """3x3 halo point totals per occupied cell: explode halo cells + equi
    join (the engine's halo pattern, no theta join)."""
    per_cell = (_pts_df(spark, sf_dir)
                .groupBy("cell_x", "cell_y", "cell_id")
                .agg(F.count("*").alias("n")))
    halo = per_cell.select(
        "cell_id",
        F.explode_outer(F.flatten(F.transform(
            F.sequence(F.col("cell_y") - 1, F.col("cell_y") + 1),
            lambda cy: F.transform(
                F.sequence(F.col("cell_x") - 1, F.col("cell_x") + 1),
                lambda cx: cy * 16384 + cx)))).alias("halo_cell"))
    nbr = per_cell.select(F.col("cell_id").alias("halo_cell"),
                          F.col("n").alias("n_nbr"))
    return (halo.join(nbr, "halo_cell")
            .groupBy("cell_id").agg(F.sum("n_nbr").alias("halo_points")))


_CELL_HALO_SQL = _render(f"""
WITH {PTS},
c AS (SELECT cell_x, cell_y, cell_id, COUNT(*) AS n
      FROM pts_cell GROUP BY 1, 2, 3)
SELECT a.cell_id, CAST(SUM(b.n) AS BIGINT) AS halo_points
FROM c a JOIN c b
  ON ABS(a.cell_x - b.cell_x) <= 1 AND ABS(a.cell_y - b.cell_y) <= 1
GROUP BY a.cell_id""", "duckdb")


def q_morans_i_spark(spark, sf_dir):
    """Global Moran's I over the cell grid.

    The oracle SQL expresses queen contiguity as
    ``ABS(a.cell_x-b.cell_x)<=1 AND ABS(a.cell_y-b.cell_y)<=1`` — fine
    for DuckDB's tiny oracle run, but Spark plans that theta self-join
    as a BroadcastNestedLoop (cell x cell — the 100 TB killer; caught by
    the r5 PLANS.md audit at 32 exchanges + a CARTESIAN flag).  Here the
    neighbor relation is the engine's halo pattern instead: each cell
    explodes its 8 queen offsets and equi-joins the deviation table on
    the neighbor cell key — fan-out bounded at 8 rows per cell, shuffle
    keyed on (cell_x, cell_y), never a cell-by-cell blowup.

    Exactness: deviations are scaled to d_i = N*x_i - S (means never
    become floats) and the three BIGINT terms are emitted separately, as
    in the SQL.  The only collects are two SCALAR aggregation rows
    (N/S and the denominator — the repo collect-once rule)."""
    pts = _pts_df(spark, sf_dir)
    c = (pts.groupBy("cell_x", "cell_y")
         .agg(F.count("*").alias("x"))
         .localCheckpoint(eager=True))     # consumers: N/S scalar, d
    n, s = c.agg(F.count("*"), F.sum("x")).collect()[0]
    d = (c.select("cell_x", "cell_y",
                  (F.col("x") * F.lit(n) - F.lit(s or 0)).alias("di"))
         .localCheckpoint(eager=True))     # consumers: probe, home, den
    # SUM over no cells is NULL, as in the oracle (empty orders)
    den = d.agg(F.sum(F.col("di") * F.col("di"))).collect()[0][0]
    offs = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)
            if (dx, dy) != (0, 0)]
    probe = (d.select(
        F.col("di").alias("da"),
        F.explode_outer(F.array(*[
            F.struct((F.col("cell_x") + F.lit(dx)).alias("nx"),
                     (F.col("cell_y") + F.lit(dy)).alias("ny"))
            for dx, dy in offs])).alias("nb"))
        .select("da", F.col("nb.nx").alias("cell_x"),
                F.col("nb.ny").alias("cell_y")))
    nb = probe.join(
        d.select("cell_x", "cell_y", F.col("di").alias("db")),
        ["cell_x", "cell_y"])
    return (nb.agg(F.count("*").cast("long").alias("w_pairs"),
                   F.sum(F.col("da") * F.col("db")).cast("long")
                   .alias("moran_num"))
            .select(F.lit(n).cast("long").alias("n_cells"),
                    "w_pairs", "moran_num",
                    F.lit(den).cast("long").alias("moran_den")))


# The consumer forms I = (N * num) / (W * den): no negative integer
# division (truncate-vs-floor dialect skew) happens inside the query.
_MORANS_I_SQL = _render("""
WITH {PTS_BODY},
c AS (
  SELECT cell_x, cell_y, COUNT(*) AS x
  FROM pts_cell GROUP BY cell_x, cell_y
), tot AS (
  SELECT COUNT(*) AS n, SUM(x) AS s FROM c
), d AS (
  SELECT cell_x, cell_y,
         x * (SELECT n FROM tot) - (SELECT s FROM tot) AS di
  FROM c
), nb AS (
  SELECT a.di AS da, b.di AS db
  FROM d a JOIN d b
    ON ABS(a.cell_x - b.cell_x) <= 1 AND ABS(a.cell_y - b.cell_y) <= 1
   AND NOT (a.cell_x = b.cell_x AND a.cell_y = b.cell_y)
)
SELECT (SELECT CAST(n AS BIGINT) FROM tot) AS n_cells,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM nb) AS w_pairs,
       (SELECT CAST(SUM(da * db) AS BIGINT) FROM nb) AS moran_num,
       (SELECT CAST(SUM(di * di) AS BIGINT) FROM d) AS moran_den
""".replace("{PTS_BODY}", PTS), "duckdb")


# ---------------------------------------------------------------------------
# Pure-SQL entries: one dialect-shimmed template runs on both engines
# (registered through ``_shared._sql_pair``).
# ---------------------------------------------------------------------------

_RASTER_VECTORIZE_SQL = f"""
WITH {PTS},
g AS (
  SELECT px {{D}} 100000 AS gx, py {{D}} 100000 AS gy, COUNT(*) AS n
  FROM pts_cell GROUP BY 1, 2
), f AS (
  SELECT * FROM g WHERE n >= 3
), m AS (
  SELECT *, gx - ROW_NUMBER() OVER (PARTITION BY gy ORDER BY gx) AS grp
  FROM f
)
SELECT gy, MIN(gx) AS x_start, MAX(gx) AS x_end,
       CAST(SUM(n) AS BIGINT) AS n_points
FROM m GROUP BY gy, grp"""

_CELL_INDEX_SQL = f"""
WITH {PTS}
SELECT cell_id, COUNT(*) AS n_points, MIN(px) AS min_px, MAX(px) AS max_px,
       CAST(SUM(weight_cents) AS BIGINT) AS sum_weight_cents
FROM pts_cell GROUP BY cell_id"""

_SALTED_PREFIX_SQL = f"""
WITH {PTS}
SELECT (cell_id {{D}} 256) * 8 + point_id % 8 AS salted_key, COUNT(*) AS n
FROM pts_cell GROUP BY 1"""

_DENSITY_RASTER_SQL = f"""
WITH {PTS}
SELECT cell_id, (px % 10000) {{D}} 625 AS gx, (py % 10000) {{D}} 625 AS gy,
       COUNT(*) AS n
FROM pts_cell GROUP BY 1, 2, 3"""
