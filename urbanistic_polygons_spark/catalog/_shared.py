"""Query catalog: every driver-checkable operator as (Spark query, DuckDB
oracle SQL) pairs.

Determinism contract: every computed value in an oracle-checked query is
either an integer, a string, or a float produced by the IDENTICAL IEEE
expression tree in both engines — so the driver's order-insensitive value
hash matches bit-for-bit.  Money sums go through per-row integer cents
(``CAST(ROUND(x*100) AS BIGINT)``), hashes through md5-hex-to-int
(verified cross-engine), and geometry through an integer "micro-coordinate"
space (10,000 micro-units = one z14 cell, mirroring the reference's 16384
per-tile quantization grid, Tiles/TileStatic.cs:57-73).

The real float lon/lat Mercator path is exercised by ``entry()`` and the
pytest oracle suite; the catalog's micro-space queries verify the engine's
join/agg/window/partitioning logic exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def register_views(spark: SparkSession, sf_dir: str) -> None:
    for t in TABLES:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)


def _render(template: str, dialect: str) -> str:
    """Tiny dialect shim: {D} integer division, {G} global-regex flag,
    {SPLIT} tokenizer function name."""
    if dialect == "spark":
        return template.format(D="DIV", G="", SPLIT="split")
    return template.format(D="//", G=", 'g'", SPLIT="string_split")


def _sql_pair(template: str):
    """A query defined once, executed by both engines (dialect-shimmed)."""
    def spark_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_views(spark, sf_dir)
        return spark.sql(_render(template, "spark"))
    return spark_fn, _render(template, "duckdb")


# ---------------------------------------------------------------------------
# Shared CTEs: integer micro-coordinate derivation
# ---------------------------------------------------------------------------
# 10,000 micro-units per cell; Belgian z14 cell window (x 8300+189,
# y 5447+152 — reference Preprocessor/Program.cs:36-48).  All integer.

PTS = """pts AS (
  SELECT o_orderkey AS point_id,
         (o_orderkey * 7919) % 1890000 AS px,
         (o_custkey * 7907 + o_orderkey * 13) % 1520000 AS py,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS weight_cents
  FROM orders
), pts_cell AS (
  SELECT *,
         px {D} 10000 + 8300 AS cell_x,
         py {D} 10000 + 5447 AS cell_y,
         (py {D} 10000 + 5447) * 16384 + (px {D} 10000 + 8300) AS cell_id
  FROM pts
)"""

RECTS = """rects AS (
  SELECT p_partkey AS poly_id,
         (p_partkey * 7919) % 1850000 AS x0,
         (p_partkey * 7907) % 1470000 AS y0,
         (p_partkey * 7919) % 1850000 + 10000 + (p_partkey % 37) * 1000 AS x1,
         (p_partkey * 7907) % 1470000 + 10000 + (p_partkey % 41) * 1000 AS y1,
         CASE p_partkey % 6 WHEN 0 THEN 'residential' WHEN 1 THEN 'industrial'
              WHEN 2 THEN 'water' WHEN 3 THEN 'rural' WHEN 4 THEN 'natural'
              ELSE 'school' END AS cls
  FROM part
)"""

PIP_JOIN = """hits AS (
  SELECT p.point_id, p.cell_id, p.px, p.py, p.weight_cents, r.poly_id, r.cls
  FROM pts_cell p JOIN rects r
    ON p.px >= r.x0 AND p.px < r.x1 AND p.py >= r.y0 AND p.py < r.y1
)"""


# -- Spark DataFrame builders for the micro space (the real engine plans:
#    broadcast tiled index + candidate cell join + refine) -------------------

def _pts_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    o = spark.table("orders")
    px = (F.col("o_orderkey") * 7919) % 1890000
    py = (F.col("o_custkey") * 7907 + F.col("o_orderkey") * 13) % 1520000
    return o.select(
        F.col("o_orderkey").alias("point_id"),
        px.alias("px"), py.alias("py"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("weight_cents"),
    ).withColumns({
        "cell_x": F.expr("px DIV 10000") + 8300,
        "cell_y": F.expr("py DIV 10000") + 5447,
    }).withColumn("cell_id", F.col("cell_y") * 16384 + F.col("cell_x"))


def _rects_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    p = spark.table("part")
    k = F.col("p_partkey")
    x0 = (k * 7919) % 1850000
    y0 = (k * 7907) % 1470000
    return p.select(
        k.alias("poly_id"),
        x0.alias("x0"), y0.alias("y0"),
        (x0 + 10000 + (k % 37) * 1000).alias("x1"),
        (y0 + 10000 + (k % 41) * 1000).alias("y1"),
        F.element_at(
            F.array(*[F.lit(c) for c in
                      ["residential", "industrial", "water",
                       "rural", "natural", "school"]]),
            (k % 6 + 1).cast("int")).alias("cls"),
    )


def _rect_cells(rects: DataFrame) -> DataFrame:
    """Tiled rect index: one row per covering cell (broadcast side)."""
    return rects.withColumn(
        "cell_id",
        F.explode_outer(F.flatten(F.transform(
            F.sequence(F.expr("y0 DIV 10000") + 5447, F.expr("y1 DIV 10000") + 5447),
            lambda cy: F.transform(
                F.sequence(F.expr("x0 DIV 10000") + 8300,
                           F.expr("x1 DIV 10000") + 8300),
                lambda cx: cy * 16384 + cx))))
    )


def _pip_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate cell equi-join against the broadcast tiled rect index,
    then exact containment refine — the engine's real plan shape (J2/J3)."""
    pts = _pts_df(spark, sf_dir)
    index = _rect_cells(_rects_df(spark, sf_dir))
    return (
        pts.join(F.broadcast(index), "cell_id")
        .filter((F.col("px") >= F.col("x0")) & (F.col("px") < F.col("x1"))
                & (F.col("py") >= F.col("y0")) & (F.col("py") < F.col("y1")))
    )

