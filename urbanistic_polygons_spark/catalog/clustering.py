"""DBSCAN and SemDeDup clustering queries."""

from __future__ import annotations

from pyspark.sql import functions as F

from ._shared import _pts_df, register_views

# ---------------------------------------------------------------------------
# DBSCAN over the micro-coordinate point space (grid-blocked epsilon join +
# core detection + components) — exact oracle incl. the recursive closure
# ---------------------------------------------------------------------------

_DBSCAN_EPS = 2500
_DBSCAN_MINPTS = 3


def q_dbscan_spark(spark, sf_dir):
    """Deterministic distributed DBSCAN (eps=2500 micro-units, min_pts=3)
    over the orders-derived point cloud: grid 3x3-halo epsilon join ->
    neighbor counts -> core/border/noise roles -> min-label components."""
    from ..operators.dbscan import dbscan
    return dbscan(_pts_df(spark, sf_dir), eps=_DBSCAN_EPS,
                  min_pts=_DBSCAN_MINPTS)


_DBSCAN_SQL = f"""
WITH RECURSIVE pts AS (
  SELECT o_orderkey AS point_id,
         (o_orderkey * 7919) % 1890000 AS px,
         (o_custkey * 7907 + o_orderkey * 13) % 1520000 AS py
  FROM orders
), g AS (
  SELECT point_id, px, py,
         px // {_DBSCAN_EPS} AS gx, py // {_DBSCAN_EPS} AS gy
  FROM pts
), offs(dx, dy) AS (
  VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),(1,-1),(1,0),(1,1)
), cand AS (
  SELECT a.point_id AS pa, b.point_id AS pb
  FROM g a CROSS JOIN offs o
  JOIN g b ON b.gx = a.gx + o.dx AND b.gy = a.gy + o.dy
  WHERE b.point_id <> a.point_id
    AND (a.px-b.px)*(a.px-b.px) + (a.py-b.py)*(a.py-b.py)
        <= {_DBSCAN_EPS * _DBSCAN_EPS}
), deg AS (
  SELECT pa AS point_id, COUNT(*) AS n FROM cand GROUP BY pa
), core AS (
  SELECT point_id FROM deg WHERE n + 1 >= {_DBSCAN_MINPTS}
), ce AS (
  SELECT pa AS src, pb AS dst FROM cand
  WHERE pa IN (SELECT point_id FROM core)
    AND pb IN (SELECT point_id FROM core)
), reach AS (
  SELECT src, dst FROM ce
  UNION
  SELECT r.src, s.dst FROM reach r JOIN ce s ON r.dst = s.src
), comp AS (
  SELECT src AS point_id, LEAST(src, MIN(dst)) AS cluster
  FROM reach GROUP BY src
), core_lab AS (
  SELECT c.point_id, COALESCE(m.cluster, c.point_id) AS cluster
  FROM core c LEFT JOIN comp m USING (point_id)
), border AS (
  SELECT c.pa AS point_id, MIN(l.cluster) AS cluster
  FROM cand c JOIN core_lab l ON c.pb = l.point_id
  WHERE c.pa NOT IN (SELECT point_id FROM core)
  GROUP BY c.pa
), lab AS (
  SELECT point_id, 'core' AS role, cluster FROM core_lab
  UNION ALL
  SELECT point_id, 'border' AS role, cluster FROM border
)
SELECT p.point_id, COALESCE(l.role, 'noise') AS role,
       CAST(l.cluster AS BIGINT) AS cluster
FROM pts p LEFT JOIN lab l USING (point_id)
"""


# ---------------------------------------------------------------------------
# SemDeDup (Abbas et al. 2023): IVF-cluster-then-dedup over embeddings —
# exact oracle incl. the Lloyd pass and the recursive keeper closure
# ---------------------------------------------------------------------------

def _aug_embeddings(spark):
    """Embeddings corpus + deterministic near-dups: for vec_id < 60
    append a copy (vec_id + 100000) with the last 8 of 64 dims zeroed.
    Zeroing is IEEE-exact (no float arithmetic happens), and the copy's
    cosine to its source is ~sqrt(56/64 of the squared mass) — above the
    9/10 threshold for ~50 of the 60 at every sf, giving the keeper
    closure real 2-node components to resolve."""
    e = spark.table("embeddings").select("vec_id", "embedding")
    aug = (e.filter(F.col("vec_id") < 60)
           .select((F.col("vec_id") + 100000).alias("vec_id"),
                   F.transform(
                       F.col("embedding"),
                       lambda x, i: F.when(i < 56, x)
                       .otherwise(F.lit(0.0).cast("float")))
                   .alias("embedding")))
    return e.unionByName(aug)


def q_semdedup_spark(spark, sf_dir):
    """SemDeDup at cosine >= 9/10 over the augmented embeddings corpus:
    deterministic IVF clusters -> in-cluster exact-integer cosine pairs
    -> components -> (vec_id, list_id, keeper, is_kept)."""
    from ..operators.semdedup import semdedup
    register_views(spark, sf_dir)
    return semdedup(_aug_embeddings(spark), n_lists=16, t_num=9, t_den=10)


_SEMDEDUP_SQL = """
WITH RECURSIVE emb AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000,
         list_transform(range(1, CAST(len(embedding) + 1 AS BIGINT)),
                        i -> CASE WHEN i <= 56 THEN embedding[i]
                                  ELSE CAST(0.0 AS FLOAT) END)
  FROM embeddings WHERE vec_id < 60
), b AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
  FROM emb
), c0 AS (
  SELECT vec_id AS list_id, v AS c FROM b WHERE vec_id < 16
), a0 AS (
  SELECT vec_id, v, list_id FROM (
    SELECT b.vec_id, b.v, c0.list_id,
           ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY
             list_sum(list_transform(range(1, CAST(len(b.v) + 1 AS BIGINT)),
               i -> (b.v[i] - c0.c[i]) * (b.v[i] - c0.c[i]))), c0.list_id) AS rn
    FROM b, c0) WHERE rn = 1
), ex AS (
  SELECT list_id,
         unnest(range(1, CAST(len(v) + 1 AS BIGINT))) AS dim,
         unnest(v) AS val
  FROM a0
), cm AS (
  SELECT list_id, dim,
         CAST(FLOOR(SUM(val) * 1.0 / COUNT(*)) AS BIGINT) AS m
  FROM ex GROUP BY list_id, dim
), c1 AS (
  SELECT list_id, list(m ORDER BY dim) AS c FROM cm GROUP BY list_id
), a1 AS (
  SELECT vec_id, v, list_id FROM (
    SELECT b.vec_id, b.v, c1.list_id,
           ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY
             list_sum(list_transform(range(1, CAST(len(b.v) + 1 AS BIGINT)),
               i -> (b.v[i] - c1.c[i]) * (b.v[i] - c1.c[i]))), c1.list_id) AS rn
    FROM b, c1) WHERE rn = 1
), mem AS (
  SELECT vec_id, v, list_id,
         CAST(list_sum(list_transform(range(1, CAST(len(v) + 1 AS BIGINT)),
           i -> v[i] * v[i])) AS BIGINT) AS nn
  FROM a1
), cl AS (
  SELECT list_id FROM mem GROUP BY list_id
  HAVING COUNT(*) BETWEEN 2 AND 4096
), p AS (
  SELECT l.vec_id AS id_a, r.vec_id AS id_b,
         CAST(list_sum(list_transform(range(1, CAST(len(l.v) + 1 AS BIGINT)),
           i -> l.v[i] * r.v[i])) AS BIGINT) AS dot,
         l.nn AS na, r.nn AS nb
  FROM mem l JOIN mem r ON l.list_id = r.list_id AND l.vec_id < r.vec_id
  JOIN cl ON l.list_id = cl.list_id
), nd AS (
  SELECT id_a, id_b FROM p
  -- HUGEINT mirrors the Spark side's decimal(38,0): the int64 cross
  -- multiplication overflows once quantized norms pass ~38k
  WHERE dot > 0 AND CAST(dot AS HUGEINT) * dot * 100
                    >= CAST(81 AS HUGEINT) * na * nb
), sym AS (
  SELECT id_a AS src, id_b AS dst FROM nd
  UNION
  SELECT id_b AS src, id_a AS dst FROM nd
), reach AS (
  SELECT src, dst FROM sym
  UNION
  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
), comp AS (
  SELECT src AS vec_id, LEAST(src, MIN(dst)) AS keeper
  FROM reach GROUP BY src
)
SELECT m.vec_id, CAST(m.list_id AS BIGINT) AS list_id,
       CAST(COALESCE(c.keeper, m.vec_id) AS BIGINT) AS keeper,
       CAST(CASE WHEN COALESCE(c.keeper, m.vec_id) = m.vec_id
                 THEN 1 ELSE 0 END AS BIGINT) AS is_kept
FROM mem m LEFT JOIN comp c USING (vec_id)
"""


