"""Chunking, BPE pair stats, n-gram novelty, fuzzy dedup, HLL/CMS, IDW."""

from __future__ import annotations

from pyspark.sql import functions as F

from ._shared import PTS, _pts_df, register_views
from .textsql import _SHINGLES, _TOKS

# ---------------------------------------------------------------------------
# r4g additions: chunking / BPE pair stats / n-gram novelty / edit-distance
# fuzzy dedup / IDW raster interpolation
# ---------------------------------------------------------------------------

def q_chunk_docs_spark(spark, sf_dir):
    """Context-window chunking (operators/chunking.py): overlapping
    32-token windows at stride 24, pure map-side (NO shuffle — chunk rows
    inherit the scan partitioning).  The LLM-pipeline step that feeds
    tokenized training windows; exact string/int oracle."""
    from ..operators.chunking import chunk_documents
    register_views(spark, sf_dir)
    return chunk_documents(spark.table("documents"), window=32, stride=24)


_CHUNK_DOCS_SQL = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
tt AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0),
starts AS (SELECT doc_id, t, n,
  unnest(generate_series(0, (GREATEST(n - 32, 0) + 23) // 24)) AS chunk_id
  FROM tt)
SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(len(t[chunk_id*24+1 : chunk_id*24+32]) AS BIGINT)
         AS n_chunk_tokens,
       array_to_string(t[chunk_id*24+1 : chunk_id*24+32], ' ') AS chunk_text
FROM starts
"""


def q_bpe_pairs_spark(spark, sf_dir):
    """Adjacent token-pair counts (operators/chunking.py) — the counting
    step of one BPE vocabulary-induction round: materialized shifted
    slices zipped per doc, one partial-aggregable groupBy (the reduce key
    space is the pair vocabulary, never the corpus)."""
    from ..operators.chunking import bpe_pair_counts
    register_views(spark, sf_dir)
    return bpe_pair_counts(spark.table("documents"), min_count=2)


_BPE_PAIRS_SQL = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
tt AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) >= 2),
z AS (SELECT unnest(list_zip(t[1:n-1], t[2:n])) AS u FROM tt)
SELECT u[1] || ' ' || u[2] AS pair, CAST(COUNT(*) AS BIGINT) AS cnt
FROM z GROUP BY 1 HAVING COUNT(*) >= 2
"""


def q_ngram_novelty_spark(spark, sf_dir):
    """Per-doc trigram novelty permille (operators/dedup.py): a df==1
    shingle identifies its only owner via min(id) inside the shingle-keyed
    aggregation, so the corpus is never joined back against itself —
    quality/contamination signal, all-integer oracle."""
    from ..operators.dedup import ngram_novelty
    register_views(spark, sf_dir)
    return ngram_novelty(spark.table("documents"))


_NGRAM_NOVELTY_SQL = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
base AS (SELECT doc_id, {_SHINGLES} AS sh FROM toks),
ex AS (SELECT DISTINCT doc_id, unnest(sh) AS s FROM base),
dfreq AS (SELECT s, COUNT(*) AS df FROM ex GROUP BY s),
tot AS (SELECT doc_id, COUNT(*) AS n_sh FROM ex GROUP BY doc_id),
nov AS (SELECT e.doc_id, COUNT(*) AS n_novel FROM ex e JOIN dfreq d
        ON e.s = d.s WHERE d.df = 1 GROUP BY e.doc_id)
SELECT t.doc_id, CAST(t.n_sh AS BIGINT) AS n_shingles,
       CAST(COALESCE(n.n_novel, 0) AS BIGINT) AS n_novel,
       CAST((1000 * COALESCE(n.n_novel, 0)) // t.n_sh AS BIGINT)
         AS novelty_permille
FROM tot t LEFT JOIN nov n ON t.doc_id = n.doc_id
"""


def q_fuzzy_dedup_spark(spark, sf_dir):
    """Levenshtein near-dup pairs (operators/fuzzy.py) over documents
    augmented with tail-trimmed twins (<= 8 chars cut, so each twin is
    within edit distance 8 of its original): (lang, length-bucket)
    blocking + capped group-collect pair generation + banded-DP
    levenshtein(threshold).  Oracle applies the identical blocking/cap,
    so the result is exact over the declared candidate set."""
    from ..operators.fuzzy import edit_distance_pairs
    register_views(spark, sf_dir)
    d = spark.table("documents")
    twin = d.select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "lang",
        F.expr("substr(text, 1, length(text) - "
               "least(8, greatest(length(text) - 1, 0)))").alias("text"))
    aug = d.select("doc_id", "lang", "text").unionByName(twin)
    return edit_distance_pairs(aug, max_dist=16, len_bucket=64, max_group=64)


_FUZZY_DEDUP_SQL = """
WITH aug AS (
  SELECT doc_id, lang, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, lang,
         substr(text, 1, length(text) - LEAST(8, GREATEST(length(text)-1, 0)))
  FROM documents
), -- codepoint-class fold mirrors edit_distance_pairs: non-ASCII -> '#'
   -- (DuckDB levenshtein counts BYTES, Spark counts CODEPOINTS; folding
   -- makes byte == codepoint so the oracle is exact on any corpus)
d AS (SELECT doc_id, lang,
             regexp_replace(lower(text), '[^\x20-\x7e]', '#', 'g') AS t,
             length(text) // 64 AS blk
      FROM aug),
grp AS (SELECT lang, blk FROM d GROUP BY lang, blk
        HAVING COUNT(*) BETWEEN 2 AND 64),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, levenshtein(a.t, b.t) AS lev
  FROM d a JOIN d b ON a.lang = b.lang AND a.blk = b.blk
                   AND a.doc_id < b.doc_id
  JOIN grp g ON g.lang = a.lang AND g.blk = a.blk
  WHERE abs(length(a.t) - length(b.t)) <= 16
)
SELECT doc_a, doc_b, CAST(lev AS BIGINT) AS lev FROM pairs WHERE lev <= 16
"""


def q_hll_distinct_spark(spark, sf_dir):
    """HyperLogLog distinct customers per order status
    (operators/sketches.py::hll_distinct): md5-derived portable registers
    (bucket, trailing-zero rank) aggregated with two partial-aggregable
    groupBys over groups x 64 buckets — the distinct-key set is never
    shuffled; the BIGINT estimator is deterministic in both engines.
    n_exact rides along for estimate verification."""
    from ..operators.sketches import hll_distinct
    register_views(spark, sf_dir)
    orders = spark.table("orders").select("o_orderstatus", "o_custkey")
    return hll_distinct(orders, "o_custkey", ["o_orderstatus"])


def _hll_sql() -> str:
    ctz = " + ".join(f"CASE WHEN rest % {1 << b} = 0 THEN 1 ELSE 0 END"
                     for b in range(1, 41))
    return f"""
WITH k AS (
  SELECT o_orderstatus,
         CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))
              AS BIGINT) AS h,
         o_custkey
  FROM orders
), kb AS (
  SELECT o_orderstatus, o_custkey, h % 64 AS bucket, h // 64 AS rest FROM k
), r AS (
  SELECT o_orderstatus, bucket, MAX(1 + ({ctz})) AS rho
  FROM kb GROUP BY o_orderstatus, bucket
), per AS (
  SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_buckets,
         CAST(SUM(1099511627776 // (CAST(1 AS BIGINT) << rho)) AS BIGINT)
           AS s_ne
  FROM r GROUP BY o_orderstatus
), s AS (
  SELECT o_orderstatus, n_buckets,
         CAST((64 - n_buckets) * 1099511627776 + s_ne AS BIGINT) AS s_scaled
  FROM per
), e AS (
  SELECT o_orderstatus, CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_exact
  FROM kb GROUP BY o_orderstatus
)
SELECT e.o_orderstatus, e.n_exact, s.n_buckets, s.s_scaled,
       CAST((709 * LEAST(CAST(4096 AS BIGINT) * 1099511627776
                         // GREATEST(s.s_scaled, 1), 1099511627776)) // 1000
            AS BIGINT) AS hll_est
FROM e JOIN s ON e.o_orderstatus = s.o_orderstatus
"""


def q_cms_counts_spark(spark, sf_dir):
    """Count-min sketch point-frequency estimates over the shingle key
    space (operators/sketches.py::cms_estimates — the third mergeable
    sketch next to Misra-Gries and HLL): the 4x512 table is built in ONE
    partially-aggregable pass (shuffle <= partitions x 2048 cell rows,
    never the distinct-shingle set), broadcasts to a deterministic probe
    subset of the distinct shingles, and est = min over the 4 row-salted
    portable-hash cells.  cnt (exact, one filtered pass) and
    err = est - cnt >= 0 ride along, so the one-sided CM guarantee is
    itself part of the hash-compared output."""
    from ..operators.dedup import _exploded_shingles
    from ..operators.sketches import cms_estimates
    register_views(spark, sf_dir)
    sh = (_exploded_shingles(spark.table("documents"), "doc_id", "text")
          .select(F.col("sh").alias("token")))
    return cms_estimates(sh, probe_mod=31)


_H31CMS = "CAST(('0x' || substr(md5({x}), 1, 8)) AS BIGINT) % 2147483647"

_CMS_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS t FROM documents
), ex AS (
  -- per-doc DISTINCT shingles: mirrors shingles_of_tokens' array_distinct
  SELECT DISTINCT doc_id, unnest({_SHINGLES}) AS token FROM toks
), cells AS (
  SELECT r, ({_H31CMS.format(x="'cms' || r || ':' || token")}) % 512 AS b,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM ex, range(4) t(r) GROUP BY 1, 2
), probes AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM ex
  WHERE ({_H31CMS.format(x="'cmsprobe:' || token")}) % 31 = 0
  GROUP BY 1
)
SELECT p.token, CAST(MIN(c.c) AS BIGINT) AS est, MIN(p.cnt) AS cnt,
       CAST(MIN(c.c) - MIN(p.cnt) AS BIGINT) AS err
FROM probes p CROSS JOIN range(4) t(r)
JOIN cells c ON c.r = t.r
 AND c.b = ({_H31CMS.format(x="'cms' || t.r || ':' || p.token")}) % 512
GROUP BY 1
"""


def q_idw_grid_spark(spark, sf_dir):
    """Inverse-distance-weighted raster interpolation over the micro
    space: each point scatters into its 3x3 cell halo MAP-SIDE (a 9-row
    literal offset explode — no join against a grid table at all), with
    integer distance weights 1000 DIV (1 + d2 DIV 1e6) to the target cell
    center; ONE shuffle total (the per-cell sum).  The raster analog of
    the reference's per-tile density surfaces; exact BIGINT oracle."""
    pts = _pts_df(spark, sf_dir)
    offs = F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                     for dx in (-1, 0, 1) for dy in (-1, 0, 1)])
    ex = (pts.withColumn("o", F.explode_outer(offs))
          .withColumn("tx", F.expr("px DIV 10000") + F.col("o.dx"))
          .withColumn("ty", F.expr("py DIV 10000") + F.col("o.dy"))
          .filter((F.col("tx") >= 0) & (F.col("tx") <= 188)
                  & (F.col("ty") >= 0) & (F.col("ty") <= 151)))
    d2 = ((F.col("px") - (F.col("tx") * 10000 + 5000)) ** 2
          + (F.col("py") - (F.col("ty") * 10000 + 5000)) ** 2)
    ex = (ex.withColumn("d2", d2.cast("long"))
          .withColumn("w", F.expr("1000 DIV (1 + d2 DIV 1000000)")))
    return (ex.groupBy(((F.col("ty") + 5447) * 16384 + F.col("tx") + 8300)
                       .alias("cell_id"))
            .agg(F.count("*").cast("long").alias("n_contrib"),
                 F.sum("w").cast("long").alias("den_w"),
                 F.sum(F.col("w") * F.col("weight_cents")).cast("long")
                 .alias("num_w"))
            .withColumn("idw_weight_cents",
                        F.expr("num_w DIV greatest(den_w, 1)")))


_IDW_GRID_SQL = f"""
WITH {PTS.replace('{D}', '//')},
offs AS (SELECT dx.v AS dx, dy.v AS dy
         FROM (VALUES (-1),(0),(1)) dx(v)
         CROSS JOIN (VALUES (-1),(0),(1)) dy(v)),
ex AS (
  SELECT p.*, px // 10000 + dx AS tx, py // 10000 + dy AS ty
  FROM pts_cell p CROSS JOIN offs
  WHERE px // 10000 + dx BETWEEN 0 AND 188
    AND py // 10000 + dy BETWEEN 0 AND 151
), sc AS (
  SELECT (ty + 5447) * 16384 + tx + 8300 AS cell_id, weight_cents,
         1000 // (1 + ((px - (tx*10000+5000))*(px - (tx*10000+5000))
                      + (py - (ty*10000+5000))*(py - (ty*10000+5000)))
                      // 1000000) AS w
  FROM ex
)
SELECT cell_id, CAST(COUNT(*) AS BIGINT) AS n_contrib,
       CAST(SUM(w) AS BIGINT) AS den_w,
       CAST(SUM(w * weight_cents) AS BIGINT) AS num_w,
       CAST(SUM(w * weight_cents) // GREATEST(SUM(w), 1) AS BIGINT)
         AS idw_weight_cents
FROM sc GROUP BY cell_id
"""


