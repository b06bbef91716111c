"""Text fingerprinting, set-similarity and embedding ANN query builders."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ._shared import register_views
from .textsql import _minhash_lsh_sql

# ---------------------------------------------------------------------------
# Text / dedup / similarity (Spark side = operator modules)
# ---------------------------------------------------------------------------

def q_text_stats_spark(spark, sf_dir):
    from ..functions import text as X
    register_views(spark, sf_dir)
    d = spark.table("documents")
    return d.select(
        "doc_id",
        F.size(X.tokens(F.col("text"))).cast("long").alias("n_tok"),
        X.n_tokens_regex(F.col("text")).cast("long").alias("n_tok_regex"),
        X.punct_count(F.col("text")).cast("long").alias("n_punct"),
        F.length("text").cast("long").alias("len_chars"),
    )


def q_lang_id_spark(spark, sf_dir):
    from ..functions import text as X
    register_views(spark, sf_dir)
    d = spark.table("documents")
    scored = d.select("doc_id", *X.lang_scores(F.col("text")))
    pred = (
        F.when((F.col("score_en") >= F.col("score_es"))
               & (F.col("score_en") >= F.col("score_fr"))
               & (F.col("score_en") >= F.col("score_de")), "en")
        .when((F.col("score_es") >= F.col("score_fr"))
              & (F.col("score_es") >= F.col("score_de")), "es")
        .when(F.col("score_fr") >= F.col("score_de"), "fr")
        .otherwise("de"))
    return scored.withColumn("pred_lang", pred)


def q_quality_spark(spark, sf_dir):
    from ..functions import text as X
    register_views(spark, sf_dir)
    return spark.table("documents").select(
        "doc_id", X.quality_score(F.col("text")).alias("quality"))


def q_fingerprint_spark(spark, sf_dir):
    from ..functions import text as X
    register_views(spark, sf_dir)
    d = spark.table("documents")
    fp = d.select("doc_id", X.fingerprint(F.col("text")).alias("fp"))
    w = Window.partitionBy("fp")
    return fp.select("doc_id", "fp",
                     F.min("doc_id").over(w).alias("keeper"),
                     F.count("*").over(w).cast("long").alias("group_size"))


def q_winnow_fp_spark(spark, sf_dir):
    """Rolling-hash document fingerprinting (winnowing, Schleimer et al.
    SIGMOD'03): k-gram polynomial hashes over token hashes, distinct
    sliding-window minima — one row per (doc, fingerprint).  Each stage's
    array is materialized in its own projection so no HOF lambda
    re-evaluates an upstream expression per element."""
    from ..functions import text as X
    register_views(spark, sf_dir)
    d = spark.table("documents")
    tok = d.select("doc_id", X.tokens(F.col("text")).alias("toks"))
    hs = tok.select("doc_id", X.winnow_token_hashes(F.col("toks")).alias("hs"))
    g = hs.select("doc_id", X.winnow_from_hashes(F.col("hs")).alias("grams"))
    fps = g.select("doc_id", X.winnow_windows(F.col("grams")).alias("fps"))
    # post-generate null filter (NOT a bare explode — that would let
    # InferFiltersFromGenerate inline the staged arrays into a pushed-down
    # interpreted Filter): zero-token docs emit no row, like the oracle
    return (fps.select("doc_id", F.explode_outer("fps").alias("fp"))
            .filter(F.col("fp").isNotNull()))


_WINNOW_FP_SQL = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '),
                             x -> length(x) > 0) AS t
  FROM documents
), hs AS (
  SELECT doc_id,
         list_transform(t, x ->
           CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT) % 2147483647) AS hs
  FROM toks
), g AS (
  SELECT doc_id,
         CASE WHEN len(hs) >= 3 THEN
           list_transform(range(1, CAST(len(hs) - 1 AS BIGINT)), i ->
             (hs[i] * 17161 + hs[i+1] * 131 + hs[i+2]) % 2147483647)
         ELSE [hs[1]] END AS g
  FROM hs
), wins AS (
  SELECT doc_id,
         list_transform(
           range(1, CAST(GREATEST(len(g) - 4, 0) + 2 AS BIGINT)),
           j -> list_min(g[j:j+3])) AS mins
  FROM g
)
SELECT doc_id, unnest(list_sort(list_distinct(mins))) AS fp FROM wins
"""


def q_simhash_spark(spark, sf_dir):
    from ..operators.dedup import simhash
    register_views(spark, sf_dir)
    return simhash(spark.table("documents"))


def q_minhash_spark(spark, sf_dir):
    from ..operators.dedup import minhash_signature
    register_views(spark, sf_dir)
    return minhash_signature(spark.table("documents"), k=8)


def _aug_docs(spark):
    """documents + 90%-truncated copies (guaranteed near-dups for the
    pair-finding queries; same construction in the oracle SQL)."""
    d = spark.table("documents")
    trunc = d.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.substring(F.col("text"), 1,
                    F.expr("(9 * length(text)) DIV 10").cast("int")).alias("text"),
        "lang", "source", "n_chars")
    return d.select("doc_id", "text", "lang", "source", "n_chars").unionByName(trunc)


def q_ngram_jaccard_spark(spark, sf_dir):
    from ..operators.dedup import ngram_jaccard_pairs
    register_views(spark, sf_dir)
    return ngram_jaccard_pairs(_aug_docs(spark), threshold_permille=500)


def q_prefix_jaccard_spark(spark, sf_dir):
    """Prefix-filtered exact shingle-set Jaccard join (AllPairs/PPJoin).
    The oracle is the brute-force Jaccard join — equality proves the
    prefix filter is lossless, not just internally consistent."""
    from ..operators.dedup import prefix_jaccard_pairs
    register_views(spark, sf_dir)
    return prefix_jaccard_pairs(_aug_docs(spark), threshold_permille=700,
                                use_shingles=True)


def q_json_props_spark(spark, sf_dir):
    """Semi-structured surface: parse the events table's real JSON
    `props` column with `from_json` (schema-on-read, stays inside
    codegen — the 100 TB path for sparse event payloads where a struct
    column would be schema churn) and aggregate the extracted field.
    Oracle extracts with DuckDB's json_extract."""
    register_views(spark, sf_dir)
    ev = spark.table("events")
    parsed = ev.select(
        "event_type",
        F.from_json("props", "k INT").getField("k").alias("k"))
    return (parsed
            .withColumn("k_bucket", F.floor(F.col("k") / 10).cast("int"))
            .groupBy("event_type", "k_bucket")
            .agg(F.count("*").cast("long").alias("n"),
                 F.sum("k").cast("long").alias("sum_k"),
                 F.max("k").alias("max_k")))


_JSON_PROPS_SQL = """
WITH p AS (
  -- json_valid guard: schema-on-read is LENIENT — Spark's from_json
  -- yields NULL fields on malformed/empty payloads (PERMISSIVE mode),
  -- while DuckDB's json_extract RAISES; the guard pins the lenient
  -- contract (caught by tests/test_oracle_random_events.py)
  SELECT event_type,
         CASE WHEN json_valid(props)
              THEN CAST(json_extract(props, '$.k') AS INT)
              ELSE NULL END AS k
  FROM events
)
SELECT event_type, CAST(k // 10 AS INT) AS k_bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(k) AS BIGINT) AS sum_k,
       MAX(k) AS max_k
FROM p GROUP BY 1, 2
"""


def q_repeated_spans_spark(spark, sf_dir):
    """Corpus-level repeated-substring spans (Lee et al. 2022 shape):
    duplicated 5-gram positions merged into maximal per-doc token spans.
    The aug fixture guarantees mass: every doc and its 90%-truncated
    copy share the prefix grams, so spans cover most of each doc with a
    real boundary where the truncation cuts mid-token."""
    from ..operators.dedup import repeated_substring_spans
    register_views(spark, sf_dir)
    return repeated_substring_spans(_aug_docs(spark), k=5)


def q_minhash_lsh_spark(spark, sf_dir):
    from ..operators.dedup import minhash_lsh_pairs
    register_views(spark, sf_dir)
    return minhash_lsh_pairs(_aug_docs(spark), k=16, bands=8)


def q_dedup_components_spark(spark, sf_dir):
    """Near-dup GROUPS, end to end: LSH candidate pairs -> connected
    components (min-label propagation) -> (doc_id, component=keeper)."""
    from ..operators.dedup import minhash_lsh_pairs, near_dup_components
    register_views(spark, sf_dir)
    return near_dup_components(
        minhash_lsh_pairs(_aug_docs(spark), k=16, bands=8))


def _dedup_components_sql() -> str:
    """Exact oracle: transitive closure of the (identically capped) LSH
    pair graph via a recursive CTE; component = min reachable doc_id."""
    inner = _minhash_lsh_sql(k=16, bands=8)
    return f"""
WITH RECURSIVE pairs AS (
  SELECT * FROM ({inner}) t
), sym AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
), reach AS (
  SELECT src, dst FROM sym
  UNION
  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
)
SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component
FROM reach GROUP BY src
"""


def _emb_ann_sql(n_planes: int = 6, k: int = 5, seed: int = 7) -> str:
    """Exact oracle for LSH-ANN: integer sign-bit buckets (same pattern as
    similarity.lsh_bucket_int), probe the query's bucket, integer-dot
    top-k."""
    terms = " + ".join(
        f"""(CASE WHEN list_sum(list_transform(range(0, CAST(len(v) AS BIGINT)),
      i -> CASE WHEN ((i * {2654435761 + p * 40503} + {seed}) & 64) = 0
                THEN v[i+1] ELSE -v[i+1] END)) > 0
      THEN {1 << p} ELSE 0 END)"""
        for p in range(n_planes))
    return f"""
WITH b AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
  FROM embeddings
), bk AS (
  SELECT vec_id, v, CAST({terms} AS BIGINT) AS bucket FROM b
), q AS (
  SELECT vec_id AS query_id, v AS qv, bucket FROM bk WHERE vec_id < 8
), s AS (
  SELECT q.query_id, bk.vec_id AS neighbor_id,
         CAST(list_sum(list_transform(range(1, CAST(len(bk.v) + 1 AS BIGINT)),
           i -> bk.v[i] * q.qv[i])) AS BIGINT) AS dot
  FROM bk JOIN q USING (bucket)
  WHERE bk.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, dot, CAST(rank AS INT) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY dot DESC, neighbor_id) AS rank
  FROM s
) WHERE rank <= {k}
"""


def q_embedding_topk_spark(spark, sf_dir):
    from ..operators.similarity import brute_force_topk
    register_views(spark, sf_dir)
    return brute_force_topk(spark.table("embeddings"), query_ids=list(range(8)), k=5)


def q_embedding_ann_spark(spark, sf_dir):
    from ..operators.similarity import ann_topk
    register_views(spark, sf_dir)
    return ann_topk(spark.table("embeddings"), query_ids=list(range(8)), k=5)


def q_embedding_ivf_spark(spark, sf_dir):
    from ..operators.similarity import ivf_topk
    register_views(spark, sf_dir)
    return ivf_topk(spark.table("embeddings"), query_ids=list(range(8)),
                    k=5, n_lists=16, nprobe=4)


def q_embedding_near_dup_spark(spark, sf_dir):
    from ..operators.similarity import embedding_near_dup
    register_views(spark, sf_dir)
    return embedding_near_dup(spark.table("embeddings"),
                              n_planes=6, min_dot=0, max_bucket=256)


def _emb_near_dup_sql(n_planes: int = 6, min_dot: int = 0,
                      max_bucket: int = 256, seed: int = 7) -> str:
    """Oracle for embedding_near_dup: integer LSH bucket (sign bits of
    exact int64 +-q_i sums, same coefficient pattern as
    similarity.lsh_bucket_int), hot-bucket cap, in-bucket pairs, exact
    integer dot threshold."""
    terms = " + ".join(
        f"""(CASE WHEN list_sum(list_transform(range(0, CAST(len(v) AS BIGINT)),
      i -> CASE WHEN ((i * {2654435761 + p * 40503} + {seed}) & 64) = 0
                THEN v[i+1] ELSE -v[i+1] END)) > 0
      THEN {1 << p} ELSE 0 END)"""
        for p in range(n_planes))
    return f"""
WITH b AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
  FROM embeddings
), bk AS (
  SELECT vec_id, v, CAST({terms} AS BIGINT) AS bucket FROM b
), bc AS (
  SELECT bucket FROM bk GROUP BY bucket
  HAVING COUNT(*) BETWEEN 2 AND {max_bucket}
), pairs AS (
  SELECT l.vec_id AS id_a, r.vec_id AS id_b,
         CAST(list_sum(list_transform(range(1, CAST(len(l.v) + 1 AS BIGINT)),
           i -> l.v[i] * r.v[i])) AS BIGINT) AS dot
  FROM bk l JOIN bk r ON l.bucket = r.bucket
  JOIN bc ON l.bucket = bc.bucket
  WHERE l.vec_id < r.vec_id
)
SELECT id_a, id_b, dot FROM pairs WHERE dot > {min_dot}
"""


# IVF is all integer arithmetic (quantized vectors, integer L2 argmin with
# list-id tie-break, floored-mean Lloyd refinement) -> exact oracle
_EMB_IVF_SQL = """
WITH b AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
  FROM embeddings
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
), q AS (
  SELECT vec_id AS query_id, v AS qv FROM b WHERE vec_id < 8
), pr AS (
  SELECT query_id, qv, list_id FROM (
    SELECT q.query_id, q.qv, c1.list_id,
           ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
             list_sum(list_transform(range(1, CAST(len(q.qv) + 1 AS BIGINT)),
               i -> (q.qv[i] - c1.c[i]) * (q.qv[i] - c1.c[i]))), c1.list_id) AS pr
    FROM q, c1) WHERE pr <= 4
), s AS (
  SELECT pr.query_id, a1.vec_id AS neighbor_id,
         CAST(list_sum(list_transform(range(1, CAST(len(a1.v) + 1 AS BIGINT)),
           i -> a1.v[i] * pr.qv[i])) AS BIGINT) AS dot
  FROM a1 JOIN pr USING (list_id)
  WHERE a1.vec_id <> pr.query_id
)
SELECT query_id, neighbor_id, dot, CAST(rank AS INT) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY dot DESC, neighbor_id) AS rank
  FROM s
) WHERE rank <= 5
"""


def q_pq_topk_spark(spark, sf_dir):
    from ..operators.similarity import pq_topk
    register_views(spark, sf_dir)
    return pq_topk(spark.table("embeddings"), query_ids=list(range(8)),
                   k=5, m=4, ksub=8)


# PQ-ADC (Jegou et al. 2011, non-residual): per-subspace integer codebooks
# (seeds = lowest-id subvectors, one floored-mean Lloyd step, int64 L2
# argmin with code-id tie-break), ADC scoring via per-query integer LUTs —
# every step integer arithmetic, so the approximate ranking itself is
# oracle-exact.  m=4 subspaces x dsub=16 dims, ksub=8 codewords.
_PQ_TOPK_SQL = """
WITH b AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
  FROM embeddings
), sub AS (
  SELECT vec_id, j, v[CAST(j*16+1 AS BIGINT):CAST(j*16+16 AS BIGINT)] AS sv
  FROM b CROSS JOIN (SELECT unnest(range(0, 4)) AS j)
), c0 AS (
  SELECT j, vec_id AS code, sv AS c FROM sub WHERE vec_id < 8
), a0 AS (
  SELECT vec_id, j, sv, code FROM (
    SELECT sub.vec_id, sub.j, sub.sv, c0.code,
           ROW_NUMBER() OVER (PARTITION BY sub.vec_id, sub.j ORDER BY
             list_sum(list_transform(range(1, 17),
               i -> (sub.sv[i] - c0.c[i]) * (sub.sv[i] - c0.c[i]))), c0.code)
             AS rn
    FROM sub JOIN c0 USING (j)) WHERE rn = 1
), ex AS (
  SELECT j, code, unnest(range(1, 17)) AS dim, unnest(sv) AS val FROM a0
), cm AS (
  SELECT j, code, dim,
         CAST(FLOOR(SUM(val) * 1.0 / COUNT(*)) AS BIGINT) AS m
  FROM ex GROUP BY j, code, dim
), c1 AS (
  SELECT j, code, list(m ORDER BY dim) AS c FROM cm GROUP BY j, code
), enc AS (
  SELECT vec_id, j, code FROM (
    SELECT sub.vec_id, sub.j, c1.code,
           ROW_NUMBER() OVER (PARTITION BY sub.vec_id, sub.j ORDER BY
             list_sum(list_transform(range(1, 17),
               i -> (sub.sv[i] - c1.c[i]) * (sub.sv[i] - c1.c[i]))), c1.code)
             AS rn
    FROM sub JOIN c1 USING (j)) WHERE rn = 1
), q AS (
  SELECT vec_id AS query_id, j, sv AS qsv FROM sub WHERE vec_id < 8
), lut AS (
  SELECT q.query_id, c1.j, c1.code,
         CAST(list_sum(list_transform(range(1, 17),
           i -> q.qsv[i] * c1.c[i])) AS BIGINT) AS d
  FROM q JOIN c1 USING (j)
), s AS (
  SELECT lut.query_id, enc.vec_id AS neighbor_id,
         CAST(SUM(lut.d) AS BIGINT) AS dot
  FROM enc JOIN lut ON enc.j = lut.j AND enc.code = lut.code
  WHERE enc.vec_id <> lut.query_id
  GROUP BY lut.query_id, enc.vec_id
)
SELECT query_id, neighbor_id, dot, CAST(rank AS INT) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY dot DESC, neighbor_id) AS rank
  FROM s
) WHERE rank <= 5
"""


