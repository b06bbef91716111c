"""DuckDB oracle SQL for the module-backed text/dedup/similarity queries + sampling/sketch/hull extras."""

from __future__ import annotations

from pyspark.sql import functions as F

from ._shared import PTS, _pts_df, register_views
from .faces import _MERGE_CTES, _merge_fixture
from .spans import q_spans_spark

# ---------------------------------------------------------------------------
# Oracle SQL (DuckDB dialect) for the module-backed queries
# ---------------------------------------------------------------------------

_TOKS = ("list_filter(string_split(lower(text), ' '), "
         "x -> length(x) > 0)")

_H31 = "CAST(('0x' || substr(md5({x}), 1, 8)) AS BIGINT) % 2147483647"

# sequence-packing oracle: the same greedy first-fit recurrence as
# operators/packing.py, expressed as a per-shard recursive CTE (state =
# (bin_id, fill) carried row-to-row in doc_id order within each shard)
_PACK_BUDGET = 256

_TFIDF_TERMS = ["spark", "vector", "merge"]


def q_tfidf_topk_spark(spark, sf_dir):
    """Integer TF-IDF top-k retrieval (operators/retrieval.py): exact
    integer idf weights ((N*SCALE) DIV df — no float sums, repo rule),
    query-term filter BEFORE any shuffle, broadcast weight table, and
    orderBy().limit() top-k (TakeOrderedAndProject: per-partition heaps +
    a k-row driver merge, never a global sort)."""
    from ..operators.retrieval import tfidf_topk
    register_views(spark, sf_dir)
    return tfidf_topk(spark.table("documents"), _TFIDF_TERMS, k=20)


_TFIDF_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS}) AS t FROM documents
), q(t) AS (
  SELECT * FROM (VALUES ('spark'), ('vector'), ('merge'))
), qt AS (
  SELECT toks.doc_id, toks.t FROM toks JOIN q ON toks.t = q.t
), tf AS (
  SELECT doc_id, t, COUNT(*) AS tf FROM qt GROUP BY doc_id, t
), dfq AS (
  SELECT t, COUNT(DISTINCT doc_id) AS df FROM qt GROUP BY t
), nn AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents
), w AS (
  SELECT t, (n * 1000000) // df AS w FROM dfq, nn
), s AS (
  SELECT doc_id, CAST(SUM(tf * w) AS BIGINT) AS score
  FROM tf JOIN w USING (t) GROUP BY doc_id
)
SELECT doc_id, score FROM s ORDER BY score DESC, doc_id LIMIT 20
"""


def q_region_dissolve_spark(spark, sf_dir):
    """Region dissolve (operators/dissolve.py): merged regions -> outline
    polygon summary via boundary-segment PARITY — within a region, a
    planar segment carried by two member faces is interior (dissolved
    away), a segment carried by one is region outline.  One
    groupBy(region, seg_key) + count computes the exact outline set with
    no face-pair interaction (linear in total boundary length at any
    scale).  Completes the reference's README step-3 deliverable (merged
    polygons as single shapes) that its code never reaches
    (DefaultMergeFactorCalculator.cs:14-32 is weights only).  The ring
    re-assembly walk over the outline set (dissolve_rings, incl. donut
    holes) is pytest-verified — ring strings are float-formatted tokens,
    not SQL arithmetic."""
    from ..operators.dissolve import dissolve_stats
    from ..operators.merge import merge_faces

    faces, seg_res, dom = _merge_fixture(spark)
    # merged feeds multiple consumers (region agg + join-back / parity
    # segs + n_faces + extremes); without a lineage cut each replays the
    # whole merge pipeline (self-join rule) — in production merged
    # regions are a materialized table, localCheckpoint is the analog
    merged = merge_faces(faces, seg_res, threshold=3,
                         dominant=dom).localCheckpoint(eager=True)
    reg = merged.groupBy("region").agg(
        F.min(F.struct("min_lon", "min_lat")).alias("m"))
    return (dissolve_stats(merged).join(reg, "region")
            .select(F.col("m.min_lon").alias("region_min_lon"),
                    F.col("m.min_lat").alias("region_min_lat"),
                    F.col("n_faces").cast("long").alias("n_faces"),
                    F.col("n_boundary_segs").cast("long")
                    .alias("n_boundary_segs"),
                    F.col("n_internal_segs").cast("long")
                    .alias("n_internal_segs")))


# Dissolve oracle: the merge closure's regions (shared _MERGE_CTES chain),
# then each unit cell contributes its 4 unit segments under the integer
# identity (orientation, sx, sy) — bottom/top horizontals at gy/gy+1,
# left/right verticals at gx/gx+1 — and parity within the region
# classifies outline (1) vs interior (2).  Counting on integer segment
# ids, never re-formatted floats, keeps the oracle exact.
_REGION_DISSOLVE_SQL = _MERGE_CTES + """, segs AS (
  SELECT p.region, 'h' AS o, c.gx AS sx, c.gy AS sy
  FROM comp p JOIN cdom c ON c.cid = p.cid
  UNION ALL
  SELECT p.region, 'h', c.gx, c.gy + 1
  FROM comp p JOIN cdom c ON c.cid = p.cid
  UNION ALL
  SELECT p.region, 'v', c.gx, c.gy
  FROM comp p JOIN cdom c ON c.cid = p.cid
  UNION ALL
  SELECT p.region, 'v', c.gx + 1, c.gy
  FROM comp p JOIN cdom c ON c.cid = p.cid
), par AS (
  SELECT region, o, sx, sy, COUNT(*) AS nseg
  FROM segs GROUP BY region, o, sx, sy
), st AS (
  SELECT region,
         CAST(SUM(CASE WHEN nseg = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_boundary_segs,
         CAST(SUM(CASE WHEN nseg = 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_internal_segs
  FROM par GROUP BY region
)
SELECT CAST(4.70 AS DOUBLE) + (u.region // 8) * CAST(0.01 AS DOUBLE)
         AS region_min_lon,
       CAST(51.20 AS DOUBLE) + (u.region % 8) * CAST(0.01 AS DOUBLE)
         AS region_min_lat,
       CAST(u.n AS BIGINT) AS n_faces,
       st.n_boundary_segs, st.n_internal_segs
FROM agg u JOIN st ON st.region = u.region
"""


_PACK_SQL = f"""
WITH RECURSIVE toks AS (
  SELECT doc_id,
         CAST(({_H31.format(x="'pack:' || CAST(doc_id AS VARCHAR)")}) % 8
              AS BIGINT) AS shard,
         CAST(len({_TOKS}) AS BIGINT) AS n_tokens
  FROM documents
), r AS (
  SELECT doc_id, shard, n_tokens,
         ROW_NUMBER() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
  FROM toks
), pack AS (
  SELECT doc_id, shard, n_tokens, rn,
         CAST(0 AS BIGINT) AS bin_id, n_tokens AS fill
  FROM r WHERE rn = 1
  UNION ALL
  SELECT r.doc_id, r.shard, r.n_tokens, r.rn,
         CASE WHEN p.fill + r.n_tokens <= {_PACK_BUDGET} THEN p.bin_id
              ELSE p.bin_id + 1 END AS bin_id,
         CASE WHEN p.fill + r.n_tokens <= {_PACK_BUDGET}
              THEN p.fill + r.n_tokens ELSE r.n_tokens END AS fill
  FROM pack p JOIN r ON r.shard = p.shard AND r.rn = p.rn + 1
)
SELECT doc_id, shard, n_tokens, bin_id, fill - n_tokens AS bin_offset
FROM pack
"""

# within-doc bigram repetition (Gopher-style quality rule); the same
# every-5th-doc self-concat augmentation as the Spark side
_REPETITION_SQL = f"""
WITH aug AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN text || ' ' || text ELSE text END
           AS text
  FROM documents
), toks AS (
  SELECT doc_id, {_TOKS} AS t FROM aug
), g AS (
  SELECT doc_id,
         unnest(list_transform(range(1, CAST(len(t) AS BIGINT)),
                               i -> t[i] || ' ' || t[i+1])) AS gram
  FROM toks
), per AS (
  SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY doc_id, gram
)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_grams,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       CAST(MAX(c) AS BIGINT) AS top_count,
       CAST((1000 * (SUM(c) - COUNT(*))) // SUM(c) AS BIGINT) AS dup_permille
FROM per GROUP BY doc_id
"""

# Gopher word-statistics rules: every ratio threshold is an integer
# cross-multiplication, mirroring functions/text.gopher_flags exactly
# (sum_word_chars = length with spaces stripped; n_alpha_words = maximal
# non-space runs containing a letter; list_intersect/array_intersect both
# dedupe, so n_req_stop counts DISTINCT required stopwords in both engines)
_GOPHER_SQL = f"""
WITH t AS (
  SELECT doc_id, lower(text) AS low, {_TOKS} AS toks FROM documents
), s AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_words,
         CAST(length(regexp_replace(low, ' ', '', 'g')) AS BIGINT)
           AS sum_word_chars,
         CAST(len(regexp_extract_all(low, '[^ ]*[a-z][^ ]*')) AS BIGINT)
           AS n_alpha_words,
         CAST(len(regexp_extract_all(low, '#'))
              + len(regexp_extract_all(low, '\\.\\.\\.')) AS BIGINT)
           AS n_symbols,
         CAST(len(list_intersect(toks, ['the','a','and','of'])) AS BIGINT)
           AS n_req_stop
  FROM t
), r AS (
  SELECT *,
         CAST(n_words >= 20 AND n_words <= 100000 AS BIGINT) AS r_words,
         CAST(3 * n_words <= sum_word_chars
              AND sum_word_chars <= 10 * n_words AS BIGINT) AS r_mean,
         CAST(10 * n_symbols <= n_words AS BIGINT) AS r_symbol,
         CAST(5 * n_alpha_words >= 4 * n_words AS BIGINT) AS r_alpha,
         CAST(n_req_stop >= 2 AS BIGINT) AS r_stop
  FROM s
)
SELECT doc_id, n_words, sum_word_chars, n_alpha_words, n_symbols, n_req_stop,
       r_words, r_mean, r_symbol, r_alpha, r_stop,
       CAST(r_words = 1 AND r_mean = 1 AND r_symbol = 1 AND r_alpha = 1
            AND r_stop = 1 AS BIGINT) AS keep
FROM r
"""

# seeded epoch permutation: the oracle may use the single-window
# ROW_NUMBER (tiny scale); the Spark side must NOT (bucket-offset rank)
_TRAINING_ORDER_SQL = f"""
WITH e AS (
  SELECT 0 AS epoch, doc_id FROM documents
  UNION ALL
  SELECT 1 AS epoch, doc_id FROM documents
), h AS (
  SELECT epoch, doc_id,
         {_H31.format(x="'ord' || CAST(epoch AS VARCHAR) || ':' "
                        "|| CAST(doc_id AS VARCHAR)")} AS h
  FROM e
)
SELECT epoch, doc_id, h,
       CAST(ROW_NUMBER() OVER (PARTITION BY epoch ORDER BY h, doc_id)
            AS BIGINT) AS pos
FROM h
"""

# per-language char-budget mixing prefix: the oracle may use the
# per-stratum running-sum window (tiny scale); the Spark side must NOT
# (bucket-offset distributed prefix sum with bucket pruning)
_TOKEN_MIX_SQL = f"""
WITH h AS (
  SELECT doc_id, lang AS stratum, n_chars,
         {_H31.format(x="'mix0:' || CAST(doc_id AS VARCHAR)")} AS h
  FROM documents
), c AS (
  SELECT stratum, doc_id, CAST(n_chars AS BIGINT) AS w,
         CAST(SUM(n_chars) OVER (PARTITION BY stratum ORDER BY h, doc_id
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM h
)
SELECT stratum, doc_id, w, cum FROM c WHERE cum <= 12000
"""

_STOP = {
    "en": "['the','and','of','to','in','is','that','for','with','as']",
    "es": "['el','la','de','que','y','en','los','del','las','por']",
    "fr": "['le','la','de','et','les','des','en','du','que','une']",
    "de": "['der','die','und','das','von','zu','mit','den','des','ist']",
}


def _simhash_sql(bits: int = 32) -> str:
    sums = ",\n    ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s_{b}"
        for b in range(bits))
    val = " + ".join(
        f"(CASE WHEN s_{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(bits))
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKS}) AS t FROM documents
), th AS (
  SELECT doc_id, {_H31.format(x='t')} AS h FROM tok
), bits AS (
  SELECT doc_id, {sums} FROM th GROUP BY doc_id
)
SELECT doc_id, CAST({val} AS BIGINT) AS simhash FROM bits
"""


_SHINGLES = """CASE WHEN len(t) >= 3
  THEN list_transform(range(1, CAST(len(t) - 1 AS BIGINT)),
                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
  ELSE [COALESCE(array_to_string(t, ' '), '')] END"""
# ^ COALESCE: DuckDB's array_to_string([], ' ') is NULL while Spark's
# concat_ws(' ', []) is '' — without it a zero-token doc shingles to a
# NULL bucket on the oracle side (NULL never equi-joins) but to the ''
# "empty document" shingle in Spark, silently dropping empty-doc pairs
# from every oracle.  Caught by tests/test_oracle_random_corpus.py.


def _minhash_sql(k: int = 8) -> str:
    from ..operators.dedup import minhash_params
    params = minhash_params(k)
    aggs = ",\n    ".join(
        f"MIN((CAST({a} AS BIGINT) * h + {b}) % 2147483647) AS mh_{j}"
        for j, (a, b) in enumerate(params))
    return f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS t FROM documents
), sh AS (
  SELECT DISTINCT doc_id, unnest({_SHINGLES}) AS s FROM toks
), h AS (
  SELECT doc_id, {_H31.format(x='s')} AS h FROM sh
)
SELECT doc_id, {aggs} FROM h GROUP BY doc_id
"""


def _minhash_lsh_sql(k: int = 16, bands: int = 8,
                     max_group: int = 256) -> str:
    from ..operators.dedup import minhash_params
    params = minhash_params(k)
    rows = k // bands
    aggs = ",\n    ".join(
        f"MIN((CAST({a} AS BIGINT) * h + {b}) % 2147483647) AS mh_{j}"
        for j, (a, b) in enumerate(params))
    band_rows = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, ".format(b=b)
        + " || '_' || ".join(
            f"CAST(mh_{b * rows + r} AS VARCHAR)" for r in range(rows))
        + " AS bucket FROM sig"
        for b in range(bands))
    # bc: the hot-bucket document-frequency cap mirrored from
    # minhash_lsh_pairs (buckets with > max_group members are dropped)
    return f"""
WITH aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, substr(text, 1, CAST((9 * length(text)) // 10 AS INT))
  FROM documents
), toks AS (
  SELECT doc_id, {_TOKS} AS t FROM aug
), sh AS (
  SELECT DISTINCT doc_id, unnest({_SHINGLES}) AS s FROM toks
), h AS (
  SELECT doc_id, {_H31.format(x='s')} AS h FROM sh
), sig AS (
  SELECT doc_id, {aggs} FROM h GROUP BY doc_id
), buckets AS ({band_rows}
), bc AS (
  SELECT band, bucket FROM buckets
  GROUP BY band, bucket HAVING COUNT(*) <= {max_group}
)
SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
FROM buckets l JOIN buckets r ON l.band = r.band AND l.bucket = r.bucket
JOIN bc ON l.band = bc.band AND l.bucket = bc.bucket
WHERE l.doc_id < r.doc_id
"""


_NGRAM_JACCARD_SQL = f"""
WITH aug AS (
  SELECT doc_id, text, lang FROM documents
  UNION ALL
  SELECT doc_id + 1000000,
         substr(text, 1, CAST((9 * length(text)) // 10 AS INT)), lang
  FROM documents
), toks AS (
  SELECT doc_id, lang AS blk_lang, length(text) // 64 AS blk_len,
         {_TOKS} AS t FROM aug
), base AS (
  SELECT doc_id, blk_lang, blk_len, {_SHINGLES} AS sh FROM toks
), withn AS (
  SELECT doc_id, blk_lang, blk_len, CAST(len(list_distinct(sh)) AS INT) AS n_sh, sh
  FROM base
), ex AS (
  SELECT DISTINCT doc_id, blk_lang, blk_len, n_sh, unnest(sh) AS s FROM withn
), keep AS (
  -- hot-shingle document-frequency cap mirrored from ngram_jaccard_pairs:
  -- shingle groups with > 256 member docs are dropped from intersection
  SELECT blk_lang, blk_len, s FROM ex
  GROUP BY blk_lang, blk_len, s HAVING COUNT(*) <= 256
), inter AS (
  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, l.n_sh AS n_a, r.n_sh AS n_b,
         COUNT(*) AS inter
  FROM ex l JOIN ex r
    ON l.blk_lang = r.blk_lang AND l.blk_len = r.blk_len AND l.s = r.s
  JOIN keep k
    ON k.blk_lang = l.blk_lang AND k.blk_len = l.blk_len AND k.s = l.s
  WHERE l.doc_id < r.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT doc_a, doc_b, inter, n_a, n_b FROM inter
WHERE 1000 * inter >= 500 * (n_a + n_b - inter)
"""

# brute-force exact Jaccard join: deliberately does NOT mirror the prefix
# filter — a candidate pair the Spark-side AllPairs prefix index missed
# would hash-mismatch here (lossless-filter proof, not just consistency)
_PREFIX_JACCARD_SQL = f"""
WITH aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000,
         substr(text, 1, CAST((9 * length(text)) // 10 AS INT))
  FROM documents
), toks AS (
  SELECT doc_id, {_TOKS} AS t FROM aug
), tok AS (
  SELECT DISTINCT doc_id, unnest({_SHINGLES}) AS t FROM toks
), n AS (
  SELECT doc_id, CAST(COUNT(*) AS INT) AS n FROM tok GROUP BY 1
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS INT) AS inter
  FROM tok a JOIN tok b ON a.t = b.t AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, inter, na.n AS n_a, nb.n AS n_b
FROM inter
JOIN n na ON na.doc_id = inter.doc_a
JOIN n nb ON nb.doc_id = inter.doc_b
WHERE 1000 * inter >= 700 * (na.n + nb.n - inter)
"""


# repeated-substring spans: duplicated 5-gram positions -> per-doc
# gaps-and-islands merge (two covered intervals are one token run iff
# next_pos <= prev_pos + k)
_REPEATED_SPANS_SQL = f"""
WITH aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000,
         substr(text, 1, CAST((9 * length(text)) // 10 AS INT))
  FROM documents
), toks AS (
  SELECT doc_id, {_TOKS} AS t FROM aug
), g0 AS (
  SELECT doc_id,
         unnest(list_transform(range(1, CAST(len(t) - 3 AS BIGINT)),
           i -> struct_pack(pos := CAST(i - 1 AS INT),
                            gram := array_to_string(t[i:i+4], ' ')))) AS u
  FROM toks WHERE len(t) >= 5
), posts AS (
  SELECT doc_id, u.pos AS pos, u.gram AS gram FROM g0
), dup AS (
  SELECT gram FROM posts GROUP BY gram HAVING COUNT(*) >= 2
), hits AS (
  SELECT doc_id, pos FROM posts WHERE gram IN (SELECT gram FROM dup)
), lagged AS (
  SELECT doc_id, pos,
         LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
  FROM hits
), isl AS (
  SELECT doc_id, pos,
         SUM(CASE WHEN prev IS NOT NULL AND pos <= prev + 5
                  THEN 0 ELSE 1 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS isl
  FROM lagged
)
SELECT doc_id, CAST(MIN(pos) AS INT) AS span_start,
       CAST(MAX(pos) + 4 AS INT) AS span_end,
       CAST(MAX(pos) + 4 - MIN(pos) + 1 AS INT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_grams
FROM isl GROUP BY doc_id, isl
"""


_EMB_TOPK_SQL = """
WITH b AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
  FROM embeddings
), q AS (
  SELECT vec_id AS query_id, v AS qv FROM b WHERE vec_id < 8
), s AS (
  SELECT query_id, vec_id AS neighbor_id,
         CAST(list_sum(list_transform(range(1, CAST(len(v) + 1 AS BIGINT)),
                                      i -> v[i] * qv[i])) AS BIGINT) AS dot
  FROM b, q WHERE vec_id <> query_id
)
SELECT query_id, neighbor_id, dot, CAST(rank AS INT) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY dot DESC, neighbor_id) AS rank
  FROM s
) WHERE rank <= 5
"""


def _lang_id_sql() -> str:
    scores = ",\n  ".join(
        f"CAST(len(list_filter({_TOKS}, t -> list_contains({arr}, t))) AS BIGINT)"
        f" AS score_{lang}"
        for lang, arr in _STOP.items())
    return f"""
WITH scored AS (
  SELECT doc_id, {scores} FROM documents
)
SELECT *, CASE
  WHEN score_en >= score_es AND score_en >= score_fr AND score_en >= score_de THEN 'en'
  WHEN score_es >= score_fr AND score_es >= score_de THEN 'es'
  WHEN score_fr >= score_de THEN 'fr'
  ELSE 'de' END AS pred_lang
FROM scored
"""


_QUALITY_SQL = f"""
WITH t AS (
  SELECT doc_id, text, {_TOKS} AS toks FROM documents
)
SELECT doc_id,
  CAST(FLOOR(1000 * len(list_filter(toks, x -> list_contains({_STOP['en']}, x)))
       / GREATEST(len(toks), 1)) AS BIGINT)
  + 100 * LEAST(CAST(FLOOR(length(text) / 100) AS BIGINT), 10)
  - CAST(FLOOR(1000 * (length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')))
        / GREATEST(length(text), 1)) AS BIGINT) AS quality
FROM t
"""

_TEXT_STATS_SQL = f"""
SELECT doc_id,
  CAST(len({_TOKS}) AS BIGINT) AS n_tok,
  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT)
    AS n_tok_regex,
  CAST(length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS BIGINT)
    AS n_punct,
  CAST(length(text) AS BIGINT) AS len_chars
FROM documents
"""

_FINGERPRINT_SQL = """
WITH fp AS (
  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
  FROM documents
)
SELECT doc_id, fp,
       MIN(doc_id) OVER (PARTITION BY fp) AS keeper,
       COUNT(*) OVER (PARTITION BY fp) AS group_size
FROM fp
"""

_SPANS_SQL = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '),
                             x -> length(x) > 0) AS t
  FROM documents
), chunks AS (
  SELECT doc_id, t,
         unnest(range(0, GREATEST((CAST(len(t) AS BIGINT) - 1) // 8, 0) + 1)) AS i
  FROM toks
), text_spans AS (
  SELECT doc_id, i * 10 AS span_offset, 'text' AS kind,
         -- COALESCE: array_to_string on the empty slice of a zero-token
         -- doc is NULL in DuckDB but '' via Spark's concat_ws (same class
         -- as the _SHINGLES divergence; caught by the randomized-corpus
         -- gate) — the span content convention is '', never NULL
         COALESCE(array_to_string(t[(i*8+1):(i*8+8)], ' '), '') AS content,
         '' AS media_ref
  FROM chunks
), img_spans AS (
  SELECT doc_id, i * 10 + 5, 'image', '',
         'blob://img/' || CAST(doc_id AS VARCHAR) || '_' || CAST(i AS VARCHAR)
  FROM chunks WHERE i % 3 = 2
), geo_spans AS (
  SELECT doc_id, 9999999, 'geo',
         CAST((doc_id * 7919) % 1890000 AS VARCHAR) || ',' ||
         CAST((doc_id * 7907 + 13) % 1520000 AS VARCHAR), ''
  FROM documents
)
SELECT * FROM text_spans
UNION ALL SELECT * FROM img_spans
UNION ALL SELECT * FROM geo_spans
"""


def q_decontam_spark(spark, sf_dir):
    """Eval-set n-gram decontamination (operators/decontam.py): the eval
    suite (every 97th doc, truncated to its first 60% — eval items appear
    verbatim INSIDE training docs) is shingled and broadcast; the corpus's
    exploded shingles inner-join it map-side, so the only shuffle is the
    per-doc hit aggregation.  Output: contaminated doc -> distinct
    n-grams hit + distinct eval docs implicated (the triage signal)."""
    from ..operators.decontam import ngram_decontaminate
    register_views(spark, sf_dir)
    d = spark.table("documents")
    ev = d.filter(F.col("doc_id") % 97 == 0).select(
        "doc_id",
        F.substring(F.col("text"), 1,
                    F.expr("(6 * length(text)) DIV 10").cast("int"))
        .alias("text"))
    return ngram_decontaminate(d.select("doc_id", "text"), ev)


_DECONTAM_SQL = f"""
WITH ev AS (
  SELECT doc_id AS eval_id,
         substr(text, 1, CAST((6 * length(text)) // 10 AS INT)) AS text
  FROM documents WHERE doc_id % 97 = 0
), evt AS (
  SELECT eval_id, {_TOKS} AS t FROM ev
), evb AS (
  SELECT eval_id, {_SHINGLES} AS sh FROM evt
), evs AS (
  SELECT DISTINCT eval_id, unnest(sh) AS s FROM evb
), ct AS (
  SELECT doc_id, {_TOKS} AS t FROM documents
), cb AS (
  SELECT doc_id, {_SHINGLES} AS sh FROM ct
), cs AS (
  SELECT DISTINCT doc_id, unnest(sh) AS s FROM cb
)
SELECT c.doc_id,
       CAST(COUNT(DISTINCT c.s) AS BIGINT) AS n_hit_ngrams,
       CAST(COUNT(DISTINCT e.eval_id) AS BIGINT) AS n_eval_docs
FROM cs c JOIN evs e ON c.s = e.s
GROUP BY c.doc_id
"""


def q_grouped_quantiles_spark(spark, sf_dir):
    """Per-group exact quantiles (operators/quantiles.py
    grouped_quantiles): the fully-distributed form — running bucket
    counts via a window over each group's BUCKETS (never its values),
    target ranks derived in-frame, nothing collected — so it scales to
    arbitrarily many groups.  Here: per-language n_chars quartile/median/
    p90 over documents; oracle = per-group ROW_NUMBER selection at the
    identical integer ceil rank."""
    from ..operators.quantiles import grouped_quantiles
    register_views(spark, sf_dir)
    return grouped_quantiles(
        spark.table("documents").select(F.col("lang"),
                                        F.col("n_chars")),
        "lang", "n_chars", [2500, 5000, 9000], bucket_width=16)


_GROUPED_QUANTILES_SQL = """
WITH v AS (
  SELECT lang AS g, CAST(n_chars AS BIGINT) AS v FROM documents
), nn AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS n FROM v GROUP BY g
), t(q_pm) AS (VALUES (2500), (5000), (9000)),
k AS (
  SELECT g, CAST(q_pm AS BIGINT) AS q_permyriad,
         LEAST(GREATEST(1, (CAST(q_pm AS BIGINT) * n + 9999) // 10000), n)
           AS k
  FROM t, nn
),
s AS (SELECT g, v, ROW_NUMBER() OVER (PARTITION BY g ORDER BY v) AS rk
      FROM v)
SELECT k.g AS lang, k.q_permyriad, CAST(k.k AS BIGINT) AS global_rank,
       s.v AS value
FROM k JOIN s ON s.g = k.g AND s.rk = k.k
"""


def q_weighted_sample_spark(spark, sf_dir):
    """Deterministic weighted priority sampling (operators/sampling.py,
    Duffield-Lund-Thorup): priority = (hash31(key)*2^20) DIV max(w,1),
    keep the k smallest — exact-k weighted-without-replacement, RNG-free
    (pure function of the data), one scan + TakeOrderedAndProject (per-
    partition k-heaps, k-row driver merge, no global sort)."""
    from ..operators.sampling import weighted_sample
    register_views(spark, sf_dir)
    return weighted_sample(spark.table("documents"), "doc_id", "n_chars",
                           k=64)


_WEIGHTED_SAMPLE_SQL = f"""
WITH s AS (
  SELECT doc_id AS key, CAST(n_chars AS BIGINT) AS weight,
         ({_H31.format(x="CAST(doc_id AS VARCHAR)")} * {1 << 20})
           // GREATEST(CAST(n_chars AS BIGINT), 1) AS priority
  FROM documents
)
SELECT key, weight, CAST(priority AS BIGINT) AS priority
FROM s ORDER BY priority, key LIMIT 64
"""


def q_convex_hull_spark(spark, sf_dir):
    """Distributed per-group convex hull (operators/hull.py): map-side
    partial hulls per physical partition (mapInPandas, zero shuffle),
    then one final chain per group over partial-hull VERTICES only —
    the hull reduction identity hull(A ∪ B) = hull(hull(A) ∪ hull(B))
    makes the single shuffle carry O(partitions · log n) rows per group.
    Output: the exact strict extreme-point set of each 3x3 coarse-block
    group of every 47th micro-space point; the oracle re-derives the same
    set by the convex-combination exclusion test (a point is NOT extreme
    iff it lies strictly inside a triangle, or strictly interior to a
    segment, of its group's other points — Caratheodory in 2D), all
    integer arithmetic.  Ring ORDER (CCW walk, shoelace > 0) is
    pytest-pinned in tests/test_hull.py."""
    from ..operators.hull import convex_hull
    pts = _pts_df(spark, sf_dir).filter(F.col("point_id") % 47 == 0)
    df = pts.withColumn(
        "g", F.expr("px DIV 630000") * 3 + F.expr("py DIV 630000"))
    return (convex_hull(df, "g")
            .select("g", F.col("px").cast("long").alias("px"),
                    F.col("py").cast("long").alias("py")))


_CONVEX_HULL_SQL = f"""
WITH {PTS.replace('{D}', '//')}, P AS (
  SELECT DISTINCT (px // 630000) * 3 + (py // 630000) AS g, px, py
  FROM pts_cell WHERE point_id % 47 = 0
)
SELECT p.g, p.px, p.py FROM P p
WHERE NOT EXISTS (
  SELECT 1 FROM P a, P b
  WHERE a.g = p.g AND b.g = p.g
    AND (b.px - a.px) * (p.py - a.py) - (b.py - a.py) * (p.px - a.px) = 0
    AND (p.px - a.px) * (b.px - a.px) + (p.py - a.py) * (b.py - a.py) > 0
    AND (p.px - b.px) * (a.px - b.px) + (p.py - b.py) * (a.py - b.py) > 0
)
AND NOT EXISTS (
  SELECT 1 FROM P a, P b, P c
  WHERE a.g = p.g AND b.g = p.g AND c.g = p.g
    AND (b.px - a.px) * (p.py - a.py) - (b.py - a.py) * (p.px - a.px) > 0
    AND (c.px - b.px) * (p.py - b.py) - (c.py - b.py) * (p.px - b.px) > 0
    AND (a.px - c.px) * (p.py - c.py) - (a.py - c.py) * (p.px - c.px) > 0
)
"""


def q_heavy_hitters_spark(spark, sf_dir):
    """Corpus-wide heavy hitters (operators/sketches.py): per-partition
    Misra-Gries summaries (mapInPandas, zero shuffle), merged once
    (partitions x k scalar-size rows), then ONE exact counting pass over
    just the <= k candidates — the distinct-token set is never shuffled.
    Output: exact counts of every token with frequency > n/(k+1); a pure
    function of the input multiset (partitioning-invariance pytest-pinned
    in tests/test_sketches.py)."""
    from ..functions import text as X
    from ..operators.sketches import heavy_hitters
    register_views(spark, sf_dir)
    toks = (spark.table("documents")
            .select(X.tokens(F.col("text")).alias("t"))
            .select(F.explode_outer("t").alias("token"))
            .filter(F.col("token").isNotNull()))
    return heavy_hitters(toks, "token", k=32)


_HEAVY_HITTERS_SQL = f"""
WITH toks AS (
  SELECT {_TOKS} AS t FROM documents
), tok AS (
  SELECT unnest(t) AS token FROM toks
), n AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS c FROM tok
)
SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
FROM tok GROUP BY token
HAVING CAST(COUNT(*) AS BIGINT) * 33 > (SELECT c FROM n)
"""


def q_span_seq_fp_spark(spark, sf_dir):
    """Per-doc span-SEQUENCE fingerprint: the input_hint's per-row
    invariant (span kind/content/media_ref equality IN ORDER per doc_id)
    expressed as one order-sensitive md5 per document — sort_array over
    the collected (offset, kind, content, media_ref) structs gives the
    offset order (offsets are unique per doc by construction), and the
    hash commits to the full ordered sequence.  One shuffle (the per-doc
    collect); array sizes are per-doc span counts, bounded."""
    spans = q_spans_spark(spark, sf_dir)
    arr = F.sort_array(F.collect_list(
        F.struct("span_offset", "kind", "content", "media_ref")))
    return (spans.groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("n_spans"),
                 F.md5(F.concat_ws("|", F.transform(
                     arr, lambda s: F.concat_ws(
                         ":", s.kind, s.content, s.media_ref))))
                 .alias("seq_fp")))


_SPAN_SEQ_FP_SQL = f"""
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
       md5(string_agg(kind || ':' || content || ':' || media_ref,
                      '|' ORDER BY span_offset)) AS seq_fp
FROM ({_SPANS_SQL}) spans
GROUP BY doc_id
"""


def q_skyline_spark(spark, sf_dir):
    """Per-group 2D Pareto skyline (operators/skyline.py): the dominance
    analog of convex_hull — map-side partial skylines per partition
    (mapInPandas sort + running-min scan, zero shuffle), one final scan
    per group over skyline CANDIDATES only (the reduction identity
    skyline(A∪B) = skyline(skyline(A)∪skyline(B))).  Output: the exact
    strict-dominance minimal set of each 3x3 coarse block of every 31st
    micro-space point; oracle = the NOT EXISTS dominance test.
    Partitioning invariance is pytest-pinned (tests/test_skyline.py)."""
    from ..operators.skyline import skyline_2d
    pts = _pts_df(spark, sf_dir).filter(F.col("point_id") % 31 == 0)
    df = pts.withColumn(
        "g", F.expr("px DIV 630000") * 3 + F.expr("py DIV 630000"))
    return (skyline_2d(df, "g", "px", "py")
            .select("g", F.col("x").alias("px"), F.col("y").alias("py")))


_SKYLINE_SQL = f"""
WITH {PTS.replace('{D}', '//')}, P AS (
  SELECT DISTINCT (px // 630000) * 3 + (py // 630000) AS g, px, py
  FROM pts_cell WHERE point_id % 31 = 0
)
SELECT p.g, p.px, p.py FROM P p
WHERE NOT EXISTS (
  SELECT 1 FROM P q
  WHERE q.g = p.g AND q.px <= p.px AND q.py <= p.py
    AND (q.px < p.px OR q.py < p.py)
)
"""


