"""Relational joins, packing/mixing/ordering, quality rules, graph algorithms, PII."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ._shared import PTS, _pts_df, register_views
from .textsim import _aug_docs
from .textsql import _TOKS

# ---------------------------------------------------------------------------
# Relational join coverage: the engine's join strategies made explicit —
# dimensions broadcast, facts shuffle-joined on their keys (AQE handles
# skew).  Money stays integer cents end-to-end for oracle exactness.
# ---------------------------------------------------------------------------

def q3_shipping_spark(spark, sf_dir):
    """customer (filtered dim, broadcast) x orders x lineitem."""
    register_views(spark, sf_dir)
    c = spark.table("customer").filter(
        F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    o = spark.table("orders").filter(
        F.col("o_orderdate") < "1995-03-15").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    line = spark.table("lineitem").filter(
        F.col("l_shipdate") > "1995-03-15").select(
        "l_orderkey",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0)
        .cast("long").alias("cents"))
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(line, o.o_orderkey == line.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum("cents").alias("revenue_cents"),
             F.count("*").alias("n_lines"))
        .select(F.col("o_orderkey").alias("l_orderkey"),
                F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
                "o_orderpriority", "revenue_cents", "n_lines")
    )


_Q3_SQL = """
SELECT o_orderkey AS l_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_orderpriority,
       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
         AS BIGINT) AS revenue_cents,
       COUNT(*) AS n_lines
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY 1, 2, 3
"""


def q5_region_spark(spark, sf_dir):
    """Six-way join: dims (region->nation->supplier) broadcast into the
    orders x lineitem fact join; revenue per nation."""
    register_views(spark, sf_dir)
    r = spark.table("region").filter(F.col("r_name") == "ASIA")
    n = spark.table("nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
    s = spark.table("supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
    c = spark.table("customer")
    o = spark.table("orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1998-01-01"))
    line = spark.table("lineitem").select(
        "l_orderkey", "l_suppkey",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0)
        .cast("long").alias("cents"))
    return (
        line.join(F.broadcast(s.select("s_suppkey", "s_nationkey", "n_name")),
                  line.l_suppkey == F.col("s_suppkey"))
        .join(o, line.l_orderkey == o.o_orderkey)
        .join(c.select("c_custkey"), o.o_custkey == F.col("c_custkey"))
        .groupBy("n_name")
        .agg(F.sum("cents").alias("revenue_cents"),
             F.count("*").alias("n_lines"))
    )


_Q5_SQL = """
SELECT n_name,
       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
         AS BIGINT) AS revenue_cents,
       COUNT(*) AS n_lines
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
"""


def q_asof_join_spark(spark, sf_dir):
    """As-of join (engine extra — the reference has none, SURVEY.md §2.3):
    for each 'click' event, the most recent prior 'view' event of the same
    user.  Expressed as union + window last_value (single shuffle on
    user_id) instead of a range self-join."""
    register_views(spark, sf_dir)
    e = spark.table("events")
    tagged = e.select(
        "user_id", "event_id", "ts", "event_type",
        F.when(F.col("event_type") == "view", F.col("event_id")).alias("view_id"),
        F.when(F.col("event_type") == "view", F.col("ts")).alias("view_ts"))
    w = (Window.partitionBy("user_id")
         .orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    return (tagged
            .withColumn("prior_view_id", F.last("view_id", True).over(w))
            .withColumn("prior_view_ts", F.last("view_ts", True).over(w))
            .filter(F.col("event_type") == "click")
            .select("user_id", "event_id",
                    F.col("prior_view_id").cast("long").alias("prior_view_id"),
                    (F.unix_micros(F.col("ts").cast("timestamp"))
                     - F.unix_micros(F.col("prior_view_ts").cast("timestamp")))
                    .alias("lag_us")))


def q_range_join_spark(spark, sf_dir):
    """Banded interval join (engine extra, SURVEY.md §2.3 join family):
    each 'error' event opens a 30-minute incident window; count and sum
    the same user's OTHER events inside it.  A naive range join here is a
    BNLJ (the 100 TB killer); ``interval_join_banded`` explodes windows
    into 10-minute bands so matching becomes an equi-join on
    ``(band, user_id)`` + exact refine — every pair found exactly once
    because a point lives in exactly one band (operators/interval_join.py).
    LEFT semantics keep zero-activity incidents (n_events = 0)."""
    from ..operators.interval_join import interval_join_banded
    register_views(spark, sf_dir)
    ev = spark.table("events").select(
        "event_id", "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
        "event_type")
    inc = (ev.filter(F.col("event_type") == "error")
           .select(F.col("event_id").alias("incident_id"), "user_id",
                   F.col("ts_us").alias("s_us"),
                   (F.col("ts_us") + F.lit(1800000000)).alias("e_us")))
    pts = ev.select("event_id", "user_id", "ts_us", "value_cents")
    j = interval_join_banded(
        pts, inc, band=600_000_000, keys=["user_id"],
        extra=lambda i, p: p["event_id"] != i["incident_id"])
    return (j.groupBy("incident_id", "user_id")
            .agg(F.count("event_id").alias("n_events"),
                 F.coalesce(F.sum("value_cents"), F.lit(0))
                 .cast("long").alias("sum_value_cents")))


_RANGE_JOIN_SQL = """
WITH ev AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us,
         CAST(ROUND(value * 100) AS BIGINT) AS value_cents, event_type
  FROM events
), inc AS (
  SELECT event_id AS incident_id, user_id, ts_us AS s_us,
         ts_us + 1800000000 AS e_us
  FROM ev WHERE event_type = 'error'
), j AS (
  SELECT i.incident_id, i.user_id, e.event_id, e.value_cents
  FROM inc i LEFT JOIN ev e
    ON e.user_id = i.user_id AND e.ts_us >= i.s_us AND e.ts_us < i.e_us
   AND e.event_id <> i.incident_id
)
SELECT incident_id, user_id, COUNT(event_id) AS n_events,
       CAST(COALESCE(SUM(value_cents), 0) AS BIGINT) AS sum_value_cents
FROM j GROUP BY incident_id, user_id
"""


_ASOF_SQL = """
WITH tagged AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN event_type = 'view' THEN event_id END AS view_id,
         CASE WHEN event_type = 'view' THEN ts END AS view_ts
  FROM events
), w AS (
  SELECT *,
    LAST_VALUE(view_id IGNORE NULLS) OVER
      (PARTITION BY user_id ORDER BY ts, event_id
       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_view_id,
    LAST_VALUE(view_ts IGNORE NULLS) OVER
      (PARTITION BY user_id ORDER BY ts, event_id
       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_view_ts
  FROM tagged
)
SELECT user_id, event_id, prior_view_id,
       epoch_us(ts) - epoch_us(prior_view_ts) AS lag_us
FROM w WHERE event_type = 'click'
"""


def q_stratified_sample_spark(spark, sf_dir):
    """Deterministic stratified sampling (training-data mixing): keep a
    per-language permille of documents by a portable content-free hash of
    the doc_id — reproducible on any engine/cluster size (no RNG), the
    standard way corpora are downsampled per stratum."""
    from ..functions import text as X
    register_views(spark, sf_dir)
    d = spark.table("documents")
    rates = F.create_map(
        F.lit("en"), F.lit(500), F.lit("es"), F.lit(250),
        F.lit("fr"), F.lit(250), F.lit("de"), F.lit(125))
    h = F.pmod(X.hash31(F.concat(F.lit("sample:"),
                                 F.col("doc_id").cast("string"))), F.lit(1000))
    return (d.withColumn("h", h)
            .filter(F.col("h") < F.coalesce(rates[F.col("lang")], F.lit(0)))
            .select("doc_id", "lang", F.col("h").alias("sample_key")))


_STRATIFIED_SAMPLE_SQL = """
WITH h AS (
  SELECT doc_id, lang,
         (CAST(('0x' || substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 8))
               AS BIGINT) % 2147483647) % 1000 AS sample_key
  FROM documents
)
SELECT doc_id, lang, sample_key FROM h
WHERE sample_key < CASE lang WHEN 'en' THEN 500 WHEN 'es' THEN 250
                             WHEN 'fr' THEN 250 WHEN 'de' THEN 125
                             ELSE 0 END
"""


def q_cross_source_overlap_spark(spark, sf_dir):
    """Train/eval contamination check: fingerprints whose documents appear
    in MORE than one source, with per-source doc lists — the dedup-key
    variant of the standard leakage scan over a corpus."""
    from ..functions import text as X
    register_views(spark, sf_dir)
    d = spark.table("documents")
    # deterministic synthetic leakage: every 7th doc re-appears verbatim
    # under an 'eval' source (same construction in the oracle SQL)
    leaked = (d.filter(F.col("doc_id") % 7 == 0)
              .select((F.col("doc_id") + 2000000).alias("doc_id"), "text",
                      F.lit("eval").alias("source")))
    aug = d.select("doc_id", "text", "source").unionByName(leaked)
    fp = aug.select("doc_id", "source",
                    X.fingerprint(F.col("text")).alias("fp"))
    return (fp.groupBy("fp")
            .agg(F.count_distinct("source").alias("n_sources"),
                 F.count("*").alias("n_docs"),
                 F.min("doc_id").alias("min_doc"))
            .filter(F.col("n_sources") > 1))


_CROSS_SOURCE_SQL = """
WITH aug AS (
  SELECT doc_id, text, source FROM documents
  UNION ALL
  SELECT doc_id + 2000000, text, 'eval' FROM documents WHERE doc_id % 7 = 0
), fp AS (
  SELECT doc_id, source,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
  FROM aug
)
SELECT fp, COUNT(DISTINCT source) AS n_sources, COUNT(*) AS n_docs,
       MIN(doc_id) AS min_doc
FROM fp GROUP BY fp HAVING COUNT(DISTINCT source) > 1
"""


def q_pack_sequences_spark(spark, sf_dir):
    """Sequence packing (pre-training context-window batching): greedy
    first-fit of documents into 256-token bins, sharded by a portable
    doc_id hash so the sequential fill recurrence stays bounded per shard
    and the stage scales embarrassingly (operators/packing.py).  Oracle:
    the same greedy recurrence as a DuckDB recursive CTE."""
    from ..operators.packing import pack_sequences
    register_views(spark, sf_dir)
    return pack_sequences(spark.table("documents"), budget=256, n_shards=8)


def q_repetition_spark(spark, sf_dir):
    """Within-document repetition ratio (Gopher-style quality rule,
    Rae et al. 2021): the fraction of bigram occurrences that are
    duplicates, plus the hottest bigram's count.  Every 5th document is
    self-concatenated (deterministic, mirrored in the oracle) so the
    metric has guaranteed non-zero mass to discriminate on.  Plan shape:
    two hash-aggregates with map-side partials — no window, no join; the
    gram cardinality is bounded by the corpus token count, so the stage
    is a plain shuffled agg at any scale."""
    from ..functions import text as X
    register_views(spark, sf_dir)
    d = spark.table("documents")
    aug = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(F.col("text"), F.lit(" "), F.col("text")))
        .otherwise(F.col("text")).alias("text"))
    tok = aug.select("doc_id", X.tokens(F.col("text")).alias("toks"))
    # toks is materialized in its own projection; the lambda body only
    # does element access (trivial), per the HOF rule
    g = tok.select("doc_id", F.expr(
        "CASE WHEN size(toks) >= 2 THEN "
        "transform(sequence(1, size(toks) - 1), i -> "
        "concat(element_at(toks, i), ' ', element_at(toks, i + 1))) "
        "END").alias("grams"))
    grams = (g.select("doc_id", F.explode_outer("grams").alias("gram"))
             .filter(F.col("gram").isNotNull()))
    per = grams.groupBy("doc_id", "gram").agg(F.count("*").alias("c"))
    return (per.groupBy("doc_id")
            .agg(F.sum("c").cast("long").alias("n_grams"),
                 F.count("*").cast("long").alias("n_distinct"),
                 F.max("c").cast("long").alias("top_count"))
            .withColumn("dup_permille", F.expr(
                "CAST((1000 * (n_grams - n_distinct)) DIV n_grams AS LONG)")))


def q_gopher_spark(spark, sf_dir):
    """Gopher word-statistics quality rules (Rae et al. 2021, appendix
    A1.1): word-count bounds, mean-word-length band, symbol-to-word
    ratio, alphabetic-word fraction, required-stopword presence, and the
    composite keep decision — the repetition-family rule is the sibling
    repetition_ratio query.  All thresholds are integer
    cross-multiplications (functions/text.gopher_flags), so the flags
    hash bit-identically against the DuckDB oracle.  Plan shape: one
    map-side projection over the corpus — zero shuffles, zero joins; at
    100 TB this is a pure scan stage that fuses into whatever consumes
    the keep flag."""
    from ..functions import text as X
    register_views(spark, sf_dir)
    d = spark.table("documents")
    tok = d.select("doc_id", "text", X.tokens(F.col("text")).alias("toks"))
    return tok.select("doc_id", *X.gopher_flags(F.col("text"), F.col("toks")))


def q_training_order_spark(spark, sf_dir):
    """Deterministic epoch shuffle (training order): every doc gets a
    dense 1..N position in a seeded permutation, per epoch, via the
    two-pass bucket-offset rank in operators/ordering.py — no global
    single-partition window.  Oracle: the equivalent (tiny-scale-safe)
    ROW_NUMBER over the same portable hash."""
    from ..operators.ordering import assign_global_positions
    register_views(spark, sf_dir)
    return assign_global_positions(spark.table("documents"), epochs=2)


def q_token_mix_spark(spark, sf_dir):
    """Token-budget corpus mixing: per language, keep the seeded-hash
    prefix of documents whose cumulative char weight fits a 12k budget,
    via the two-pass bucket-offset distributed prefix sum in
    operators/mixing.py (with bucket-level pruning) — no per-stratum
    single-partition window.  Oracle: the equivalent (tiny-scale-safe)
    running SUM() OVER per stratum."""
    from ..operators.mixing import token_budget_mix
    register_views(spark, sf_dir)
    return token_budget_mix(spark.table("documents"), budget=12000)


def q_exact_dedup_docs_spark(spark, sf_dir):
    from ..operators.dedup import exact_dedup
    register_views(spark, sf_dir)
    return exact_dedup(_aug_docs(spark).unionByName(spark.table("documents")
                                                    .select("doc_id", "text", "lang", "source", "n_chars")))


_EXACT_DEDUP_SQL = """
WITH aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000,
         substr(text, 1, CAST((9 * length(text)) // 10 AS INT))
  FROM documents
  UNION ALL
  SELECT doc_id, text FROM documents
), fp AS (
  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
  FROM aug
)
SELECT fp, MIN(doc_id) AS keeper, COUNT(*) AS n_dups
FROM fp GROUP BY fp HAVING COUNT(*) > 1
"""


def q_exact_quantiles_spark(spark, sf_dir):
    """Exact nearest-rank quantiles of documents.n_chars WITHOUT a global
    sort: two-pass bucket-histogram selection (operators/quantiles.py) —
    one partial-agg shuffle for the histogram (collected once,
    scalar-size), then a broadcast of the (bucket, residual-rank) targets
    and a per-bucket window bounded by one bucket's rows.  The oracle is
    the straightforward global ROW_NUMBER selection with the identical
    integer ceil(q*N/10000) rank."""
    from ..operators.quantiles import exact_quantiles
    register_views(spark, sf_dir)
    return exact_quantiles(spark.table("documents"), "n_chars",
                           [2500, 5000, 9000, 9900], bucket_width=16)


_EXACT_QUANTILES_SQL = """
WITH v AS (SELECT CAST(n_chars AS BIGINT) AS v FROM documents),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
t(q_pm) AS (VALUES (2500), (5000), (9000), (9900)),
k AS (
  SELECT CAST(q_pm AS BIGINT) AS q_permyriad,
         LEAST(GREATEST(1, (CAST(q_pm AS BIGINT) * n + 9999) // 10000), n)
           AS k
  FROM t, nn
),
s AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS rk FROM v)
SELECT k.q_permyriad, CAST(k.k AS BIGINT) AS global_rank, s.v AS value
FROM k JOIN s ON s.rk = k.k
"""


def q_zorder_layout_spark(spark, sf_dir):
    """Z-order layout audit (operators/layout.py): Morton-interleave the
    micro-space point coordinates (static unrolled shift/mask Column —
    whole-stage codegen, no UDF) and summarize each curve range bucket:
    row count, DISTINCT z14 cells touched (the locality evidence: a
    bucket is a compact spatial extent, so bbox/cell scans prune to few
    buckets), min/max key (the per-file pruning statistics
    write_zordered lays down).  The oracle evaluates the IDENTICAL
    interleave generated from the same bit loop as integer arithmetic."""
    from ..operators.layout import zorder_key
    pts = _pts_df(spark, sf_dir)
    return (pts.withColumn("zkey", zorder_key("px", "py"))
            .withColumn("bucket", F.expr(f"zkey DIV {1 << 34}"))
            .groupBy("bucket")
            .agg(F.count("*").alias("n_points"),
                 F.count_distinct("cell_id").alias("n_cells"),
                 F.min("zkey").alias("min_key"),
                 F.max("zkey").alias("max_key")))


def _zorder_layout_sql() -> str:
    from ..operators.layout import zorder_key_sql
    pts = PTS.replace("{D}", "//")
    return f"""
WITH {pts}, keyed AS (
  SELECT *, CAST({zorder_key_sql('px', 'py')} AS BIGINT) AS zkey
  FROM pts_cell
)
SELECT zkey // {1 << 34} AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(COUNT(DISTINCT cell_id) AS BIGINT) AS n_cells,
       MIN(zkey) AS min_key, MAX(zkey) AS max_key
FROM keyed GROUP BY 1
"""


def q_line_dedup_spark(spark, sf_dir):
    """Corpus-wide line-level dedup stats (C4 §2.2 / RefinedWeb): docs cut
    into 8-token lines, each distinct line kept only at its first
    occurrence (min (doc_id, pos)); per-doc survival counts.  Every 3rd
    document is cloned (deterministic, mirrored in the oracle) so the
    corpus has guaranteed duplicated-line mass.  Plan shape: explode + two
    partial-agg shuffles + one doc-keyed join of doc-sized aggregates —
    the exploded line set never self-joins (operators/dedup.py
    line_dedup_stats)."""
    from ..operators.dedup import line_dedup_stats
    register_views(spark, sf_dir)
    d = spark.table("documents").select("doc_id", "text")
    clones = (d.filter(F.col("doc_id") % 3 == 0)
              .select((F.col("doc_id") + 2000000).alias("doc_id"), "text"))
    return line_dedup_stats(d.unionByName(clones))


_LINE_DEDUP_SQL = """
WITH aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 3 = 0
), toks AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '),
                             x -> length(x) > 0) AS t
  FROM aug
), chunks AS (
  SELECT doc_id, t,
         unnest(range(0, GREATEST((CAST(len(t) AS BIGINT) - 1) // 8, 0) + 1)) AS i
  FROM toks
), lines AS (
  SELECT doc_id, i, array_to_string(t[(i*8+1):(i*8+8)], ' ') AS line,
         CAST(doc_id AS BIGINT) * 1048576 + i AS k
  FROM chunks
), winners AS (
  SELECT line, MIN(k) AS wk FROM lines GROUP BY line
), kept AS (
  SELECT wk // 1048576 AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept
  FROM winners GROUP BY 1
), totals AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines FROM lines GROUP BY doc_id
)
SELECT t.doc_id, t.n_lines,
       CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(t.n_lines - COALESCE(k.n_kept, 0) AS BIGINT) AS n_dropped
FROM totals t LEFT JOIN kept k ON t.doc_id = k.doc_id
"""


def q_bloom_semi_join_spark(spark, sf_dir):
    """Bloom runtime-filter semi-join (operators/bloomjoin.py): lineitem
    rows whose order is URGENT, with the probe stream pruned map-side by
    an m=2^15-bit Bloom over the urgent order keys BEFORE the exact
    left-semi refine join shuffles anything.  The Bloom bitmap is built
    with one <=m/64-row aggregation and collected ONCE (16 KiB);
    false positives are removed by the refine join, so the result is
    exact regardless of m/k — the composition is what the oracle
    verifies.  At 100 TB: the probe side reaches the join carrying
    |matches|*(1+fp) rows instead of the full table."""
    from ..operators.bloomjoin import bloom_semi_join
    register_views(spark, sf_dir)
    keys = (spark.table("orders")
            .filter(F.col("o_orderpriority") == "1-URGENT")
            .select(F.col("o_orderkey").alias("l_orderkey")))
    li = spark.table("lineitem")
    kept = bloom_semi_join(li, "l_orderkey", keys, "l_orderkey",
                           m_bits=1 << 15, k=3)
    return (kept.groupBy("l_returnflag", "l_linestatus")
            .agg(F.count("*").cast("long").alias("n_rows"),
                 F.sum(F.col("l_quantity").cast("long")).cast("long")
                 .alias("sum_qty")))


_BLOOM_SEMI_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem l
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_orderkey = l.l_orderkey
                AND o.o_orderpriority = '1-URGENT')
GROUP BY l_returnflag, l_linestatus
"""


def q_triangle_count_spark(spark, sf_dir):
    """Degree-ordered triangle counting (operators/graph_algos.py,
    Suri & Vassilvitskii WWW'11): a deterministic 500-node graph is
    synthesized from orders (mirrored verbatim in the oracle), edges
    canonicalized + deduped, oriented low-(degree,id) -> high so every
    node's out-degree is O(sqrt m) — the wedge self-join that explodes
    on skewed graphs is bounded regardless of degree distribution.
    Output: one row (n_edges, n_triangles), each triangle counted
    exactly once; oracle = the independent 3-way canonical-edge join."""
    from ..operators.graph_algos import triangle_count
    register_views(spark, sf_dir)
    o = spark.table("orders")
    edges = o.select(
        (F.col("o_custkey") % 500).alias("a"),
        ((F.col("o_custkey") * 7 + F.col("o_orderkey")) % 500).alias("b"))
    return triangle_count(edges)


_TRIANGLE_SQL = """
WITH raw AS (
  SELECT o_custkey % 500 AS x,
         (o_custkey * 7 + o_orderkey) % 500 AS y
  FROM orders
), e AS (
  SELECT DISTINCT LEAST(x, y) AS lo, GREATEST(x, y) AS hi
  FROM raw WHERE x <> y
), t AS (
  SELECT COUNT(*) AS n
  FROM e e1
  JOIN e e2 ON e2.lo = e1.lo AND e2.hi > e1.hi
  JOIN e e3 ON e3.lo = e1.hi AND e3.hi = e2.hi
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
       CAST(n AS BIGINT) AS n_triangles
FROM t
"""


def q_pagerank_spark(spark, sf_dir):
    """Integer-exact PageRank, 5 synchronous iterations
    (operators/graph_algos.py): a deterministic 400-node directed graph
    from orders; every step is BIGINT multiply/DIV at 1e-12 rank units,
    so the DuckDB oracle — the SAME five iterations as chained CTEs —
    hash-matches bit-for-bit.  Per-iteration eager localCheckpoint cuts
    the multiplicative plan growth (repo iterative-loop rule); the only
    collects are two scalars (node count, initial rank)."""
    from ..operators.graph_algos import pagerank_int
    register_views(spark, sf_dir)
    o = spark.table("orders")
    edges = o.select(
        (F.col("o_custkey") % 400).alias("src"),
        ((F.col("o_custkey") * 13 + F.col("o_orderkey")) % 400)
        .alias("dst"))
    return pagerank_int(edges, iters=5)


def _pagerank_sql(iters: int = 5, scale: int = 10 ** 12) -> str:
    """The exact integer recurrence of pagerank_int, unrolled as
    chained CTEs (DuckDB // == Spark DIV on the all-positive ranks)."""
    ctes = [f"""raw AS (
  SELECT o_custkey % 400 AS src,
         (o_custkey * 13 + o_orderkey) % 400 AS dst
  FROM orders
), e AS (
  SELECT DISTINCT src, dst FROM raw WHERE src <> dst
), nodes AS (
  SELECT src AS node FROM e UNION SELECT dst FROM e
), outd AS (
  SELECT src, COUNT(*) AS od FROM e GROUP BY src
), nn AS (SELECT COUNT(*) AS n FROM nodes),
r0 AS (
  SELECT node, (SELECT {scale} // n FROM nn) AS rank FROM nodes
)"""]
    for i in range(1, iters + 1):
        ctes.append(f"""i{i} AS (
  SELECT e.dst AS node, SUM(r.rank // o.od) AS inb
  FROM e JOIN r{i - 1} r ON e.src = r.node
  JOIN outd o ON e.src = o.src
  GROUP BY e.dst
), r{i} AS (
  SELECT nodes.node,
         (SELECT (15 * {scale}) // (100 * n) FROM nn)
         + (85 * COALESCE(i{i}.inb, 0)) // 100 AS rank
  FROM nodes LEFT JOIN i{i} ON nodes.node = i{i}.node
)""")
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT node, CAST(rank AS BIGINT) AS rank FROM r{iters}")


def q_sssp_spark(spark, sf_dir):
    """Single-source shortest paths, 8-round-bounded frontier
    Bellman-Ford (operators/graph_algos.py::sssp_int) — the routing
    analog over the reference's barrier graph (its edges carry the
    per-segment resistance weights DefaultMergeFactorCalculator.cs
    assigns).  A deterministic 350-node weighted digraph is synthesized
    from orders (mirrored verbatim in the oracle); distances stay
    BIGINT, and the frontier loop is round-for-round equal to full
    synchronous relaxation, so the oracle — the SAME 8 rounds unrolled
    as chained min-union CTEs — hash-matches bit-for-bit whether or not
    the graph converged (the dense test graph converges in ~3)."""
    from ..operators.graph_algos import sssp_int
    register_views(spark, sf_dir)
    o = spark.table("orders")
    edges = o.select(
        (F.col("o_custkey") % 350).alias("src"),
        ((F.col("o_custkey") * 11 + F.col("o_orderkey")) % 350)
        .alias("dst"),
        (F.lit(1) + F.col("o_orderkey") % 97).alias("w"))
    return sssp_int(edges, source=0, max_rounds=8)


def _sssp_sql(rounds: int = 8) -> str:
    """The exact integer recurrence of sssp_int, unrolled: r_i holds the
    min path weight over <= i edges (min-union CTE per round)."""
    ctes = ["""raw AS (
  SELECT o_custkey % 350 AS src,
         (o_custkey * 11 + o_orderkey) % 350 AS dst,
         1 + o_orderkey % 97 AS w
  FROM orders
), e AS (
  SELECT src, dst, MIN(w) AS w FROM raw WHERE src <> dst
  GROUP BY src, dst
), r0 AS (
  SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist
)"""]
    for i in range(1, rounds + 1):
        ctes.append(f"""r{i} AS (
  SELECT node, MIN(dist) AS dist FROM (
    SELECT node, dist FROM r{i - 1}
    UNION ALL
    SELECT e.dst AS node, r.dist + e.w AS dist
    FROM e JOIN r{i - 1} r ON e.src = r.node
  ) GROUP BY node
)""")
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT node, CAST(dist AS BIGINT) AS dist FROM r{rounds}")


def q_lm_score_spark(spark, sf_dir):
    """Corpus-trained bigram-LM surprisal (operators/lm.py) — the
    CCNet-style perplexity-filter analog in exact BIGINT arithmetic:
    per-doc sum of bitlen(c(w1,·)) − bitlen(c(w1,w2)) over bigram
    occurrences (floored integer log2 of 1/P(w2|w1); length(bin(v)) is
    the exact bit length in both engines — repo rule).  The occurrence
    table is checkpointed once for its three consumers; both count
    tables are narrow vocabulary-keyed sides."""
    from ..operators.lm import bigram_lm_score
    register_views(spark, sf_dir)
    return bigram_lm_score(spark.table("documents"))


def _lm_score_sql() -> str:
    # lazy: _TOKS is defined further down the module
    return """
WITH toks AS (SELECT doc_id, {TOKS} AS t FROM documents),
tt AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) >= 2),
z AS (SELECT doc_id, unnest(list_zip(t[1:n-1], t[2:n])) AS u FROM tt),
occ AS (SELECT doc_id, u[1] AS w1, u[2] AS w2 FROM z),
uni AS (SELECT w1, length(bin(COUNT(*))) AS bu FROM occ GROUP BY w1),
big AS (SELECT w1, w2, length(bin(COUNT(*))) AS bb
        FROM occ GROUP BY w1, w2),
s AS (SELECT o.doc_id, u.bu - b.bb AS d
      FROM occ o
      JOIN big b ON o.w1 = b.w1 AND o.w2 = b.w2
      JOIN uni u ON o.w1 = u.w1)
SELECT doc_id, COUNT(*) AS n_bigrams,
       CAST(SUM(d) AS BIGINT) AS surprisal_bits,
       CAST((SUM(d) * 1000) // COUNT(*) AS BIGINT) AS bits_permille
FROM s GROUP BY doc_id
""".replace("{TOKS}", _TOKS)





def q_pii_redact_spark(spark, sf_dir):
    """PII scrub (training-data scrubbing): count + mask emails / IPv4s /
    phone numbers with pure JVM regexp expressions (functions/text.py
    PII_*).  The synthetic corpus contains no PII, so each doc is
    deterministically salted with doc_id%3 emails, one IPv4 and (every
    5th doc) one phone number — mirrored verbatim in the oracle — and the
    counts come from the REGEX, not the closed form, so the detector
    itself is what's verified.  Plan shape: one narrow projection, no
    shuffle at all until the driver's sort."""
    from ..functions import text as X
    register_views(spark, sf_dir)
    d = spark.table("documents")
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.expr("repeat(concat(' u', CAST(doc_id AS STRING), '@ex',"
                   " CAST(doc_id % 7 AS STRING), '.com'),"
                   " CAST(doc_id % 3 AS INT))"),
            F.lit(" ip 10."), (F.col("doc_id") % 256).cast("string"),
            F.lit("."), ((F.col("doc_id") * 3) % 256).cast("string"),
            F.lit("."), (F.col("doc_id") % 100).cast("string"),
            F.when(F.col("doc_id") % 5 == 0,
                   F.concat(F.lit(" +1-555-"),
                            F.lpad((F.col("doc_id") % 10000).cast("string"),
                                   4, "0")))
            .otherwise(F.lit(""))).alias("aug"))
    return aug.select(
        "doc_id", *X.pii_counts(F.col("aug")),
        F.md5(X.redact_pii(F.col("aug"))).alias("redacted_fp"))


_PII_REDACT_SQL = r"""
WITH aug AS (
  SELECT doc_id,
         text
         || repeat(' u' || CAST(doc_id AS STRING) || '@ex'
                   || CAST(doc_id % 7 AS STRING) || '.com',
                   CAST(doc_id % 3 AS INT))
         || ' ip 10.' || CAST(doc_id % 256 AS STRING)
         || '.' || CAST((doc_id * 3) % 256 AS STRING)
         || '.' || CAST(doc_id % 100 AS STRING)
         || CASE WHEN doc_id % 5 = 0
                 THEN ' +1-555-' || lpad(CAST(doc_id % 10000 AS STRING), 4, '0')
                 ELSE '' END AS aug
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(aug, '[a-z0-9]+@[a-z0-9]+\.[a-z]+')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(aug, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
       CAST(len(regexp_extract_all(aug, '\+1-555-\d{4}')) AS BIGINT) AS n_phones,
       md5(regexp_replace(regexp_replace(regexp_replace(aug,
           '[a-z0-9]+@[a-z0-9]+\.[a-z]+', '<EMAIL>', 'g'),
           '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
           '\+1-555-\d{4}', '<PHONE>', 'g')) AS redacted_fp
FROM aug
"""


# ---------------------------------------------------------------------------
# Pure-SQL entries: one dialect-shimmed template runs on both engines
# (registered through ``_shared._sql_pair``).
# ---------------------------------------------------------------------------

# trajectory trip segmentation: gap + jump splits over per-user traces
_TRIP_SEGMENTS_SQL = """
WITH p AS (
  SELECT user_id, event_id, ts,
         (event_id * 2654435761) % 1048576 AS px,
         (event_id * 2246822519) % 1048576 AS py
  FROM events
), o AS (
  SELECT user_id, event_id, ts, px, py,
         CASE WHEN LAG(ts) OVER w IS NULL
                   OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                   OR ABS(px - LAG(px) OVER w)
                      + ABS(py - LAG(py) OVER w) > 800000
              THEN 1 ELSE 0 END AS new_t,
         ABS(px - LAG(px) OVER w) + ABS(py - LAG(py) OVER w) AS step_l1
  FROM p
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), t AS (
  SELECT user_id, step_l1, new_t,
         SUM(new_t) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS trip_id
  FROM o
)
SELECT user_id, CAST(trip_id AS BIGINT) AS trip_id,
       COUNT(*) AS n_points,
       CAST(SUM(CASE WHEN new_t = 0 THEN step_l1 ELSE 0 END) AS BIGINT)
         AS path_l1
FROM t GROUP BY user_id, trip_id"""

_TOPK_PER_GROUP_SQL = """
SELECT p_brand, p_partkey, price_cents, rk FROM (
  SELECT p_brand, p_partkey,
         CAST(ROUND(p_retailprice * 100) AS BIGINT) AS price_cents,
         ROW_NUMBER() OVER (PARTITION BY p_brand
                            ORDER BY p_retailprice DESC, p_partkey) AS rk
  FROM part
) WHERE rk <= 3"""

_SESSIONIZE_SQL = """
WITH o AS (
  SELECT user_id, event_id, ts,
         CASE WHEN LAG(ts) OVER w IS NULL
                   OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, event_id,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS session_id
  FROM o
)
SELECT user_id, COUNT(DISTINCT session_id) AS n_sessions,
       COUNT(*) AS n_events
FROM s GROUP BY user_id"""

_DEDUP_KEEPER_SQL = """
SELECT o_custkey, o_orderstatus, MIN(o_orderkey) AS keeper, COUNT(*) AS n
FROM orders GROUP BY o_custkey, o_orderstatus"""

_PIVOT_STATUS_SQL = """
SELECT o_orderpriority,
       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_f,
       CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_o,
       CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_p
FROM orders GROUP BY o_orderpriority"""

_GLOBAL_TOPK_SQL = f"""
WITH {PTS}
SELECT point_id, px, py, weight_cents FROM pts
ORDER BY weight_cents DESC, point_id
LIMIT 100"""

_Q1_PRICING_SQL = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS sum_base_cents,
       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
         AS BIGINT) AS sum_disc_cents
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus"""
