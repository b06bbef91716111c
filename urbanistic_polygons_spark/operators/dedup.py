"""Deduplication operators for the large-scale training-data pipeline.

All five variants are expressed in pure Spark DataFrame ops (JVM-side
higher-order functions; zero Python UDFs) with integer-exact hashing so the
DuckDB oracle reproduces every value bit-for-bit:

- exact:        md5-of-normalized-text groupBy, keep min doc_id
- minhash-lsh:  token shingles -> k portable 31-bit minhashes -> banded
                buckets -> candidate-pair self-join
- simhash:      32-bit per-bit token-hash majority signature
- ngram-jaccard: blocked candidate pairs + integer Jaccard test
- embedding near-dup: see operators/similarity.py (quantized-int dot)

Scale notes: every variant is shuffle-on-key (dedup key / band bucket /
shingle block); band buckets and shingle blocks bound pair enumeration so
nothing is O(n^2); AQE skew-join handles hot buckets.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from ..functions import text as X

# deterministic (a, b) parameters for the k minhash permutations
# h_j(x) = (a_j * x + b_j) mod p, p = 2^31 - 1; a_j < 2^31 so the product
# stays < 2^62 (no int64 overflow in Spark or DuckDB)
MINHASH_P = 2147483647


def minhash_params(k: int) -> list[tuple[int, int]]:
    """Deterministic LCG-derived (a, b) pairs — same constants in the SQL
    oracle."""
    params = []
    state = 1
    for _ in range(k):
        state = (state * 1103515245 + 12345) % (1 << 31)
        a = (state % (MINHASH_P - 1)) + 1
        state = (state * 1103515245 + 12345) % (1 << 31)
        b = state % MINHASH_P
        params.append((a, b))
    return params


def ensure_metrics_survive(df: DataFrame) -> None:
    """Keep drop counters reliable: AQE's empty-relation propagation prunes
    CollectMetrics nodes when a downstream shuffle stage turns out empty at
    runtime (measured on Spark 4.1 — ``Observation.get`` hangs with an empty
    row), i.e. the lineage counters would vanish exactly when EVERY group
    was dropped.  Excluding the rule only disables an empty-input
    short-circuit; applied to the session only when a caller attaches an
    observation."""
    spark = df.sparkSession
    key = "spark.sql.adaptive.optimizer.excludedRules"
    rule = ("org.apache.spark.sql.execution.adaptive."
            "AQEPropagateEmptyRelation")
    try:
        cur = spark.conf.get(key)
    except Exception:
        cur = None
    if not cur:
        spark.conf.set(key, rule)
    elif rule not in cur:
        spark.conf.set(key, cur + "," + rule)


_cut_lineage_warned = False


def cut_lineage(df: DataFrame, eager: bool = True) -> DataFrame:
    """``localCheckpoint`` + drop the checkpoint's inherited size estimate
    — the lineage cut an ITERATIVE SELF-JOINING loop must use.

    Spark 4's ``localCheckpoint`` cuts the logical plan but keeps
    ``originStats`` = the origin plan's ESTIMATED statistics, and the
    size-only stats visitor estimates a join as the PRODUCT of its
    children's ``sizeInBytes``.  A loop whose round self-joins the
    previous round's checkpoint therefore SQUARES the inherited estimate
    every round — the digit count of the BigInt doubles per round, and
    by round ~16 "computing the estimate" means multiplying
    million-digit integers: the driver burns minutes of single-thread
    CPU inside ``BigInteger.multiply`` (Karatsuba/ToomCook3 frames under
    ``SizeInBytesOnlyStatsPlanVisitor.visitJoin`` — observed live on a
    500k-edge ``near_dup_components`` call that never finished; jstack
    evidence in BENCH.md r5).  At small scale the loop converges before
    the doubling matters, which is why this only surfaced at the 10x
    scale-stress — a textbook invisible-at-test-scale scale-killer.

    Dropping ``originStats`` resets the checkpoint leaf to
    ``defaultSizeInBytes``; every join these loops run is
    corpus-proportional on both sides (never a broadcast candidate), so
    the reset costs nothing in plan quality.  Uses the classic-Dataset
    internals via py4j; any drift in that internal API degrades to a
    plain (un-stripped) checkpoint and warns once per process."""
    ck = df.localCheckpoint(eager=eager)
    try:
        spark = df.sparkSession
        jdf = ck._jdf
        lr = jdf.queryExecution().analyzed()
        jvm = spark._jvm
        none = jvm.scala.Option.empty()
        stripped = lr.copy(lr.output(), lr.rdd(), lr.outputPartitioning(),
                           lr.outputOrdering(), lr.isStreaming(),
                           lr.stream(), jdf.sparkSession(), none, none)
        jnew = jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            jdf.sparkSession(), stripped)
        return DataFrame(jnew, spark)
    except Exception as exc:
        global _cut_lineage_warned
        if not _cut_lineage_warned:
            _cut_lineage_warned = True
            warnings.warn(
                f"cut_lineage could not strip the checkpoint's inherited "
                f"statistics ({exc!r}); falling back to a plain "
                f"localCheckpoint, so self-joining loops may square their "
                f"size estimate every round", RuntimeWarning, stacklevel=2)
        return ck


def normalize(text_col):
    return F.trim(F.regexp_replace(F.lower(text_col), r"\s+", " "))


def exact_dedup(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Exact dedup groups: (fingerprint, keeper, n_dups) for groups > 1."""
    return (
        docs.select(F.col(id_col), X.fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keeper"), F.count("*").alias("n_dups"))
        .filter(F.col("n_dups") > 1)
    )


def shingles_of_tokens(toks, n: int = 3):
    """Token n-gram shingles from an ALREADY-MATERIALIZED token-array
    column.

    Performance-critical: higher-order-function lambdas are interpreted
    (no whole-stage codegen), so any non-trivial expression referenced
    inside the lambda body is re-evaluated per element.  Passing the raw
    ``split()`` expression here makes shingling O(tokens^2) per row
    (measured 57s -> 1s at sf0.1 after materializing the tokens in a prior
    projection, which Catalyst's CollapseProject keeps separate because the
    attribute is referenced more than once and is non-cheap).
    """
    idx = F.sequence(F.lit(0), F.size(toks) - F.lit(n))
    return F.when(
        F.size(toks) >= n,
        F.array_distinct(F.transform(
            idx, lambda i: F.concat_ws(
                " ", toks[i], toks[i + F.lit(1)], toks[i + F.lit(2)])))
    ).otherwise(F.array(F.concat_ws(" ", toks)))


def shingles(text_col, n: int = 3):
    """Kept for API compatibility — prefer tokenizing in a separate
    projection and calling :func:`shingles_of_tokens` (see its perf note)."""
    return shingles_of_tokens(X.tokens(text_col), n)


def _exploded_shingles(docs: DataFrame, id_col: str, text_col: str,
                       extra_cols: list[str] | None = None) -> DataFrame:
    """(id, [extras...], sh) — one row per distinct shingle, with the token
    array materialized in its own projection (see shingles_of_tokens)."""
    extra = extra_cols or []
    tok = docs.select(F.col(id_col), *[F.col(c) for c in extra],
                      X.tokens(F.col(text_col)).alias("toks"))
    return tok.select(id_col, *extra,
                      F.explode(shingles_of_tokens(F.col("toks"))).alias("sh"))


def minhash_signature(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", k: int = 16) -> DataFrame:
    """(doc_id, sig array<long>[k]) — min over shingles of each permuted
    31-bit hash.  Exploded + groupBy(min) keeps partial aggregation
    map-side (Catalyst does the combine)."""
    params = minhash_params(k)
    sh = _exploded_shingles(docs, id_col, text_col)
    h = sh.select(id_col, X.hash31(F.col("sh")).alias("h"))
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(MINHASH_P)).alias(f"mh_{j}")
        for j, (a, b) in enumerate(params)
    ]
    return h.groupBy(id_col).agg(*aggs)


def minhash_lsh_pairs(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", k: int = 16,
                      bands: int = 4, max_group: int = 256,
                      observation=None) -> DataFrame:
    """Candidate near-dup pairs via banded LSH: docs sharing any band bucket.

    Output: (doc_a, doc_b) with doc_a < doc_b, distinct.  The band bucket is
    the concatenated band signature — a pure shuffle key, so the self-join
    is an equi-join on (band, bucket), never a cross join.

    Hot-bucket cap: a bucket with more than ``max_group`` members (an
    n-times-duplicated boilerplate document at 100 TB) would emit O(m^2)
    pairs and blow up one task; such buckets are dropped, and the drops are
    counted through ``observation`` (pyspark Observation: dropped_groups,
    dropped_members) so the truncation is never silent.  The DuckDB oracle
    applies the identical document-frequency cap.
    """
    rows_per_band = k // bands
    sig = minhash_signature(docs, id_col, text_col, k)
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(F.struct(F.lit(b).alias("band"),
                                  F.concat_ws("_", *[c.cast("string") for c in cols]).alias("bucket")))
    buckets = sig.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bb")
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    # One aggregation per (band, bucket) + in-bucket pair generation from the
    # sorted member array — computes the signature pipeline ONCE (a bucketed
    # self-join would recompute the whole minhash subtree on both sides) and
    # enumerates only genuine co-bucket pairs.  Bucket sizes are bounded by
    # the band signature, so the nested transform stays tiny; `ids` is a
    # materialized attribute, so the lambda lookups are O(1) (see
    # shingles_of_tokens perf note).
    grouped = (buckets.groupBy("band", "bucket")
               .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
               .filter(F.size("ids") > 1))
    if observation is not None:
        ensure_metrics_survive(grouped)
        grouped = grouped.observe(
            observation,
            F.sum((F.size("ids") > max_group).cast("long"))
            .alias("dropped_groups"),
            F.sum(F.when(F.size("ids") > max_group, F.size("ids"))
                  .otherwise(0)).alias("dropped_members"))
    grouped = grouped.filter(F.size("ids") <= max_group)
    pairs = grouped.select(F.explode(F.flatten(F.transform(
        F.col("ids"),
        lambda x, i: F.transform(
            F.slice(F.col("ids"), i + F.lit(2),
                    F.greatest(F.size(F.col("ids")) - i - F.lit(1), F.lit(0))),
            lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")))))).alias("p"))
    return pairs.select(F.col("p.doc_a"), F.col("p.doc_b")).distinct()


def _star_contraction(sym: DataFrame, max_rounds: int) -> DataFrame:
    """Alternating large-star/small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", Algorithm 2): the
    O(log^2 n)-round path for HIGH-DIAMETER graphs.  Unlike label
    propagation — which joins the full, never-shrinking edge set every
    round — each alternation rewrites the edge set itself toward disjoint
    stars, so the per-round shuffle volume contracts with the graph.

    ``sym``: symmetric distinct (src, dst) edges, no self-loops.
    Returns (node, component) with component = min node of the component.
    """
    # canonical form: every undirected edge once, directed larger->smaller
    edges = (sym.filter(F.col("src") > F.col("dst"))
             .select(F.col("src").alias("u"), F.col("dst").alias("v"))
             .distinct().localCheckpoint(eager=True))
    for _ in range(max_rounds):
        if edges.isEmpty():
            break
        # large-star(u): connect every strictly-larger neighbor to
        # min(Gamma(u) + {u}); output stays larger->smaller canonical
        full = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = full.groupBy("u").agg(
            F.least(F.first("u"), F.min("v")).alias("m"))
        large = (full.join(mins, "u")
                 .filter(F.col("v") > F.col("u"))
                 .select(F.col("v").alias("u"), F.col("m").alias("v"))
                 .filter(F.col("u") != F.col("v"))
                 .distinct())
        large = cut_lineage(large, eager=False)
        # small-star(u): connect u and all its smaller neighbors to the
        # minimum among them (input/output both larger->smaller)
        mins2 = large.groupBy("u").agg(F.min("v").alias("m"))
        both = (large.join(mins2, "u")
                .select(F.explode_outer(F.array(
                    F.struct(F.col("u").alias("x"), F.col("m").alias("y")),
                    F.struct(F.col("v").alias("x"), F.col("m").alias("y"))))
                    .alias("e"))
                .select(F.col("e.x").alias("u"), F.col("e.y").alias("v"))
                .filter(F.col("u") != F.col("v"))
                .distinct())
        both = cut_lineage(both)
        # fixpoint = edge set unchanged (both sets are canonical, so the
        # two-sided anti-join is exact); counts first for the cheap exit
        if (both.count() == edges.count()
                and both.join(edges, ["u", "v"], "left_anti").isEmpty()):
            edges = both
            break
        edges = both
    # at the fixpoint the edge set is disjoint stars centered on the
    # component minimum: non-roots are the u side, roots appear only as v
    roots = (edges.select("v").distinct()
             .join(edges.select(F.col("u").alias("v")).distinct(),
                   "v", "left_anti"))
    return (edges.select(F.col("u").alias("node"),
                         F.col("v").alias("component"))
            .unionByName(roots.select(F.col("v").alias("node"),
                                      F.col("v").alias("component"))))


def near_dup_components(pairs: DataFrame, id_a: str = "doc_a",
                        id_b: str = "doc_b",
                        max_rounds: int = 24,
                        algorithm: str = "propagate") -> DataFrame:
    """Connected components over the near-dup candidate graph: the step
    that turns pair lists (LSH / Jaccard / embedding) into actual dedup
    groups.  Output: (doc_id, component) for every endpoint, where
    ``component`` is the smallest doc_id reachable — so the keeper of a
    group IS its component id.

    Min-label propagation to fixpoint: each round every node takes the min
    of its own label and its neighbors' labels (one message join + one
    min-aggregation, both shuffle-on-node-key; lineage cut per round).
    Rounds needed = component diameter shrunk geometrically by the
    pointer jump — near-dup clusters are tiny and dense, so a handful;
    the ``max_rounds`` cap plus an explicit convergence check (no label
    changed) bounds the loop.

    ``algorithm="star"`` switches to the alternating large-star/
    small-star contraction (:func:`_star_contraction`) — the right tool
    for HIGH-DIAMETER graphs (long chains, road networks): it converges
    in O(log^2 n) alternations AND its per-round shuffle volume shrinks
    with the contracting edge set, where propagation re-joins the full
    edge set every round.  Default stays "propagate": dedup graphs are
    low-diameter and the propagate loop is one join cheaper per round.
    """
    sym = (pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
           .unionByName(pairs.select(F.col(id_b).alias("src"),
                                     F.col(id_a).alias("dst")))
           .distinct()
           .localCheckpoint(eager=False))
    if algorithm == "star":
        return _star_contraction(sym, max_rounds).select(
            F.col("node").alias("doc_id"), "component")
    # initialization IS the first propagation round: label(v) = min(v,
    # min neighbor) in the same shuffle that deduplicates nodes — one
    # groupBy replaces distinct-nodes + a full first loop round
    labels = (sym.groupBy(F.col("src").alias("node"))
              .agg(F.least(F.first("src"), F.min("dst")).alias("component"))
              .localCheckpoint(eager=True))
    # convergence scalar: labels are monotonically non-increasing per
    # node, so for NUMERIC ids the label SUM strictly decreases until
    # fixpoint — one cheap aggregation.  Non-numeric ids (string doc ids,
    # face GUIDs from operators/merge.py) have no such scalar; use an
    # exact changed-row probe instead (node-keyed join of consecutive
    # rounds — co-partitioned, early-out isEmpty).  The exact probe also
    # sidesteps the float-precision ceiling a double SUM of 10^12 ids
    # would hit (2^53); at that scale prefer string ids or cast the sum
    # to decimal.
    from pyspark.sql.types import NumericType
    numeric_ids = isinstance(labels.schema["component"].dataType, NumericType)

    def _ckpt_observing_sum(df):
        """Eager localCheckpoint whose materialization job ALSO fills a
        sum(component) observation — the convergence scalar comes out of
        the checkpoint action itself, halving the actions per round
        (2 -> 1).  At sf0.1 the saved job only re-reads checkpointed rows
        so the A/B is within noise (min-of-3: dedup_components 4.3-4.7s,
        dbscan 6.5-7.2s, mixed signs); the win is the eliminated full
        pass over the label frame per round, which grows linearly with
        corpus size.  ensure_metrics_survive guards the AQE empty-relation
        pruning that would otherwise hang Observation.get on an empty
        label frame (first round of an empty pair set)."""
        import uuid as _uuid
        ensure_metrics_survive(df)
        obs = Observation(f"cc_sum_{_uuid.uuid4().hex[:8]}")
        out = cut_lineage(df.observe(obs, F.sum("component").alias("s")))
        return out, obs.get["s"]

    prev = labels
    if numeric_ids:
        # fold the initial scalar into the checkpoint already performed:
        # re-observe on top of the materialized frame costs one tiny job
        # over checkpointed rows (not a recompute of the groupBy)
        prev_sum = labels.agg(F.sum("component")).collect()[0][0]
    else:
        prev_sum = None
    for _ in range(max_rounds):
        msgs = (sym.join(labels, sym.src == labels.node)
                .select(F.col("dst").alias("node"), "component"))
        # lazy checkpoint so the jump's self-join reads ONE
        # materialization of the aggregate instead of recomputing it per
        # side (self-joins re-execute their subtree — repo rule)
        labels = cut_lineage(
            labels.unionByName(msgs)
                  .groupBy("node")
                  .agg(F.min("component").alias("component")),
            eager=False)
        # pointer jump: label(v) <- label(label(v)).  A label is always
        # itself a node of the graph, so the lookup hits; one neighbor hop
        # + one jump per round shrinks chains geometrically (large-star
        # idea; measured on the sf0.1 LSH graph: 8 plain rounds -> 4)
        ptr = labels.select(F.col("node").alias("p_node"),
                            F.col("component").alias("p_comp"))
        jumped = (labels.join(ptr, labels.component == ptr.p_node, "left")
                  .select("node",
                          F.coalesce("p_comp", "component")
                          .alias("component")))
        if numeric_ids:
            labels, cur_sum = _ckpt_observing_sum(jumped)
            if cur_sum == prev_sum:
                break
            prev_sum = cur_sum
        else:
            labels = cut_lineage(jumped)
            unchanged = (labels.join(
                prev.select("node", F.col("component").alias("_prev")), "node")
                .filter(F.col("component") != F.col("_prev")).isEmpty())
            if unchanged:
                break
            prev = labels
    return labels.select(F.col("node").alias("doc_id"), "component")


def simhash(docs: DataFrame, id_col: str = "doc_id",
            text_col: str = "text", bits: int = 32) -> DataFrame:
    """(doc_id, simhash long): per-bit majority over 31-bit token hashes.

    Single hash-aggregate with ``bits`` integer sum expressions — exact and
    order-independent, so it hash-matches the generated oracle SQL.
    """
    tok = docs.select(F.col(id_col), F.explode(X.tokens(F.col(text_col))).alias("t"))
    h = tok.select(id_col, X.hash31(F.col("t")).alias("h"))
    sums = [
        F.sum(F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1,
                     F.lit(1)).otherwise(F.lit(-1))).alias(f"s_{b}")
        for b in range(bits)
    ]
    per_bit = h.groupBy(id_col).agg(*sums)
    sim = None
    for b in range(bits):
        term = F.when(F.col(f"s_{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return per_bit.select(F.col(id_col), sim.cast("long").alias("simhash"))


def ngram_jaccard_pairs(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", lang_col: str = "lang",
                        threshold_permille: int = 500,
                        max_group: int = 256,
                        observation=None) -> DataFrame:
    """Near-dup pairs by exact n-gram Jaccard within (lang, length-bucket)
    blocks: explode distinct shingles, equi-join on shingle+block, count
    intersections, integer-compare 1000*|I| >= t*(|A|+|B|-|I|).

    Output: (doc_a, doc_b, inter, n_a, n_b) — all integers, oracle-exact.

    Hot-shingle cap (standard document-frequency cut in production
    near-dedup): a boilerplate shingle shared by more than ``max_group``
    docs in a block would emit O(m^2) pairs; such shingle groups are
    dropped from intersection counting (Jaccard denominators n_a/n_b are
    unaffected), counted through ``observation`` (dropped_groups,
    dropped_members).  The DuckDB oracle applies the identical cap.
    """
    tok = docs.select(
        F.col(id_col),
        F.col(lang_col).alias("blk_lang"),
        F.floor(F.length(text_col) / F.lit(64)).alias("blk_len"),
        X.tokens(F.col(text_col)).alias("toks"),
    )
    base = tok.select(
        id_col, "blk_lang", "blk_len",
        shingles_of_tokens(F.col("toks")).alias("sh"),
    ).withColumn("n_sh", F.size("sh"))
    # explode_outer, NOT explode: InferFiltersFromGenerate would add a
    # size(sh)>0 filter that pushdown inlines below the token projection,
    # re-expanding the whole shingle expression into an interpreted per-row
    # predicate (O(tokens^2) — measured 38s vs 1s at sf0.1).  Shingle arrays
    # are never null/empty here, so outer semantics are identical.
    ex = base.select(id_col, "blk_lang", "blk_len", "n_sh",
                     F.explode_outer("sh").alias("s"))
    # group-collect-pairs instead of a shingle-level self-join: one pass over
    # the shingle pipeline (the join would recompute it per side), one narrow
    # shuffle on the shingle key, then in-group pair generation from the
    # sorted member array (same trick as minhash_lsh_pairs).  n_sh rides
    # along in the member structs, so no count-joins afterwards (each would
    # re-execute the whole shingle pipeline for its broadcast side).
    grouped = (ex.groupBy("blk_lang", "blk_len", "s")
               .agg(F.array_sort(F.collect_list(
                   F.struct(F.col(id_col).alias("id"),
                            F.col("n_sh").alias("n")))).alias("ids"))
               .filter(F.size("ids") > 1))
    if observation is not None:
        ensure_metrics_survive(grouped)
        grouped = grouped.observe(
            observation,
            F.sum((F.size("ids") > max_group).cast("long"))
            .alias("dropped_groups"),
            F.sum(F.when(F.size("ids") > max_group, F.size("ids"))
                  .otherwise(0)).alias("dropped_members"))
    grouped = grouped.filter(F.size("ids") <= max_group)
    pairs = grouped.select(F.explode(F.flatten(F.transform(
        F.col("ids"),
        lambda x, i: F.transform(
            F.slice(F.col("ids"), i + F.lit(2),
                    F.greatest(F.size(F.col("ids")) - i - F.lit(1), F.lit(0))),
            lambda y: F.struct(x["id"].alias("doc_a"), x["n"].alias("n_a"),
                               y["id"].alias("doc_b"), y["n"].alias("n_b")))))).alias("p"))
    inter = (pairs.select("p.doc_a", "p.doc_b", "p.n_a", "p.n_b")
             .groupBy("doc_a", "doc_b", "n_a", "n_b")
             .agg(F.count("*").alias("inter")))
    t = threshold_permille
    return (
        inter
        .filter(F.lit(1000) * F.col("inter")
                >= F.lit(t) * (F.col("n_a") + F.col("n_b") - F.col("inter")))
        .select("doc_a", "doc_b", "inter", "n_a", "n_b")
    )


# position encoding base for the first-occurrence winner key: doc_id and
# line position are packed into one int64 so a single MIN() decides the
# winner with (doc_id, pos) lexicographic order, in Spark and DuckDB alike
LINE_POS_BASE = 1 << 20


def ngram_novelty(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Per-document n-gram novelty: the permille of a document's DISTINCT
    trigram shingles whose corpus-wide document frequency is exactly 1
    (i.e. no other document contains them).  A standard quality /
    contamination signal: boilerplate- or template-heavy documents score
    low, unique prose scores high (inverse of the "duplicate n-gram
    fraction" rules in Gopher / RefinedWeb appendix filters).

    Output: (doc_id, n_shingles, n_novel, novelty_permille) — all
    integers, oracle-exact.

    Scale shape (100 TB): the exploded shingle stream is aggregated
    twice — once keyed by shingle (document frequency; a df==1 shingle
    identifies its ONLY owner via ``min(id)``, so no join-back against
    the corpus is ever needed) and once keyed by doc (per-doc totals).
    Re-running the map-side shingle expansion for the second aggregation
    is deliberate: it avoids both a full materialization of the exploded
    corpus and a shuffled self-join (repo rule), and hot boilerplate
    shingles never build giant collected arrays — each is one counter
    row.  The final join is novel-counts (docs with >=1 unique shingle)
    into per-doc totals, both already doc-keyed.
    """
    ex = _exploded_shingles(docs, id_col, text_col)
    # df==1 shingles have a unique owner: min(id) IS the owning doc.
    dfreq = (ex.groupBy("sh")
             .agg(F.count("*").alias("df"), F.min(id_col).alias("owner")))
    novel = (dfreq.filter(F.col("df") == 1)
             .groupBy(F.col("owner").alias(id_col))
             .agg(F.count("*").alias("n_novel")))
    tot = ex.groupBy(id_col).agg(F.count("*").alias("n_shingles"))
    return (tot.join(novel, id_col, "left")
            .select(F.col(id_col),
                    F.col("n_shingles").cast("long").alias("n_shingles"),
                    F.coalesce("n_novel", F.lit(0)).cast("long")
                    .alias("n_novel"))
            .withColumn("novelty_permille",
                        F.expr("(1000 * n_novel) DIV n_shingles")))


def line_dedup_stats(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", chunk: int = 8) -> DataFrame:
    """Corpus-wide exact line-level dedup stats (C4 §2.2 / RefinedWeb-style
    line dedup): every document is cut into fixed ``chunk``-token lines,
    each distinct line is kept only at its FIRST occurrence — minimum
    (doc_id, position), encoded as one int64 key so a plain MIN aggregate
    decides the winner — and each document reports how many of its lines
    survive.

    Scale shape (100 TB): one explode, then two partial-aggregated
    shuffles — lines groupBy(line) for winners, winners groupBy(doc) for
    kept counts — and a final doc-keyed join of two doc-sized aggregates.
    The full exploded line set is never joined back to itself and nothing
    is windowed, so skew is bounded by the hottest single line (a hash
    groupBy with map-side combine, AQE-splittable).

    Reference analog: the tile-level cross-tile dedup discipline
    (Serialization/TiledBarrierGraphSerializer.cs:14-85 keeps one copy of
    a shared edge by deterministic owner); here the "owner" of a duplicate
    line is its first-occurrence document.
    """
    toks = docs.select(F.col(id_col).cast("long").alias(id_col),
                       X.tokens(F.col(text_col)).alias("t"))
    chunks = toks.select(
        id_col, "t",
        F.posexplode(F.sequence(
            F.lit(0),
            F.greatest(F.floor((F.size("t") - 1) / chunk).cast("long"),
                       F.lit(0)))).alias("pos", "i"))
    lines = chunks.select(
        id_col, F.col("i"),
        F.concat_ws(" ", F.slice(
            F.col("t"), (F.col("i") * chunk + 1).cast("int"), chunk))
        .alias("line"))
    keyed = lines.select(
        id_col, "line",
        (F.col(id_col) * F.lit(LINE_POS_BASE) + F.col("i")).alias("k"))
    winners = keyed.groupBy("line").agg(F.min("k").alias("wk"))
    kept = (winners
            .select(F.expr(f"wk DIV {LINE_POS_BASE}").cast("long")
                    .alias(id_col))
            .groupBy(id_col).agg(F.count("*").cast("long").alias("n_kept")))
    totals = keyed.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_lines"))
    return (totals.join(kept, id_col, "left")
            .select(id_col, "n_lines",
                    F.coalesce(F.col("n_kept"), F.lit(0)).cast("long")
                    .alias("n_kept"))
            .withColumn("n_dropped",
                        (F.col("n_lines") - F.col("n_kept")).cast("long")))


def prefix_jaccard_pairs(docs: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text",
                         threshold_permille: int = 800,
                         use_shingles: bool = False) -> DataFrame:
    """Exact token-set Jaccard join via PREFIX FILTERING (AllPairs /
    PPJoin family — Chaudhuri et al. ICDE'06, Bayardo et al. WWW'07): the
    set-similarity-join technique the blocked :func:`ngram_jaccard_pairs`
    doesn't cover.  Tokens are globally ordered rarest-first by document
    frequency; a pair with Jaccard >= t MUST share a token inside both
    docs' first ``n - ceil(t*n) + 1`` tokens under that order, so only
    prefix tokens are exploded into the inverted index.  Because prefix
    tokens are by construction the RAREST ones, the candidate index has no
    hot keys — the skew cap that ngram blocking needs is unnecessary here.

    Output: (doc_a, doc_b, inter, n_a, n_b) — exact, so the DuckDB oracle
    is the BRUTE-FORCE Jaccard join: any pair the prefix filter lost would
    show up as a hash mismatch.

    Scale shape: the prefix postings carry ONLY (doc_id, n) — 16 bytes —
    never the token arrays (a posting-carried array serializes O(n) bytes
    per posting through the shuffle, measured as a timeout at sf0.1); the
    sorted-token table is localCheckpointed ONCE and joined back for the
    two sides of each surviving candidate, so the tokenization subtree is
    never recomputed per join side.  Intersections are computed only for
    candidates, as a top-level codegen'd ``array_intersect`` — never
    inside an interpreted lambda.

    ``use_shingles`` picks the item granularity.  Prefix filtering needs a
    HIGH-CARDINALITY item space: on a small uniform vocabulary every
    "rare" token still posts thousands of docs and candidate generation
    degenerates quadratic (measured: raw tokens over the synthetic corpus
    at sf0.1 — median token df 3862 of 5000 docs — timed out; 3-gram
    shingles run in seconds).  Natural-language corpora should pass
    ``use_shingles=True``; raw tokens remain for set-valued columns that
    are already high-cardinality.

    Reference workload analog: the cross-tile duplicate-way collapse
    (`src/ANYWAYS.UrbanisticPolygons/Landuse/...Extensions.cs`) is an
    exact-key dedup; this is its similarity-threshold generalization for
    the interleaved-document corpus.
    """
    t = threshold_permille
    tok = docs.select(F.col(id_col).cast("long").alias("id"),
                      X.tokens(F.col(text_col)).alias("raw"))
    if use_shingles:
        tok = tok.select("id", shingles_of_tokens(F.col("raw")).alias("raw"))
    # explode_outer for the InferFiltersFromGenerate trap (tokens CAN be
    # empty here, so plain explode would push an interpreted size-filter
    # below the projection); the exploded NULL an empty array emits must
    # then be dropped explicitly — groupBy KEEPS a null key group, so two
    # empty docs would otherwise "pair" via the NULL item and
    # array_intersect's null-safe equality (the brute-force oracle drops
    # them: unnest of an empty list emits nothing)
    ex = (tok.select("id", F.explode_outer(F.array_distinct("raw")).alias("t"))
          .filter(F.col("t").isNotNull()))
    # document frequency WITHOUT a postings⨝df join (which would scan the
    # posting pipeline twice): one group-collect per item carries df =
    # size(ids) back to each member in the same pass
    by_item = ex.groupBy("t").agg(F.collect_list("id").alias("ids"))
    # global rarest-first order without a global sort: (df, item) IS the
    # order key, so a per-doc array_sort over collected structs suffices
    ranked = (by_item
              .select(F.size("ids").alias("df"), "t",
                      F.explode_outer("ids").alias("id"))
              .groupBy("id")
              .agg(F.array_sort(F.collect_list(F.struct("df", "t")))
                   .alias("ord")))
    base = ranked.select(
        "id",
        F.transform("ord", lambda x: x["t"]).alias("tk"),
        F.size("ord").alias("n"))
    # materialize the (id, sorted tokens, n) table once: the candidate
    # verification joins it back TWICE, and an unmaterialized subtree
    # would re-run tokenize+df+sort per join side
    base = base.localCheckpoint(eager=True)
    # prefix length n - ceil(t*n/1000) + 1, all-integer
    plen = (F.col("n")
            - F.floor((F.lit(t) * F.col("n") + F.lit(999)) / F.lit(1000))
            + F.lit(1)).cast("int")
    pref = base.select(
        "id", "n",
        F.posexplode_outer(F.slice("tk", F.lit(1), plen))
        .alias("pos0", "s")).withColumn("pos", F.col("pos0") + 1).drop("pos0")
    grouped = (pref.groupBy("s")
               .agg(F.array_sort(F.collect_list(
                   F.struct(F.col("id"), F.col("n"), F.col("pos"))))
                   .alias("m"))
               .filter(F.size("m") > 1))
    pairs = grouped.select(F.explode(F.flatten(F.transform(
        F.col("m"),
        lambda x, i: F.transform(
            F.slice(F.col("m"), i + F.lit(2),
                    F.greatest(F.size(F.col("m")) - i - F.lit(1), F.lit(0))),
            lambda y: F.struct(
                x["id"].alias("doc_a"), x["n"].alias("n_a"),
                x["pos"].alias("pos_a"),
                y["id"].alias("doc_b"), y["n"].alias("n_b"),
                y["pos"].alias("pos_b")))))).alias("p"))
    # AllPairs LENGTH filter (J >= t forces t*max(n) <= 1000*min(n))
    # prunes before the dedup shuffle; the dedup groupBy then doubles as
    # PPJoin's POSITION filter: every shared non-meeting item sorts
    # globally after the LAST meeting (a shared item before any meeting
    # would itself sit inside both prefixes, i.e. be a meeting), so
    # I <= meets + min(n_a - max_pos_a, n_b - max_pos_b); pairs whose
    # bound misses minoverlap = ceil(t*(n_a+n_b)/(1000+t)) never fetch
    # their token arrays.
    met = (pairs.select("p.doc_a", "p.doc_b", "p.n_a", "p.n_b",
                        "p.pos_a", "p.pos_b")
           .filter(F.lit(1000) * F.least("p.n_a", "p.n_b")
                   >= F.lit(t) * F.greatest("p.n_a", "p.n_b"))
           .groupBy("doc_a", "doc_b", "n_a", "n_b")
           .agg(F.count("*").alias("meets"),
                F.max("pos_a").alias("max_a"),
                F.max("pos_b").alias("max_b")))
    minoverlap = F.floor(
        (F.lit(t) * (F.col("n_a") + F.col("n_b")) + F.lit(1000 + t) - 1)
        / F.lit(1000 + t))
    cand = (met.filter(
        F.col("meets") + F.least(F.col("n_a") - F.col("max_a"),
                                 F.col("n_b") - F.col("max_b"))
        >= minoverlap)
        .select("doc_a", "doc_b", "n_a", "n_b"))
    scored = (cand
              .join(base.select(F.col("id").alias("doc_a"),
                                F.col("tk").alias("tk_a")), "doc_a")
              .join(base.select(F.col("id").alias("doc_b"),
                                F.col("tk").alias("tk_b")), "doc_b")
              .select("doc_a", "doc_b", "n_a", "n_b",
                      F.size(F.array_intersect("tk_a", "tk_b"))
                      .alias("inter")))
    return (scored.filter(
        F.lit(1000) * F.col("inter")
        >= F.lit(t) * (F.col("n_a") + F.col("n_b") - F.col("inter")))
        .select("doc_a", "doc_b", "inter", "n_a", "n_b"))


def repeated_substring_spans(docs: DataFrame, id_col: str = "doc_id",
                             text_col: str = "text", k: int = 5) -> DataFrame:
    """Corpus-level REPEATED-SUBSTRING spans (the token-gram form of Lee
    et al. 2022, "Deduplicating Training Data Makes Language Models
    Better"): a k-token gram that occurs >= 2 times anywhere in the
    corpus (another document OR the same one) marks its positions
    duplicated; per document, runs of duplicated gram positions whose
    covered tokens are contiguous merge into maximal spans — the exact
    byte ranges a training pipeline cuts, rather than whole-document
    dedup.

    Output: (doc_id, span_start, span_end, n_tokens, n_grams) with
    token-index spans, start/end inclusive.

    Scale shape: gram postings are (id, pos, gram) rows materialized
    ONCE (localCheckpoint) and reused for the df count and the
    left-semi hit filter — duplicated-gram detection is a count
    aggregate + semi-join on the gram key, never a collect_list (a
    boilerplate gram repeated 10^6 times stays a counter, not an
    array).  Span assembly is a per-document window (bounded by doc
    length).  At 10^12 docs the postings table is the big artifact —
    it shuffles once for the count and once for the semi-join, both
    on the same key.
    """
    tok = docs.select(F.col(id_col).cast("long").alias("id"),
                      X.tokens(F.col(text_col)).alias("toks"))
    toks = F.col("toks")
    post = (tok.filter(F.size("toks") >= k)
            .select("id", F.posexplode_outer(F.transform(
                F.sequence(F.lit(0), F.size("toks") - k),
                lambda i: F.concat_ws(
                    " ", *[toks[i + F.lit(j)] for j in range(k)])))
                .alias("pos", "gram")))
    post = post.localCheckpoint(eager=True)
    dup = (post.groupBy("gram").agg(F.count("*").alias("c"))
           .filter(F.col("c") >= 2).select("gram"))
    hits = post.join(dup, "gram", "left_semi").select("id", "pos")
    w = Window.partitionBy("id").orderBy("pos")
    # two covered intervals [p, p+k-1], [q, q+k-1] (q > p) are one
    # contiguous token run iff q <= p + k
    isl = (hits
           .withColumn("new_isl",
                       F.when(F.col("pos") > F.lag("pos").over(w) + k,
                              F.lit(1)).otherwise(F.lit(0)))
           .withColumn("isl", F.sum("new_isl").over(w)))
    return (isl.groupBy("id", "isl")
            .agg(F.min("pos").alias("span_start"),
                 (F.max("pos") + F.lit(k - 1)).alias("span_end"),
                 F.count("*").cast("long").alias("n_grams"))
            .select(F.col("id").alias(id_col), "span_start", "span_end",
                    (F.col("span_end") - F.col("span_start") + F.lit(1))
                    .alias("n_tokens"),
                    "n_grams"))
