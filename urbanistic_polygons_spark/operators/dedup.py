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

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as X
from ..plans.lineage import cut_lineage, ensure_metrics_survive, fixpoint

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


def near_dup_components(pairs: DataFrame, id_a: str = "doc_a",
                        id_b: str = "doc_b",
                        max_rounds: int = 24) -> DataFrame:
    """Connected components over the near-dup candidate graph: the step
    that turns pair lists (LSH / Jaccard / embedding) into actual dedup
    groups.  Output: (doc_id, component) for every endpoint, where
    ``component`` is the smallest doc_id reachable — so the keeper of a
    group IS its component id.  Ids may be of any orderable type (long
    doc ids, string ids, face GUIDs).

    Min-label propagation on ``plans.lineage.fixpoint``: each round every
    node takes the min of its own and its neighbors' labels (one message
    join + one min-aggregation, both shuffle-on-node-key), then a pointer
    jump; rounds needed = component diameter shrunk geometrically, so a
    handful.  The aggregation also carries the node's previous label
    (``max(prev)``; messages bring a null one), so a round flags its
    changed labels exactly for every id type without joining two rounds.
    Reaching ``max_rounds`` first leaves some labels above their
    component minimum and raises a ``RuntimeWarning``.
    """
    sym = (pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
           .unionByName(pairs.select(F.col(id_b).alias("src"),
                                     F.col(id_a).alias("dst")))
           .distinct()
           .localCheckpoint(eager=False))
    # initialization IS the first propagation round: label(v) = min(v,
    # min neighbor) in the same shuffle that deduplicates nodes — one
    # groupBy replaces distinct-nodes + a full first loop round
    labels = (sym.groupBy(F.col("src").alias("node"))
              .agg(F.least(F.first("src"), F.min("dst")).alias("component")))
    no_prev = F.lit(None).cast(labels.schema["component"].dataType)

    def step(labels):
        msgs = (sym.join(labels, sym.src == labels.node)
                .select(F.col("dst").alias("node"), "component",
                        no_prev.alias("prev")))
        # lazy checkpoint so the jump's self-join reads ONE
        # materialization of the aggregate instead of recomputing it per
        # side (self-joins re-execute their subtree — repo rule)
        prop = cut_lineage(
            labels.select("node", "component",
                          F.col("component").alias("prev"))
                  .unionByName(msgs)
                  .groupBy("node")
                  .agg(F.min("component").alias("component"),
                       F.max("prev").alias("prev")),
            eager=False)
        # pointer jump: label(v) <- label(label(v)).  A label is always
        # itself a node of the graph, so the lookup hits; one neighbor hop
        # + one jump per round shrinks chains geometrically (large-star
        # idea; measured on the sf0.1 LSH graph: 8 plain rounds -> 4)
        ptr = prop.select(F.col("node").alias("p_node"),
                          F.col("component").alias("p_comp"))
        new = F.coalesce("p_comp", "component")
        return (prop.join(ptr, prop.component == ptr.p_node, "left")
                .select("node", new.alias("component"),
                        (new != F.col("prev")).alias("_changed")))

    labels = fixpoint(step, labels, max_rounds, "near_dup_components")
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
