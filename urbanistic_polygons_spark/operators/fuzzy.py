"""Edit-distance (Levenshtein) near-duplicate pairs with blocking.

Complements the token-set dedup family (``operators/dedup.py``: exact
md5, MinHash-LSH, SimHash, n-gram Jaccard) with a CHARACTER-level
similarity: pairs whose full lowercased texts are within ``max_dist``
edits.  This is the fuzzy-dedup primitive production corpus pipelines
use for short fields (titles, captions, alt-text) where token shingles
are too coarse.

Blocking is part of the operator's declared semantics (exactly like the
banded-LSH recall scope in ``minhash_lsh_pairs``): only pairs sharing a
``(lang, length-bucket)`` block are compared, and blocks larger than
``max_group`` are dropped (counted through ``observation``).  The DuckDB
oracle in the catalog applies the identical blocking and cap, so the
result is exact over the declared candidate set.

Scale shape (100 TB): one shuffle on the block key; in-block pair
generation from a sorted collected member array (group-collect instead
of a shuffled self-join — repo rule: a self-join recomputes its subtree
per side), bounded by ``max_group`` so no block can emit a quadratic
tail.  The O(len_a * len_b) Levenshtein DP runs JVM-side
(``F.levenshtein`` with the threshold argument — Spark's banded DP does
O(max_dist * len) work per pair) only on pairs that survive the free
length-difference lower bound |len_a - len_b| <= max_dist.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.lineage import ensure_metrics_survive


def edit_distance_pairs(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", lang_col: str = "lang",
                        max_dist: int = 16, len_bucket: int = 64,
                        max_group: int = 64,
                        observation=None) -> DataFrame:
    """(doc_a, doc_b, lev) for every same-block pair with Levenshtein
    distance <= ``max_dist`` over lowercased, codepoint-class-folded
    text; doc_a < doc_b.

    Non-ASCII codepoints fold to one '#' class before the distance.
    This is the standard accent-insensitive fuzzy-match convention,
    biased toward RECALL (folded chars can only lower a distance, so
    candidate pairs are never lost), it keeps the whole comparison on
    the JVM banded-DP fast path, and it makes byte == codepoint, so
    DuckDB's byte-oriented ``levenshtein`` agrees with Spark's
    codepoint-oriented one on ANY corpus (they diverge on raw accents —
    caught by tests/test_oracle_random_corpus.py)."""
    base = docs.select(
        F.col(id_col),
        F.col(lang_col).alias("blk_lang"),
        F.floor(F.length(text_col) / F.lit(len_bucket)).alias("blk_len"),
        F.regexp_replace(F.lower(F.col(text_col)),
                         r"[^\x20-\x7e]", "#").alias("t"),
    )
    grouped = (base.groupBy("blk_lang", "blk_len")
               .agg(F.array_sort(F.collect_list(
                   F.struct(F.col(id_col).alias("id"),
                            F.col("t").alias("t")))).alias("ids"))
               .filter(F.size("ids") > 1))
    if observation is not None:
        ensure_metrics_survive(grouped)
        grouped = grouped.observe(
            observation,
            F.sum((F.size("ids") > max_group).cast("long"))
            .alias("dropped_blocks"),
            F.sum(F.when(F.size("ids") > max_group, F.size("ids"))
                  .otherwise(0)).alias("dropped_members"))
    grouped = grouped.filter(F.size("ids") <= max_group)
    # in-group ordered pairs (i < j), same generator as ngram_jaccard_pairs
    pairs = grouped.select(F.explode_outer(F.flatten(F.transform(
        F.col("ids"),
        lambda x, i: F.transform(
            F.slice(F.col("ids"), i + F.lit(2),
                    F.greatest(F.size(F.col("ids")) - i - F.lit(1), F.lit(0))),
            lambda y: F.struct(x["id"].alias("doc_a"), x["t"].alias("ta"),
                               y["id"].alias("doc_b"), y["t"].alias("tb"))))))
        .alias("p"))
    cand = (pairs.select("p.doc_a", "p.doc_b", "p.ta", "p.tb")
            .filter(F.abs(F.length("ta") - F.length("tb")) <= max_dist))
    # banded DP: returns -1 when the distance exceeds max_dist
    lev = cand.withColumn(
        "lev", F.levenshtein("ta", "tb", max_dist).cast("long"))
    return (lev.filter(F.col("lev") >= 0)
            .select("doc_a", "doc_b", "lev"))
