"""Corpus retrieval — integer TF-IDF top-k document scoring.

A training-data pipeline constantly runs "find the documents most
relevant to these probe terms" (targeted decontamination, topic
filtering, eval-set curation).  This operator scores the corpus against
a small term set with EXACT integer TF-IDF:

    weight(t) = (N * SCALE) DIV df(t)        -- integer idf, no floats
    score(d)  = sum over query terms t of tf(d, t) * weight(t)

so the result is bit-reproducible across engines (the repo rule: never
hash-compare float sums; a float BM25 would diverge in ULPs between
libm implementations).

Scale shape — every step is bounded:
- tokens are filtered to the query terms BEFORE any shuffle (the
  explode output is corpus-sized, the filtered stream is |hits|-sized);
- df/tf are plain partial-agg groupBys on bounded keys;
- the weight table is |terms| rows — broadcast;
- top-k is ``orderBy().limit(k)`` which Spark compiles to
  TakeOrderedAndProject: per-partition heap top-k + a k-row driver
  merge, never a single-partition global sort.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens

SCALE = 1_000_000


def tfidf_topk(docs: DataFrame, terms: list[str], k: int = 20,
               text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Top-``k`` documents by integer TF-IDF against ``terms``
    -> (doc_id, score), ties broken by ascending doc id."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        # explode_outer: dodge the InferFiltersFromGenerate interpreted-
        # filter inlining (repo rule); the null row from an empty text is
        # dropped by the isin filter
        F.explode_outer(tokens(F.col(text_col))).alias("t"))
    qt = toks.filter(F.col("t").isin(list(terms)))
    # tf is |hits|-bounded (<= matching doc x term pairs) and feeds TWO
    # consumers (df derivation + the scoring join); materialize it once
    # so the corpus is tokenized and exploded exactly ONCE — a second
    # consumer of qt/tf would replay the explode subtree (self-join rule)
    tf = (qt.groupBy("doc_id", "t").agg(F.count("*").alias("tf"))
          .localCheckpoint(eager=True))
    # df(t) = number of docs carrying t = row count per t in tf
    dfreq = tf.groupBy("t").agg(F.count("*").alias("df"))
    # N: one scalar action, collected once and baked in as a literal
    n = docs.count()
    w = dfreq.select(
        "t", F.expr(f"CAST({int(n)} AS BIGINT) * CAST({SCALE} AS BIGINT)"
                    f" DIV df").alias("w"))
    scored = (tf.join(F.broadcast(w), "t")
              .groupBy("doc_id")
              .agg(F.sum(F.col("tf") * F.col("w")).alias("score")))
    return (scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
            .select("doc_id", F.col("score").cast("long").alias("score")))
