"""Interleaved spans synthesis + reconstruction (the input_hint table shape)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ._shared import register_views

# ---------------------------------------------------------------------------
# Interleaved spans synthesis + reconstruction (the input_hint table shape)
# ---------------------------------------------------------------------------

def q_spans_spark(spark, sf_dir):
    """Deterministically synthesize the interleaved spans table from the
    flat documents table and emit it exploded — one row per span with its
    offset, so the driver's hash check IS the span-sequence-equality
    invariant (kind, content, media_ref, order per doc_id)."""
    from ..functions import text as X
    register_views(spark, sf_dir)
    d = spark.table("documents")
    toks = d.select("doc_id", X.tokens(F.col("text")).alias("t"))
    chunks = toks.select(
        "doc_id", "t",
        F.posexplode(F.sequence(
            F.lit(0),
            F.greatest(F.floor((F.size("t") - 1) / 8).cast("long"), F.lit(0))
        )).alias("pos", "i"))
    text_spans = chunks.select(
        "doc_id", (F.col("i") * 10).alias("span_offset"),
        F.lit("text").alias("kind"),
        F.concat_ws(" ", F.slice(F.col("t"), (F.col("i") * 8 + 1).cast("int"), 8)).alias("content"),
        F.lit("").alias("media_ref"))
    img_spans = chunks.filter(F.col("i") % 3 == 2).select(
        "doc_id", (F.col("i") * 10 + 5).alias("span_offset"),
        F.lit("image").alias("kind"), F.lit("").alias("content"),
        F.concat(F.lit("blob://img/"), F.col("doc_id").cast("string"),
                 F.lit("_"), F.col("i").cast("string")).alias("media_ref"))
    geo_spans = d.select(
        "doc_id", F.lit(9999999).alias("span_offset"),
        F.lit("geo").alias("kind"),
        F.concat(((F.col("doc_id") * 7919) % 1890000).cast("string"), F.lit(","),
                 ((F.col("doc_id") * 7907 + 13) % 1520000).cast("string")).alias("content"),
        F.lit("").alias("media_ref"))
    return text_spans.unionByName(img_spans).unionByName(geo_spans)


def flagship_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship pipeline's documents(doc_id, spans) table in the
    input_hint shape: ``q_spans_spark``'s rows with every geo span's
    integer micro-coordinates rewritten to a lon/lat string, regrouped
    per doc and ordered by span offset."""
    x, y = (F.split("content", ",").getItem(i).cast("double")
            for i in (0, 1))
    spans = q_spans_spark(spark, sf_dir).withColumn("content", F.when(
        F.col("kind") == "geo",
        F.concat(((x / 10000 + 8300) / 16384 * 360 - 180).cast("string"),
                 F.lit(","),
                 (F.lit(51.0) - y / 10000 * 0.01).cast("string")))
        .otherwise(F.col("content")))
    return (spans.groupBy("doc_id")
            .agg(F.array_sort(F.collect_list(F.struct(
                F.col("span_offset").alias("offset"),
                F.col("kind"), F.col("content").alias("text"),
                F.col("media_ref")))).alias("raw"))
            .select(F.col("doc_id").cast("string").alias("doc_id"),
                    F.transform("raw", lambda s: F.struct(
                        s["kind"].alias("kind"), s["text"].alias("text"),
                        s["media_ref"].alias("media_ref"),
                        s["offset"].cast("int").alias("offset")))
                    .alias("spans")))
