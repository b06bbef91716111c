"""Deterministic global training order: assign every document a dense
1..N position in a seeded pseudo-random permutation, without a global
sort on one partition.

Training pipelines need a reproducible epoch shuffle ("global shuffle")
of the corpus: the order must be (a) a uniform permutation, (b) stable
across cluster sizes and re-runs, (c) different per epoch/seed.  The
naive `row_number() OVER (ORDER BY hash)` is a single-partition window —
a parallelism collapse at 10^12 docs.  This operator is the scale-correct
two-pass form:

  1. portable 31-bit content-free hash of (seed, doc_id) — the shuffle key;
  2. bucket = hash DIV width (hash-range buckets, monotone in hash, so
     bucket order == hash order and the per-bucket counts are enough to
     place every bucket's block in the global order);
  3. one tiny aggregate (n_buckets rows) collected ONCE to the driver and
     turned into per-bucket cumulative offsets (broadcast-joined back);
  4. pos = offset + row_number within (epoch, bucket) — each window is
     ~N/buckets rows and all buckets rank in parallel.

At 100 TB the only full-data movements are the hash projection and the
per-bucket rank shuffle (both embarrassingly parallel); the driver sees
n_epochs x n_buckets rows.  Buckets should be ~10x the executor count.

Determinism analog in the reference: the preprocessor fixes a global
processing order by iterating the tile range sequentially
(src/ANYWAYS.UrbanisticPolygons.Preprocessor/Program.cs:36-48); here the
order is a seeded permutation with the same any-engine reproducibility.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# 2^26: splits the 31-bit hash range [0, 2147483646] into 32 buckets
DEFAULT_BUCKET_WIDTH = 1 << 26


def epoch_hash(seed_prefix, doc_id) -> F.Column:
    """Portable 31-bit hash of (seed, doc_id) — identical closed form in
    the DuckDB oracle (md5-hex-to-int, catalog/textsql.py `_H31`)."""
    s = F.concat(F.lit(seed_prefix), doc_id.cast("string"))
    return F.pmod(F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long"),
                  F.lit(2147483647))


def assign_global_positions(df: DataFrame, epochs: int = 2,
                            id_col: str = "doc_id",
                            bucket_width: int = DEFAULT_BUCKET_WIDTH,
                            ) -> DataFrame:
    """One row per (epoch, doc): `epoch, doc_id, h, pos` where pos is the
    dense 1..N rank of the doc in epoch's permutation (ordered by the
    seeded hash, doc_id tiebreak).  No global-order window anywhere."""
    spark = df.sparkSession
    base = df.select(F.col(id_col).alias("doc_id"))
    per_epoch = []
    for e in range(epochs):
        per_epoch.append(base.select(
            F.lit(e).alias("epoch"), "doc_id",
            epoch_hash(f"ord{e}:", F.col("doc_id")).alias("h")))
    hashed = per_epoch[0]
    for p in per_epoch[1:]:
        hashed = hashed.unionByName(p)
    hashed = hashed.withColumn(
        "bucket", F.expr(f"h DIV {int(bucket_width)}").cast("long"))

    # pass 1: bucket histogram — n_epochs x n_buckets rows, collected once
    counts = (hashed.groupBy("epoch", "bucket").count()
              .orderBy("epoch", "bucket").collect())
    offsets, running = [], {}
    for r in counts:
        off = running.get(r["epoch"], 0)
        offsets.append((r["epoch"], r["bucket"], off))
        running[r["epoch"]] = off + r["count"]
    off_df = spark.createDataFrame(offsets, "epoch int, bucket long, off long")

    # pass 2: rank inside each (epoch, bucket) block + broadcast offset
    w = Window.partitionBy("epoch", "bucket").orderBy("h", "doc_id")
    ranked = hashed.withColumn("rk", F.row_number().over(w).cast("long"))
    return (ranked.join(F.broadcast(off_df), ["epoch", "bucket"])
            .select("epoch", "doc_id", "h",
                    (F.col("off") + F.col("rk")).alias("pos")))
