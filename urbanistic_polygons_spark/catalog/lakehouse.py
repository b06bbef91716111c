"""CDC MERGE/upsert over the customer dimension."""

from __future__ import annotations

from pyspark.sql import functions as F

from ._shared import register_views

# ---------------------------------------------------------------------------
# CDC MERGE/upsert: events as a change stream applied onto the customer
# dimension — last-writer-wins reduction + full-outer merge, exact oracle
# ---------------------------------------------------------------------------

def q_cdc_upsert_spark(spark, sf_dir):
    """MERGE the events change stream (keyed user_id; 'error' = DELETE,
    everything else = UPSERT of the integer-cents value; last writer by
    (ts, event_id) wins) into the customer account-balance dimension."""
    from ..operators.cdc import merge_upsert
    register_views(spark, sf_dir)
    base = spark.table("customer").select(
        F.col("c_custkey").cast("long").alias("cust_id"),
        F.round(F.col("c_acctbal") * 100, 0).cast("long")
        .alias("acct_cents"))
    ch = spark.table("events").select(
        F.col("user_id").cast("long").alias("cust_id"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.col("event_id").cast("long").alias("event_id"),
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U")).alias("op"),
        F.round(F.col("value") * 100, 0).cast("long").alias("acct_cents"))
    return merge_upsert(base, ch, key_cols=["cust_id"],
                        order_cols=["ts_us", "event_id"],
                        payload_cols=["acct_cents"])


# event_id is unique, so the oracle's (ts_us DESC, event_id DESC) window
# tie-break provably equals the Spark side's struct-max over
# (ts_us, event_id, payload, op) — the comparison never reaches payload.
_CDC_UPSERT_SQL = """
WITH base AS (
  SELECT c_custkey AS cust_id,
         CAST(ROUND(c_acctbal * 100) AS BIGINT) AS acct_cents
  FROM customer
), ch AS (
  SELECT user_id AS cust_id, epoch_us(ts) AS ts_us, event_id,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
         CAST(ROUND(value * 100) AS BIGINT) AS acct_cents
  FROM events
), latest AS (
  SELECT cust_id, op, acct_cents FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY cust_id
                                 ORDER BY ts_us DESC, event_id DESC) AS rn
    FROM ch
  ) WHERE rn = 1
)
SELECT COALESCE(b.cust_id, l.cust_id) AS cust_id,
       CASE WHEN l.op IS NULL THEN b.acct_cents
            ELSE l.acct_cents END AS acct_cents,
       CASE WHEN l.op IS NULL THEN 'base' ELSE 'upsert' END AS src
FROM base b FULL OUTER JOIN latest l ON b.cust_id = l.cust_id
WHERE l.op IS NULL OR l.op <> 'D'
"""


