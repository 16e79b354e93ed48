"""Change-data-capture over the versioned-table layer
(terasort_spark/sources/snapshots.py): `scan_changefeed` materializes a
versioned table (base + one delta of upserts and tombstones) and emits
the CHANGE FEED between the two versions — op ∈ insert/update/delete
with old and new values — the read side of Delta/Iceberg
`table_changes()`.

Scale design: the feed for version n is derived from the version-n
SEGMENT (delta-sized, hive-partition-pruned at file listing) joined
against the version-(n-1) snapshot ONLY to classify ops and fetch old
values — a single equi-join on the table key whose left side is the
delta, never a diff of two full snapshots. At 100 TB the snapshot side
prunes to the key column (ReadSchema) and the join broadcasts when the
delta is small.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from terasort_spark.catalog import table
from terasort_spark.operators._util import rnd, scratch_dir
from terasort_spark.registry import register
from terasort_spark.sources.snapshots import read_snapshot, write_version

# deterministic change recipe over orders:
#   base (v0):  keys with o_orderkey % 4 != 3
#   upserts v1: keys with o_orderkey % 10 == 0 (price * 1.1) — keys
#               already in base become updates, others inserts
#   deletes v1: keys with o_orderkey % 17 == 0 and % 10 != 0 —
#               tombstones for keys not in base are no-ops (dropped)


def stage_orders_cdc(spark, sf_dir, name: str, extra_cols: tuple = ()):
    """Write the shared v0/v1 CDC fixture (the recipe above) under a
    session-scoped scratch root and return that root. ONE staging
    implementation backs scan_changefeed, ivm_incremental_agg and
    pipelines.pipeline_ivm_rewrite so the recipe and its three oracles
    cannot drift apart. ``extra_cols`` rides immutable dimension
    columns (e.g. order date/priority) along in every segment."""
    root = scratch_dir(spark, name)
    shutil.rmtree(root, ignore_errors=True)
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", *extra_cols
    )
    base = o.filter(F.col("o_orderkey") % 4 != 3)
    write_version(base, root, 0)
    ups = o.filter(F.col("o_orderkey") % 10 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") * 1.1
    )
    dels = (
        o.filter(
            (F.col("o_orderkey") % 17 == 0) & (F.col("o_orderkey") % 10 != 0)
        )
        .withColumn("o_totalprice", F.lit(None).cast("double"))
        .withColumn("_deleted", F.lit(True))
    )
    write_version(
        ups.withColumn("_deleted", F.lit(False)).unionByName(dels), root, 1
    )
    return root


@register(
    "scan_changefeed",
    oracle="""
WITH base AS (
  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 4 <> 3
),
ups AS (
  SELECT o_orderkey, o_totalprice * 1.1 AS new_price FROM orders
  WHERE o_orderkey % 10 = 0
),
dels AS (
  SELECT o_orderkey FROM orders
  WHERE o_orderkey % 17 = 0 AND o_orderkey % 10 <> 0
)
SELECT u.o_orderkey AS o_orderkey,
       CASE WHEN b.o_orderkey IS NULL THEN 'insert' ELSE 'update' END AS op,
       floor(b.o_totalprice * 10000 + 0.5) / 10000 AS old_price,
       floor(u.new_price * 10000 + 0.5) / 10000 AS new_price
FROM ups u LEFT JOIN base b USING (o_orderkey)
UNION ALL
SELECT d.o_orderkey, 'delete',
       floor(b.o_totalprice * 10000 + 0.5) / 10000, NULL
FROM dels d JOIN base b USING (o_orderkey)
""",
)
def scan_changefeed(spark, sf_dir):
    """Build the versioned table on disk through the snapshots API,
    then read the v1 change feed: the v=1 segment (partition-pruned)
    classified against the v0 snapshot. The oracle replays the same
    change recipe relationally from `orders`, so the feed's semantics
    — not just its mechanics — are hash-checked."""
    root = stage_orders_cdc(spark, sf_dir, "cdc")

    seg1 = spark.read.parquet(os.path.join(root, "_v=1"))
    prev = read_snapshot(spark, root, ["o_orderkey"], version=0).select(
        "o_orderkey", F.col("o_totalprice").alias("old_price_raw")
    )
    j = seg1.join(prev, "o_orderkey", "left")
    op = (
        F.when(F.col("_deleted"), F.lit("delete"))
        .when(F.col("old_price_raw").isNull(), F.lit("insert"))
        .otherwise(F.lit("update"))
    )
    return (
        j.withColumn("op", op)
        # a tombstone for a key absent from the previous snapshot is a
        # no-op, exactly as lake formats drop it from the feed
        .filter(~(F.col("_deleted") & F.col("old_price_raw").isNull()))
        .select(
            "o_orderkey",
            "op",
            rnd(F.col("old_price_raw"), "old_price"),
            rnd(
                F.when(~F.col("_deleted"), F.col("o_totalprice")),
                "new_price",
            ),
        )
    )


@register(
    "ivm_incremental_agg",
    # the oracle recomputes the v1 state FROM SCRATCH; the operator must
    # reach the same numbers by applying only the delta to the v0 aggregate
    oracle="""
WITH v1 AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice * 1.1
              ELSE o_totalprice END AS price
  FROM orders
  WHERE (o_orderkey % 4 <> 3 OR o_orderkey % 10 = 0)
    AND NOT (o_orderkey % 17 = 0 AND o_orderkey % 10 <> 0)
)
SELECT o_orderkey % 100 AS grp,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(price AS DECIMAL(25,6))) AS DOUBLE) AS sum_price
FROM v1
GROUP BY o_orderkey % 100
""",
)
def ivm_incremental_agg(spark, sf_dir):
    """Incremental view maintenance: a grouped aggregate (count +
    DECIMAL-exact sum per key bucket) kept current by applying the CDC
    change feed as signed deltas — insert → (+1, +new), update →
    (0, new−old), delete → (−1, −old) — to the previous materialized
    aggregate. The v1 base table is NEVER rescanned: inputs are the v0
    aggregate (materialized-view-sized) and the delta (change-sized),
    merged with one union + groupBy. This is how a 100 TB continuous
    aggregate stays fresh at per-batch cost O(changes), not O(table);
    the oracle recomputes v1 from scratch, so the delta algebra is
    hash-checked against ground truth, exactly to the cent (DECIMAL
    deltas — float deltas would drift after enough batches)."""
    root = stage_orders_cdc(spark, sf_dir, "cdc_ivm")

    grp = (F.col("o_orderkey") % 100).alias("grp")
    dec = "decimal(25,6)"
    # the materialized v0 aggregate (in production this is a stored table)
    agg0 = (
        spark.read.parquet(os.path.join(root, "_v=0"))
        .groupBy(grp)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("dn"),
            F.sum(F.col("o_totalprice").cast(dec)).alias("ds"),
        )
    )
    # the signed delta stream, derived from the v=1 segment + v0 snapshot
    seg1 = spark.read.parquet(os.path.join(root, "_v=1"))
    prev = read_snapshot(spark, root, ["o_orderkey"], version=0).select(
        "o_orderkey", F.col("o_totalprice").alias("old_price")
    )
    feed = seg1.join(prev, "o_orderkey", "left").filter(
        ~(F.col("_deleted") & F.col("old_price").isNull())
    )
    dn = (
        F.when(F.col("_deleted"), -1)
        .when(F.col("old_price").isNull(), 1)
        .otherwise(0)
        .cast("bigint")
    )
    ds = (
        F.when(F.col("_deleted"), -F.col("old_price").cast(dec))
        .when(
            F.col("old_price").isNull(), F.col("o_totalprice").cast(dec)
        )
        .otherwise(
            F.col("o_totalprice").cast(dec) - F.col("old_price").cast(dec)
        )
    )
    deltas = feed.groupBy(grp).agg(
        F.sum(dn).alias("dn"), F.sum(ds).alias("ds")
    )
    # merge: one union + groupBy over view-sized inputs
    merged = (
        agg0.unionByName(deltas)
        .groupBy("grp")
        .agg(F.sum("dn").alias("n_orders"), F.sum("ds").alias("s"))
        .filter(F.col("n_orders") > 0)
    )
    return merged.select(
        "grp",
        F.col("n_orders").cast("bigint").alias("n_orders"),
        F.col("s").cast("double").alias("sum_price"),
    )


@register(
    "sink_merge",
    # the oracle recomputes the post-merge table state relationally;
    # the operator must reach it THROUGH the sink — versioned write,
    # key-replace merge, physical parquet materialization, re-read
    oracle="""
WITH base AS (
  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 4 <> 3
),
ups AS (
  SELECT o_orderkey, o_totalprice * 1.1 AS o_totalprice FROM orders
  WHERE o_orderkey % 10 = 0
),
dels AS (
  SELECT o_orderkey FROM orders
  WHERE o_orderkey % 17 = 0 AND o_orderkey % 10 <> 0
),
merged AS (
  SELECT coalesce(u.o_orderkey, b.o_orderkey) AS o_orderkey,
         coalesce(u.o_totalprice, b.o_totalprice) AS price_raw
  FROM base b FULL JOIN ups u ON b.o_orderkey = u.o_orderkey
)
SELECT o_orderkey, floor(price_raw * 10000 + 0.5) / 10000 AS price
FROM merged
WHERE o_orderkey NOT IN (SELECT o_orderkey FROM dels)
""",
)
def sink_merge(spark, sf_dir):
    """MERGE INTO as a SINK, re-read-verified: build the versioned
    table (base + one delta of upserts and tombstones), resolve it with
    the key-replace merge (one window shuffle on the table key), write
    the merged state to a physical parquet table, write it AGAIN
    (simulating a redelivered micro-batch — the key-replace merge is a
    pure function of its inputs, so redelivery is a no-op), then RE-READ
    the sink and return that. The oracle recomputes the final state
    relationally, so the hash match verifies what actually landed on
    disk — the batch twin of the foreachBatch MERGE sink exercised in
    tests/test_streaming.py.

    Scale: the merge is one shuffle on the key (delta segments are
    hive-pruned); the sink write is partition-parallel; at cluster scale
    the final overwrite becomes MERGE INTO a transactional table but the
    replace-by-key idempotence argument is identical."""
    root = scratch_dir(spark, "sink_merge")
    out = scratch_dir(spark, "sink_merge_out")
    shutil.rmtree(root, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    base = o.filter(F.col("o_orderkey") % 4 != 3)
    write_version(base, root, 0)
    ups = o.filter(F.col("o_orderkey") % 10 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") * 1.1
    )
    dels = (
        o.filter(
            (F.col("o_orderkey") % 17 == 0) & (F.col("o_orderkey") % 10 != 0)
        )
        .select("o_orderkey")
        .withColumn("o_totalprice", F.lit(None).cast("double"))
        .withColumn("_deleted", F.lit(True))
    )
    write_version(
        ups.withColumn("_deleted", F.lit(False)).unionByName(dels), root, 1
    )

    merged = read_snapshot(spark, root, ["o_orderkey"])
    merged.write.mode("overwrite").parquet(out)
    # redelivery: the same batch applied twice must leave the sink in
    # the same state (key-replace merge idempotence, re-read-checked)
    merged.write.mode("overwrite").parquet(out)
    sunk = spark.read.schema("o_orderkey bigint, o_totalprice double").parquet(out)
    return sunk.select("o_orderkey", rnd(F.col("o_totalprice"), "price"))
