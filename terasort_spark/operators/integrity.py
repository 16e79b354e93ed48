"""Warehouse-integrity and schema-lifecycle operators (north-star
extension, absent from the reference's sort pipeline — SURVEY.md §2a):
referential-integrity audit, day-of-week seasonal decomposition,
hashing-trick feature vectors, and schema-evolution reads.

All four exact-oracle: anti-join counts, exact DECIMAL revenue sums,
md5-slice hash buckets (the agg_heavyhitters/dedup_simhash replay
pattern), and a CASE-reconstruction of the merged-schema union.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, functions as F

from terasort_spark.catalog import table
from terasort_spark.operators._util import DEC, hex_int, o_hex_int, rnd, scratch_dir
from terasort_spark.registry import register

# ---------------------------------------------------------------------------
# dq_referential


def fk_orphans(child: DataFrame, key: str, parent: DataFrame, pkey: str):
    """Core of the referential audit: (n_child, n_orphan) for one
    foreign-key relationship, as a 1-row DataFrame. Orphans = child rows
    whose key has no parent — a LEFT ANTI join, the only join type whose
    output is bounded by the child side no matter how broken the data
    is. NULL keys count as orphans (they reference nothing).

    Unit-tested with injected orphans (tests/test_integrity.py) so the
    all-green production audit below is known to actually detect rot."""
    orphans = child.join(
        parent.select(F.col(pkey).alias(key)).distinct(), key, "left_anti"
    )
    return child.agg(F.count(F.lit(1)).cast("bigint").alias("n_child")).crossJoin(
        orphans.agg(F.count(F.lit(1)).cast("bigint").alias("n_orphan"))
    )


_FK_RELATIONS = (
    # (name, child, child key, parent, parent key)
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("events.user_id->customer", "events", "user_id", "customer", "c_custkey"),
)


@register(
    "dq_referential",
    oracle="\nUNION ALL\n".join(
        f"""
SELECT '{name}' AS relationship,
       (SELECT CAST(count(*) AS BIGINT) FROM {c}) AS n_child,
       (SELECT CAST(count(*) AS BIGINT) FROM {c}
        WHERE {ck} IS NULL
           OR {ck} NOT IN (SELECT {pk} FROM {p} WHERE {pk} IS NOT NULL)
       ) AS n_orphan
"""
        for name, c, ck, p, pk in _FK_RELATIONS
    ),
)
def dq_referential(spark, sf_dir):
    """Referential-integrity audit: for every declared foreign-key
    relationship in the warehouse, count child rows and orphan child
    rows (no matching parent key, NULLs included). One row per
    relationship — the report a 100 TB ingest pipeline gates loads on.

    Scale notes: each relationship is ONE left-anti join on its key.
    Parent key sets are projected to the single key column first, so
    dims (nation/supplier/customer) broadcast; the two fact-fact checks
    (lineitem->orders) hash-join on high-cardinality keys — the same
    exchange a later fact join would need, no extra shuffle shape. The
    per-relationship counts reduce map-side to one row each; the final
    union is 6 rows. Never materializes orphan rows, only counts."""
    parts = []
    for name, c, ck, p, pk in _FK_RELATIONS:
        row = fk_orphans(table(spark, sf_dir, c), ck, table(spark, sf_dir, p), pk)
        parts.append(row.select(F.lit(name).alias("relationship"), "n_child", "n_orphan"))
    out = parts[0]
    for nxt in parts[1:]:
        out = out.unionAll(nxt)
    return out


# ---------------------------------------------------------------------------
# ts_seasonal


@register(
    "ts_seasonal",
    oracle=f"""
WITH daily AS (
  SELECT o_orderdate AS d,
         CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS rev
  FROM orders GROUP BY o_orderdate
),
g AS (SELECT avg(rev) AS grand FROM daily)
SELECT dayofweek(d) AS dow,
       CAST(count(*) AS BIGINT) AS n_days,
       floor(avg(rev) * 10000 + 0.5) / 10000 AS avg_rev,
       floor(avg(rev) / (SELECT grand FROM g) * 10000 + 0.5) / 10000
         AS seasonal_index
FROM daily
GROUP BY dayofweek(d)
""",
)
def ts_seasonal(spark, sf_dir):
    """Day-of-week seasonal decomposition: aggregate orders to exact
    daily revenue, then express each weekday's mean daily revenue as an
    index against the grand mean (index 1.0 = a flat week). The
    classical multiplicative seasonal profile, computed relationally.

    Determinism: daily sums through DECIMAL(25,6) (order-insensitive),
    weekday means are averages over identical doubles in both engines,
    floor-rounded at 4dp. Spark's dayofweek is 1..7 Sunday=1 vs
    DuckDB's 0..6 Sunday=0, so Spark subtracts 1.

    Scale notes: the only full-data pass is the groupBy on o_orderdate
    — a bounded-domain key (one row per calendar day, ~36.5 K rows per
    century), map-side combined. Everything after runs on the daily
    frame: the 1-row grand mean broadcasts back via crossJoin, the
    final groupBy has 7 groups. No windows, no skewed keys."""
    daily = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").alias("d"))
        .agg(F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("rev"))
    )
    grand = daily.agg(F.avg("rev").alias("grand"))
    # Mirror the oracle's expression ORDER bit-for-bit: per-dow avg(rev)
    # first, ONE division by the grand mean after (avg(rev/grand) is
    # algebraically equal but not IEEE-identical, so a 4dp floor-boundary
    # straddle could flip the last digit at other scale factors — r6
    # ADVICE). The grand scalar now joins AFTER the 7-row aggregate.
    per_dow = (
        daily.groupBy((F.dayofweek("d") - F.lit(1)).cast("bigint").alias("dow"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.avg("rev").alias("avg_rev_raw"),
        )
    )
    return per_dow.crossJoin(F.broadcast(grand)).select(
        "dow",
        "n_days",
        rnd(F.col("avg_rev_raw"), "avg_rev"),
        rnd(F.col("avg_rev_raw") / F.col("grand"), "seasonal_index"),
    )


# ---------------------------------------------------------------------------
# ml_feature_hash

N_FEATURES = 64  # hashed feature-space width; production uses 2^18+


@register(
    "ml_feature_hash",
    oracle=f"""
WITH toks AS (
  SELECT lang, unnest(string_split(lower(text), ' ')) AS tok
  FROM documents WHERE text IS NOT NULL
),
placed AS (
  SELECT lang, tok,
         {o_hex_int("md5(tok)", 3)} AS h
  FROM toks WHERE length(tok) > 0
)
SELECT lang, h % {N_FEATURES} AS feature,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(count(DISTINCT tok) AS BIGINT) AS n_distinct
FROM placed
GROUP BY lang, h % {N_FEATURES}
""",
)
def ml_feature_hash(spark, sf_dir):
    """Hashing-trick bag-of-words (Weinberger et al. 2009): every token
    maps to one of N_FEATURES buckets via a hash — the fixed-width,
    vocabulary-free featurization used to train linear models over
    unbounded text. Output: per-(lang, feature) token mass and distinct
    collision count, i.e. the corpus-level design matrix column sums.

    The bucket is 3 md5 nibbles mod N_FEATURES — md5 replaces the
    production murmur3 so DuckDB replays bit-for-bit (the
    agg_heavyhitters _cm_bucket pattern).

    Scale notes: explode stays pipelined in codegen; the groupBy key
    space is FIXED at |langs| x N_FEATURES (~320 cells), so partial
    aggregation collapses every partition to <= 320 rows for n_tokens.
    The distinct count adds one (lang, feature, tok)-keyed exchange —
    bounded by vocabulary, not corpus. No per-doc vectors materialize;
    a model trainer consumes (feature, count) pairs directly."""
    d = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = d.select(
        "lang", F.explode(F.split(F.lower("text"), " ")).alias("tok")
    ).filter(F.length("tok") > 0)
    feat = F.pmod(hex_int(F.md5("tok"), 3), F.lit(N_FEATURES)).alias("feature")
    return toks.select("lang", feat, "tok").groupBy("lang", "feature").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.countDistinct("tok").cast("bigint").alias("n_distinct"),
    )


# ---------------------------------------------------------------------------
# source_mergeschema


@register(
    "source_mergeschema",
    oracle="""
SELECT o_orderkey,
       o_custkey,
       CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice END AS o_totalprice,
       CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus END AS o_orderstatus
FROM orders
""",
)
def source_mergeschema(spark, sf_dir):
    """Schema-evolution read: two parquet batches written at different
    pipeline epochs carry different column sets (an early batch has
    o_totalprice, a later one replaced it with o_orderstatus); reading
    both with mergeSchema=true unions the schemas, padding missing
    columns with NULL — how a long-lived 100 TB corpus absorbs schema
    change without rewriting history.

    Scale notes: mergeSchema makes Spark read EVERY file footer at
    planning time — fine for batch counts in the thousands, a
    planning-time cost at millions of files; production pins the merged
    schema in a catalog and passes it to .schema(), which this read
    path also exercises (the re-read projects through the merged
    schema, columns absent from a file are null-filled per row group
    with zero data scanned for them)."""
    out = scratch_dir(spark, "mergeschema")
    shutil.rmtree(out, ignore_errors=True)
    src = table(spark, sf_dir, "orders")
    src.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    ).write.mode("overwrite").parquet(os.path.join(out, "epoch=1"))
    src.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    ).write.mode("overwrite").parquet(os.path.join(out, "epoch=2"))
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(out, "epoch=1"), os.path.join(out, "epoch=2")
    )
    return merged.select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
