"""Set operations (SURVEY.md §2b — set_* family)."""

from __future__ import annotations

from pyspark.sql import functions as F

from terasort_spark.catalog import table
from terasort_spark.registry import register


@register(
    "set_union_all",
    oracle="""
SELECT o_orderkey, o_orderpriority, 'open_big' AS src
FROM orders WHERE o_orderstatus = 'O' AND o_totalprice > 300000
UNION ALL
SELECT o_orderkey, o_orderpriority, 'urgent' AS src
FROM orders WHERE o_orderpriority = '1-URGENT'
""",
)
def set_union_all(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    a = o.filter((F.col("o_orderstatus") == "O") & (F.col("o_totalprice") > 300000)).select(
        "o_orderkey", "o_orderpriority", F.lit("open_big").alias("src")
    )
    b = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey", "o_orderpriority", F.lit("urgent").alias("src")
    )
    return a.unionByName(b)


@register(
    "set_union",
    oracle="""
SELECT c_nationkey AS nationkey FROM customer
UNION
SELECT s_nationkey AS nationkey FROM supplier
""",
)
def set_union(spark, sf_dir):
    c = table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.unionByName(s).distinct()


@register(
    "set_intersect",
    oracle="""
SELECT c_custkey FROM customer WHERE c_acctbal > 5000
INTERSECT
SELECT o_custkey AS c_custkey FROM orders
""",
)
def set_intersect(spark, sf_dir):
    rich = table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000).select("c_custkey")
    buyers = table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return rich.intersect(buyers)


@register(
    "set_except",
    oracle="""
SELECT l_suppkey AS suppkey FROM lineitem WHERE l_returnflag = 'R'
EXCEPT ALL
SELECT l_suppkey AS suppkey FROM lineitem WHERE l_returnflag = 'A'
""",
)
def set_except(spark, sf_dir):
    # EXCEPT ALL (bag semantics): per-key multiplicity difference —
    # implemented by Spark as a hash agg on counts, one shuffle each side.
    li = table(spark, sf_dir, "lineitem")
    r = li.filter(F.col("l_returnflag") == "R").select(F.col("l_suppkey").alias("suppkey"))
    a = li.filter(F.col("l_returnflag") == "A").select(F.col("l_suppkey").alias("suppkey"))
    return r.exceptAll(a)


# ---------------------------------------------------------------------------
# set_except_all — bag-semantics difference (completes the set family)


@register(
    "set_except_all",
    oracle="""
SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 1000
EXCEPT ALL
SELECT s_nationkey AS nationkey FROM supplier
""",
)
def set_except_all(spark, sf_dir):
    """EXCEPT ALL: multiset difference — each nation keeps
    max(customer_copies - supplier_copies, 0) rows, the bag semantics
    EXCEPT (DISTINCT) destroys. Spark plans this as one aggregate of
    signed counts + generator replication (no join back to the raw
    rows), the same single-shuffle shape as intersectAll."""
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    return c.filter(F.col("c_acctbal") > 1000).select(
        F.col("c_nationkey").alias("nationkey")
    ).exceptAll(s.select(F.col("s_nationkey").alias("nationkey")))


@register(
    "set_intersect_all",
    oracle="""
SELECT l_suppkey AS suppkey FROM lineitem WHERE l_returnflag = 'R'
INTERSECT ALL
SELECT l_suppkey AS suppkey FROM lineitem WHERE l_returnflag = 'A'
""",
)
def set_intersect_all(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    r = li.filter(F.col("l_returnflag") == "R").select(F.col("l_suppkey").alias("suppkey"))
    a = li.filter(F.col("l_returnflag") == "A").select(F.col("l_suppkey").alias("suppkey"))
    return r.intersectAll(a)
