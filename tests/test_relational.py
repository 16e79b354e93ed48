"""Relational operators (joins, set operations and scalar
functions): Bloom prefilters, binned range joins, EXCEPT ALL and
try_* functions. These tests pin plan shapes and multiset semantics
the oracle hash cannot see."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from terasort_spark.catalog import table
from terasort_spark.operators.joins import bloom_prefilter
from terasort_spark.plans.checks import assert_no_cartesian
from terasort_spark.registry import queries

_Q = queries()


# ---------------------------------------------------------------------------
# set_except_all


def test_except_all_multiplicities(spark, sf_dir):
    got = Counter(
        r["nationkey"] for r in _Q["set_except_all"](spark, sf_dir).collect()
    )
    c = Counter(
        r["c_nationkey"]
        for r in table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 1000)
        .collect()
    )
    s = Counter(
        r["s_nationkey"] for r in table(spark, sf_dir, "supplier").collect()
    )
    want = Counter({k: c[k] - s[k] for k in c if c[k] - s[k] > 0})
    assert got == want


def test_fn_try_null_not_error(spark, sf_dir):
    """Every malformed cell yields NULL, never an exception: the
    non-numeric priority string, the past-the-end array index, and the
    zero divisor; the parseable leading digit always lands 1..5."""
    rows = _Q["fn_try"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["pri_int"] is None
        assert 1 <= r["pri_num"] <= 5
        assert r["st_dbl"] is None
        assert r["pri_missing"] is None
        assert (r["price_div"] is None) == (r["o_orderkey"] % 5 == 0)
        assert r["pri_word"] in {
            "URGENT", "HIGH", "MEDIUM", "NOT SPECIFIED", "LOW",
        }


def _bloom_fixture(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    sel = o.where(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_totalprice") > 150000)
    )
    return li, sel


def test_bloom_prefilter_no_false_negatives(spark, sf_dir):
    """Every probe row whose key truly joins must survive the Bloom."""
    li, sel = _bloom_fixture(spark, sf_dir)
    pre_keys = {
        r[0]
        for r in bloom_prefilter(li, "l_orderkey", sel, "o_orderkey")
        .select("l_orderkey")
        .distinct()
        .collect()
    }
    true_keys = {
        r[0]
        for r in li.join(
            sel, li.l_orderkey == sel.o_orderkey, "left_semi"
        )
        .select("l_orderkey")
        .distinct()
        .collect()
    }
    assert true_keys, "fixture must select a non-empty build side"
    assert true_keys <= pre_keys


def test_bloom_prefilter_prunes_probe_side(spark, sf_dir):
    """The point of the runtime filter: most non-matching probe rows
    are dropped BEFORE any shuffle. With a selective build side the
    survivor fraction must be far below 1 (false positives only add
    a few percent on top of the true-match fraction)."""
    li, sel = _bloom_fixture(spark, sf_dir)
    n_all = li.count()
    n_pre = bloom_prefilter(li, "l_orderkey", sel, "o_orderkey").count()
    n_true = li.join(sel, li.l_orderkey == sel.o_orderkey, "left_semi").count()
    assert n_true <= n_pre <= n_all
    # survivors = true matches + false positives; require the filter to
    # remove at least half of the non-matching rows (the sf0.001/0.01
    # geometry gives fpp << 0.5 — this bound only fails if the filter
    # stops filtering)
    assert (n_pre - n_true) <= 0.5 * (n_all - n_true), (n_all, n_pre, n_true)


def test_join_range_binned_is_not_nested_loop(spark, sf_dir):
    """Binning must turn the no-equi-key interval predicate into an
    equi-join: no CartesianProduct / BroadcastNestedLoopJoin anywhere
    in the executed plan."""
    assert_no_cartesian(_Q["join_range_binned"](spark, sf_dir))


def test_join_range_binned_equals_naive_between_join(spark, sf_dir):
    """The binned formulation must equal the direct BETWEEN join (which
    Spark can only execute as a nested loop — fine at test scale)."""
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    wins = (
        daily.withColumn(
            "wid", F.row_number().over(Window.orderBy(F.desc("n"), F.asc("day")))
        )
        .where(F.col("wid") <= 15)
        .select("wid", F.col("day").alias("w_start"), F.date_add("day", 13).alias("w_end"))
    )
    naive = (
        li.join(
            wins,
            F.to_date("l_shipdate").between(F.col("w_start"), F.col("w_end")),
        )
        .groupBy("wid")
        .agg(F.count(F.lit(1)).alias("n_lines"))
    )
    want = {(r["wid"], r["n_lines"]) for r in naive.collect()}
    got = {
        (r["wid"], r["n_lines"])
        for r in _Q["join_range_binned"](spark, sf_dir).collect()
    }
    assert got == want and got
