"""Spark SQL surface (terasort_spark/operators/sql.py): parameter
markers bind literals, and recursive CTE depths match a closed form."""

from __future__ import annotations

from pyspark.sql import functions as F

from terasort_spark.catalog import table
from terasort_spark.registry import queries

_Q = queries()


def test_sql_params_binds_literals_not_strings(spark, sf_dir):
    """A hostile bound value must be compared AS A LITERAL — the
    classic injection payload returns zero rows instead of everything."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    n = spark.sql(
        "SELECT count(*) AS n FROM orders_v WHERE o_orderstatus = :st",
        args={"st": "O' OR '1'='1"},
    ).collect()[0]["n"]
    assert n == 0
    total = spark.sql(
        "SELECT count(*) AS n FROM orders_v WHERE o_orderstatus = :st",
        args={"st": "O"},
    ).collect()[0]["n"]
    assert total > 0


def test_sql_params_branches_partition(spark, sf_dir):
    """The two bound branches partition 'O' orders on the threshold:
    per priority, named.n + exec_immediate.n == count of 'O' orders."""
    rows = _Q["sql_params"](spark, sf_dir).collect()
    per = {}
    for r in rows:
        per[r["o_orderpriority"]] = per.get(r["o_orderpriority"], 0) + r["n"]
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "O")
        .groupBy("o_orderpriority")
        .count()
        .collect()
    )
    assert per == {r["o_orderpriority"]: r["count"] for r in o}


def test_recursive_cte_depth_closed_form(spark, sf_dir):
    """The recursion's fixpoint is independently checkable: walking
    n -> n div 2 to 1 takes exactly floor(log2(n)) steps, and the
    path sum telescopes to sum of n div 2^i."""
    rows = _Q["sql_recursive_cte"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        n = r["node"]
        want_d = max(n.bit_length() - 1, 0)  # nodes 0 and 1 are roots
        want_sum, cur = n, n
        while cur > 1:
            cur //= 2
            want_sum += cur
        assert r["depth"] == want_d, (n, r["depth"], want_d)
        assert r["path_sum"] == want_sum
