"""Analytics and data-quality operators
(terasort_spark/operators/analytics.py): volume anomalies, event
transitions and table profiles, each replayed against plain Python."""

from __future__ import annotations

from pyspark.sql import functions as F

from terasort_spark.catalog import table
from terasort_spark.registry import queries

_Q = queries()


# ---------------------------------------------------------------------------
# dq_volume_anomaly


def test_volume_anomaly_window_math(spark, sf_dir):
    rows = sorted(
        _Q["dq_volume_anomaly"](spark, sf_dir).collect(),
        key=lambda r: r["day"],
    )
    assert rows, "needs more than 7 distinct days of events"
    daily = dict(
        table(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("d"))
        .count()
        .collect()
    )
    days = sorted(daily)
    for r in rows:
        i = days.index(r["day"])
        assert i >= 7  # full trailing history required
        trail = [daily[d] for d in days[i - 7 : i]]
        mean = sum(trail) / 7.0
        import math

        assert abs(r["trail_mean"] - math.floor(mean * 10000 + 0.5) / 10000) < 1e-9


def test_events_transitions_conservation(spark, sf_dir):
    """Each user with >=1 event contributes exactly (n_events - 1)
    transitions, so sum(n) == total_events - distinct_users."""
    ev = table(spark, sf_dir, "events")
    total = ev.count()
    users = ev.select("user_id").distinct().count()
    got = (
        _Q["events_transitions"](spark, sf_dir)
        .agg(F.sum("n").alias("s"))
        .collect()[0]["s"]
    )
    assert got == total - users


def test_profile_table_invariants(spark, sf_dir):
    rows = {r["col_name"]: r for r in _Q["profile_table"](spark, sf_dir).collect()}
    assert len(rows) == 6
    o = table(spark, sf_dir, "orders")
    n = o.count()
    # primary key: all-distinct, no nulls
    assert rows["o_orderkey"]["n_distinct"] == n
    assert rows["o_orderkey"]["n_nulls"] == 0
    # rendered doubles carry exactly 2dp
    assert "." in rows["o_totalprice"]["min_s"]
    assert len(rows["o_totalprice"]["max_s"].split(".")[1]) == 2


def test_profile_table_distinct_shuffle_is_deduped_not_expanded(spark, sf_dir):
    """The exact-distinct stage must shuffle each column's DISTINCT set
    (two-level groupBy with map-side combine), never Expand the row
    stream x(cols+1) into one fat multi-distinct exchange."""
    plan = (
        _Q["profile_table"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Expand" not in plan
    # two-level distinct: partial aggregate on (col_name, v) below the
    # exchange, count per col_name above it
    assert plan.count("HashAggregate") >= 4
