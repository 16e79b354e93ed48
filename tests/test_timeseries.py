"""Time-series operators (terasort_spark/operators/timeseries.py):
Theil-Sen, changepoint, MAD anomalies, lag autocorrelation
and CUSUM, each replayed against numpy or plain Python for one key."""

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


def test_autocorr_matches_numpy_and_is_bounded(spark, sf_dir):
    import numpy as np

    out = {r["user_id"]: r for r in _Q["ts_autocorr"](spark, sf_dir).collect()}
    assert out, "no user met the minimum-history bar"
    from terasort_spark.operators.timeseries import AC_LAGS, AC_MIN_EVENTS

    for r in out.values():
        assert r["n"] >= AC_MIN_EVENTS
        for k in AC_LAGS:
            v = r[f"r{k}"]
            assert v is None or -1.0001 <= v <= 1.0001
    # numpy replay on 10 users: Pearson corr of the 4dp-quantized
    # series against its k-shift matches the exact-integer result
    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("user_id", "ts", "event_id", "value")
        .collect()
    )
    series: dict[int, list[float]] = {}
    for row in sorted(ev, key=lambda r: (r["user_id"], r["ts"], r["event_id"])):
        series.setdefault(row["user_id"], []).append(row["value"])
    checked = 0
    for uid in sorted(out):
        xs = np.floor(np.array(series[uid]) * 10000 + 0.5)
        for k in AC_LAGS:
            a, b = xs[:-k], xs[k:]
            expect = np.corrcoef(a, b)[0, 1]
            got = out[uid][f"r{k}"]
            assert abs(got - expect) < 2e-4, (uid, k, got, expect)
        checked += 1
        if checked >= 10:
            break
    assert checked == 10


def test_autocorr_hot_user_matches_exact_integers(spark):
    """One user with 6,500 events: in BIGINT, m·Σa² overflows past ~6k
    events. Under both window strategies every lag matches a reference
    computed with Python's exact integers, rounded as the query rounds."""
    import math

    from terasort_spark.operators.timeseries import AC_LAGS, autocorr_stats
    from terasort_spark.plans.window_skew_rewrite import lead_columns

    n_hot, n_cold, mod = 6500, 30, 5_600_000  # q <= 5.6e6: value <= 560
    seq = spark.range(n_hot + n_cold).select(
        F.when(F.col("id") < n_hot, 1).otherwise(2).alias("user_id"),
        F.timestamp_seconds(F.col("id") * 7).alias("ts"),
        F.col("id").alias("event_id"),
        F.pmod(F.col("id") * 2654435761, F.lit(mod)).alias("q"),
    )
    qs = [i * 2654435761 % mod for i in range(n_hot + n_cold)]
    expect = {}
    for uid, xs in ((1, qs[:n_hot]), (2, qs[n_hot:])):
        row = [len(xs)]
        for k in AC_LAGS:
            a, b = xs[:-k], xs[k:]
            m = len(a)
            num = m * sum(x * y for x, y in zip(a, b)) - sum(a) * sum(b)
            va = m * sum(x * x for x in a) - sum(a) ** 2
            vb = m * sum(y * y for y in b) - sum(b) ** 2
            r = float(num) / (math.sqrt(float(va)) * math.sqrt(float(vb)))
            row.append(math.floor(r * 10000 + 0.5) / 10000)
        expect[uid] = tuple(row)
    assert 6500 * sum(x * x for x in qs[:n_hot]) > 2**63  # past BIGINT
    for strategy in ("plain", "bucketed"):
        got = {
            r["user_id"]: tuple(r)[1:]
            for r in autocorr_stats(lead_columns(seq, strategy)).collect()
        }
        assert got == expect, strategy


def test_cusum_matches_numpy_changepoint(spark, sf_dir):
    """ts_cusum: replay the scaled CUSUM argmax in numpy from raw
    events; a deliberately level-shifted series puts the changepoint at
    the shift."""
    import numpy as np
    import pandas as pd

    out = {r["event_type"]: r for r in _Q["ts_cusum"](spark, sf_dir).collect()}
    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .filter(F.col("value").isNotNull())
        .select("event_type", F.date_trunc("day", "ts").cast("date").alias("d"),
                "value")
        .collect()
    )
    daily = {}
    for r in ev:
        key = (r["event_type"], r["d"])
        daily[key] = daily.get(key, 0) + int(np.floor(r["value"] * 10000 + 0.5))
    for et in {k[0] for k in daily}:
        days = sorted(d for (t, d) in daily if t == et)
        sv = np.array([daily[(et, d)] for d in days], dtype=np.int64)
        n, tot = len(sv), sv.sum()
        cus = n * np.cumsum(sv) - np.arange(1, n + 1) * tot
        best = int(np.argmax(np.abs(cus)))  # ties: earliest, matches asc d
        assert out[et]["cp_date"] == days[best]
        assert out[et]["n_days"] == n
        expect = np.floor(abs(cus[best]) / (n * 10000.0) * 10000 + 0.5) / 10000
        assert out[et]["max_dev"] == expect
    # synthetic level shift: flat 10s then flat 20s -> cusum peaks at the shift
    pdf = pd.DataFrame({"v": [10.0] * 6 + [20.0] * 6})
    sv = np.floor(pdf["v"].to_numpy() * 10000 + 0.5).astype(np.int64)
    cus = len(sv) * np.cumsum(sv) - np.arange(1, len(sv) + 1) * sv.sum()
    assert int(np.argmax(np.abs(cus))) == 5  # last pre-shift day
