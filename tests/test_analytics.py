"""Analytics and data-quality operators
(terasort_spark/operators/analytics.py): volume anomalies, event
transitions, table profiles, z-score outliers, Welch's t, Gini, KS drift,
k-anonymity and Benford digits, each replayed against plain Python."""

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


def test_dq_outliers_zscores_match_python(spark, sf_dir):
    import math

    rows = table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    ).collect()
    stats: dict[str, list[int]] = {}
    for r in rows:
        s = stats.setdefault(r["source"], [0, 0, 0])
        s[0] += 1
        s[1] += r["n_chars"]
        s[2] += r["n_chars"] * r["n_chars"]
    expect = {}
    for r in rows:
        n, sm, ss = stats[r["source"]]
        mu = sm / n
        sd = math.sqrt(max(ss / n - mu * mu, 1e-12))
        z = (r["n_chars"] - mu) / sd
        if abs(z) > 2.0:
            expect[r["doc_id"]] = z
    got = {r["doc_id"]: r["z"] for r in _Q["dq_outliers"](spark, sf_dir).collect()}
    assert set(got) == set(expect), (len(got), len(expect))
    for did, z in got.items():
        assert abs(z) > 2.0


def test_ab_test_welch_t_matches_python(spark, sf_dir):
    import math

    rows = {r["event_type"]: r for r in _Q["events_ab_test"](spark, sf_dir).collect()}
    assert rows
    ev = table(spark, sf_dir, "events").filter(F.col("value").isNotNull()).select(
        "event_type", "user_id", "value"
    ).collect()
    by = {}
    for r in ev:
        by.setdefault((r["event_type"], r["user_id"] % 2), []).append(r["value"])
    for et, row in rows.items():
        va, vb = by[(et, 0)], by[(et, 1)]
        assert row["n_a"] == len(va) and row["n_b"] == len(vb)
        ma, mb = sum(va) / len(va), sum(vb) / len(vb)
        s2a = sum((x - ma) ** 2 for x in va) / (len(va) - 1)
        s2b = sum((x - mb) ** 2 for x in vb) / (len(vb) - 1)
        t = (ma - mb) / math.sqrt(s2a / len(va) + s2b / len(vb))
        assert abs(row["t_welch"] - t) < 5e-3, (et, row["t_welch"], t)


def test_gini_bounds_and_python_replay(spark, sf_dir):
    rows = {r["source"]: r for r in _Q["agg_gini"](spark, sf_dir).collect()}
    assert rows
    data = {}
    for r in table(spark, sf_dir, "documents").select("source", "n_chars").collect():
        data.setdefault(r["source"], []).append(r["n_chars"])
    assert set(rows) == set(data)
    for src, vals in data.items():
        vals.sort()
        n, w = len(vals), sum(vals)
        s = 0
        t = 0
        for v in vals:
            s += v
            t += 2 * s - v
        g = 1.0 - t / (n * w)
        got = rows[src]
        assert got["n_docs"] == n
        assert abs(got["gini"] - g) < 2e-6, (src, got["gini"], g)
        assert 0.0 <= got["gini"] < 1.0


def test_ks_drift_matches_bruteforce_ecdf(spark, sf_dir):
    """The histogram KS statistic must equal the brute-force max over
    all thresholds of |ECDF_en - ECDF_other| (with the smallest-x
    tie-break)."""
    import math

    row = _Q["dq_ks_drift"](spark, sf_dir).collect()[0]
    d = table(spark, sf_dir, "documents").select("n_chars", "lang").collect()
    a = sorted(r["n_chars"] for r in d if r["lang"] == "en")
    b = sorted(r["n_chars"] for r in d if r["lang"] != "en")
    best = (-1, None)  # (numerator, threshold)
    for x in sorted({*a, *b}):
        ca = sum(1 for v in a if v <= x)
        cb = sum(1 for v in b if v <= x)
        num = abs(ca * len(b) - cb * len(a))
        if num > best[0]:
            best = (num, x)
    assert (row["n_a"], row["n_b"]) == (len(a), len(b))
    assert row["threshold"] == best[1]
    want_d = math.floor(best[0] / (len(a) * len(b)) * 10000 + 0.5) / 10000
    assert row["d"] == want_d and 0.0 <= row["d"] <= 1.0


def test_k_anonymity_guarantee_and_minimality(spark, sf_dir):
    """Every released equivalence class must have >= k members (except
    the terminal fully-suppressed class, which absorbs whatever is
    left), and suppression must be minimal: a (lang, source) class is
    kept verbatim iff it already had >= k members."""
    from collections import Counter

    from terasort_spark.operators.analytics import _KANON_K

    rows = _Q["dq_k_anonymity"](spark, sf_dir).collect()
    d = table(spark, sf_dir, "documents").select("doc_id", "lang", "source").collect()
    assert len(rows) == len(d)
    orig = Counter((r["lang"], r["source"]) for r in d)
    out_classes = Counter((r["lang_out"], r["source_out"]) for r in rows)
    for (lang, src), n in out_classes.items():
        if (lang, src) != ("*", "*"):
            assert n >= _KANON_K, ((lang, src), n)
    for (lang, src), n in orig.items():
        kept = out_classes.get((lang, src), 0)
        if n >= _KANON_K:
            assert kept >= n  # verbatim classes survive whole
        else:
            assert (lang, src) not in out_classes  # risky classes gone


def test_benford_digits_partition_and_replay(spark, sf_dir):
    from collections import Counter

    out = {r["digit"]: r for r in _Q["dq_benford"](spark, sf_dir).collect()}
    assert set(out) <= set(range(1, 10)) and 1 in out
    total = sum(r["n"] for r in out.values())
    assert abs(sum(r["pct"] for r in out.values()) - 1.0) < 1e-3
    # Python replay: digit histogram of cents-quantized totals
    prices = [
        r["o_totalprice"]
        for r in table(spark, sf_dir, "orders").select("o_totalprice").collect()
        if r["o_totalprice"] > 0
    ]
    import math

    counts = Counter(int(str(int(math.floor(p * 100 + 0.5)))[0]) for p in prices)
    assert total == len(prices)
    for d, r in out.items():
        assert r["n"] == counts[d], (d, r["n"], counts[d])
        assert abs(r["dev"] - (r["pct"] - math.log10(1 + 1 / d))) < 2e-4
