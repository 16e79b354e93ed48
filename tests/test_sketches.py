"""Mergeable sketch aggregates (terasort_spark/operators/sketches.py):
merge associativity, no-false-negative and never-undercount bounds, and
per-user replays against exact Python."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from terasort_spark.catalog import table
from terasort_spark.registry import queries

_Q = queries()


def test_hll_registers_merge_associatively(spark, sf_dir):
    """The 100 TB contract of agg_hll_exact: per-partition register
    maxes MERGE (elementwise max) into exactly the registers of the
    single-pass sketch, so the sketch distributes with one m-sized row
    per executor."""
    from pyspark.sql import functions as F

    from terasort_spark.catalog import table
    from terasort_spark.operators.sketches import _HLL_M, _HLL_P, _HLL_WBITS

    o = table(spark, sf_dir, "orders")

    def regs(df):
        h = F.conv(
            F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 15),
            16,
            10,
        ).cast("long")
        w = F.shiftright(h, _HLL_P)
        rho = F.when(w == 0, F.lit(_HLL_WBITS + 1)).otherwise(
            F.lit(_HLL_WBITS + 1) - F.length(F.bin(w))
        )
        return {
            r["b"]: r["mx"]
            for r in df.select(
                F.pmod(h, F.lit(_HLL_M)).alias("b"), rho.alias("rho")
            )
            .groupBy("b")
            .agg(F.max("rho").alias("mx"))
            .collect()
        }

    full = regs(o)
    a = regs(o.filter(F.col("o_orderkey") % 2 == 0))
    b = regs(o.filter(F.col("o_orderkey") % 2 == 1))
    merged = {k: max(a.get(k, 0), b.get(k, 0)) for k in set(a) | set(b)}
    assert merged == full


# ---------------------------------------------------------------------------
# agg_cms_topk


def test_cms_never_undercounts(spark, sf_dir):
    rows = _Q["agg_cms_topk"](spark, sf_dir).collect()
    assert 0 < len(rows) <= 20  # fewer than 20 distinct users at sf0.001
    for r in rows:
        assert r["cms_est"] >= r["exact_n"], r


# ---------------------------------------------------------------------------
# agg_bloom_filter


def test_bloom_no_false_negatives(spark, sf_dir):
    rows = _Q["agg_bloom_filter"](spark, sf_dir).collect()
    for r in rows:
        if r["true_hit"]:
            assert r["bloom_hit"], f"false negative for {r['c_custkey']}"


def test_bloom_probe_is_deterministic(spark, sf_dir):
    a = sorted(map(tuple, _Q["agg_bloom_filter"](spark, sf_dir).collect()))
    b = sorted(map(tuple, _Q["agg_bloom_filter"](spark, sf_dir).collect()))
    assert a == b


# ---------------------------------------------------------------------------
# agg_ams_f2


def test_ams_f2_exact_and_estimate_sane(spark, sf_dir):
    row = _Q["agg_ams_f2"](spark, sf_dir).collect()[0]
    n = table(spark, sf_dir, "events").count()
    # sum f^2 >= sum f = n, with equality iff all keys distinct
    assert row["f2_exact"] >= n
    assert row["f2_est"] > 0
    # k=16 estimators: the estimate should be the right order of
    # magnitude (AMS relative error ~ 1/sqrt(k) in expectation; allow
    # a wide deterministic band — the exact value is hash-pinned by
    # the oracle, this is a sanity rail)
    assert row["f2_exact"] / 10 <= row["f2_est"] <= row["f2_exact"] * 10


# ---------------------------------------------------------------------------
# agg_decay_counter


def test_decay_counter_matches_reference_for_one_user(spark, sf_dir):
    from terasort_spark.operators.sketches import (
        _DECAY_HALFLIFE_DAYS,
        _DECAY_MAX_STEPS,
        _DECAY_SCALE,
    )

    ev = table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d"), "value"
    )
    rows = ev.collect()
    t0 = max(r["d"] for r in rows)
    uid = min(r["user_id"] for r in rows)
    want = 0
    for r in rows:
        if r["user_id"] != uid:
            continue
        cents = math.floor(r["value"] * 100 + 0.5)
        steps = min((t0 - r["d"]).days // _DECAY_HALFLIFE_DAYS, _DECAY_MAX_STEPS)
        want += cents * (_DECAY_SCALE >> steps)
    got = {
        r["user_id"]: r["decayed_units"]
        for r in _Q["agg_decay_counter"](spark, sf_dir).collect()
    }
    assert got[uid] == want
