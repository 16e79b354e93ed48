"""Mergeable sketch aggregates (terasort_spark/operators/sketches.py):
merge associativity, no-false-negative and never-undercount bounds,
per-user replays against exact Python, quantile-histogram bins, and the
one Bloom kernel."""

from __future__ import annotations

import math
import os
import re
import shutil

import duckdb
from pyspark.sql import functions as F

from terasort_spark.catalog import table
from terasort_spark.compare import compare_query
from terasort_spark.operators.llm_dedup import _BI_SPLIT
from terasort_spark.registry import oracle_sql, queries

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


def test_bloom_probe_counts_empty_words_as_zero(spark, sf_dir, tmp_path):
    """A probe key whose words hold no set bit counts 0 bits, not NULL,
    as the oracles' ``count(*) FILTER`` does. With ``orders`` cut to
    its first row and ``documents`` to doc_id 0 plus the batch, most
    probe keys of agg_bloom_filter and dedup_bloom_ingest meet only
    empty words, and both must still match their oracles."""
    cut = {
        "orders": "LIMIT 1",
        "documents": f"WHERE doc_id = 0 OR doc_id >= {_BI_SPLIT}",
    }
    with duckdb.connect() as con:
        for f in os.listdir(sf_dir):
            src, dst = os.path.join(sf_dir, f), str(tmp_path / f)
            where = cut.get(f.removesuffix(".parquet"))
            if where is None:
                shutil.copy(src, dst)
            else:
                con.execute(
                    f"COPY (SELECT * FROM read_parquet('{src}') {where}) "
                    f"TO '{dst}' (FORMAT PARQUET)"
                )
    oracles = oracle_sql()
    for name in ("agg_bloom_filter", "dedup_bloom_ingest"):
        res = compare_query(name, _Q[name], oracles[name], spark, str(tmp_path))
        assert res.ok, str(res)


def test_one_bloom_kernel():
    """Bloom words have one build: the kernel in operators/sketches.py
    (``bloom_words``, ``bloom_bits_set``). No other operator module ORs
    a ``shiftleft(1, ...)`` mask with ``bit_or``, so the copies cannot
    grow back. (The oracles write their masks with ``<<``.)"""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ops = os.path.join(root, "terasort_spark", "operators")
    mask = re.compile(
        r"shiftleft\(\s*(F\.lit\(\s*)?(cast\(\s*1\s+as\s+bigint\s*\)|1L?\b)",
        re.I,
    )
    bad = []
    for dirpath, _, files in os.walk(ops):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            with open(path) as fh:
                src = fh.read()
            if os.path.relpath(path, ops) == "sketches.py":
                assert "def bloom_words(" in src
                continue
            if "bit_or" in src and mask.search(src):
                bad.append(os.path.relpath(path, root))
    assert not bad, bad


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


def test_quantile_hist_bins_contain_exact_order_statistics(spark, sf_dir):
    """The estimated quantile bin must be exactly the bin of the
    ceil(q*N)-th order statistic — the histogram sketch's defining
    invariant, checked against a brute-force sort."""
    import math

    from terasort_spark.catalog import table

    rows = {r["flag"]: r for r in _Q["agg_quantile_hist"](spark, sf_dir).collect()}
    vals: dict = {}
    for r in table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    ).collect():
        vals.setdefault(r["l_returnflag"], []).append(r["l_extendedprice"])
    assert set(rows) == set(vals)
    for flag, xs in vals.items():
        xs.sort()
        assert rows[flag]["total"] == len(xs)
        for pct in (50, 95, 99):
            v = xs[math.ceil(pct * len(xs) / 100) - 1]
            want = math.floor(v / 1000.0) * 1000.0
            assert rows[flag][f"p{pct}_est"] == want, (flag, pct)
