"""Round-12 wave (session 2, batch 2): Kneser–Ney, changepoint,
GROUP BY ALL, manifest pruning."""

from __future__ import annotations

from pyspark.sql import functions as F

from terasort_spark.registry import queries

_Q = queries()


# ---------------------------------------------------------------------------
# text_kneser_ney


def test_kneser_ney_probabilities_in_range(spark, sf_dir):
    rows = _Q["text_kneser_ney"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 < r["p_kn"] <= 1.0, r


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
# scan_manifest_prune


def test_manifest_prune_skips_non_overlapping_files(spark, sf_dir):
    """Behavioral pruning proof: corrupting a file the manifest rules
    out does not change the result — the read path never opens it."""
    from terasort_spark.operators._util import scratch_dir

    want = sorted(
        map(tuple, _Q["scan_manifest_prune"](spark, sf_dir).collect())
    )
    data_dir = scratch_dir(spark, "manifest_data")
    man_dir = scratch_dir(spark, "manifest_meta")
    manifest = spark.read.schema(
        "file_path string, min_date timestamp, max_date timestamp"
    ).parquet(man_dir)
    lo, hi = "1995-01-01", "1995-07-01"
    keep = {
        r["file_path"]
        for r in manifest.where(
            (F.col("max_date") >= F.lit(lo).cast("timestamp"))
            & (F.col("min_date") < F.lit(hi).cast("timestamp"))
        ).collect()
    }
    schema0 = (
        "o_orderkey bigint, o_custkey bigint, o_totalprice double, "
        "o_orderdate timestamp"
    )
    all_files = {
        r["fp"]
        for r in spark.read.schema(schema0)
        .parquet(data_dir)
        .select(F.col("_metadata.file_path").alias("fp"))
        .distinct()
        .collect()
    }
    pruned_out = sorted(all_files - keep)
    assert pruned_out, "predicate must rule out at least one file"
    from urllib.parse import urlparse

    victim = urlparse(pruned_out[0]).path
    original = open(victim, "rb").read()
    try:
        with open(victim, "wb") as f:
            f.write(b"\x00corrupt\x00")
        schema = (
            "o_orderkey bigint, o_custkey bigint, o_totalprice double, "
            "o_orderdate timestamp"
        )
        from terasort_spark.operators._util import rnd

        got = sorted(
            map(
                tuple,
                spark.read.schema(schema)
                .parquet(*sorted(keep))
                .where(
                    (F.col("o_orderdate") >= F.lit(lo).cast("timestamp"))
                    & (F.col("o_orderdate") < F.lit(hi).cast("timestamp"))
                )
                .select(
                    "o_orderkey",
                    "o_custkey",
                    rnd(F.col("o_totalprice"), "price"),
                )
                .collect(),
            )
        )
    finally:
        with open(victim, "wb") as f:
            f.write(original)
    assert got == want
