"""Round-12 wave (session 2): CMS / Bloom mergeable sketches,
SemDeDup, equality deletes, Theil–Sen."""

from __future__ import annotations

from pyspark.sql import functions as F

from terasort_spark.registry import queries

_Q = queries()


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
# dedup_semantic


def test_semdedup_centroids_own_cluster_and_dup_replay(spark, sf_dir):
    from terasort_spark.operators.wave17 import _SEM_K, _SEM_TAU

    rows = _Q["dedup_semantic"](spark, sf_dir).collect()
    by_id = {r["vec_id"]: r for r in rows}
    for cid in range(_SEM_K):
        assert by_id[cid]["cluster"] == cid  # self-cosine 1.0 wins
    # keep-earliest: the smallest vec_id in every cluster is never a dup
    first_in_cluster = {}
    for r in sorted(rows, key=lambda r: r["vec_id"]):
        first_in_cluster.setdefault(r["cluster"], r)
    for r in first_in_cluster.values():
        assert not r["is_dup"]
    n_dup = sum(1 for r in rows if r["is_dup"])
    assert 0 < n_dup < len(rows), (n_dup, len(rows), _SEM_TAU)


# ---------------------------------------------------------------------------
# scan_equality_delete


def test_equality_delete_sequencing(spark, sf_dir):
    """Deleted keys survive only as their seq-3 re-inserts; untouched
    keys only as seq-1 base rows; nothing is resurrected or lost."""
    rows = _Q["scan_equality_delete"](spark, sf_dir).collect()
    for r in rows:
        if r["o_custkey"] % 13 == 0:
            assert r["seq"] == 3, r
        else:
            assert r["seq"] == 1, r
    from terasort_spark.catalog import table

    n_orders = table(spark, sf_dir, "orders").count()
    assert len(rows) == n_orders  # upsert preserves row count per key


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
