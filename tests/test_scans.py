"""Scan and sink operators (terasort_spark/operators/scans.py): VACUUM,
equality and position deletes, manifest pruning, row-group stats,
compaction and Bloom skipping. These tests pin the
file-level properties the oracle hash cannot see."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from terasort_spark.catalog import table
from terasort_spark.operators.scans import _VACUUM_BASE
from terasort_spark.registry import queries

_Q = queries()


# ---------------------------------------------------------------------------
# scan_vacuum


def test_vacuum_checkpoint_contract(spark, sf_dir):
    """Liveness is bounded by size, the checkpoint segment is fully
    live (no data loss), and exactly the pre-checkpoint segments are
    flagged removable."""
    rows = {r["v"]: r for r in _Q["scan_vacuum"](spark, sf_dir).collect()}
    assert sorted(rows) == list(range(_VACUUM_BASE + 1))
    for v, r in rows.items():
        assert 0 <= r["n_live"] <= r["n_rows"]
        assert r["removable"] == (v < _VACUUM_BASE)
    base = rows[_VACUUM_BASE]
    assert base["n_live"] == base["n_rows"]
    # tombstone segment contributes no live rows
    assert rows[2]["n_live"] == 0
    # updated keys exist, so the v0 segment is not fully live
    assert rows[0]["n_live"] < rows[0]["n_rows"]


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


# ---------------------------------------------------------------------------
# scan_position_delete


def test_position_delete_read_is_broadcast_antijoin(spark, sf_dir):
    """The merge-on-read plan must anti-join the delete vector as a
    BROADCAST (vectors are tiny relative to data) — never shuffle the
    data side for the merge — and carry the metadata position columns
    through the scan stage."""
    df = _Q["scan_position_delete"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_position_delete_exact_semantics(spark, sf_dir):
    """Positions must drop EXACTLY the delete-predicate rows: nothing
    resurrected, nothing extra lost — checked against a relational
    recompute in Spark."""
    from terasort_spark.operators._util import rnd

    want = sorted(
        map(
            tuple,
            table(spark, sf_dir, "orders")
            .filter(
                (F.col("o_orderkey") % 4 != 3)
                & ~(F.col("o_orderkey") % 9 == 0)
            )
            .select(
                "o_orderkey",
                "o_orderstatus",
                rnd(F.col("o_totalprice"), "price"),
            )
            .collect(),
        )
    )
    got = sorted(map(tuple, _Q["scan_position_delete"](spark, sf_dir).collect()))
    assert got == want


def test_rowgroup_stats_covers_both_columns(spark, sf_dir):
    rows = {r["col_name"]: r for r in _Q["scan_rowgroup_stats"](spark, sf_dir).collect()}
    assert set(rows) == {"doc_id", "n_chars"}
    d = table(spark, sf_dir, "documents")
    mm = d.agg(
        F.min("doc_id"), F.max("doc_id"), F.min("n_chars"), F.max("n_chars")
    ).first()
    assert rows["doc_id"]["min_val"] == mm[0] and rows["doc_id"]["max_val"] == mm[1]
    assert rows["n_chars"]["min_val"] == mm[2] and rows["n_chars"]["max_val"] == mm[3]


def test_compaction_reduces_file_count_to_size_target(spark, sf_dir):
    """sink_compacted must actually compact: 64 small input files, and
    the output file count equals ceil(on-disk bytes / 1 MiB)."""
    import os

    from terasort_spark.operators.scans import _COMPACT_TARGET_BYTES

    _Q["sink_compacted"](spark, sf_dir).collect()
    from terasort_spark.operators._util import scratch_dir

    small_dir = scratch_dir(spark, "smallfiles")
    big_dir = scratch_dir(spark, "compacted")
    small = [f for f in os.listdir(small_dir) if f.endswith(".parquet")]
    big = [f for f in os.listdir(big_dir) if f.endswith(".parquet")]
    assert len(small) == 64
    on_disk = sum(os.path.getsize(os.path.join(small_dir, f)) for f in small)
    want = max(1, -(-on_disk // _COMPACT_TARGET_BYTES))
    assert len(big) == want < 64


def test_bloom_skip_prunes_and_never_misses(spark, sf_dir):
    from terasort_spark.operators.scans import _BLOOM_BUCKETS, _BLOOM_PROBES

    rows = {r["probe_key"]: r for r in _Q["scan_bloom_skip"](spark, sf_dir).collect()}
    assert set(rows) == set(_BLOOM_PROBES)
    for p in (1, 2, 3):  # orders keys are dense-unique from 0 at every SF
        assert rows[p]["n_found"] == 1, rows[p]
        assert 1 <= rows[p]["n_candidates"] < _BLOOM_BUCKETS
    for p in (900000007, 900000008, 900000009):
        assert rows[p]["n_found"] == 0
        # ~10 bits/key, k=4 -> per-bucket FP ~1%; allow generous slack
        assert rows[p]["n_candidates"] <= 3, rows[p]
