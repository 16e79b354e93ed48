"""Scan and sink operators (terasort_spark/operators/scans.py): VACUUM,
equality deletes and manifest pruning. These tests pin the file-level properties the
oracle hash cannot see."""

from __future__ import annotations

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
