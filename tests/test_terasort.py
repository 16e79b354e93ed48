"""TeraValidate-style invariant tests for the terasort module
(SURVEY.md §5b #4): order within partitions, order between partitions,
count and content preserved — invariants, not golden files."""

from __future__ import annotations

from terasort_spark.sources.teragen import (
    KEY_LEN,
    VALUE_LEN,
    checksum,
    teragen,
    terasort,
    teravalidate,
)

N = 200_000
PARTS = 16


def test_teragen_shape_and_determinism(spark):
    df = teragen(spark, 1000, n_partitions=4)
    rows = df.collect()
    assert len(rows) == 1000
    assert all(len(r["key"]) == KEY_LEN for r in rows)
    assert all(len(r["value"]) == VALUE_LEN for r in rows)
    assert all(all(0x20 <= b <= 0x7E for b in r["key"]) for r in rows)
    # regenerating with a different partitioning yields identical content
    again = sorted(bytes(r["key"]) for r in teragen(spark, 1000, n_partitions=7).collect())
    assert sorted(bytes(r["key"]) for r in rows) == again


def test_terasort_total_order_and_content(spark):
    gen = teragen(spark, N, n_partitions=PARTS)
    in_checksum = checksum(gen)
    out = terasort(gen, n_partitions=PARTS)
    report = teravalidate(out)
    assert report["n_rows"] == N
    assert report["sorted_within"], report
    assert report["sorted_between"], report
    assert checksum(out) == in_checksum  # permutation, nothing lost/changed


def test_terasort_plan_uses_range_exchange(spark):
    out = terasort(teragen(spark, 1000, n_partitions=4), n_partitions=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan.lower(), plan


def test_read_tera_files_plan_has_no_python_node(spark, tmp_path):
    """The record reader runs in the JVM: neither its physical plan nor
    the RDD lineage under it holds a Python operator."""
    from terasort_spark.plans.checks import executed_plan
    from terasort_spark.sources.teragen import read_tera_files, write_tera_files

    out_dir = str(tmp_path / "tera")
    write_tera_files(teragen(spark, 100, n_partitions=2), out_dir)
    df = read_tera_files(spark, out_dir)
    plan = executed_plan(df) + df._jdf.queryExecution().toRdd().toDebugString()
    for node in ("PythonRDD", "BatchEvalPython", "ArrowEvalPython", "MapInArrow", "MapInPandas"):
        assert node not in plan, plan


def test_tera_file_roundtrip(spark, tmp_path):
    """The reference's actual sink contract (VERDICT r1 gap #2): sorted
    100-byte records → fixed-width binary part files on disk → re-read
    via binaryRecords → TeraValidate holds ACROSS the file boundary and
    the content checksum survives the round trip."""
    import os

    from terasort_spark.sources.teragen import (
        RECORD_LEN,
        read_tera_files,
        write_tera_files,
    )

    n, parts = 50_000, 8
    gen = teragen(spark, n, n_partitions=4)
    in_checksum = checksum(gen)
    out_dir = str(tmp_path / "tera_out")
    paths = write_tera_files(terasort(gen, n_partitions=parts), out_dir)

    # file-level contract: one file per partition, raw 100-byte framing
    assert len(paths) == parts
    sizes = [os.path.getsize(p) for p in paths]
    assert all(s % RECORD_LEN == 0 for s in sizes)
    assert sum(sizes) == n * RECORD_LEN

    # concatenating files in name order must be globally sorted: check
    # boundary records of adjacent files (first/last 100 bytes each)
    prev_last = None
    for p in paths:
        if os.path.getsize(p) == 0:
            continue
        with open(p, "rb") as f:
            first = f.read(RECORD_LEN)[:10]
            f.seek(-RECORD_LEN, os.SEEK_END)
            last = f.read(RECORD_LEN)[:10]
        assert first <= last
        if prev_last is not None:
            assert prev_last <= first, (prev_last, first)
        prev_last = last

    # re-read distributed: count, checksum, and full TeraValidate again
    back = read_tera_files(spark, out_dir)
    assert back.count() == n
    assert checksum(back) == in_checksum
    report = teravalidate(back)
    assert report["n_rows"] == n
    assert report["sorted_within"] and report["sorted_between"], report


def test_terasort_query_correct_without_exchange_reuse(spark):
    """The declared `terasort` query's global index must NOT depend on
    Spark deduping the two canonically-identical range exchanges (r6
    VERDICT task 2): the offsets branch derives from the SAME
    localCheckpointed `tagged` RDD as the output branch, so turning
    exchange reuse (and AQE) OFF must still produce idx == the
    row_number a total sort would assign. If either branch ever
    re-sampled range boundaries independently, idx would misalign and
    this check fails."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from terasort_spark.sources.tera_queries import terasort_query

    saved = {
        k: spark.conf.get(k, None)
        for k in ("spark.sql.exchange.reuse", "spark.sql.adaptive.enabled")
    }
    try:
        spark.conf.set("spark.sql.exchange.reuse", "false")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        out = terasort_query(spark, sf_dir=None)
        expected = F.row_number().over(Window.orderBy("key", "id")) - 1
        bad = out.withColumn("want", expected.cast("long")).filter(
            F.col("idx") != F.col("want")
        )
        assert bad.count() == 0
        assert out.count() == 100_000
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
