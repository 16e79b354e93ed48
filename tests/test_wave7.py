"""Round-7 wave: record-file round trip, retrieval
evaluation (MRR/hit@5), priority-reservoir sampling, scene-cut
detection, and preference-pair assembly. Oracle equivalence is covered
by tests/test_oracle.py; these pin operator-specific invariants and
plan shapes."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from terasort_spark.catalog import table
from terasort_spark.registry import queries

_Q = queries()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# ------------------------------------------------------------ fixedwidth --


def test_fixedwidth_reader_splits_and_roundtrip(spark, tmp_path):
    """read_tera_files cuts files into record-aligned splits by the
    Hadoop split size, takes them in file-name order, then byte offset
    (the order teravalidate relies on), and returns every record
    exactly once — for an empty file, a one-record file and files
    that span several splits."""
    import random
    from collections import Counter

    from terasort_spark.sources.teragen import RECORD_LEN, read_tera_files

    rng = random.Random(7)
    written = []
    for i, n in enumerate((0, 1, 37, 53)):
        recs = [rng.randbytes(RECORD_LEN) for _ in range(n)]
        (tmp_path / f"part-{i:05d}.dat").write_bytes(b"".join(recs))
        written += recs
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    key = "mapreduce.input.fileinputformat.split.maxsize"
    old = conf.get(key)
    conf.set(key, str(10 * RECORD_LEN))  # 10-record splits
    try:
        df = read_tera_files(spark, str(tmp_path))
        got = sorted(bytes(r["key"]) + bytes(r["value"]) for r in df.collect())
        splits = df.select(
            F.spark_partition_id().alias("p"),
            F.regexp_extract(F.input_file_name(), r"part-\d+", 0).alias("f"),
        ).distinct().collect()
    finally:
        if old is None:
            conf.unset(key)
        else:
            conf.set(key, old)
    assert got == sorted(written)  # nothing lost, torn or duplicated
    per_file = Counter(r["f"] for r in splits)
    assert per_file["part-00002"] > 1 and per_file["part-00003"] > 1, per_file
    by_part = [r["f"] for r in sorted(splits, key=lambda r: r["p"])]
    assert by_part == sorted(by_part)


def test_fixedwidth_reader_rejects_misaligned_file(spark, tmp_path):
    from py4j.protocol import Py4JJavaError

    from terasort_spark.sources.teragen import read_tera_files

    (tmp_path / "part-00000.dat").write_bytes(b"x" * 105)  # 1.05 records
    with pytest.raises(Py4JJavaError, match="EOFException"):
        read_tera_files(spark, str(tmp_path)).count()


def test_source_fixedwidth_query_has_multiple_splits(spark, sf_dir):
    df = _Q["source_fixedwidth"](spark, sf_dir)
    # one split per written part file at the default split size
    assert df.rdd.getNumPartitions() == 8
    assert df.count() == 20_000


# ------------------------------------------------------------------ ml_mrr --


def test_mrr_metrics_bounded_and_consistent(spark, sf_dir):
    rows = _Q["ml_mrr"](spark, sf_dir).collect()
    assert len(rows) == 10  # one per query
    for r in rows:
        assert 0.0 <= r["rr"] <= 1.0
        assert r["hit5"] in (0, 1)
        # rr and hit5 agree: a hit has rr >= 1/5, a miss has rr == 0
        assert (r["rr"] > 0) == (r["hit5"] == 1)
        if r["hit5"]:
            assert r["rr"] >= 1 / 5 - 1e-9
    # the multi-probe IVF must beat random bucket luck (5/16 of the
    # space probed -> ~3 expected hits if hashing carried no signal);
    # at this tiny sf the buckets are sparse, so the bar is modest —
    # sf0.01 scores higher (driver-graded values in CORRECTNESS_r07)
    assert sum(r["hit5"] for r in rows) >= 4


# -------------------------------------------------------- sample_reservoir --


def test_reservoir_fixed_size_and_partition_invariant(spark, sf_dir):
    from terasort_spark.operators.wave7 import _RESERVOIR_K

    out = _Q["sample_reservoir"](spark, sf_dir).collect()
    n_docs = table(spark, sf_dir, "documents").count()
    assert len(out) == min(_RESERVOIR_K, n_docs)
    assert [r["rank"] for r in out] and len({r["doc_id"] for r in out}) == len(out)
    # priorities are sorted by rank and the kept set is the K smallest
    pri = [(r["priority"], r["doc_id"]) for r in sorted(out, key=lambda r: r["rank"])]
    assert pri == sorted(pri)


def test_reservoir_plan_is_take_ordered_not_global_sort(spark, sf_dir):
    plan = _plan(_Q["sample_reservoir"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan


# ----------------------------------------------------- multimodal_scenecut --


def test_scenecut_matches_local_replay(spark, sf_dir):
    from terasort_spark.operators.wave7 import _CUT_HAMMING, _FRAME_BYTES

    out = {
        (r["doc_id"], r["frame_idx"]): r["hamming"]
        for r in _Q["multimodal_scenecut"](spark, sf_dir).collect()
    }
    assert out, "no cuts found on this corpus"
    texts = {
        r["doc_id"]: r["text"]
        for r in table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .collect()
    }

    def fhash(chunk: bytes) -> int:
        dg = hashlib.md5(chunk).digest()
        return sum(1 << k for k in range(12) if dg[k] < dg[k + 1])

    expected = {}
    for did, text in texts.items():
        payload = text.encode()
        nf = max(1, len(payload) // _FRAME_BYTES)
        hs = [
            fhash(payload[i * _FRAME_BYTES : (i + 1) * _FRAME_BYTES])
            for i in range(nf)
        ]
        for i in range(1, nf):
            d = bin(hs[i] ^ hs[i - 1]).count("1")
            if d >= _CUT_HAMMING:
                expected[(did, i)] = d
    assert out == expected


# ----------------------------------------------- pipeline_preference_pairs --


def test_preference_pairs_one_per_group_with_nonneg_margin(spark, sf_dir):
    rows = _Q["pipeline_preference_pairs"](spark, sf_dir).collect()
    assert rows
    seen = set()
    for r in rows:
        key = (r["lang"], r["source"])
        assert key not in seen  # one pair per group
        seen.add(key)
        assert r["margin"] >= 0
        assert r["chosen_id"] != r["rejected_id"]
    # groups with >= 2 docs all emit a pair
    n_groups = (
        table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .groupBy("lang", "source")
        .count()
        .filter(F.col("count") >= 2)
        .count()
    )
    assert len(rows) == n_groups


def test_preference_pairs_plan_uses_window_group_limit(spark, sf_dir):
    plan = _plan(_Q["pipeline_preference_pairs"](spark, sf_dir))
    assert "WindowGroupLimit" in plan, plan


# ------------------------------------------------------------- mv_rewrite --


def test_mv_rewrite_plan_scans_only_the_view(spark, sf_dir):
    """The rewrite's promise: the returned plan reads the MV directory,
    never orders.parquet — the fact table is touched only by the
    refresh job."""
    plan = _plan(_Q["mv_rewrite"](spark, sf_dir))
    scan_lines = [l for l in plan.splitlines() if "FileScan" in l]
    assert scan_lines, plan
    for l in scan_lines:
        assert "orders.parquet" not in l, l
        assert "mv_daily" in l or "InMemoryFileIndex" in l, l


def test_mv_rewrite_rejects_non_derivable_requests(spark, sf_dir):
    from terasort_spark.plans.mv_rewrite import answer_from_mv, build_daily_mv

    p = build_daily_mv(spark, sf_dir)
    with pytest.raises(ValueError, match="not derivable"):
        answer_from_mv(spark, p, dims=("o_custkey",), measures=("n_orders",))
    with pytest.raises(ValueError, match="not in the view"):
        answer_from_mv(spark, p, dims=("order_month",), measures=("avg_price",))


def test_mv_rollup_matches_direct_fact_aggregation(spark, sf_dir):
    """Semantics preservation in-Spark (the oracle proves it vs DuckDB;
    this proves it vs the fact table through Spark's own engine): the
    MV roll-up equals aggregating orders directly, bit-for-bit, because
    partial sums are DECIMAL."""
    from terasort_spark.operators._util import DEC, rnd

    got = {
        (r["order_month"], r["o_orderpriority"]): (r["n_orders"], r["revenue"])
        for r in _Q["mv_rewrite"](spark, sf_dir).collect()
    }
    direct = (
        table(spark, sf_dir, "orders")
        .groupBy(
            F.trunc("o_orderdate", "month").alias("m"),
            "o_orderpriority",
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            rnd(F.sum(F.col("o_totalprice").cast(DEC)).cast("double"), "rev"),
        )
        .collect()
    )
    want = {(r["m"], r["o_orderpriority"]): (r["n"], r["rev"]) for r in direct}
    assert got == want


# ----------------------------------------------------- text_markup_extract --


def test_markup_extract_recovers_visible_text_exactly(spark, sf_dir):
    """Extraction must return EXACTLY the visible text (heading + body
    + link anchors, single-spaced): no tag fragments, no script code,
    no leaked attributes."""
    rows = _Q["text_markup_extract"](spark, sf_dir).collect()
    assert rows
    texts = {
        r["doc_id"]: (r["lang"], r["text"])
        for r in table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "lang", "text")
        .collect()
    }
    for r in rows:
        lang, text = texts[r["doc_id"]]
        extra = "more x" if r["doc_id"] % 3 == 0 else "more"
        want = " ".join(f"{lang} {text} {extra}".split())
        assert r["clean_text"] == want, (r["doc_id"], r["clean_text"][:80])
        assert "<" not in r["clean_text"] and "var x" not in r["clean_text"]
        assert r["n_chars_clean"] == len(want)
        assert r["n_links"] == (2 if r["doc_id"] % 3 == 0 else 1)


def test_markup_extract_plan_is_shuffle_free(spark, sf_dir):
    plan = _plan(_Q["text_markup_extract"](spark, sf_dir))
    assert "Exchange" not in plan, plan
