"""Bloom admission gate, composed MV lifecycle, LSH containment,
position deletes and fuzzy ingest. Oracle parity is covered by
tests/test_oracle.py; these tests pin the properties the hash compare
cannot see — the Bloom's no-false-negative guarantee against an
independent Python filter, the answer plan reading ONLY the refreshed
view, and the containment estimator's exactness on known-identical
documents.
This file keeps its name so its test IDs stay stable; its tests
belong in the family test modules and move there in a later change."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from terasort_spark.catalog import table
from terasort_spark.operators.llm_dedup import BLOOM_K, _bloom_m
from terasort_spark.operators.llm_text import CONTAIN_EST_TAU
from terasort_spark.registry import queries

_Q = queries()


def _py_bloom_pos(h: str, k: int, m: int) -> int:
    # 32-bit slice: 16 bits would alias once the data-sized M > 65536
    return int(hashlib.md5(f"{h}#{k}".encode()).hexdigest()[:8], 16) % m


def test_bloom_admitted_equals_exact_antijoin(spark, sf_dir):
    """The gate must admit EXACTLY the docs an exact hash anti-join
    admits — the Bloom is an execution strategy, never a semantics
    change. Checked against an independent Python recompute."""
    rows = (
        table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", F.md5("text").alias("h"))
        .collect()
    )
    existing = {r["h"] for r in rows if r["doc_id"] % 5 == 0}
    batch = {}
    for r in rows:
        if r["doc_id"] % 5 != 0:
            keep, n = batch.get(r["h"], (r["doc_id"], 0))
            batch[r["h"]] = (min(keep, r["doc_id"]), n + 1)
    want = {
        (v[0], h, v[1]) for h, v in batch.items() if h not in existing
    }

    got_rows = _Q["dedup_probabilistic"](spark, sf_dir).collect()
    got = {(r["doc_id"], r["h"], r["n_copies"]) for r in got_rows}
    assert got == want


def test_bloom_no_false_negatives(spark, sf_dir):
    """Every EXISTING hash must test Bloom-positive in the filter the
    operator builds — rebuilt independently in Python from the md5
    position definition. A false negative would silently admit a
    duplicate into the corpus."""
    texts = (
        table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", F.md5("text").alias("h"))
        .collect()
    )
    existing = {r["h"] for r in texts if r["doc_id"] % 5 == 0}
    m = _bloom_m(len(existing))  # same data-sized M as the operator
    words = {}
    for h in existing:
        for k in range(BLOOM_K):
            p = _py_bloom_pos(h, k, m)
            words[p // 32] = words.get(p // 32, 0) | (1 << (p % 32))
    for h in existing:
        assert all(
            (words.get(_py_bloom_pos(h, k, m) // 32, 0)
             >> (_py_bloom_pos(h, k, m) % 32)) & 1
            for k in range(BLOOM_K)
        )
    # and the operator's fast/verified routing agrees with this filter:
    # fast-path docs must be Bloom-MISSES, verified ones Bloom-hits
    for r in _Q["dedup_probabilistic"](spark, sf_dir).collect():
        might = all(
            (words.get(_py_bloom_pos(r["h"], k, m) // 32, 0)
             >> (_py_bloom_pos(r["h"], k, m) % 32)) & 1
            for k in range(BLOOM_K)
        )
        assert r["path"] == ("verified" if might else "fast")


def test_ivm_rewrite_answer_scans_only_the_view(spark, sf_dir):
    """The returned month-level plan must read the refreshed MV
    directory and nothing else — one FileScan, not a fact-table
    rescan (the mv_rewrite guarantee carried through the composed
    lifecycle)."""
    df = _Q["pipeline_ivm_rewrite"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scans = [l for l in plan.splitlines() if "Scan parquet" in l]
    assert len(scans) == 1, plan
    assert "ivm_mv_v1" in scans[0], scans[0]


def test_ivm_rewrite_equals_spark_recompute(spark, sf_dir):
    """maintenance ∘ rewrite == from-scratch, recomputed in SPARK (the
    DuckDB twin is the driver's job): apply the CDC recipe to orders
    directly and aggregate monthly."""
    o = table(spark, sf_dir, "orders")
    v1 = o.filter(
        ((F.col("o_orderkey") % 4 != 3) | (F.col("o_orderkey") % 10 == 0))
        & ~((F.col("o_orderkey") % 17 == 0) & (F.col("o_orderkey") % 10 != 0))
    ).withColumn(
        "price",
        F.when(
            F.col("o_orderkey") % 10 == 0, F.col("o_totalprice") * 1.1
        ).otherwise(F.col("o_totalprice")),
    )
    from terasort_spark.operators._util import DEC, rnd

    want = (
        v1.groupBy(
            F.trunc("o_orderdate", "month").alias("order_month"),
            "o_orderpriority",
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            rnd(
                F.sum(F.col("price").cast(DEC)).cast("double"), "revenue"
            ),
        )
        .collect()
    )
    got = _Q["pipeline_ivm_rewrite"](spark, sf_dir).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_containment_exact_on_identical_docs(spark, sf_dir):
    """Candidate pairs with IDENTICAL token sets must estimate
    est_jaccard == 1.0 and containment == 1.0 exactly (all 32 minhash
    values agree; sizes equal) — and every emitted row clears the
    rounded threshold."""
    toks = {
        r["doc_id"]: frozenset((r["text"] or "").lower().split(" "))
        for r in table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .collect()
    }
    rows = _Q["text_minhash_containment"](spark, sf_dir).collect()
    assert rows
    saw_identical = False
    for r in rows:
        assert r["containment"] >= CONTAIN_EST_TAU
        assert 0.0 <= r["est_jaccard"] <= 1.0
        if toks[r["a_id"]] == toks[r["b_id"]]:
            saw_identical = True
            assert r["est_jaccard"] == 1.0 and r["containment"] == 1.0
    assert saw_identical  # the synthetic corpus has exact dup pairs


def test_containment_estimates_track_truth(spark, sf_dir):
    """On the emitted pairs, the signature-agreement estimate must track
    exact containment |A∩B|/|B| within MinHash tolerance on average —
    the estimator being deterministic is proven by the oracle hash; this
    pins that it's also USEFUL (mean absolute error well under the
    0.2-ish band of a 32-hash signature)."""
    toks = {
        r["doc_id"]: set((r["text"] or "").lower().split(" "))
        for r in table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .collect()
    }
    rows = _Q["text_minhash_containment"](spark, sf_dir).collect()
    errs = []
    for r in rows:
        a, b = toks[r["a_id"]], toks[r["b_id"]]
        exact = len(a & b) / len(b)
        errs.append(abs(r["containment"] - exact))
    assert errs and sum(errs) / len(errs) < 0.12, sum(errs) / len(errs)


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


def test_fuzzy_ingest_drops_are_admissible(spark, sf_dir):
    """Cross-corpus fuzzy admission: one decision per batch doc, and
    every DROP has a verified EXISTING-corpus partner at exact
    Jaccard >= 0.8 (no hash/banding choice can fabricate one); kept +
    dropped partition the batch."""
    from terasort_spark.operators.llm_dedup import FUZZY_TAU

    docs = {
        r["doc_id"]: set((r["text"] or "").lower().split(" "))
        for r in table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .collect()
    }
    dec = {
        r["doc_id"]: r["keep"]
        for r in _Q["dedup_fuzzy_ingest"](spark, sf_dir).collect()
    }
    batch = {d for d in docs if d % 5 != 0}
    existing = [d for d in sorted(docs) if d % 5 == 0]
    assert set(dec) == batch  # exactly one row per batch doc

    for d, keep in dec.items():
        if keep:
            continue
        toks = docs[d]
        ok = any(
            len(toks & docs[e]) / len(toks | docs[e]) >= FUZZY_TAU - 5e-5
            for e in existing
            if toks or docs[e]
        )
        assert ok, f"batch doc {d} dropped without an existing partner"
    assert any(not k for k in dec.values())  # the corpus has cross dups
