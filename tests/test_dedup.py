"""Dedup operators (terasort_spark/operators/llm_dedup.py): the streaming
LSH ingest against its batch twin and its one-row-per-bucket state, the
Bloom gate's exactness, fuzzy ingest admissibility, semantic dedup and
quality-aware keepers."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from terasort_spark.catalog import table
from terasort_spark.operators.llm_dedup import BLOOM_K, _bloom_m
from terasort_spark.registry import queries

_Q = queries()


def test_stream_lsh_equals_sequential_batch_twin(spark, sf_dir):
    """The r9 VERDICT 'done' criterion for streaming near-dup ingest:
    after the replay closes, the stream's admission decisions must
    equal a SEQUENTIAL BATCH fold computed with no streaming machinery
    at all — per round, the same fuzzy_dropped rule against the
    admitted-so-far set, keeps folded forward. Any divergence (state
    read after append, a round seeing its own admissions, checkpoint
    replay double-admitting) shows up as a row mismatch."""
    from terasort_spark.operators.llm_dedup import fuzzy_dropped, lsh_signatures_df

    docs = table(spark, sf_dir, "documents")
    sig, buckets = lsh_signatures_df(docs.select("doc_id", "text"))
    toks = sig.select("doc_id", "toks").localCheckpoint(eager=True)
    buckets = buckets.localCheckpoint(eager=True)
    adm = docs.filter(F.col("doc_id") % 5 == 0).select("doc_id")
    want = []
    for k in range(3):
        bk = docs.filter(
            (F.col("doc_id") % 5 != 0) & (F.col("doc_id") % 3 == k)
        ).select("doc_id")
        exb = buckets.join(adm, "doc_id").select(
            "band", "bucket", F.col("doc_id").alias("e_id")
        )
        btb = buckets.join(bk, "doc_id").select(
            "band", "bucket", F.col("doc_id").alias("b_id")
        )
        dropped = {
            r["b_id"]
            for r in fuzzy_dropped(
                btb,
                exb,
                toks.select(F.col("doc_id").alias("b_id"), "toks"),
                toks.select(F.col("doc_id").alias("e_id"), "toks"),
            ).collect()
        }
        bk_ids = [r["doc_id"] for r in bk.collect()]
        want += [(i, k, i not in dropped) for i in bk_ids]
        kept_ids = [i for i in bk_ids if i not in dropped]
        adm = adm.unionByName(
            spark.createDataFrame(
                [(i,) for i in kept_ids], "doc_id bigint"
            )
        )
    got = sorted(map(tuple, _Q["dedup_stream_lsh"](spark, sf_dir).collect()))
    assert got == sorted(want)
    # the stream must have dropped something (else the twin is vacuous)
    assert any(not keep for _, _, keep in want)


def test_stream_lsh_state_is_one_capped_row_per_bucket(spark, sf_dir):
    """After the replay, the last bucket-table generation holds exactly
    one row per (band, bucket) whose eids are sorted, distinct and at
    most FUZZY_CAP long, and it equals the cap-grouping of the LSH
    buckets of every admitted doc: the standing corpus plus the
    stream's keeps."""
    import glob
    import os

    from terasort_spark.operators._util import scratch_dir
    from terasort_spark.operators.llm_dedup import FUZZY_CAP, lsh_signatures_df

    keeps = [
        (r["doc_id"],)
        for r in _Q["dedup_stream_lsh"](spark, sf_dir).collect()
        if r["keep"]
    ]
    gens = glob.glob(
        os.path.join(scratch_dir(spark, "stream_lsh"), "state_buckets", "g*")
    )
    last = max(gens, key=lambda g: int(os.path.basename(g)[1:]))
    got = spark.read.parquet(last).collect()
    keys = [(r["band"], r["bucket"]) for r in got]
    assert len(keys) == len(set(keys))
    for r in got:
        assert r["eids"] == sorted(set(r["eids"]))
        assert 1 <= len(r["eids"]) <= FUZZY_CAP

    docs = table(spark, sf_dir, "documents")
    admitted = docs.filter(F.col("doc_id") % 5 == 0).select("doc_id").unionByName(
        spark.createDataFrame(keeps, "doc_id bigint")
    )
    _, buckets = lsh_signatures_df(
        docs.join(admitted, "doc_id").select("doc_id", "text")
    )
    want = {}
    for r in buckets.collect():
        want.setdefault((r["band"], r["bucket"]), set()).add(r["doc_id"])
    assert {(r["band"], r["bucket"]): r["eids"] for r in got} == {
        k: sorted(v)[:FUZZY_CAP] for k, v in want.items()
    }


def test_stream_lsh_honors_explicit_width_conf(spark, monkeypatch):
    """dedup_stream_lsh runs its micro-batches under an explicit
    shuffle width of 8 (the measured local sweet spot), captured from
    inside the run body, and the session's own width must be restored
    afterwards."""
    import terasort_spark.operators.llm_dedup as llm_dedup
    from terasort_spark.operators._util import scoped_confs

    seen = {}

    def fake_run(sp, sf_dir, *paths):
        seen["width"] = sp.conf.get("spark.sql.shuffle.partitions")
        return sp.range(1)

    monkeypatch.setattr(llm_dedup, "_stream_lsh_run", fake_run)
    # a session width other than 8, so the capture proves the scope
    with scoped_confs(spark, {"spark.sql.shuffle.partitions": 3}):
        llm_dedup.dedup_stream_lsh(spark, "/unused")
        assert seen["width"] == "8"
        assert spark.conf.get("spark.sql.shuffle.partitions") == "3"


# ---------------------------------------------------------------------------
# dedup_semantic


def test_semdedup_centroids_own_cluster_and_dup_replay(spark, sf_dir):
    from terasort_spark.operators.llm_dedup import _SEM_K, _SEM_TAU

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
# dedup_cluster_keepbest


def test_keepbest_one_keeper_per_cluster_and_longest(spark, sf_dir):
    rows = _Q["dedup_cluster_keepbest"](spark, sf_dir).collect()
    chars = {
        r["doc_id"]: r["n_chars"]
        for r in table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 200)
        .select("doc_id", "n_chars")
        .collect()
    }
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for cid, members in by_cluster.items():
        keepers = [r for r in members if r["keep"]]
        assert len(keepers) == 1, cid
        best = max(chars[r["doc_id"]] for r in members)
        assert chars[keepers[0]["doc_id"]] == best


# ---------------------------------------------------------------------------
# dedup_bloom_ingest


def test_bloom_ingest_never_admits_true_duplicates(spark, sf_dir):
    """A batch doc whose exact text exists in the standing corpus must
    NEVER be admitted (Bloom filters have no false negatives); unseen
    docs are admitted unless a (deterministic) false positive drops
    them."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.md5(F.lower("text")).alias("h")
    )
    standing = {
        r["h"] for r in d.where(F.col("doc_id") < 300).collect()
    }
    batch = {r["doc_id"]: r["h"] for r in d.where(F.col("doc_id") >= 300).collect()}
    admitted = {
        r["doc_id"]: r["admitted"]
        for r in _Q["dedup_bloom_ingest"](spark, sf_dir).collect()
    }
    assert set(admitted) == set(batch)
    n_dup = n_admitted = 0
    for doc_id, h in batch.items():
        if h in standing:
            assert not admitted[doc_id], f"true duplicate {doc_id} admitted"
            n_dup += 1
        n_admitted += bool(admitted[doc_id])
    assert n_admitted > 0, "gate admitted nothing — filter saturated"


# ---------------------------------------------------------------------------
# dedup_probabilistic


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


# ---------------------------------------------------------------------------
# dedup_fuzzy_ingest


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
