"""Dedup operators (terasort_spark/operators/llm_dedup.py): the streaming
LSH ingest against its batch twin and state layout, Bloom-gated ingest,
semantic dedup and quality-aware keepers."""

from __future__ import annotations

from pyspark.sql import functions as F

from terasort_spark.catalog import table
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


def test_stream_lsh_state_read_prunes_partitions(spark, tmp_path):
    """The r10 VERDICT 'done' criterion for streaming-state pruning:
    a micro-batch's standing-state read must touch ONLY the (band, bs)
    hive directories its own buckets map to. Build a synthetic grouped
    state across every shard, read with a two-pair filter, and assert
    (a) the scan's inputFiles stay inside those two directories and
    (b) the filter shows up as a partition filter (pruned at listing
    time), not a post-scan predicate."""
    from terasort_spark.operators.llm_dedup import _BUCKET_SHARDS, _read_pruned_buckets

    st_b = str(tmp_path / "state_buckets")
    rows = [
        (bucket, [bucket * 10 + 1, bucket * 10 + 2], band, bucket % _BUCKET_SHARDS)
        for band in range(4)
        for bucket in range(2 * _BUCKET_SHARDS)
    ]
    (
        spark.createDataFrame(
            rows, "bucket bigint, eids array<bigint>, band int, bs int"
        )
        .repartition("band", "bs")
        .write.partitionBy("band", "bs")
        .parquet(st_b)
    )
    pairs = {(0, 1), (2, 3)}
    # behavioral proof of pruning: corrupt every NON-candidate leaf
    # directory's files — a listing-time-pruned scan never opens them,
    # an unpruned scan (even with a post-scan filter) dies parsing them
    import glob
    import os

    for f in glob.glob(os.path.join(st_b, "band=*", "bs=*", "*.parquet")):
        leaf = os.path.dirname(f)
        band = int(leaf.split("band=")[1].split("/")[0])
        bs = int(leaf.split("bs=")[1])
        if (band, bs) not in pairs:
            with open(f, "wb") as fh:
                fh.write(b"not-a-parquet-file")
    df = _read_pruned_buckets(spark, st_b, pairs, cap=8)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    got = {(r["band"], r["bucket"]) for r in df.collect()}
    want = {
        (band, bucket)
        for band in range(4)
        for bucket in range(2 * _BUCKET_SHARDS)
        if (band, bucket % _BUCKET_SHARDS) in pairs
    }
    assert got == want


def test_stream_lsh_compaction_preserves_hash_and_bounds_files(
    spark, sf_dir, monkeypatch
):
    """Fragmentation-triggered cap-compaction at its most aggressive
    dial (threshold 1: every touched leaf rewritten every batch) must
    (a) leave the admission
    decisions bit-identical to the amortized default and (b) actually
    bound the bucket state at one file per leaf directory after the
    final compaction — the property that keeps standing state
    O(cap x n_buckets) at crawl timescales."""
    import glob
    import os

    import terasort_spark.operators.llm_dedup as llm_dedup
    from terasort_spark.operators._util import scratch_dir

    want = sorted(map(tuple, _Q["dedup_stream_lsh"](spark, sf_dir).collect()))
    monkeypatch.setattr(llm_dedup, "_COMPACT_FILES", 1)
    got = sorted(map(tuple, _Q["dedup_stream_lsh"](spark, sf_dir).collect()))
    assert got == want
    st_b = os.path.join(scratch_dir(spark, "stream_lsh"), "state_buckets")
    leaf_files = {}
    for f in glob.glob(os.path.join(st_b, "band=*", "bs=*", "*.parquet")):
        leaf_files.setdefault(os.path.dirname(f), []).append(f)
    assert leaf_files, "no state partitions written"
    # every batch compacted the partitions it touched, so each leaf dir
    # holds exactly the one merged file the last compaction wrote
    assert all(len(v) == 1 for v in leaf_files.values()), {
        k: len(v) for k, v in leaf_files.items() if len(v) != 1
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
