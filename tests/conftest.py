from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")

# --- slow tier (r12 VERDICT task 3) -------------------------------------
# The driver's verify step runs `pytest tests/ -x -q` under a wall-clock
# budget the full suite outgrew (r12: killed at ~78% with zero failures).
# pytest.ini's addopts deselects `slow` (and `rocksdb`) by default;
# `make test-all` runs everything. Durations measured 2026-08-18
# (--durations=250, full suite 37.4 min): the sets below carry ~20 min
# of it while the default tier keeps every oracle-correctness test.

# Whole modules: degenerate-input robustness sweeps over the full
# registry and streaming checkpoint-recovery e2e — crash-robustness CI,
# not result correctness.
_SLOW_MODULES = {
    "test_empty_corpus",
    "test_null_corpus",
    "test_stream_recovery",
}

# Individual heavyweights (>13 s measured). None is an oracle-hash or a
# result-equivalence test: those (streaming LSH ≡ sequential batch,
# streaming left-outer join ≡ batch, partition-count invariance,
# quartile histogram ≡ ntile) all run in the default tier.
_SLOW_TESTS = {
    "test_no_nested_output_types",  # builds all 341 plans: 178 s
    "test_similarity_rewrite_small_input_uses_exact_form",  # 25 s
    "test_url_canonicalization_idempotent",  # 15 s
}


# The degenerate-corpus cases of the queries built on a shared kernel
# stay in the default tier: the similarity top-k kernel
# (operators/llm_similarity.py: vectors, split, cosine, topk_per) and
# the Bloom kernel (operators/sketches.py: bloom_words,
# bloom_bits_set). The empty and the NULL-heavy corpus are where a
# shared loader, ranked tail or bit count would break every caller at
# once.
_KERNEL_QUERIES = {
    "dedup_embcos", "dedup_semantic", "emb_kmeans", "knn_label", "ml_mrr",
    "ml_ndcg", "multimodal_join", "pipeline_rag_retrieval", "sim_cosine_binary",
    "sim_cosine_gemm", "sim_cosine_ivf", "sim_cosine_ivf_nprobe",
    "sim_cosine_ivfpq", "sim_cosine_mrl", "sim_cosine_pq", "sim_cosine_sq8",
    "sim_cosine_topk", "sim_maxsim", "sink_ann_incremental", "sink_ann_index",
    "agg_bloom_filter", "dedup_bloom_ingest", "dedup_probabilistic",
    "join_bloom", "scan_bloom_skip",
}


def pytest_collection_modifyitems(config, items):
    slow = pytest.mark.slow
    for item in items:
        mod = item.module.__name__.rsplit(".", 1)[-1]
        base = item.name.split("[", 1)[0]
        callspec = getattr(item, "callspec", None)
        query = callspec.params.get("name") if callspec else None
        if mod in ("test_empty_corpus", "test_null_corpus") and query in _KERNEL_QUERIES:
            continue
        if mod in _SLOW_MODULES or base in _SLOW_TESTS:
            item.add_marker(slow)


@pytest.fixture(scope="session")
def spark():
    from terasort_spark.session import get_spark

    s = get_spark(app_name="terasort-spark-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def empty_sf(spark, sf_dir, tmp_path_factory) -> str:
    """A corpus of 0-row tables with the production schemas."""
    out = tmp_path_factory.mktemp("empty_sf")
    for f in os.listdir(sf_dir):
        if f.endswith(".parquet"):
            df = spark.read.parquet(os.path.join(sf_dir, f))
            df.limit(0).write.parquet(str(out / f))
    return str(out)


_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


@pytest.fixture(
    params=["hdfs", pytest.param("rocksdb", marks=pytest.mark.rocksdb)]
)
def state_store(request, spark):
    """Run a streaming test under BOTH state-store providers. The
    default HDFSBackedStateStoreProvider keeps state as in-memory maps
    snapshotted to the checkpoint; RocksDBStateStoreProvider (the
    provider a production large-state job runs — rocksdbjni ships in
    this PySpark) keeps it off-heap in RocksDB. The provider class is
    read from the session conf when a query starts, so setting it
    around each test is sufficient; every test uses a fresh checkpoint
    dir so providers never mix within one checkpoint.

    SERIAL EXECUTION REQUIRED (r9 ADVICE): this function-scoped fixture
    mutates a session-scoped SparkSession conf, so a long-lived query
    started outside the fixture while another param is active would
    pick up the wrong provider if tests were ever parallelized — the
    suite runs these serially by design (no xdist), and the doubling of
    the streaming suite's wall time is the price of covering the
    provider production jobs actually run. Deselect with
    ``-m 'not rocksdb'`` (marker registered in pytest.ini) when suite
    time matters more than provider coverage."""
    key = "spark.sql.streaming.stateStore.providerClass"
    if request.param == "rocksdb":
        spark.conf.set(key, _ROCKSDB_PROVIDER)
    else:
        spark.conf.unset(key)
    yield request.param
    spark.conf.unset(key)
