"""Pipeline operators (terasort_spark/operators/pipelines.py): the crawl
frontier's per-host politeness quota."""

from __future__ import annotations

from collections import defaultdict

from terasort_spark.operators.pipelines import FRONTIER_PER_HOST, FRONTIER_ROUNDS
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
