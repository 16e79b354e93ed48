"""The similarity-graph family (operators/graph.py, plus dedup_cluster,
which shares its connected-components loop): each query against a
sequential reference over the same collected edge list, the
minhash_pairs contract the shared edge list relies on, and the family
on an empty corpus."""

from __future__ import annotations

import pytest

from terasort_spark.operators.graph import _KCORE_K, lsh_edges, star_components
from terasort_spark.operators.llm_dedup import minhash_pairs
from terasort_spark.registry import queries

_Q = queries()


def test_minhash_pairs_are_distinct_and_ordered(spark, sf_dir):
    """lsh_edges passes minhash_pairs through unchanged, so each pair
    must already come out once, with a_id < b_id, capped or not."""
    for cap in (8, None):
        pairs = [
            (r["a_id"], r["b_id"])
            for r in minhash_pairs(spark, sf_dir, tau=0.5, per_doc_cap=cap).collect()
        ]
        assert pairs, cap
        assert len(set(pairs)) == len(pairs), cap
        assert all(a < b for a, b in pairs), cap


# ---------------------------------------------------------------------------
# graph_cc_star


def _union_find_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_cc_star_matches_union_find(spark, sf_dir):
    """The star-alternation fixpoint must equal a sequential union-find
    over the same edge list (the algorithm-independent ground truth,
    checked independently of the DuckDB oracle)."""
    edges = [
        (r["a"], r["b"]) for r in lsh_edges(spark, sf_dir, tau=0.8).collect()
    ]
    want = _union_find_components(edges)
    got = {
        r["doc_id"]: r["component"]
        for r in _Q["graph_cc_star"](spark, sf_dir).collect()
    }
    assert got == want


def test_cc_star_labels_are_component_minima(spark, sf_dir):
    rows = _Q["graph_cc_star"](spark, sf_dir).collect()
    by_comp = {}
    for r in rows:
        by_comp.setdefault(r["component"], []).append(r["doc_id"])
    for comp, members in by_comp.items():
        assert comp == min(members)


def test_star_components_observe_loop_on_tiny_and_empty_inputs(spark):
    """Focused r13 internals test: star_components' convergence
    signature now rides the per-round checkpoint job as an observe()
    metric and the per-node minima are window aggregates (no broadcast
    builds). Pin the degenerate paths that used to live only in the
    (now slow-tier) empty-corpus sweep: an EMPTY edge set must return
    an empty label table without hanging on Observation.get, and a
    two-clique graph must label every node with its component minimum
    in <= the round cap."""
    empty = spark.createDataFrame([], "a long, b long")
    labels, rounds = star_components(spark, empty)
    assert labels.count() == 0 and rounds >= 1

    e2 = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "a long, b long"
    )
    labels2, rounds2 = star_components(spark, e2)
    got = {r["doc_id"]: r["component"] for r in labels2.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    assert rounds2 <= 16


# ---------------------------------------------------------------------------
# graph_bfs_levels


def test_bfs_levels_seeds_and_monotonicity(spark, sf_dir):
    """Seeds sit at hop 0; every node at hop k>0 has a neighbor at
    hop k-1 (the BFS frontier invariant)."""
    hops = {
        r["doc_id"]: r["hops"]
        for r in _Q["graph_bfs_levels"](spark, sf_dir).collect()
    }
    assert hops, "graph has seed-reachable nodes at every shipped SF"
    adj = {}
    for r in lsh_edges(spark, sf_dir, tau=0.8).collect():
        adj.setdefault(r["a"], set()).add(r["b"])
        adj.setdefault(r["b"], set()).add(r["a"])
    for node, h in hops.items():
        if h == 0:
            assert node % 17 == 0
        else:
            assert any(hops.get(nb) == h - 1 for nb in adj[node]), node


# ---------------------------------------------------------------------------
# graph_kcore


def _peel(edges, k):
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    changed = True
    while changed:
        changed = False
        for n in [n for n, nb in adj.items() if len(nb) < k]:
            for nb in adj.pop(n):
                adj[nb].discard(n)
            changed = True
    return {n: len(nb) for n, nb in adj.items()}


def test_kcore_matches_full_peeling(spark, sf_dir):
    """The fixed-6-round answer must equal peeling run to convergence
    (proves 6 rounds suffice at this SF) and the sequential reference."""
    edges = [
        (r["a"], r["b"]) for r in lsh_edges(spark, sf_dir, tau=0.5).collect()
    ]
    want = _peel(edges, _KCORE_K)
    got = {
        r["doc_id"]: r["core_deg"]
        for r in _Q["graph_kcore"](spark, sf_dir).collect()
    }
    assert got == want
    assert all(d >= _KCORE_K for d in got.values())


# ---------------------------------------------------------------------------
# graph_pagerank, graph_triangles


def test_pagerank_invariants(spark, sf_dir):
    """PageRank over the similarity graph: probability mass conserved
    (no dangling nodes in an undirected graph), every rank >= the
    teleport floor, and hub docs (max degree) rank above the median."""
    rows = _Q["graph_pagerank"](spark, sf_dir).collect()
    assert rows
    # ranks are int64 micro-units of a 1e12 total mass (r6 quantized
    # rewrite); truncating division leaks < N_ITER units per node
    ranks = {r["doc_id"]: r["rank_u"] / 1e12 for r in rows}
    n = len(ranks)
    assert abs(sum(ranks.values()) - 1.0) < 1e-3
    floor = 0.15 / n * 0.99
    assert all(v >= floor for v in ranks.values())
    deg = {}
    for r in lsh_edges(spark, sf_dir, tau=0.5).collect():
        deg[r["a"]] = deg.get(r["a"], 0) + 1
        deg[r["b"]] = deg.get(r["b"], 0) + 1
    hub = max(deg, key=lambda k: deg[k])
    med = sorted(ranks.values())[n // 2]
    assert ranks[hub] >= med


def test_triangle_count_matches_bruteforce(spark, sf_dir):
    """graph_triangles' two-join count equals an adjacency-set brute
    force over the collected (small at sf0.001) edge list."""
    edges = set()
    for r in lsh_edges(spark, sf_dir, tau=0.5).collect():
        a, b = sorted((r["a"], r["b"]))
        if a != b:
            edges.add((a, b))
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    expect = sum(
        1
        for a, b in edges
        for c in adj[a] & adj[b]
        if b < c
    )
    row = _Q["graph_triangles"](spark, sf_dir).collect()[0]
    assert row["n_triangles"] == expect
    assert row["n_edges"] == len(edges)


# ---------------------------------------------------------------------------
# empty corpus

_GRAPH_FAMILY = (
    "dedup_cluster",
    "graph_bfs_levels",
    "graph_cc_star",
    "graph_kcore",
    "graph_pagerank",
    "graph_triangles",
)


@pytest.mark.parametrize("name", _GRAPH_FAMILY)
def test_graph_family_on_empty_corpus(name, spark, empty_sf):
    """No documents, no edges: every query returns no rows, except the
    triangle count's one row of zeros."""
    rows = [tuple(r) for r in _Q[name](spark, empty_sf).collect()]
    assert rows == ([(0, 0, 0)] if name == "graph_triangles" else [])
