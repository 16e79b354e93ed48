"""Graph operators over the document-similarity graph.

Every query here reads one edge list: the MinHash-LSH near-duplicate
pairs (llm_dedup.minhash_pairs, capped at 8 partners per doc), built
by ``lsh_edges`` in Spark and replayed by ``lsh_edges_sql`` in the
DuckDB oracles. The graph is built by the same equi-join-only plan
that survives 100 TB.

- ``graph_pagerank`` — 5 fixed PageRank rounds in int64 micro-units;
  each round is one join + one groupBy on the node key (the
  Pregel-style round as DataFrames), replayed by a 5-way unrolled CTE
  chain.
- ``graph_triangles`` — global triangle count by the two-join
  wedge-close plan.
- ``graph_cc_star`` — connected components by LARGE-STAR /
  SMALL-STAR alternation (Kiveris et al., "Connected Components in
  MapReduce and Beyond", SoCC'14): O(log n) rounds regardless of
  component diameter. ``star_components`` is the one CC loop in the
  package (dedup_cluster runs it too).
- ``graph_bfs_levels`` — multi-source BFS hop levels by frontier
  expansion (rounds = eccentricity of the seed set).
- ``graph_kcore`` — k-core decomposition (k=3) by 6 fixed peeling
  rounds.

EXACT-oracle since r6: the LSH edge pipeline is engine-portable (md5
token hashes + universal-hash permutations, see llm_dedup.lsh_pairs_sql),
and every query is integer arithmetic or a fixpoint, so each replays in
SQL: unrolled CTEs for the fixed-round loops, recursive CTEs for the
fixpoints (components and hop levels are algorithm-independent)."""

from __future__ import annotations

from pyspark.sql import Observation, Window
from pyspark.sql import functions as F

from terasort_spark.operators.llm_dedup import lsh_pairs_sql, minhash_pairs
from terasort_spark.registry import register

N_ITER = 5
DAMPING_PCT = 85  # damping 0.85 expressed in integer percent
RANK_UNIT = 10**12  # total rank mass in micro-units


# ---------------------------------------------------------------------------
# the edge list


def lsh_edges(spark, sf_dir, tau: float):
    """The similarity graph's undirected edges ``(a, b)``, each once with
    a < b: MinHash-LSH pairs verified at Jaccard >= tau, 8 candidate
    partners per doc. minhash_pairs already returns distinct pairs with
    a_id < b_id (pinned in tests/test_graph.py), so no canonicalizing
    pass is needed."""
    return minhash_pairs(spark, sf_dir, tau=tau, per_doc_cap=8).select(
        F.col("a_id").alias("a"), F.col("b_id").alias("b")
    )


def _two_way(e):
    """Both directions of an ``(a, b)`` edge list as a checkpointed
    ``(src, dst)`` list, so the loops that re-read it every round never
    re-derive the LSH pipeline (localCheckpoint: per-invocation, no
    cross-run cache)."""
    return (
        e.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .union(e.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .localCheckpoint(eager=True)
    )


def lsh_edges_sql(tau: float) -> str:
    """WITH-clause body replaying ``lsh_edges`` and its two-way list:
    lsh_pairs_sql plus CTE ``e(src, dst)`` holding each pair in both
    directions."""
    return f"""{lsh_pairs_sql(tau)},
e AS MATERIALIZED (
    SELECT a_id AS src, b_id AS dst FROM lsh_pairs
    UNION ALL
    SELECT b_id AS src, a_id AS dst FROM lsh_pairs
)"""


# ---------------------------------------------------------------------------
# graph_pagerank


def _pagerank_oracle() -> str:
    """Unrolled 5-iteration replay of the quantized PageRank loop.

    Each CTE pair (c_i, r_i) is one Pregel round: contributions are
    ``ru // deg`` summed per dst (exact int64, order-independent), the
    new rank is ``(15*base + 85*contrib) // 100``. ``//`` (DuckDB) and
    ``div`` (Spark) agree on non-negative operands, and every
    intermediate stays < 8.6e13 << 2^63."""
    parts = [
        lsh_edges_sql(tau=0.5),
        """degs AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
ed AS MATERIALIZED (
    SELECT e.src, e.dst, degs.deg FROM e JOIN degs USING (src)
),
nodes AS MATERIALIZED (SELECT DISTINCT src FROM e),
params AS (SELECT """
        + str(RANK_UNIT)
        + """ // count(*) AS base FROM nodes),
r0 AS (SELECT src, (SELECT base FROM params) AS ru FROM nodes)""",
    ]
    for i in range(1, N_ITER + 1):
        parts.append(
            f"""c{i} AS (
    SELECT ed.dst, CAST(sum(r.ru // ed.deg) AS BIGINT) AS contrib
    FROM ed JOIN r{i - 1} r ON ed.src = r.src GROUP BY ed.dst
),
r{i} AS (
    SELECT n.src,
           CAST((15 * (SELECT base FROM params)
                 + {DAMPING_PCT} * coalesce(c.contrib, 0)) // 100 AS BIGINT) AS ru
    FROM nodes n LEFT JOIN c{i} c ON n.src = c.dst
)"""
        )
    body = ",\n".join(parts)
    return f"""
WITH {body}
SELECT src AS doc_id, ru AS rank_u FROM r{N_ITER}
"""


@register("graph_pagerank", oracle=_pagerank_oracle())
def graph_pagerank(spark, sf_dir):
    """PageRank over the near-duplicate similarity graph: nodes are
    documents, edges are verified LSH candidate pairs (Jaccard >= 0.5)
    from `lsh_edges`, which caps candidates at 8 per doc — so
    high-degree nodes' edge lists are truncated to a bounded,
    smallest-id-biased subset of the full verified pair set (a
    deliberate cap that keeps hot buckets linear; the topology is that
    capped graph, not the complete one). Edges are treated as
    undirected (each contributes both ways). 5 fixed iterations,
    damping 0.85, uniform init 1/N. High-rank docs are cluster hubs —
    the docs whose removal dedups the most.

    Ranks are int64 micro-units of a 1e12 total mass (r6 exact-oracle
    rewrite): per-edge contribution is ``rank div deg`` (truncating),
    the damping update is ``(15*base + 85*contrib) div 100`` — all
    order-independent integer arithmetic, so the result is identical
    on any partitioning and replays bit-for-bit in the unrolled-CTE
    oracle. Truncation loses < N_ITER ulps of mass per node vs the
    float version — irrelevant for hub ranking, decisive for
    verifiability.

    Scale notes: ranks and degrees live on the node key; every
    iteration shuffles contributions on dst — same key, so the
    exchange reuses partitioning. Lineage stays 5 joins deep (constant);
    for unbounded-iteration variants checkpoint every ~10 rounds."""
    sym = _two_way(lsh_edges(spark, sf_dir, tau=0.5))
    # Fold the out-degree into the edge list once, not per round.
    degrees = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    edges = (
        sym.join(degrees, "src")
        .select("src", "dst", "deg")
        .localCheckpoint(eager=True)
    )
    # nodes is re-joined every iteration — materialize the (tiny)
    # distinct once instead of re-shuffling edges per round.
    nodes = edges.select("src").distinct().localCheckpoint(eager=True)
    n_nodes = nodes.count()  # scalar cardinality, not a data collect
    if n_nodes == 0:  # empty corpus → empty graph, not a crash
        return spark.createDataFrame([], "doc_id bigint, rank_u bigint")
    base = RANK_UNIT // n_nodes
    ranks = nodes.withColumn("ru", F.lit(base).cast("long"))
    for _ in range(N_ITER):
        contribs = (
            edges.join(ranks, "src")
            .select("dst", F.expr("ru div deg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("contrib"))
        )
        ranks = (
            nodes.join(contribs, nodes.src == contribs.dst, "left")
            .select(
                "src",
                F.expr(
                    f"(cast({15 * base} as bigint)"
                    f" + {DAMPING_PCT} * coalesce(contrib, cast(0 as bigint)))"
                    " div 100"
                ).alias("ru"),
            )
        )
    return ranks.select(
        F.col("src").alias("doc_id"), F.col("ru").alias("rank_u")
    )


# ---------------------------------------------------------------------------
# graph_triangles


def _triangles_oracle() -> str:
    """Two-join triangle replay over the shared LSH edge list: orient
    low→high (lsh_pairs already is), wedge join on the middle vertex,
    close against the edge list — pure integer counting."""
    return f"""
WITH {lsh_pairs_sql(tau=0.5)},
p AS MATERIALIZED (
    SELECT DISTINCT a_id AS a, b_id AS b FROM lsh_pairs WHERE a_id <> b_id
),
wedges AS (
    SELECT p1.a AS x, p1.b AS y, p2.b AS z
    FROM p p1 JOIN p p2 ON p1.b = p2.a
),
tri AS (
    SELECT count(*) AS n_triangles
    FROM wedges w JOIN p ON w.x = p.a AND w.z = p.b
),
stats AS (
    SELECT count(*) AS n_edges, count(DISTINCT a) AS n_low_endpoints FROM p
)
SELECT tri.n_triangles, stats.n_edges, stats.n_low_endpoints FROM tri, stats
"""


@register("graph_triangles", oracle=_triangles_oracle())
def graph_triangles(spark, sf_dir):
    """Global triangle count over the similarity graph via the classic
    two-join plan: with every edge oriented low→high id (as
    `lsh_edges` returns it — no duplicate orientations, no 6x triangle
    overcounting), build wedges x<y<z by joining on the middle vertex,
    close them against the edge list.

    EXACT-oracle since r6: the LSH edges are engine-portable, and
    wedge-building/closing is pure integer counting (_triangles_oracle).

    Scale notes: the expensive step is the wedge join, which shuffles
    on a single vertex key; low→high orientation bounds each vertex's
    out-degree by its rank among neighbors — the standard mitigation
    that keeps hub vertices from exploding the wedge count. Output is
    one row of graph-level invariants."""
    pairs = lsh_edges(spark, sf_dir, tau=0.5).localCheckpoint(eager=True)
    wedges = pairs.select(F.col("a").alias("x"), F.col("b").alias("y")).join(
        pairs.select(F.col("a").alias("y"), F.col("b").alias("z")), "y"
    )
    tri = wedges.join(
        pairs.select(F.col("a").alias("x"), F.col("b").alias("z")), ["x", "z"]
    )
    n_tri = tri.agg(F.count(F.lit(1)).alias("n_triangles"))
    stats = pairs.agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.count_distinct(F.col("a")).alias("n_low_endpoints"),
    )
    return n_tri.crossJoin(stats)


# ---------------------------------------------------------------------------
# graph_cc_star


def _cc_fixpoint_oracle(tau: float) -> str:
    """Min-reachable-node fixpoint over the two-way LSH edge list —
    the algorithm-independent definition of connected components, so it
    grades any CC algorithm."""
    return f"""
WITH RECURSIVE {lsh_edges_sql(tau)},
nodes AS MATERIALIZED (SELECT DISTINCT src FROM e),
reach(node, r) AS (
    SELECT src, src FROM nodes
    UNION
    SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.node
)
SELECT node AS doc_id, CAST(min(r) AS BIGINT) AS component
FROM reach GROUP BY node
"""


@register("graph_cc_star", oracle=_cc_fixpoint_oracle(tau=0.8))
def graph_cc_star(spark, sf_dir):
    """Connected components by LARGE-STAR / SMALL-STAR alternation over
    the near-duplicate graph (Jaccard >= 0.8, the dedup tau).

    Each round is two map-reduce shapes over the edge set only —
    no separate label table:

    - large-star: for every node u, connect each LARGER neighbor to
      m = min(N(u) ∪ {u});
    - small-star: orient edges high→low, connect each neighbor (all
      smaller) and u itself to the minimum.

    The fixpoint is a collection of stars whose centers are the
    component minima; the label read-off is one groupBy over the final
    edges. The per-node minima are window aggregates over the same node
    key each star phase is keyed by (one exchange per phase, no
    broadcast builds) — the co-partitioned shape that also holds on a
    corpus-scale graph. Rounds needed are O(log n) REGARDLESS of component diameter
    — the property that matters on web-crawl duplicate graphs whose
    chain-shaped components defeat O(diameter) label propagation
    at 100 TB. Each round shuffles on a single node
    key; localCheckpoint truncates lineage per round (a cluster job
    would checkpoint to durable storage).

    The driver only ever sees one convergence scalar per round; the
    oracle is the recursive-CTE min-reachable fixpoint, which defines
    components independently of the algorithm."""
    labels, _rounds = star_components(spark, lsh_edges(spark, sf_dir, tau=0.8))
    return labels


def star_components(spark, e, max_rounds: int = 16):
    """Large-star/small-star alternation over a canonical (a < b) edge
    DataFrame until fixpoint. Returns (labels_df(doc_id, component),
    rounds_run); only nodes that appear in ``e`` get a label. Shared by
    graph_cc_star, dedup_cluster and scripts/cc_scale_probe.py, so the
    probed loop IS the graded one."""
    e = e.localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("a").alias("node"))
        .union(e.select(F.col("b").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # Convergence = two consecutive rounds with identical (count,
    # xor-fold-of-xxhash64) edge-set signature: one tiny aggregate per
    # round instead of a two-sided subtract (which re-shuffles both edge
    # sets — 6.5 s/round vs 0.4 s at sf0.01). A 64-bit xor-fold collision
    # on a CHANGED set is the 2^-64 failure mode; the round cap and the
    # fixpoint oracle both bound it.
    prev_sig = None
    rounds = 0
    w_u = Window.partitionBy("u")
    for _ in range(max_rounds):  # >> log2(n) for any shipped SF
        sym = e.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
            e.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        # Per-node minima as window aggregates over the same key the
        # star phase groups on: one shuffle per phase and ZERO broadcast
        # builds. The r12 shape broadcast each phase's groupBy(u).min —
        # two BroadcastExchange sub-jobs per round whose driver collect +
        # scheduling dominated the round at local scale, and the mins_s
        # branch re-executed the whole e_large subtree a second time.
        # The window min is computed inside the one checkpoint job.
        syml = sym.withColumn("m", F.least(F.min("v").over(w_u), F.col("u")))
        e_large = (
            syml.where(F.col("v") > F.col("u"))
            .select(
                F.least("v", "m").alias("a"), F.greatest("v", "m").alias("b")
            )
            .where(F.col("a") != F.col("b"))
        )
        # small-star input: orient high -> low (b is the high end);
        # duplicate edges are harmless under min, so no distinct here.
        # m < u always holds on this side (every v < u), so filtering
        # a != b after the union touches only the (m, v) rows — the
        # same set the r12 join shape produced.
        d = e_large.select(F.col("b").alias("u"), F.col("a").alias("v"))
        ds = d.withColumn("m", F.min("v").over(w_u))
        e_small = (
            ds.select(F.col("m").alias("a"), F.col("v").alias("b"))
            .union(ds.select(F.col("m").alias("a"), F.col("u").alias("b")))
            .where(F.col("a") != F.col("b"))
            .distinct()
        )
        # Convergence signature rides the checkpoint job via observe():
        # the r12 shape ran a SEPARATE agg+collect action per round
        # (guide §5 — the driver should block once per round, not twice).
        obs = Observation()
        e_small = e_small.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(a, b))").alias("h"),
        ).localCheckpoint(eager=True)
        m = obs.get  # blocks on the checkpoint action just executed
        sig = (m["n"], m["h"])
        e = e_small
        rounds += 1
        if sig == prev_sig:
            break
        prev_sig = sig
    # converged: every edge is (component-min, member)
    labels = (
        nodes.join(e, nodes.node == e.b, "left")
        .groupBy("node")
        .agg(F.min("a").alias("ma"))
        .select(
            F.col("node").alias("doc_id"),
            F.coalesce("ma", F.col("node")).alias("component"),
        )
    )
    return labels, rounds


# ---------------------------------------------------------------------------
# graph_bfs_levels


def _bfs_oracle(tau: float, seed_mod: int) -> str:
    return f"""
WITH RECURSIVE {lsh_edges_sql(tau)},
nodes AS MATERIALIZED (SELECT DISTINCT src FROM e),
nn AS (SELECT count(*) AS n FROM nodes),
lvl(node, d) AS (
    SELECT src, 0 FROM nodes WHERE src % {seed_mod} = 0
    UNION
    SELECT e.dst, lvl.d + 1 FROM lvl JOIN e ON e.src = lvl.node
    WHERE lvl.d < (SELECT n FROM nn)
)
SELECT node AS doc_id, CAST(min(d) AS BIGINT) AS hops
FROM lvl GROUP BY node
"""


_BFS_COLLAPSE_EVERY = 8


def bfs_levels(sym, seeds):
    """Multi-source BFS over a two-way ``(src, dst)`` edge list from the
    ``seeds`` (one column, ``node``). Returns (hops_df(node, hops),
    levels_run, collapses); unreached nodes are absent.

    Each level is ONE blocking action: a checkpoint, with the new
    frontier's size riding along as an observe() metric. Between
    collapses, visited is a lazy union of the checkpointed frontiers.
    Every ``_BFS_COLLAPSE_EVERY`` levels that level's checkpoint is of
    visited itself (the new frontier is its ``hops == level`` slice),
    so the per-level left_anti never re-analyzes more than 8 union
    branches however deep the graph is. Shared by graph_bfs_levels and
    its chain test, so the tested loop IS the graded one."""
    obs0 = Observation()
    frontier = seeds.observe(obs0, F.count(F.lit(1)).alias("n"))
    frontier = frontier.localCheckpoint(eager=True)
    n_frontier = obs0.get["n"]
    visited = frontier.select("node", F.lit(0).cast("long").alias("hops"))
    level = collapses = 0
    while n_frontier > 0 and level < 64:
        level += 1
        hop = F.lit(level).cast("long").alias("hops")
        obs = Observation()
        new = (
            sym.join(F.broadcast(frontier), sym.src == frontier.node)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
        )
        if level % _BFS_COLLAPSE_EVERY == 0:
            visited = (
                visited.union(new.select("node", hop))
                .observe(obs, F.count_if(F.col("hops") == level).alias("n"))
                .localCheckpoint(eager=True)
            )
            frontier = visited.where(F.col("hops") == level).select("node")
            collapses += 1
        else:
            frontier = new.observe(obs, F.count(F.lit(1)).alias("n"))
            frontier = frontier.localCheckpoint(eager=True)
            visited = visited.union(frontier.select("node", hop))
        n_frontier = obs.get["n"]
    return visited, level, collapses


@register("graph_bfs_levels", oracle=_bfs_oracle(tau=0.8, seed_mod=17))
def graph_bfs_levels(spark, sf_dir):
    """Multi-source BFS hop levels over the near-duplicate graph:
    seeds are every graph node with doc_id % 17 == 0; output is each
    REACHED node's minimum hop count (unreached nodes are absent —
    mirrored by the oracle's recursive join).

    The Pregel frontier shape (``bfs_levels``): per round, one
    equi-join of the edge list against the current frontier, minus the
    visited set (left_anti) — rounds = eccentricity of the seed set (4
    at sf0.01), per-round cost = frontier-adjacent edges only, never
    the whole graph, and one blocking action per round.
    This is the hop-distance primitive under crawl-frontier scheduling
    and "within k hops of a seed set" contamination sweeps."""
    sym = _two_way(lsh_edges(spark, sf_dir, tau=0.8))
    seeds = (
        sym.select("src")
        .distinct()
        .where(F.col("src") % 17 == 0)
        .select(F.col("src").alias("node"))
    )
    visited, _, _ = bfs_levels(sym, seeds)
    return visited.select(F.col("node").alias("doc_id"), "hops")


# ---------------------------------------------------------------------------
# graph_kcore

_KCORE_K = 3
_KCORE_ROUNDS = 6  # fixed-round replay; converged by round 5 at all SFs


def _kcore_oracle(tau: float) -> str:
    parts = [lsh_edges_sql(tau)]
    prev = "e"
    for i in range(1, _KCORE_ROUNDS + 1):
        parts.append(
            f"n{i} AS (SELECT src FROM {prev} GROUP BY src"
            f" HAVING count(*) >= {_KCORE_K})"
        )
        parts.append(
            f"e{i} AS (SELECT e.src, e.dst FROM {prev} e"
            f" JOIN n{i} a ON a.src = e.src JOIN n{i} b ON b.src = e.dst)"
        )
        prev = f"e{i}"
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT src AS doc_id, CAST(count(*) AS BIGINT) AS core_deg
FROM {prev} GROUP BY src"""
    )


@register("graph_kcore", oracle=_kcore_oracle(tau=0.5))
def graph_kcore(spark, sf_dir):
    """3-core of the similarity graph by iterative peeling: drop every
    node whose degree in the CURRENT subgraph is < k, repeat. The
    k-core is the standard "dense duplicate neighborhood" extractor —
    hub templates survive, incidental near-dup pairs (degree 1–2
    chains) peel away, which is exactly the separation a dedup
    curation pass wants before deciding cluster keepers.

    Runs a FIXED 6 rounds rather than a convergence loop, and the
    oracle unrolls the same 6 rounds — both engines grade the
    identical computation (the quantized-pagerank trick), with
    convergence-by-round-5 verified at every shipped SF in the module
    test, so the fixed-round answer IS the fixpoint. Each round is one
    degree groupBy + one (broadcast) semi-join pair on the node key;
    rounds needed in general = peeling depth (bounded by degeneracy
    ordering length, ~log-ish on similarity graphs). The edge set
    shrinks monotonically, so per-round cost falls."""
    sym = _two_way(lsh_edges(spark, sf_dir, tau=0.5))
    for _ in range(_KCORE_ROUNDS):
        keep = F.broadcast(
            sym.groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
            .where(F.col("deg") >= _KCORE_K)
            .select("src")
        )
        sym = (
            sym.join(keep, "src")
            .join(keep.withColumnRenamed("src", "dst"), "dst")
            .select("src", "dst")
            .localCheckpoint(eager=True)
        )
    return sym.groupBy("src").agg(
        F.count(F.lit(1)).cast("bigint").alias("core_deg")
    ).select(F.col("src").alias("doc_id"), "core_deg")
