"""Round-10 fourth wave: corpus-level mergeable MinHash sketches
(source-vs-source similarity), a depth-2 histogram decision tree (the
histogram-GBDT split search grown past stumps), and crawl-frontier
scheduling with per-host politeness quotas — three shapes a corpus
curation stack runs ABOVE the document level.

All three carry exact DuckDB oracles and follow the repo's scale
discipline: per-source sketches are associative min-aggregations
(mergeable across partitions/segments by construction), the tree
search scans feature histograms never documents, and the frontier
ranking is a WindowGroupLimit-prunable per-host top-k.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from terasort_spark.catalog import table
from terasort_spark.operators._util import hex_int, o_hex_int
from terasort_spark.operators.llm_dedup import (
    BUCKET_M,
    N_HASHES,
    PERM_A,
    PERM_B,
)
from terasort_spark.registry import register

# ---------------------------------------------------------------------------
# sim_source_minhash — mergeable corpus-level MinHash sketch per source


def _src_minhash_oracle() -> str:
    h28 = o_hex_int("md5(t)", 7)
    mh_cols = ",\n         ".join(
        f"min((h * {PERM_A[i]} + {PERM_B[i]}) % {BUCKET_M}) AS mh{i}"
        for i in range(N_HASHES)
    )
    agree = " + ".join(
        f"CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END"
        for i in range(N_HASHES)
    )
    return f"""
WITH st AS MATERIALIZED (
  SELECT DISTINCT source, unnest(list_distinct(string_split(lower(text), ' '))) AS t
  FROM documents
),
th AS MATERIALIZED (
  SELECT source, {h28} AS h FROM st
),
sig AS MATERIALIZED (
  SELECT source,
         {mh_cols}
  FROM th GROUP BY source
),
sz AS MATERIALIZED (
  SELECT source, CAST(count(*) AS BIGINT) AS n FROM st GROUP BY source
),
inter AS MATERIALIZED (
  SELECT a.source AS src_a, b.source AS src_b, CAST(count(*) AS BIGINT) AS i
  FROM st a JOIN st b ON a.t = b.t AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT a.source AS src_a, b.source AS src_b,
       floor(CAST(({agree}) AS DOUBLE) / {N_HASHES} * 10000 + 0.5) / 10000
         AS est_jaccard,
       floor(CAST(coalesce(i.i, 0) AS DOUBLE)
             / (za.n + zb.n - coalesce(i.i, 0)) * 10000 + 0.5) / 10000
         AS jaccard
FROM sig a JOIN sig b ON a.source < b.source
JOIN sz za ON za.source = a.source
JOIN sz zb ON zb.source = b.source
LEFT JOIN inter i ON i.src_a = a.source AND i.src_b = b.source
"""


@register("sim_source_minhash", oracle=_src_minhash_oracle())
def sim_source_minhash(spark, sf_dir):
    """Corpus-level similarity between SOURCES via mergeable MinHash
    sketches: each source's token set is summarized by N_HASHES
    min-aggregations (the same 28-bit md5 hash + universal-hash
    permutations as dedup_minhash, so sketch and dedup cannot drift),
    and pairwise estimated Jaccard = fraction of agreeing signature
    slots — emitted NEXT TO the exact Jaccard so the sketch's error is
    measured on the graded path, not asserted.

    This is the sketch-rollup shape of corpus governance ("how much
    does crawl A overlap crawl B"): min() is associative and
    commutative, so per-partition partials merge in the map-combine —
    the sketch of a 100 TB source is computed in ONE streaming
    aggregation pass and two sources' sketches union by slot-wise min
    WITHOUT touching raw data again, where exact Jaccard needs a
    token-level join of both corpora. The exact side here is the
    oracle's ground truth AND stays feasible because sources are few;
    at scale you keep only the sketch."""
    st = (
        table(spark, sf_dir, "documents")
        .select(
            "source",
            F.explode(
                F.array_distinct(F.split(F.lower("text"), " "))
            ).alias("t"),
        )
        .distinct()
    )
    th = st.select("source", hex_int(F.md5("t"), 7).alias("h"))
    sig = th.groupBy("source").agg(
        *[
            F.min(
                (F.col("h") * F.lit(PERM_A[i]) + F.lit(PERM_B[i]))
                % F.lit(BUCKET_M)
            ).alias(f"mh{i}")
            for i in range(N_HASHES)
        ]
    )
    sz = st.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a, b = sig.alias("a"), sig.alias("b")
    agree = sum(
        F.when(F.col(f"a.mh{i}") == F.col(f"b.mh{i}"), 1).otherwise(0)
        for i in range(N_HASHES)
    )
    pairs = a.join(b, F.col("a.source") < F.col("b.source")).select(
        F.col("a.source").alias("src_a"),
        F.col("b.source").alias("src_b"),
        (
            F.floor(
                agree.cast("double") / N_HASHES * 10000 + F.lit(0.5)
            )
            / 10000
        ).alias("est_jaccard"),
    )
    inter = (
        st.alias("x")
        .join(
            st.alias("y"),
            (F.col("x.t") == F.col("y.t"))
            & (F.col("x.source") < F.col("y.source")),
        )
        .groupBy(
            F.col("x.source").alias("src_a"),
            F.col("y.source").alias("src_b"),
        )
        .agg(F.count(F.lit(1)).alias("i"))
    )
    return (
        pairs.join(
            F.broadcast(sz.select(F.col("source").alias("src_a"), F.col("n").alias("na"))),
            "src_a",
        )
        .join(
            F.broadcast(sz.select(F.col("source").alias("src_b"), F.col("n").alias("nb"))),
            "src_b",
        )
        .join(F.broadcast(inter), ["src_a", "src_b"], "left")
        .select(
            "src_a",
            "src_b",
            "est_jaccard",
            (
                F.floor(
                    F.coalesce(F.col("i"), F.lit(0)).cast("double")
                    / (F.col("na") + F.col("nb") - F.coalesce(F.col("i"), F.lit(0)))
                    * 10000
                    + F.lit(0.5)
                )
                / 10000
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# ml_tree_depth2 — histogram decision tree grown one level past the stump

_GINI_SQL = """(ln_ * (1.0 - (CAST(lp AS DOUBLE) / ln_) * (CAST(lp AS DOUBLE) / ln_)
                    - (CAST(ln_ - lp AS DOUBLE) / ln_)
                      * (CAST(ln_ - lp AS DOUBLE) / ln_))
         + rn_ * (1.0 - (CAST(rp AS DOUBLE) / rn_) * (CAST(rp AS DOUBLE) / rn_)
                      - (CAST(rn_ - rp AS DOUBLE) / rn_)
                        * (CAST(rn_ - rp AS DOUBLE) / rn_))) / n"""


def _tree_node_sql(src: str, out: str) -> str:
    """Best gini split over one node's histogram CTE ``src`` —
    ml_stump's search, reused per node."""
    return f"""
{out}_cum AS (
  SELECT node, x,
         sum(cnt) OVER (PARTITION BY node ORDER BY x ROWS UNBOUNDED PRECEDING) AS ln_,
         sum(pos) OVER (PARTITION BY node ORDER BY x ROWS UNBOUNDED PRECEDING) AS lp,
         sum(cnt) OVER (PARTITION BY node) AS n,
         sum(pos) OVER (PARTITION BY node) AS p
  FROM {src}
),
{out} AS MATERIALIZED (
  SELECT node, threshold, wgini, ln_ AS n_left, rn_ AS n_right FROM (
    SELECT node, x AS threshold, ln_, n - ln_ AS rn_,
           {_GINI_SQL} AS wgini,
           row_number() OVER (PARTITION BY node ORDER BY {_GINI_SQL}, x) AS rk
    FROM (SELECT node, x, ln_, lp, n, p, n - ln_ AS rn_, p - lp AS rp
          FROM {out}_cum WHERE ln_ < n)
  ) WHERE rk = 1
)"""


_TREE_ORACLE = f"""
WITH hist AS MATERIALIZED (
  SELECT n_chars AS x, CAST(count(*) AS BIGINT) AS cnt,
         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS pos
  FROM documents WHERE n_chars IS NOT NULL GROUP BY n_chars
),
root_h AS (SELECT 'root' AS node, x, cnt, pos FROM hist),
{_tree_node_sql('root_h', 'root_b')},
leaf_h AS (
  SELECT CASE WHEN h.x <= b.threshold THEN 'left' ELSE 'right' END AS node,
         h.x, h.cnt, h.pos
  FROM hist h CROSS JOIN root_b b
),
{_tree_node_sql('leaf_h', 'leaf_b')}
SELECT node, CAST(threshold AS BIGINT) AS threshold,
       floor(wgini * 1000000 + 0.5) / 1000000 AS wgini,
       CAST(n_left AS BIGINT) AS n_left, CAST(n_right AS BIGINT) AS n_right
FROM (SELECT * FROM root_b UNION ALL SELECT * FROM leaf_b)
"""


@register("ml_tree_depth2", oracle=_TREE_ORACLE)
def ml_tree_depth2(spark, sf_dir):
    """Depth-2 decision tree on the feature histogram: ml_stump's
    histogram split search applied at the root, then AGAIN inside each
    child — the recursive step every histogram GBDT takes, still
    touching only #distinct-values rows per node (the corpus
    contributes its ONE groupBy). Node assignment is a broadcast of
    the 1-row root split, so growing a level adds no corpus scan.
    Fully distributed (no driver model state, unlike ml_adaboost's
    declared driver loop) — the window's PARTITION BY node runs both
    child searches in one pass. Emits root/left/right splits with
    6dp-floored weighted gini; the gini expression is one fixed IEEE
    formula over exact integer counts, identical in both engines.
    NULL feature values are excluded in both engines (a null cannot be
    thresholded, and the engines disagree on null sort placement)."""
    d = table(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull()
    )
    hist = d.groupBy(F.col("n_chars").alias("x")).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(
                F.when(F.col("lang") == "en", 1).otherwise(0)
            ).alias("pos"),
    )

    def gini(nn, pp):
        pr = pp.cast("double") / nn
        qr = (nn - pp).cast("double") / nn
        return 1.0 - pr * pr - qr * qr

    def best_split(h):
        w_cum = (
            Window.partitionBy("node")
            .orderBy("x")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        w_all = Window.partitionBy("node")
        cum = h.select(
            "node",
            "x",
            F.sum("cnt").over(w_cum).alias("ln_"),
            F.sum("pos").over(w_cum).alias("lp"),
            F.sum("cnt").over(w_all).alias("n"),
            F.sum("pos").over(w_all).alias("p"),
        ).filter(F.col("ln_") < F.col("n"))
        wgini = (
            F.col("ln_") * gini(F.col("ln_"), F.col("lp"))
            + (F.col("n") - F.col("ln_"))
            * gini(F.col("n") - F.col("ln_"), F.col("p") - F.col("lp"))
        ) / F.col("n")
        wr = Window.partitionBy("node").orderBy(wgini, "x")
        return (
            cum.withColumn("wgini_raw", wgini)
            .withColumn("rk", F.row_number().over(wr))
            .filter(F.col("rk") == 1)
            .select(
                "node",
                F.col("x").cast("bigint").alias("threshold"),
                (
                    F.floor(F.col("wgini_raw") * 1000000 + F.lit(0.5))
                    / 1000000
                ).alias("wgini"),
                F.col("ln_").cast("bigint").alias("n_left"),
                (F.col("n") - F.col("ln_")).cast("bigint").alias("n_right"),
            )
        )

    root = best_split(hist.withColumn("node", F.lit("root")))
    leaf_h = hist.join(
        F.broadcast(root.select(F.col("threshold").alias("thr"))), how="cross"
    ).withColumn(
        "node",
        F.when(F.col("x") <= F.col("thr"), F.lit("left")).otherwise(
            F.lit("right")
        ),
    )
    leaves = best_split(leaf_h)
    return root.unionByName(leaves)


# ---------------------------------------------------------------------------
# pipeline_crawl_frontier — politeness-quota frontier scheduling

FRONTIER_PER_HOST = 4  # URLs per host per crawl round
FRONTIER_ROUNDS = 3  # rounds scheduled ahead


@register(
    "pipeline_crawl_frontier",
    oracle=f"""
WITH ranked AS (
  SELECT source, doc_id, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id) AS rank_in_host
  FROM documents
),
sched AS (
  SELECT CAST((rank_in_host - 1) // {FRONTIER_PER_HOST} + 1 AS INT) AS round,
         source, doc_id, CAST(rank_in_host AS INT) AS rank_in_host
  FROM ranked
  WHERE rank_in_host <= {FRONTIER_PER_HOST * FRONTIER_ROUNDS}
)
SELECT round,
       CAST(row_number() OVER (PARTITION BY round
                               ORDER BY rank_in_host, source, doc_id) AS BIGINT)
         AS pos,
       source, doc_id, rank_in_host
FROM sched
""",
)
def pipeline_crawl_frontier(spark, sf_dir):
    """Crawl-frontier scheduling with per-host politeness quotas: rank
    each host's discovered URLs by priority (here the n_chars quality
    proxy, doc_id tie-break), admit at most FRONTIER_PER_HOST per host
    per round, and interleave each round host-rotating (order by
    rank-within-host first) so no host is hit twice before every host
    got its turn — the scheduler loop of a polite distributed crawler.

    Scale: the rank <= quota*rounds filter collapses to a
    WindowGroupLimit under the per-host window — each host's frontier
    beyond the scheduled horizon is pruned before the sort, so the
    schedule costs one host-keyed exchange over a bounded subset, not
    a global sort of the frontier. Exact oracle: same two windows in
    DuckDB."""
    d = table(spark, sf_dir, "documents")
    wh = Window.partitionBy("source").orderBy(
        F.desc("n_chars"), F.col("doc_id")
    )
    ranked = d.select(
        "source",
        "doc_id",
        F.row_number().over(wh).alias("rank_in_host"),
    ).filter(
        F.col("rank_in_host") <= FRONTIER_PER_HOST * FRONTIER_ROUNDS
    )
    sched = ranked.withColumn(
        "round",
        (
            (F.col("rank_in_host") - 1) / FRONTIER_PER_HOST
        ).cast("int")
        + 1,
    )
    wr = Window.partitionBy("round").orderBy(
        "rank_in_host", "source", "doc_id"
    )
    return sched.select(
        F.col("round").cast("int").alias("round"),
        F.row_number().over(wr).cast("bigint").alias("pos"),
        "source",
        "doc_id",
        F.col("rank_in_host").cast("int").alias("rank_in_host"),
    )
