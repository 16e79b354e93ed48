"""Round-12 wave (session 2, batch 2): smoothed language models,
changepoint detection, the GROUP BY ALL surface, and manifest-level
file pruning.

- ``text_kneser_ney`` — interpolated Kneser–Ney bigram probabilities
  (absolute discount D=0.75 + continuation-probability backoff): the
  smoothing that actually ships in n-gram LM quality filters
  (CCNet/KenLM lineage), built from four count aggregations — no
  per-token Python. Complements text_bigram_lm's unsmoothed MLE.
- ``ts_changepoint`` — best single mean-shift split per key by exact
  SSE reduction (binary-segmentation depth 1), from running sums via
  ordered windows — the offline twin of ts_cusum's online detector.
- ``sql_group_by_all`` — Spark 4's GROUP BY ALL / ORDER BY ALL SQL
  surface, graded against an explicit-columns oracle.
- ``scan_manifest_prune`` — Iceberg/Delta-style MANIFEST pruning: a
  file-level min/max stats table decides which data files a predicate
  can touch BEFORE any data is read; complements scan_rowgroup_stats
  (footer stats within a file) and sink_partitioned_pruned (partition
  values) — this is the table-format layer above both.
"""

from __future__ import annotations

import shutil

from pyspark.sql import Window
from pyspark.sql import functions as F

from terasort_spark.catalog import table
from terasort_spark.operators._util import rnd, scratch_dir
from terasort_spark.registry import register

# ---------------------------------------------------------------------------
# text_kneser_ney

_KN_D = 0.75  # absolute discount
_KN_TOP = 10  # per-language output rows


@register(
    "text_kneser_ney",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, lang, string_split(lower(text), ' ') AS ws FROM documents
),
big AS (
    SELECT lang, ws[i] AS w1, ws[i+1] AS w2, count(*) AS c
    FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ws)-1)) AS i)
    WHERE ws[i] <> '' AND ws[i+1] <> ''
    GROUP BY lang, ws[i], ws[i+1]
),
ctx AS (SELECT lang, w1, sum(c) AS c1, count(*) AS n_follow
        FROM big GROUP BY lang, w1),
cont AS (SELECT lang, w2, count(*) AS n_prec FROM big GROUP BY lang, w2),
types AS (SELECT lang, count(*) AS n_types FROM big GROUP BY lang),
kn AS (
    SELECT b.lang, b.w1, b.w2,
           (CAST(greatest(b.c - {_KN_D!r}, 0.0) AS DOUBLE) / ctx.c1)
           + ({_KN_D!r} * ctx.n_follow / ctx.c1)
             * (CAST(cont.n_prec AS DOUBLE) / types.n_types) AS p
    FROM big b
    JOIN ctx ON ctx.lang = b.lang AND ctx.w1 = b.w1
    JOIN cont ON cont.lang = b.lang AND cont.w2 = b.w2
    JOIN types ON types.lang = b.lang
)
SELECT lang, w1, w2, p_kn, rn FROM (
    SELECT lang, w1, w2,
           floor(p * 1000000 + 0.5) / 1000000 AS p_kn,
           CAST(row_number() OVER (
               PARTITION BY lang
               ORDER BY floor(p * 1000000 + 0.5) / 1000000 DESC, w1, w2)
               AS INTEGER) AS rn
    FROM kn)
WHERE rn <= {_KN_TOP}
""",
)
def text_kneser_ney(spark, sf_dir):
    """Interpolated Kneser–Ney bigram model over the corpus, per
    language; output = each language's top-10 bigrams by smoothed
    probability. P_KN(w2|w1) = max(c(w1w2)-D,0)/c(w1) +
    (D·N1+(w1·)/c(w1)) · N1+(·w2)/|bigram types| with D=0.75 — the
    continuation-probability backoff that makes "francisco" unlikely
    after anything but "san", which raw MLE (text_bigram_lm) cannot
    express. Everything is four count aggregations over the exploded
    bigram stream joined back on (lang, w1)/(lang, w2) — model size is
    vocabulary-shaped, never corpus-shaped, and the probability
    expression tree is mirrored operation-for-operation in the oracle
    (same left-associative order, 6dp floor-round).

    100 TB: identical shape to the production KenLM-prep pipelines —
    one shuffle to bigram counts (map-side combined), then
    vocabulary-sized joins; per-language skew is bounded by the
    vocabulary, not the corpus."""
    d = table(spark, sf_dir, "documents").select(
        "lang", F.split(F.lower("text"), " ").alias("ws")
    )
    pairs = d.select(
        "lang",
        F.explode(
            F.expr(
                "filter(zip_with(slice(ws, 1, size(ws) - 1), "
                "slice(ws, 2, size(ws) - 1), "
                "(a, b) -> struct(a as w1, b as w2)), "
                "p -> p.w1 <> '' AND p.w2 <> '')"
            )
        ).alias("bg"),
    ).select("lang", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    big = pairs.groupBy("lang", "w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    ctx = big.groupBy("lang", "w1").agg(
        F.sum("c").alias("c1"), F.count(F.lit(1)).alias("n_follow")
    )
    cont = big.groupBy("lang", "w2").agg(F.count(F.lit(1)).alias("n_prec"))
    types = big.groupBy("lang").agg(F.count(F.lit(1)).alias("n_types"))
    p = (
        F.greatest(F.col("c") - F.lit(_KN_D), F.lit(0.0)).cast("double")
        / F.col("c1")
    ) + ((F.lit(_KN_D) * F.col("n_follow") / F.col("c1"))
         * (F.col("n_prec").cast("double") / F.col("n_types")))
    w = Window.partitionBy("lang").orderBy(
        F.desc("p_kn"), F.asc("w1"), F.asc("w2")
    )
    return (
        big.join(ctx, ["lang", "w1"])
        .join(cont, ["lang", "w2"])
        .join(F.broadcast(types), "lang")
        .withColumn("p_kn", rnd(p, nd=6))
        .withColumn("rn", F.row_number().over(w).cast("int"))
        .where(F.col("rn") <= _KN_TOP)
        .select("lang", "w1", "w2", "p_kn", "rn")
    )


# ---------------------------------------------------------------------------
# ts_changepoint


@register(
    "ts_changepoint",
    oracle="""
WITH ev AS (
    SELECT user_id, epoch_us(ts) AS t, value AS v,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS i,
           count(*) OVER (PARTITION BY user_id) AS n
    FROM events WHERE user_id % 10 = 0
),
c AS (
    SELECT user_id, t, i, n,
           sum(v) OVER (PARTITION BY user_id ORDER BY i) AS pre,
           sum(v*v) OVER (PARTITION BY user_id ORDER BY i) AS pre2
    FROM ev
),
tot AS (
    SELECT user_id, i, t, n, pre, pre2,
           last_value(pre) OVER (PARTITION BY user_id ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS tt,
           last_value(pre2) OVER (PARTITION BY user_id ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS tt2
    FROM c
),
g AS (
    SELECT user_id, i, t,
           ((tt2 - (tt*tt)/n))
           - ((pre2 - (pre*pre)/i)
              + ((tt2-pre2) - ((tt-pre)*(tt-pre))/(n-i))) AS gain
    FROM tot WHERE i < n
)
SELECT user_id, split_idx, split_t, gain_r FROM (
    SELECT user_id, i AS split_idx, t AS split_t,
           floor(gain * 10000 + 0.5) / 10000 AS gain_r,
           row_number() OVER (PARTITION BY user_id
               ORDER BY floor(gain * 10000 + 0.5) / 10000 DESC, i) AS rn
    FROM g)
WHERE rn = 1
""",
)
def ts_changepoint(spark, sf_dir):
    """Best single mean-shift changepoint per user — binary
    segmentation at depth 1: the split k maximizing the exact SSE
    reduction total−(left+right), each SSE from the running-sum
    identity Σv² − (Σv)²/n. One ordered window pass builds prefix
    sums; totals are the prefix value at i=n via an explicit
    full-frame last_value (NOT an unordered partition aggregate,
    whose summation order is partitioning-dependent) — so every
    double is produced by the same sequential fold on both engines.
    Argmax takes the earliest split on 4dp-rounded gain.

    The offline complement to ts_cusum's sequential detector: cusum
    flags WHEN a drift crosses a threshold in arrival order;
    this finds the globally best retrospective split. Per-key cost is
    O(n) after one shuffle on user_id; deeper segmentation recurses
    on the two halves (driver-side loop, log-depth), same plan shape."""
    ev = (
        table(spark, sf_dir, "events")
        .where(F.col("user_id") % 10 == 0)
        .select(
            "user_id",
            F.unix_micros("ts").alias("t"),
            F.col("value").alias("v"),
            "event_id",
        )
    )
    ev = ev.withColumn(
        "i",
        F.row_number().over(
            Window.partitionBy("user_id").orderBy("t", "event_id")
        ),
    ).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("user_id"))
    )
    run = Window.partitionBy("user_id").orderBy("i")
    full = (
        Window.partitionBy("user_id")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    c = (
        ev.withColumn("pre", F.sum("v").over(run))
        .withColumn("pre2", F.sum(F.col("v") * F.col("v")).over(run))
        .withColumn("tt", F.last("pre").over(full))
        .withColumn("tt2", F.last("pre2").over(full))
    )
    gain = (
        F.col("tt2") - (F.col("tt") * F.col("tt")) / F.col("n")
    ) - (
        (F.col("pre2") - (F.col("pre") * F.col("pre")) / F.col("i"))
        + (
            (F.col("tt2") - F.col("pre2"))
            - ((F.col("tt") - F.col("pre")) * (F.col("tt") - F.col("pre")))
            / (F.col("n") - F.col("i"))
        )
    )
    g = (
        c.where(F.col("i") < F.col("n"))
        .withColumn("gain_r", rnd(gain))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(
                    F.desc("gain_r"), F.asc("i")
                )
            ),
        )
        .where(F.col("rn") == 1)
    )
    return g.select(
        "user_id",
        F.col("i").cast("bigint").alias("split_idx"),
        F.col("t").alias("split_t"),
        "gain_r",
    )


# ---------------------------------------------------------------------------
# sql_group_by_all


@register(
    "sql_group_by_all",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       floor(CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE)
             * 10000 + 0.5) / 10000 AS total
FROM orders
GROUP BY o_orderstatus, o_orderpriority
""",
)
def sql_group_by_all(spark, sf_dir):
    """Spark 4's GROUP BY ALL surface: every non-aggregate select item
    becomes a grouping key, resolved by the analyzer — the
    exploratory-SQL affordance DuckDB popularized. The oracle states
    the same query with explicit keys, so the grade proves the ALL
    resolution picked exactly the non-aggregate columns. Exact
    DECIMAL money sum (D1)."""
    table(spark, sf_dir, "orders").createOrReplaceTempView(
        "orders_gba_v"
    )
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(count(*) AS BIGINT) AS n,
               floor(CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE)
                     * 10000 + 0.5) / 10000 AS total
        FROM orders_gba_v
        GROUP BY ALL
        ORDER BY ALL
        """
    )


# ---------------------------------------------------------------------------
# scan_manifest_prune


@register(
    "scan_manifest_prune",
    # relational statement of the predicate; the operator must reach it
    # through the manifest: stats write, file-level pruning, residual
    oracle="""
SELECT o_orderkey, o_custkey,
       floor(o_totalprice * 10000 + 0.5) / 10000 AS price
FROM orders
WHERE o_orderdate >= TIMESTAMP '1995-01-01'
  AND o_orderdate < TIMESTAMP '1995-07-01'
""",
)
def scan_manifest_prune(spark, sf_dir):
    """Iceberg/Delta-style MANIFEST pruning: data files are committed
    together with a manifest of per-file column min/max stats; a
    reader evaluates the predicate against the MANIFEST first and
    opens only files whose [min,max] interval can contain matches,
    then applies the residual predicate to the survivors.

    Staging writes orders bucketed into date-sorted files (so file
    stats are tight), derives the manifest by scanning the committed
    files' _metadata.file_path with per-file min/max(o_orderdate),
    and persists it. The read path lists the manifest (file-count-
    sized, driver-bounded — the same object an Iceberg planner holds),
    prunes to overlapping files, and reads ONLY those paths. The
    module test proves pruning behaviorally: corrupting a pruned-out
    file does not change the result.

    This is the table-format layer ABOVE scan_rowgroup_stats (parquet
    footer min/max inside a file) and sink_partitioned_pruned
    (partition values in paths): at 100 TB the manifest prunes
    thousands of files without touching storage, footers prune row
    groups within the survivors."""
    data_dir = scratch_dir(spark, "manifest_data")
    man_dir = scratch_dir(spark, "manifest_meta")
    shutil.rmtree(data_dir, ignore_errors=True)
    shutil.rmtree(man_dir, ignore_errors=True)

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )
    # range-partitioned, date-sorted files -> tight, disjoint per-file
    # min/max stats (the layout a clustered/Z-ordered commit produces)
    (
        orders.repartitionByRange(8, "o_orderdate")
        .sortWithinPartitions("o_orderdate")
        .write.mode("overwrite")
        .parquet(data_dir)
    )
    schema = (
        "o_orderkey bigint, o_custkey bigint, o_totalprice double, "
        "o_orderdate timestamp"
    )
    committed = spark.read.schema(schema).parquet(data_dir)
    (
        committed.groupBy(F.col("_metadata.file_path").alias("file_path"))
        .agg(
            F.min("o_orderdate").alias("min_date"),
            F.max("o_orderdate").alias("max_date"),
        )
        .write.mode("overwrite")
        .parquet(man_dir)
    )

    lo, hi = "1995-01-01", "1995-07-01"
    manifest = spark.read.schema(
        "file_path string, min_date timestamp, max_date timestamp"
    ).parquet(man_dir)
    keep = [
        r["file_path"]
        for r in manifest.where(
            (F.col("max_date") >= F.lit(lo).cast("timestamp"))
            & (F.col("min_date") < F.lit(hi).cast("timestamp"))
        ).collect()  # manifest rows = file count: the planner-sized list
    ]
    pruned = spark.read.schema(schema).parquet(*keep)
    return pruned.where(
        (F.col("o_orderdate") >= F.lit(lo).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(hi).cast("timestamp"))
    ).select("o_orderkey", "o_custkey", rnd(F.col("o_totalprice"), "price"))
