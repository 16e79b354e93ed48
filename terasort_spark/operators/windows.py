"""Window function operators (SURVEY.md §2b — win_* family).

Every window partitions by a real key (segment / user) so state stays
bounded per partition at any scale; the only global window in the engine
is sort_rank (sorts.py), which documents its two-pass 100 TB variant.
Ordering always includes a unique key tie-break (determinism rule D3).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from terasort_spark.catalog import table
from terasort_spark.operators._util import DEC, o_rnd, rnd
from terasort_spark.registry import register


@register(
    "win_rank",
    oracle="""
SELECT c_custkey, c_mktsegment,
       CAST(row_number() OVER w AS INTEGER) AS rn,
       CAST(rank() OVER w AS INTEGER) AS rnk,
       CAST(dense_rank() OVER w AS INTEGER) AS drnk
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
""",
)
def win_rank(spark, sf_dir):
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
    )


@register(
    "win_runsum",
    oracle=f"""
SELECT event_id, user_id,
       {o_rnd("CAST(sum(CAST(value AS DECIMAL(25,6))) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)", "run_sum")}
FROM events
""",
)
def win_runsum(spark, sf_dir):
    # Running sum in exact decimal: prefix sums of doubles would expose
    # accumulation-order noise at the 4dp contract once partitions grow.
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        rnd(F.sum(F.col("value").cast(DEC)).over(w).cast("double"), "run_sum"),
    )


@register(
    "win_sliding",
    oracle=f"""
SELECT event_id, user_id,
       {o_rnd("CAST(sum(CAST(value AS DECIMAL(25,6))) OVER w AS DOUBLE) / count(*) OVER w", "mov_avg")}
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
""",
)
def win_sliding(spark, sf_dir):
    # Moving average as exact-sum / count — identical division inputs on
    # both engines, so the floor-round matches bit-for-bit.
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    mov = F.sum(F.col("value").cast(DEC)).over(w).cast("double") / F.count(
        F.lit(1)
    ).over(w)
    return table(spark, sf_dir, "events").select(
        "event_id", "user_id", rnd(mov, "mov_avg")
    )


@register(
    "win_range",
    oracle="""
SELECT event_id, user_id,
       count(*) OVER w AS n_last_hour
FROM (SELECT *, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec FROM events)
WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
""",
)
def win_range(spark, sf_dir):
    # RANGE frame over event-time: order by integer epoch seconds so both
    # engines agree on frame membership (fractional-second semantics
    # differ between Spark rangeBetween and DuckDB RANGE over intervals).
    ev = table(spark, sf_dir, "events").withColumn(
        "ts_sec", F.unix_timestamp("ts")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_sec")
        .rangeBetween(-3600, Window.currentRow)
    )
    return ev.select(
        "event_id", "user_id", F.count(F.lit(1)).over(w).alias("n_last_hour")
    )


@register(
    "win_leadlag",
    oracle=f"""
SELECT event_id, user_id,
       {o_rnd("lag(value, 1, 0.0) OVER w", "prev_value")},
       {o_rnd("lead(value, 1, -1.0) OVER w", "next_value")}
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
)
def win_leadlag(spark, sf_dir):
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        rnd(F.lag("value", 1, 0.0).over(w), "prev_value"),
        rnd(F.lead("value", 1, -1.0).over(w), "next_value"),
    )


@register(
    "win_ntile",
    oracle=f"""
SELECT o_orderkey, o_orderstatus,
       CAST(ntile(4) OVER w AS INTEGER) AS quartile,
       {o_rnd("percent_rank() OVER w", "pct_rank")},
       {o_rnd("cume_dist() OVER w", "cume")}
FROM orders
WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey)
""",
)
def win_ntile(spark, sf_dir):
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.ntile(4).over(w).alias("quartile"),
        rnd(F.percent_rank().over(w), "pct_rank"),
        rnd(F.cume_dist().over(w), "cume"),
    )


@register(
    "win_firstlast",
    oracle=f"""
SELECT c_custkey, c_mktsegment,
       {o_rnd("first_value(c_acctbal) OVER w", "top_bal")},
       {o_rnd("last_value(c_acctbal) OVER w", "bottom_bal")},
       {o_rnd("nth_value(c_acctbal, 2) OVER w", "second_bal")}
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
""",
)
def win_firstlast(spark, sf_dir):
    w = (
        Window.partitionBy("c_mktsegment")
        .orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        rnd(F.first("c_acctbal").over(w), "top_bal"),
        rnd(F.last("c_acctbal").over(w), "bottom_bal"),
        rnd(F.nth_value("c_acctbal", 2).over(w), "second_bal"),
    )


@register(
    "win_pctrank",
    oracle="""
SELECT l_orderkey, l_linenumber,
       floor(percent_rank() OVER w * 10000 + 0.5) / 10000 AS pct_rank,
       floor(cume_dist() OVER w * 10000 + 0.5) / 10000 AS cume
FROM lineitem
WHERE l_suppkey < 20
WINDOW w AS (PARTITION BY l_suppkey
             ORDER BY l_extendedprice, l_orderkey, l_linenumber)
""",
)
def win_pctrank(spark, sf_dir):
    """Relative-position window functions: percent_rank (rank-1)/(n-1)
    and cume_dist (rows ≤ current)/n per supplier ordered by price —
    the normalized-score shape behind percentile features and outlier
    flags. Deterministic: the order key is made unique with the
    (orderkey, linenumber) tie-break, so both engines assign identical
    ranks. Partitioned by a real key — bounded state per task, no
    global window."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") < 20)
    w = Window.partitionBy("l_suppkey").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        rnd(F.percent_rank().over(w), "pct_rank"),
        rnd(F.cume_dist().over(w), "cume"),
    )


@register(
    "win_median",
    oracle=f"""
SELECT event_id, user_id,
       {o_rnd("median(value) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)", "roll_median")}
FROM events
WHERE user_id < 20
""",
)
def win_median(spark, sf_dir):
    """Rolling median (5-row frame) per user — the robust-smoothing twin
    of win_sliding's moving average. Spark disallows median() with a
    window frame, so the frame is materialized as a sorted collect_list
    (bounded: 5 elements) and the midpoint interpolated explicitly —
    (arr[(n+1)//2] + arr[n//2+1]) / 2 covers odd and even counts with
    one expression. Constant-size frame → constant per-row cost at any
    scale."""
    ev = table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, Window.currentRow)
    )
    arr = F.sort_array(F.collect_list("value").over(w))
    n = F.size(arr)
    lo = F.element_at(arr, ((n + 1) / 2).cast("int"))
    hi = F.element_at(arr, (n / 2).cast("int") + 1)
    # collect_list drops NULLs, so an all-NULL frame has n = 0: the
    # median is NULL (matching median() semantics), never index 0
    med = F.when(n > 0, (lo + hi) / 2.0)
    return ev.select("event_id", "user_id", rnd(med, "roll_median"))


@register(
    "win_ignorenulls",
    oracle="""
SELECT event_id, user_id,
       last_value(v IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY ts, event_id) AS fill_fwd,
       nth_value(v, 2 IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_v
FROM (
  SELECT event_id, user_id, ts,
         CASE WHEN event_type = 'error' THEN NULL
              ELSE floor(value * 10000 + 0.5) / 10000 END AS v
  FROM events
)
WHERE user_id < 10
""",
)
def win_ignorenulls(spark, sf_dir):
    """IGNORE NULLS window semantics: forward-fill (last non-null so
    far) and the partition's second non-null value. NULLs are
    manufactured by voiding 'error' events — the gap-repair pattern for
    sensor/event streams. One shuffle on user_id serves both windows."""
    ev = table(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    v = F.when(F.col("event_type") == "error", F.lit(None)).otherwise(
        rnd(F.col("value"))
    )
    ordered = Window.partitionBy("user_id").orderBy("ts", "event_id")
    full = ordered.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return ev.withColumn("v", v).select(
        "event_id",
        "user_id",
        F.last("v", ignorenulls=True).over(ordered).alias("fill_fwd"),
        F.nth_value("v", 2, ignoreNulls=True).over(full).alias("second_v"),
    )
