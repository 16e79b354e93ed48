"""Time-series operators (hypertable-style): gap-filled resampling with
forward fill, hierarchical time rollups, interpolation, smoothing,
trend, changepoint and anomaly detection. Everything is sequence/
explode/window composition — the continuous-aggregate pattern at any
scale (the grid is per-key and bounded by the key's own time span).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from terasort_spark.catalog import table
from terasort_spark.operators._util import DEC, o_dsum, o_rnd, rnd
from terasort_spark.registry import register


@register(
    "ts_resample",
    oracle=f"""
WITH hourly AS (
  SELECT user_id, time_bucket(INTERVAL 1 HOUR, ts) AS hour,
         count(*) AS n,
         CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_v
  FROM events WHERE user_id < 20
  GROUP BY 1, 2
),
grid AS (
  SELECT user_id,
         unnest(generate_series(min(hour), max(hour), INTERVAL 1 HOUR)) AS hour
  FROM hourly GROUP BY user_id
)
SELECT g.user_id, g.hour,
       coalesce(h.n, 0) AS n_events,
       {o_rnd("last_value(h.sum_v IGNORE NULLS) OVER (PARTITION BY g.user_id ORDER BY g.hour ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)", "ffill_sum")}
FROM grid g LEFT JOIN hourly h ON g.user_id = h.user_id AND g.hour = h.hour
""",
)
def ts_resample(spark, sf_dir):
    """Resample to an hourly grid per user (gap-filling) + forward-fill:
    the TimescaleDB continuous-aggregate / `time_bucket_gapfill` +
    `locf` pattern. The grid is generated per key with sequence()
    (both engines' series are end-inclusive), so empty hours appear with
    n_events=0 and the running sum carries forward."""
    ev = table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    hourly = (
        ev.groupBy("user_id", F.date_trunc("hour", F.col("ts")).alias("hour"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_v"),
        )
    )
    grid = (
        hourly.groupBy("user_id")
        .agg(
            F.sequence(
                F.min("hour"), F.max("hour"), F.expr("INTERVAL 1 HOUR")
            ).alias("hours")
        )
        .select("user_id", F.explode("hours").alias("hour"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    joined = grid.join(hourly, ["user_id", "hour"], "left")
    return joined.select(
        "user_id",
        "hour",
        F.coalesce("n", F.lit(0)).alias("n_events"),
        rnd(F.last("sum_v", ignorenulls=True).over(w), "ffill_sum"),
    )


@register(
    "ts_rollup",
    oracle=f"""
SELECT CAST(year(ts) AS INTEGER) AS yr,
       CAST(month(ts) AS INTEGER) AS mo,
       CAST(day(ts) AS INTEGER) AS dom,
       CAST(grouping(year(ts)) AS INTEGER) AS g_yr,
       CAST(grouping(month(ts)) AS INTEGER) AS g_mo,
       CAST(grouping(day(ts)) AS INTEGER) AS g_dom,
       count(*) AS n,
       {o_dsum("value", "sum_value")}
FROM events
GROUP BY ROLLUP (year(ts), month(ts), day(ts))
""",
)
def ts_rollup(spark, sf_dir):
    """Hierarchical time rollup (day ⊂ month ⊂ year in one pass) — the
    pre-aggregation cascade a hypertable materializes; ROLLUP computes
    all levels from a single shuffle."""
    ev = table(spark, sf_dir, "events").select(
        F.year("ts").alias("yr"), F.month("ts").alias("mo"), F.dayofmonth("ts").alias("dom"), "value"
    )
    return ev.rollup("yr", "mo", "dom").agg(
        F.grouping("yr").cast("int").alias("g_yr"),
        F.grouping("mo").cast("int").alias("g_mo"),
        F.grouping("dom").cast("int").alias("g_dom"),
        F.count(F.lit(1)).alias("n"),
        rnd(F.sum(F.col("value").cast(DEC)).cast("double"), "sum_value"),
    )


# Holt's linear-trend smoothing, fixed 8-step horizon. The recursion is
# UNROLLED into straight-line arithmetic on both engines, so the oracle
# is exact: identical IEEE ops in identical order, no iteration
# machinery anywhere. Smoothing constants are binary-exact.
HOLT_ALPHA = 0.5
HOLT_BETA = 0.25
HOLT_STEPS = 8


def _holt_oracle() -> str:
    a, b = HOLT_ALPHA, HOLT_BETA
    xs = ",\n         ".join(
        f"max(CASE WHEN i = {k} THEN value END) AS x{k}"
        for k in range(1, HOLT_STEPS + 1)
    )
    lines = ["l1 AS (SELECT *, x1 AS l_1, x2 - x1 AS b_1 FROM first8)"]
    for k in range(2, HOLT_STEPS + 1):
        lines.append(
            f"l{k} AS (SELECT *, {a} * x{k} + {1 - a} * (l_{k - 1} + b_{k - 1})"
            f" AS l_{k}, {b} * (({a} * x{k} + {1 - a} * (l_{k - 1} + b_{k - 1}))"
            f" - l_{k - 1}) + {1 - b} * b_{k - 1} AS b_{k} FROM l{k - 1})"
        )
    n = HOLT_STEPS
    chain = ",\n".join(lines)
    return f"""
WITH seq AS (
  SELECT user_id, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS i
  FROM events
),
first8 AS (
  SELECT user_id,
         {xs}
  FROM seq WHERE i <= {n}
  GROUP BY user_id
  HAVING count(*) >= {n}
),
{chain}
SELECT user_id,
       {o_rnd(f'l_{n}', 'level')},
       {o_rnd(f'b_{n}', 'trend')},
       {o_rnd(f'l_{n} + 1 * b_{n}', 'fc_1')},
       {o_rnd(f'l_{n} + 2 * b_{n}', 'fc_2')},
       {o_rnd(f'l_{n} + 3 * b_{n}', 'fc_3')}
FROM l{n}
"""


# Lag-k autocorrelation from exact integer sufficient statistics.
# Values are quantized to 4dp int64 (exact and identical in both
# engines), so every sum/product below is exact integer arithmetic at
# any partitioning; only the final Pearson ratio touches IEEE ops,
# identically on both sides. q <= 5.7e6 (value <= 561), so the sums
# fit BIGINT up to ~2.9e5 events per user; the products m*Saa do not
# past ~6k events, so the query forms them in DECIMAL(38,0).
AC_LAGS = (1, 2, 3)
AC_MIN_EVENTS = 24


def autocorr_oracle() -> str:
    leads = ",\n         ".join(
        f"lead(CAST(floor(value * 10000 + 0.5) AS BIGINT), {k})"
        f" OVER (PARTITION BY user_id ORDER BY ts, event_id) AS q{k}"
        for k in AC_LAGS
    )
    sums = ",\n         ".join(
        f"CAST(count(q{k}) AS BIGINT) AS m{k},\n         "
        f"CAST(sum(CASE WHEN q{k} IS NOT NULL THEN q END) AS BIGINT) AS sa{k},\n         "
        f"CAST(sum(q{k}) AS BIGINT) AS sb{k},\n         "
        f"CAST(sum(CASE WHEN q{k} IS NOT NULL THEN q * q END) AS BIGINT) AS saa{k},\n         "
        f"CAST(sum(q{k} * q{k}) AS BIGINT) AS sbb{k},\n         "
        f"CAST(sum(q * q{k}) AS BIGINT) AS sab{k}"
        for k in AC_LAGS
    )
    rs = ",\n       ".join(
        o_rnd(
            f"CAST(m{k} * sab{k} - sa{k} * sb{k} AS DOUBLE)"
            f" / nullif(sqrt(CAST(m{k} * saa{k} - sa{k} * sa{k} AS DOUBLE))"
            f" * sqrt(CAST(m{k} * sbb{k} - sb{k} * sb{k} AS DOUBLE)), 0)",
            f"r{k}",
        )
        for k in AC_LAGS
    )
    return f"""
WITH seq AS (
  SELECT user_id,
         CAST(floor(value * 10000 + 0.5) AS BIGINT) AS q,
         {leads}
  FROM events WHERE value IS NOT NULL
),
sums AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
         {sums}
  FROM seq GROUP BY user_id
  HAVING count(*) >= {AC_MIN_EVENTS}
)
SELECT user_id, n,
       {rs}
FROM sums
"""


def autocorr_stats(seq_with_leads: DataFrame) -> DataFrame:
    """Per-user lag-k Pearson autocorrelation from ``seq_with_leads``
    (user_id, q, q1..q3): the exact integer sufficient statistics per
    (user, lag) in ONE map-side-combined groupBy, then the Pearson ratio
    in identical IEEE order, so every window strategy and the oracle
    agree exactly. ``m·Σab − Σa·Σb`` and the two variance terms are
    formed in DECIMAL(38,0): in BIGINT, ``m·Σa²`` overflows once one
    user has more than ~6k events."""
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n")]
    for k in AC_LAGS:
        qk = F.col(f"q{k}")
        aggs += [
            F.count(qk).cast("bigint").alias(f"m{k}"),
            F.sum(F.when(qk.isNotNull(), F.col("q"))).alias(f"sa{k}"),
            F.sum(qk).alias(f"sb{k}"),
            F.sum(F.when(qk.isNotNull(), F.col("q") * F.col("q"))).alias(f"saa{k}"),
            F.sum(qk * qk).alias(f"sbb{k}"),
            F.sum(F.col("q") * qk).alias(f"sab{k}"),
        ]
    sums = seq_with_leads.groupBy("user_id").agg(*aggs).filter(
        F.col("n") >= AC_MIN_EVENTS
    )
    out = [F.col("user_id"), F.col("n")]
    for k in AC_LAGS:
        m, sa, sb, saa, sbb, sab = (
            F.col(f"{s}{k}").cast("decimal(38,0)")
            for s in ("m", "sa", "sb", "saa", "sbb", "sab")
        )
        num = (m * sab - sa * sb).cast("double")
        den = F.sqrt((m * saa - sa * sa).cast("double")) * F.sqrt(
            (m * sbb - sb * sb).cast("double")
        )
        out.append(rnd(num / F.when(den != 0, den), f"r{k}"))
    return sums.select(*out)


@register("ts_autocorr", oracle=autocorr_oracle())
def ts_autocorr(spark, sf_dir):
    """Per-entity lag-1/2/3 autocorrelation of the event-value series —
    the seasonality/memory diagnostic behind forecasting-model choice
    (near-zero ACF → ts_ewma suffices; strong lag structure → Holt or
    seasonal models) and behind bot detection (machine traffic shows
    spiky periodic ACF where organic traffic decays smoothly).

    Estimator: Pearson correlation between (x_i) and (x_{i+k}) over
    each user's ts-ordered series, k in {1,2,3}. Values quantize to 4dp
    int64, so all six sufficient statistics per lag (m, Σa, Σb, Σa²,
    Σb², Σab as conditional sums over the defined pairs) are EXACT
    integers at any partitioning; the ratio is evaluated from those
    integers in identical IEEE order on both engines.

    Scale: one window keyed by user_id (high-cardinality — per-task
    state is one user's history, never a global or handful-of-values
    sort) producing the three leads, then ONE map-side-combined groupBy
    to a users-sized table. No self-join: lead() pairs each row with
    its k-successor in the same sort the window already owns."""
    ev = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    q = F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("bigint")
    seq = (
        ev.select("user_id", "ts", "event_id", q.alias("q"))
        .withColumns({f"q{k}": F.lead("q", k).over(w) for k in AC_LAGS})
        .drop("ts", "event_id")
    )
    return autocorr_stats(seq)


@register("ts_holt_forecast", oracle=_holt_oracle())
def ts_holt_forecast(spark, sf_dir):
    """Holt double-exponential (level + trend) smoothing over each
    user's first 8 events, forecasting 1-3 steps ahead — the
    trend-aware upgrade of ts_ewma's flat smoothing, i.e. the shape of
    capacity forecasting / anomaly baselines over entity time series.

    Scale design: ONE shuffle on user_id pivots the bounded first-8
    window into columns (conditional aggregates, map-side combined);
    the coupled recursion l_k = αx_k + (1-α)(l+b), b_k = β(l_k-l) +
    (1-β)b then UNROLLS into straight-line whole-stage-codegen
    arithmetic — no loop, no UDF, no driver state, and the oracle runs
    the literally identical expression DAG, so results are exact. Per-
    key state is a constant 8 columns regardless of history length
    (the smoothing horizon is the operator's parameter, as in any
    streaming EWMA/Holt implementation)."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.withColumn("i", F.row_number().over(w)).filter(
        F.col("i") <= HOLT_STEPS
    )
    first8 = seq.groupBy("user_id").agg(
        *[
            F.max(F.when(F.col("i") == k, F.col("value"))).alias(f"x{k}")
            for k in range(1, HOLT_STEPS + 1)
        ],
        F.count(F.lit(1)).alias("n_pts"),
    ).filter(F.col("n_pts") >= HOLT_STEPS)
    a, bta = HOLT_ALPHA, HOLT_BETA
    # Each step's l_k/b_k is materialized as a NAMED column in its own
    # projection. Inlining them as expression objects instead would
    # duplicate every prior step's subtree (each step references the
    # previous level twice and trend twice → ~3^k node blow-up, seconds
    # of analysis/codegen); multiply-referenced aliases also stop
    # Catalyst's CollapseProject from re-inlining, so the staged plan
    # stays linear in the horizon.
    cur = first8.select(
        "*",
        F.col("x1").alias("l_1"),
        (F.col("x2") - F.col("x1")).alias("b_1"),
    )
    for k in range(2, HOLT_STEPS + 1):
        lp, bp = F.col(f"l_{k - 1}"), F.col(f"b_{k - 1}")
        cur = cur.select(
            "*",
            (a * F.col(f"x{k}") + (1 - a) * (lp + bp)).alias(f"l_{k}"),
        )
        cur = cur.select(
            "*",
            (bta * (F.col(f"l_{k}") - lp) + (1 - bta) * bp).alias(f"b_{k}"),
        )
    l, b = F.col(f"l_{HOLT_STEPS}"), F.col(f"b_{HOLT_STEPS}")
    return cur.select(
        "user_id",
        rnd(l, "level"),
        rnd(b, "trend"),
        rnd(l + 1 * b, "fc_1"),
        rnd(l + 2 * b, "fc_2"),
        rnd(l + 3 * b, "fc_3"),
    )


@register(
    "ts_cusum",
    oracle="""
WITH ev AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
         CAST(floor(CAST(value AS DOUBLE) * 10000 + 0.5) AS BIGINT) AS iv
  FROM events WHERE value IS NOT NULL
),
daily AS (
  SELECT event_type, d, sum(iv) AS sv FROM ev GROUP BY event_type, d
),
st AS (
  SELECT event_type, d,
         sum(sv) OVER (PARTITION BY event_type ORDER BY d) AS pre,
         row_number() OVER (PARTITION BY event_type ORDER BY d) AS t,
         sum(sv) OVER (PARTITION BY event_type) AS total,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM daily
),
c AS (
  SELECT event_type, d, n, n * pre - t * total AS cusum
  FROM st
)
SELECT event_type, cp_date, n_days, max_dev FROM (
  SELECT event_type, d AS cp_date, CAST(n AS BIGINT) AS n_days,
         floor(abs(CAST(cusum AS DOUBLE)) / (n * 10000.0) * 10000 + 0.5)
             / 10000 AS max_dev,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY abs(cusum) DESC, d) AS rk
  FROM c
)
WHERE rk = 1
""",
)
def ts_cusum(spark, sf_dir):
    """CUSUM changepoint detection per event type: the day where the
    cumulative deviation of daily value-sums from the series mean peaks
    — the classical level-shift detector, computed relationally.

    Exactness: per-event values quantize to 4dp integers at the scan,
    so daily sums, prefix sums and the scaled statistic
    n*prefix_t - t*total (= n * classic CUSUM_t, same argmax) are pure
    int64 — bit-identical in both engines; |n*prefix| <= 31 days *
    ~1e11 << 2^63. Only the reported deviation divides back to double,
    floor-rounded.

    Scale: the full-data pass is ONE map-combined groupBy onto
    (event_type, day) — bounded domain, one row per type-day. Every
    window (prefix sum, total, argmax rank) runs over those aggregated
    rows, never raw events: the dq_benford aggregate-before-window
    discipline. A type with years of history still gives its windows
    only ~365 rows/year."""
    ev = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("d")
    ).agg(
        F.sum(
            F.floor(F.col("value").cast("double") * 10000 + F.lit(0.5)).cast(
                "long"
            )
        ).alias("sv")
    )
    w_ord = Window.partitionBy("event_type").orderBy("d")
    w_all = Window.partitionBy("event_type")
    st = daily.select(
        "event_type",
        "d",
        F.sum("sv").over(w_ord).alias("pre"),
        F.row_number().over(w_ord).alias("t"),
        F.sum("sv").over(w_all).alias("total"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    )
    c = st.select(
        "event_type",
        "d",
        "n",
        (F.col("n") * F.col("pre") - F.col("t") * F.col("total")).alias("cusum"),
    )
    w_rank = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("cusum")).desc(), F.asc("d")
    )
    return (
        c.withColumn("rk", F.row_number().over(w_rank))
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("d").alias("cp_date"),
            F.col("n").cast("bigint").alias("n_days"),
            rnd(F.abs("cusum") / (F.col("n") * 10000.0), "max_dev"),
        )
    )


# ---------------------------------------------------------------------------
# ts_theil_sen

_US_PER_DAY = 86400000000.0


@register(
    "ts_theil_sen",
    oracle=f"""
WITH ev AS (
    SELECT user_id, epoch_us(ts) AS t, value AS v
    FROM events WHERE user_id % 10 = 0
),
slopes AS (
    SELECT a.user_id,
           ((b.v - a.v) * {_US_PER_DAY!r}) / CAST(b.t - a.t AS DOUBLE) AS s
    FROM ev a JOIN ev b ON a.user_id = b.user_id AND a.t < b.t
),
ranked AS (
    SELECT user_id, s,
           row_number() OVER (PARTITION BY user_id ORDER BY s) AS rn,
           count(*) OVER (PARTITION BY user_id) AS cnt
    FROM slopes
)
SELECT user_id, CAST(max(cnt) AS BIGINT) AS n_pairs,
       {o_rnd("avg(s)", "slope_per_day", nd=6)}
FROM ranked
WHERE rn IN ((cnt + 1) // 2, (cnt + 2) // 2)
GROUP BY user_id
""",
)
def ts_theil_sen(spark, sf_dir):
    """Theil–Sen robust trend estimator per user: the MEDIAN of all
    pairwise slopes (v_j - v_i)/(t_j - t_i), i < j by time — a 29%-
    breakdown-point trend that one outlier can't drag (vs ts_cusum's
    mean-shift detection and ml_linreg's least squares). Slopes are in
    per-day units (microsecond timestamps scaled by 86400e6, double
    math in the same operation order on both engines), medians take
    the lower/upper-middle average via the explicit row_number
    formula — identical arithmetic in the oracle, 6dp.

    The pair join is per-key (equi-join on user_id with t_a < t_b), so
    cost is Σ n_k²/2 bounded by the largest single key (~67 events →
    ~2.2k pairs at sf0.01), never a cross-corpus product; keys are
    independent and shuffle once on user_id. At 100 TB per-key history
    grows: production bounds pairs per key (sampled pairs estimate the
    same median within stated error) — here the %10 user slice keeps
    the exhibit exact."""
    ev = (
        table(spark, sf_dir, "events")
        .where(F.col("user_id") % 10 == 0)
        .select("user_id", F.unix_micros("ts").alias("t"), F.col("value").alias("v"))
    )
    a = ev.select("user_id", F.col("t").alias("ta"), F.col("v").alias("va"))
    b = ev.select(
        F.col("user_id").alias("ub"),
        F.col("t").alias("tb"),
        F.col("v").alias("vb"),
    )
    slopes = (
        a.join(b, (a.user_id == b.ub) & (a.ta < b.tb))
        .select(
            "user_id",
            (
                ((F.col("vb") - F.col("va")) * F.lit(_US_PER_DAY))
                / (F.col("tb") - F.col("ta")).cast("double")
            ).alias("s"),
        )
    )
    wo = Window.partitionBy("user_id").orderBy("s")
    wc = Window.partitionBy("user_id")
    ranked = slopes.select(
        "user_id",
        "s",
        F.row_number().over(wo).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("cnt"),
    )
    mid = ranked.where(
        (F.col("rn") == F.expr("(cnt + 1) div 2"))
        | (F.col("rn") == F.expr("(cnt + 2) div 2"))
    )
    return mid.groupBy("user_id").agg(
        F.max("cnt").cast("bigint").alias("n_pairs"),
        rnd(F.avg("s"), "slope_per_day", nd=6),
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
# ts_anomaly_mad

_MAD_K = 3.5  # Iglewicz–Hoaglin robust-z cutoff (on raw MAD here)


@register(
    "ts_anomaly_mad",
    oracle=f"""
WITH ev AS (
    SELECT user_id, event_id, value AS v FROM events WHERE user_id % 5 = 0
),
med AS (
    SELECT user_id, avg(v) AS med FROM (
        SELECT user_id, v,
               row_number() OVER (PARTITION BY user_id ORDER BY v, event_id)
                   AS rn,
               count(*) OVER (PARTITION BY user_id) AS cnt
        FROM ev)
    WHERE rn IN ((cnt + 1) // 2, (cnt + 2) // 2)
    GROUP BY user_id
),
mad AS (
    SELECT user_id, avg(ad) AS mad FROM (
        SELECT e.user_id, abs(e.v - m.med) AS ad,
               row_number() OVER (PARTITION BY e.user_id
                   ORDER BY abs(e.v - m.med), e.event_id) AS rn,
               count(*) OVER (PARTITION BY e.user_id) AS cnt
        FROM ev e JOIN med m ON m.user_id = e.user_id)
    WHERE rn IN ((cnt + 1) // 2, (cnt + 2) // 2)
    GROUP BY user_id
)
SELECT e.user_id, e.event_id, {o_rnd("e.v", "value_r")},
       {o_rnd("abs(e.v - m.med)", "abs_dev")}
FROM ev e
JOIN med m ON m.user_id = e.user_id
JOIN mad d ON d.user_id = e.user_id
WHERE d.mad > 0 AND abs(e.v - m.med) > {_MAD_K!r} * d.mad
""",
)
def ts_anomaly_mad(spark, sf_dir):
    """Robust per-user anomaly flags: an event is anomalous when its
    absolute deviation from the user's MEDIAN value exceeds 3.5× the
    user's MEDIAN absolute deviation (Iglewicz–Hoaglin). Medians use
    the explicit lower/upper-middle row_number formula (the
    ts_theil_sen pattern), so every double replays exactly.

    Why next to dq_outliers (moment z-score): one genuine spike
    inflates σ enough to mask adjacent smaller anomalies and drags the
    mean toward itself; median and MAD have a 50% breakdown point, so
    the flags stay anchored to the bulk of the distribution. Two
    median passes = three shuffles on user_id total (values, absolute
    deviations, final join) — per-key cost O(n log n) in the sort,
    keys independent, no cross-key state. The standard robust monitor
    for per-entity metric streams."""
    ev = (
        table(spark, sf_dir, "events")
        .where(F.col("user_id") % 5 == 0)
        .select("user_id", "event_id", F.col("value").alias("v"))
    )

    def median_of(df, col, out):
        wo = Window.partitionBy("user_id").orderBy(F.col(col), "event_id")
        wc = Window.partitionBy("user_id")
        r = df.select(
            "user_id",
            F.col(col),
            F.row_number().over(wo).alias("rn"),
            F.count(F.lit(1)).over(wc).alias("cnt"),
        )
        return (
            r.where(
                (F.col("rn") == F.expr("(cnt + 1) div 2"))
                | (F.col("rn") == F.expr("(cnt + 2) div 2"))
            )
            .groupBy("user_id")
            .agg(F.avg(col).alias(out))
        )

    med = median_of(ev, "v", "med")
    devs = ev.join(med, "user_id").withColumn(
        "ad", F.abs(F.col("v") - F.col("med"))
    )
    mad = median_of(devs, "ad", "mad")
    return (
        devs.join(mad, "user_id")
        .where((F.col("mad") > 0) & (F.col("ad") > F.lit(_MAD_K) * F.col("mad")))
        .select(
            "user_id",
            "event_id",
            rnd(F.col("v"), "value_r"),
            rnd(F.col("ad"), "abs_dev"),
        )
    )


@register(
    "ts_ewma",
    oracle=f"""
WITH recent AS (
  SELECT user_id, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS age
  FROM events
)
SELECT user_id,
       {o_rnd("CAST(sum(CAST(value * power(0.5, age - 1) AS DECIMAL(25,6))) AS DOUBLE) / CAST(sum(CAST(power(0.5, age - 1) AS DECIMAL(25,6))) AS DOUBLE)", "ewma")}
FROM recent
WHERE age <= 20
GROUP BY user_id
""",
)
def ts_ewma(spark, sf_dir):
    """Exponentially-weighted moving average (alpha=0.5) of each user's
    latest 20 events. The recursive EWMA is restated in closed form as a
    normalized weighted sum over a bounded recency window, so it's one
    shuffle (by user) + one window + one agg — no iterative pass. The
    20-row bound keeps the 0.5^age weights representable at any history
    length; weighted terms sum through DECIMAL for order-invariance."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    weight = F.pow(0.5, F.col("age") - 1)
    return (
        ev.withColumn("age", F.row_number().over(w))
        .filter(F.col("age") <= 20)
        .groupBy("user_id")
        .agg(
            rnd(
                F.sum((F.col("value") * weight).cast(DEC)).cast("double")
                / F.sum(weight.cast(DEC)).cast("double"),
                "ewma",
            )
        )
    )


@register(
    "ts_interpolate",
    oracle="""
WITH daily AS (
    SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
           avg(value) AS v
    FROM events WHERE user_id % 50 = 0 AND event_type = 'purchase'
    GROUP BY 1, 2
),
spine AS (
    SELECT user_id,
           CAST(unnest(generate_series(min(day), max(day),
                                       INTERVAL 1 DAY)) AS DATE) AS day
    FROM daily GROUP BY user_id
),
joined AS (
    SELECT s.user_id, s.day, d.v,
           last_value(d.v IGNORE NULLS) OVER w_prev AS pv,
           last_value(CASE WHEN d.v IS NOT NULL THEN s.day END IGNORE NULLS)
               OVER w_prev AS pd,
           first_value(d.v IGNORE NULLS) OVER w_next AS nv,
           first_value(CASE WHEN d.v IS NOT NULL THEN s.day END IGNORE NULLS)
               OVER w_next AS nd
    FROM spine s LEFT JOIN daily d USING (user_id, day)
    WINDOW
      w_prev AS (PARTITION BY user_id ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      w_next AS (PARTITION BY user_id ORDER BY day
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, day,
       floor((CASE
           WHEN v IS NOT NULL THEN v
           WHEN pv IS NULL THEN nv
           WHEN nv IS NULL THEN pv
           ELSE pv + (nv - pv) * date_diff('day', pd, day)
                              / date_diff('day', pd, nd)
       END) * 10000 + 0.5) / 10000 AS v_interp,
       (v IS NULL) AS filled
FROM joined
""",
)
def ts_interpolate(spark, sf_dir):
    """Time-series gap filling with linear interpolation (the
    Timescale/InfluxDB `interpolate()` operator): build each user's
    complete day spine, left-join observed daily averages, and fill
    gaps linearly between the previous and next observation (edges
    carry the nearest value). `filled` marks synthesized rows.

    Scale notes: one shuffle keys everything by user_id; the spine
    explode is a narrow constant-bounded expansion; both IGNORE NULLS
    windows run in the SAME sort order (day) over the same partition
    key, so Catalyst executes them in one Window pass each direction
    with no extra exchange. State per user = one running (value, day)
    pair per direction."""
    ev = table(spark, sf_dir, "events")
    daily = (
        ev.where((F.col("user_id") % 50 == 0) & (F.col("event_type") == "purchase"))
        .groupBy(
            "user_id",
            F.date_trunc("day", "ts").cast("date").alias("day"),
        )
        .agg(F.avg("value").alias("v"))
    )
    spine = daily.groupBy("user_id").agg(
        F.explode(
            F.sequence(F.min("day"), F.max("day"), F.expr("INTERVAL 1 DAY"))
        ).alias("day")
    )
    j = spine.join(daily, ["user_id", "day"], "left")
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_day = F.when(F.col("v").isNotNull(), F.col("day"))
    j = j.select(
        "user_id",
        "day",
        "v",
        F.last("v", ignorenulls=True).over(w_prev).alias("pv"),
        F.last(obs_day, ignorenulls=True).over(w_prev).alias("pd"),
        F.first("v", ignorenulls=True).over(w_next).alias("nv"),
        F.first(obs_day, ignorenulls=True).over(w_next).alias("nd"),
    )
    interp = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .otherwise(
            F.col("pv")
            + (F.col("nv") - F.col("pv"))
            * F.datediff(F.col("day"), F.col("pd"))
            / F.datediff(F.col("nd"), F.col("pd"))
        )
    )
    return j.select(
        "user_id",
        "day",
        rnd(interp, "v_interp"),
        F.col("v").isNull().alias("filled"),
    )
