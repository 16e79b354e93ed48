"""Rule-style rewrite: hot-key per-entity lead-windows → two-phase
bucketed windows, selected from a measured skew sketch (r11 VERDICT
task 4 — promote SCALE.md's hand dial to a plan-builder rule).

The per-user lead-window shape ("window over a high-cardinality key
feeding one map-side-combined groupBy": ts_autocorr, ts_holt_forecast,
ts_cusum) has a measured performance DIAL (SCALE.md round-11 decades,
``scripts/probe.py window``): the plain single-window form wins on
uniform keys (the two-phase rewrite pays a second exchange for
nothing — 1.6–2.8× slower), but once one key owns a large share of all
rows the plain form serializes the whole job behind a single task's
sort (6.9×/5.1× measured recovery at 50% skew; at 100 TB a 10% key is
10 TB in ONE task — an OOM cliff, not a slowdown). Catalyst's AQE
handles skewed JOINS but has no rule for skewed WINDOWS, so this
module is the ``Rule[LogicalPlan]`` equivalent, mirroring
plans/similarity_rewrite.py's size-driven strategy selection:

  max key share  <  WIN_SKEW_SHARE_CUT  →  plain per-key window
  max key share  >= WIN_SKEW_SHARE_CUT  →  two-phase bucketed window
                                           with exact boundary repair

The skew statistic comes from a CHEAP deterministic sample — one
column-pruned pass over (user_id, event_id) keeping rows whose
xxhash64(event_id) ≡ 0 (mod n/target): content-addressed like the
sampling family, so the decision is partition-/retry-invariant.
A cluster catalog would serve the same statistic from NDV/heavy-hitter
table stats without any scan; ``estimate_rows`` (parquet footers)
already sizes the sample modulus driver-side.

Crucially the rewrite is SEMANTICS-PRESERVING, not approximate: the
two-phase form computes lead-k within (user, hour-bucket) windows —
per-task sort state drops from all-events-of-user to
events-per-(user, bucket) — and repairs bucket-edge rows with a
per-user window over ONLY edge-resident rows. The reduced edge
sequence provably contains every true k-successor of an edge row (a
row within k of its bucket's end has successors each within k of a
bucket edge, by induction over intervening rows), so both strategies
emit identical rows and ONE oracle grades either plan
(tests/test_plans.py asserts parity and the chosen physical shape on a
skewed fixture; the declared query below hash-grades against the
plain-form SQL).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from terasort_spark.catalog import estimate_rows, table
from terasort_spark.operators.timeseries import AC_LAGS, autocorr_oracle, autocorr_stats
from terasort_spark.registry import register

# Measured crossover (SCALE.md r11 lead-window decades): at 10% hot
# share the rewrite roughly breaks even locally (1.67× win at 100M,
# loss at 200M); at 50% it wins 5.1–6.9×. 0.25 sits safely above the
# noisy break-even. On a real cluster this dial belongs lower (a 10%
# key is an OOM cliff at 100 TB, so memory — not speed — forces the
# rewrite); it is a module constant, not magic, for exactly that reason.
WIN_SKEW_SHARE_CUT = 0.25

# Target sample size for the heavy-hitter pass: 4096 rows bounds the
# share estimate's error at ~±1.6% (1/sqrt(n)) — far from the cut.
WIN_SKEW_SAMPLE = 4096

# Two-phase bucket width over event time (seconds): one hour, matching
# the probe. Wider buckets → less repair work but taller in-bucket
# sorts; the width bounds per-task window state at
# events-per-(user, hour).
WIN_BUCKET_S = 3600

MAXLAG = max(AC_LAGS)


def max_key_share(spark, sf_dir: str) -> float:
    """Estimated share of the hottest user_id among events rows, from a
    deterministic ~WIN_SKEW_SAMPLE-row hash sample. One column-pruned
    scan; the groupBy runs over the tiny sample."""
    n = estimate_rows(sf_dir, "events")
    mod = max(1, n // WIN_SKEW_SAMPLE)
    ev = table(spark, sf_dir, "events").select("user_id", "event_id")
    samp = ev.filter(F.pmod(F.xxhash64("event_id"), F.lit(mod)) == 0)
    top = (
        samp.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.max("c").alias("mx"), F.sum("c").alias("tot"))
        .collect()[0]
    )
    if not top.tot:
        return 0.0
    return float(top.mx) / float(top.tot)


def choose_strategy(spark, sf_dir: str) -> str:
    """'plain' | 'bucketed' from the measured skew sketch."""
    share = max_key_share(spark, sf_dir)
    return "bucketed" if share >= WIN_SKEW_SHARE_CUT else "plain"


def lead_columns(seq: DataFrame, strategy: str) -> DataFrame:
    """``seq`` (user_id, ts, event_id, q) plus lead-k columns ``q1..q3``
    in (ts, event_id) order per user_id, by the named strategy.

    'plain' is the reference form: ONE window keyed by user_id.

    'bucketed' is the two-phase hot-key rewrite with exact boundary
    repair. Phase 1: lead-k within (user_id, hour-bucket) windows; rows
    whose k-successor crosses the bucket edge see NULL here. rb/re are the
    in-bucket ranks from start/end (same-ts rows share a bucket, so
    the bucket is monotone in the (ts, event_id) order).

    Phase 2: rows within MAXLAG of a bucket edge re-window per user
    over the reduced edge-resident sequence; rows with re <= MAXLAG
    take ALL their leads from it (for k < re the in-bucket lead is
    also correct, and equal — both name the true k-successor, which is
    edge-resident by the induction in the module docstring)."""
    if strategy != "bucketed":
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        return seq.withColumns(
            {f"q{k}": F.lead("q", k).over(w) for k in AC_LAGS}
        )
    b = seq.withColumn(
        "bucket", F.floor(F.col("ts").cast("bigint") / WIN_BUCKET_S)
    )
    wb = Window.partitionBy("user_id", "bucket").orderBy("ts", "event_id")
    cnt = F.count(F.lit(1)).over(Window.partitionBy("user_id", "bucket"))
    df = (
        b.withColumns({f"q{k}": F.lead("q", k).over(wb) for k in AC_LAGS})
        .withColumn("rb", F.row_number().over(wb))
        .withColumn("re", cnt - F.row_number().over(wb) + 1)
    )
    interior = df.filter(F.col("re") > MAXLAG).select(
        "user_id", "ts", "event_id", "q", *[f"q{k}" for k in AC_LAGS]
    )
    edge = df.filter(
        (F.col("rb") <= MAXLAG) | (F.col("re") <= MAXLAG)
    ).select("user_id", "ts", "event_id", "q", "re")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    repaired = (
        edge.withColumns(
            {f"q{k}": F.lead("q", k).over(wu) for k in AC_LAGS}
        )
        .filter(F.col("re") <= MAXLAG)
        .select("user_id", "ts", "event_id", "q", *[f"q{k}" for k in AC_LAGS])
    )
    return interior.unionByName(repaired)


def autocorr_autoplan(
    spark, sf_dir: str, strategy: str | None = None
) -> DataFrame:
    """ts_autocorr's semantics through the skew-dialed planner.
    ``strategy`` forces a physical form (tests); None measures."""
    if strategy is None:
        strategy = choose_strategy(spark, sf_dir)
    ev = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    q = F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("bigint")
    seq = ev.select("user_id", "ts", "event_id", q.alias("q"))
    return autocorr_stats(lead_columns(seq, strategy).drop("ts", "event_id"))


@register("ts_autocorr_autoplan", oracle=autocorr_oracle())
def ts_autocorr_autoplan(spark, sf_dir):
    """Skew-adaptive per-entity autocorrelation: identical output to
    ``ts_autocorr`` (same oracle grades both), but the physical window
    strategy is CHOSEN by the measured hot-key share — plain single
    window on uniform keys (the shipped SFs land here), two-phase
    bucketed windows with exact boundary repair past the measured
    crossover (WIN_SKEW_SHARE_CUT). The strategies are
    checksum-identical by construction and by test on a 50 %-hot
    fixture (tests/test_plans.py)."""
    return autocorr_autoplan(spark, sf_dir)
