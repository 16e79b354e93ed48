"""Round-11 wave: transformWithState on the graded surface.

PySpark 4's transformWithStateInPandas (the successor of
applyInPandasWithState: explicit ValueState/ListState/MapState handles,
timers, a processor lifecycle) needs the google-protobuf runtime for
its state-server wire protocol, which this container lacks. The
repo-root ``usercustomize`` hook + ``streaming/state_message_shim.py``
(a pure-Python proto3 codec for Spark's public StateMessage.proto)
close that gap, so the operator family graduates from "2 documented
pytest skips" (r10 VERDICT task 5) to a real, hash-graded query.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import functions as F

from terasort_spark.catalog import table
from terasort_spark.operators._util import hex_int, o_hex_int, rnd, scratch_dir
from terasort_spark.registry import register

_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def _tws_scope(spark):
    """Conf scope every transformWithState query runs under: the
    RocksDB provider (the API requires multi-column-family state) and
    the micro-batch shuffle width (state partition count — see
    _util.stream_shuffle_width; 32 batch-sized partitions cost one
    RocksDB open/close + one Python state worker each, per micro-batch,
    for batch-sized input). Both restored on exit; neither affects the
    result (the fold is key-partitioned and order-free)."""
    from terasort_spark.operators._util import (
        scoped_confs,
        stream_shuffle_width,
    )

    return scoped_confs(
        spark,
        {
            "spark.sql.streaming.stateStore.providerClass": _ROCKSDB_PROVIDER,
            "spark.sql.shuffle.partitions": stream_shuffle_width(spark),
            # Changelog checkpointing writes per-batch deltas instead of
            # uploading a full RocksDB snapshot per store per commit —
            # the recommended low-latency production mode, and locally a
            # measured ~30% cut on the 3-batch replays (r12 A/B).
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled": "true",
        },
    )


def _ensure_state_codec(spark) -> None:
    """Make the StateMessage codec importable in EVERY Python process of
    this session. Two pieces:

    - driver: importing ``usercustomize`` registers the meta-path finder
      (a no-op when a real google-protobuf is installed — the finder is
      only registered when ``google.protobuf.descriptor`` is absent);
    - workers (Arrow workers AND transformWithState's driver-side init
      runner): each python function carries ``sc.environment`` as its
      worker env, so putting the repo root on its PYTHONPATH makes
      worker interpreters import the same ``usercustomize`` at startup
      — this works even when the JVM was launched by an EXTERNAL driver
      (the grading harness) whose env we never controlled. The worker
      interpreter loads the hook via usercustomize (user-site enabled)
      or the repo-root sitecustomize fallback (venv / python -s)."""
    import usercustomize

    usercustomize.install()  # explicit + idempotent (r11 ADVICE)

    repo = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    env = spark.sparkContext.environment
    pp = env.get("PYTHONPATH", "")
    if repo not in pp.split(os.pathsep):
        env["PYTHONPATH"] = repo + (os.pathsep + pp if pp else "")


@register(
    "stream_transformwithstate",
    oracle="""
SELECT user_id,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS total_cents,
       CAST(count(*) AS BIGINT) AS n_events
FROM events
WHERE value IS NOT NULL
GROUP BY user_id
""",
)
def stream_transformwithstate(spark, sf_dir):
    """REAL transformWithStateInPandas fold, hash-graded: events replay
    through a file stream in three chunks; a StatefulProcessor keeps an
    explicit ValueState of exact (total_cents, n) per user, updated per
    micro-batch; after the replay the LAST emission per user (the
    running totals are strictly monotone in n, so max-by-struct picks
    it) must hash-equal the plain batch aggregate — streaming fold ≡
    batch groupBy, the same contract every stream operator here grades
    under, now for the Spark-4 stateful API.

    Cents quantization keeps the fold exact at any batch boundary
    (int64 adds commute; float sums would not). State store is RocksDB
    — transformWithState requires multi-column-family state, which the
    HDFS provider rejects by Spark design; the conf is scoped and
    restored. At 100 TB this is the live-aggregation shape: state is
    partitioned by the grouping key across executors, each key's state
    is O(1), and micro-batches shuffle only their own rows."""
    _ensure_state_codec(spark)
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    from terasort_spark.streaming.replay import (
        read_stream,
        run_to_memory,
        stage_chunks,
    )

    replay_dir = scratch_dir(spark, "tws_replay")
    stagers = stage_chunks(spark, sf_dir, replay_dir, n_chunks=3)

    class RunningTotals(StatefulProcessor):
        def init(self, handle):
            self._s = handle.getValueState("tot", "total bigint, n bigint")

        def handleInputRows(self, key, rows, timerValues):
            import math

            # get() returns None for absent state — the exists()
            # pre-check was a second state-server round trip per key
            # per batch (r12; the pure-Python codec pays per message)
            cur = self._s.get()
            t, n = tuple(cur) if cur is not None else (0, 0)
            for pdf in rows:
                v = pdf["value"].dropna()
                t += int(
                    sum(int(math.floor(x * 100 + 0.5)) for x in v)
                )
                n += int(len(v))
            self._s.update((t, n))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "total_cents": [t],
                    "n_events": [n],
                }
            )

        def close(self):
            pass

    counted = (
        read_stream(spark, replay_dir)
        .filter(F.col("value").isNotNull())
        .groupBy("user_id")
        .transformWithStateInPandas(
            RunningTotals(),
            outputStructType=(
                "user_id bigint, total_cents bigint, n_events bigint"
            ),
            outputMode="Update",
            timeMode="None",
        )
    )
    with _tws_scope(spark):
        got = run_to_memory(counted, "tws_graded", "update", stagers, spark)
    return (
        got.groupBy("user_id")
        .agg(F.max(F.struct("n_events", "total_cents")).alias("s"))
        .select(
            "user_id",
            F.col("s.total_cents").cast("bigint").alias("total_cents"),
            F.col("s.n_events").cast("bigint").alias("n_events"),
        )
    )


@register(
    "stream_tws_liststate",
    oracle="""
WITH c AS (
  SELECT user_id, event_id,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC)
             AS rn,
         CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_events
  FROM events WHERE value IS NOT NULL
)
SELECT user_id,
       string_agg(CAST(cents AS VARCHAR), '|' ORDER BY event_id) AS last3,
       any_value(n_events) AS n_events
FROM c WHERE rn <= 3
GROUP BY user_id
""",
)
def stream_tws_liststate(spark, sf_dir):
    """transformWithState ListState fold, hash-graded: per user, keep
    the cents of the LAST 3 events (by event_id) across micro-batches
    plus a running count — the bounded-recency buffer every
    feature-store / fraud pipeline keeps per entity. Each batch reads
    the standing list back through the state server's ListStateGet
    iterator and puts the capped merge, so ListStateGet / ListStatePut
    cross the pure-Python codec on the graded path (single fetch at
    this list size; the multi-fetch requireNextFetch decode is
    unit-tested in tests/test_wave15.py). Final emission per user must
    hash-equal the batch window query (rows with rn<=3 by event_id
    desc). Bounded state: 3 tuples + 1 counter per key at any corpus
    size."""
    _ensure_state_codec(spark)
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    from terasort_spark.streaming.replay import (
        read_stream,
        run_to_memory,
        stage_chunks,
    )

    replay_dir = scratch_dir(spark, "tws_list_replay")
    stagers = stage_chunks(spark, sf_dir, replay_dir, n_chunks=3)

    class Last3(StatefulProcessor):
        def init(self, handle):
            self._l = handle.getListState("vals", "eid bigint, c bigint")
            self._n = handle.getValueState("n", "n bigint")

        def handleInputRows(self, key, rows, timerValues):
            import math

            # absent ListState iterates empty and absent ValueState
            # gets None — both exists() pre-checks were extra state-
            # server round trips per key per batch (r12)
            cur = list(self._l.get())
            nv = self._n.get()
            n = nv[0] if nv is not None else 0
            for pdf in rows:
                pdf = pdf.dropna(subset=["value"]).sort_values("event_id")
                for eid, v in zip(pdf["event_id"], pdf["value"]):
                    cur.append((int(eid), int(math.floor(v * 100 + 0.5))))
                    n += 1
            cur.sort()
            cur = cur[-3:]
            self._l.put(cur)
            self._n.update((n,))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    # '|'-joined (arrays are driver-unhashable in the
                    # grading canonicalizer; the string is total-ordered
                    # by event_id so it is deterministic)
                    "last3": ["|".join(str(c) for _, c in cur)],
                    "n_events": [n],
                }
            )

        def close(self):
            pass

    folded = (
        read_stream(spark, replay_dir)
        .filter(F.col("value").isNotNull())
        .groupBy("user_id")
        .transformWithStateInPandas(
            Last3(),
            outputStructType=(
                "user_id bigint, last3 string, n_events bigint"
            ),
            outputMode="Update",
            timeMode="None",
        )
    )
    with _tws_scope(spark):
        got = run_to_memory(folded, "tws_list", "update", stagers, spark)
    return (
        got.groupBy("user_id")
        .agg(F.max(F.struct("n_events", "last3")).alias("s"))
        .select(
            "user_id",
            F.col("s.last3").alias("last3"),
            F.col("s.n_events").cast("bigint").alias("n_events"),
        )
    )


@register(
    "stream_tws_mapstate",
    oracle="""
SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
FROM events
GROUP BY user_id, event_type
""",
)
def stream_tws_mapstate(spark, sf_dir):
    """transformWithState MapState fold, hash-graded: per user, a map
    event_type -> count updated each micro-batch (GetValue /
    UpdateValue / the paginated Iterator all cross the state server
    through the pure-Python codec), emitting the full map as rows after
    every batch; the final per-(user, type) count must hash-equal the
    batch groupBy. This is the per-entity categorical-profile shape
    (user agent mix, event-type histograms) with O(distinct types)
    state per key."""
    _ensure_state_codec(spark)
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    from terasort_spark.streaming.replay import (
        read_stream,
        run_to_memory,
        stage_chunks,
    )

    replay_dir = scratch_dir(spark, "tws_map_replay")
    stagers = stage_chunks(spark, sf_dir, replay_dir, n_chunks=3)

    class TypeCounts(StatefulProcessor):
        def init(self, handle):
            self._m = handle.getMapState("tc", "t string", "n bigint")

        def handleInputRows(self, key, rows, timerValues):
            # dropna=False + an explicit sentinel key: plain
            # value_counts() silently drops NULL event_type while the
            # oracle's GROUP BY keeps the NULL group (r11 ADVICE; zero
            # nulls at shipped SFs, but the fold must stay NULL-correct).
            #
            # Round-trip budget (r12): read the WHOLE standing map once
            # through the paginated iterator (absent state iterates
            # empty by the client contract), merge the batch locally,
            # and UpdateValue only the types this batch touched — was
            # containsKey + GetValue + UpdateValue per (type, batch),
            # ~3x the state-server messages for the same final map. The
            # emission is built from the merged local view, which equals
            # the post-update store contents exactly.
            NULL_KEY = "\x00null\x00"
            cur = {k[0]: v[0] for k, v in self._m.iterator()}
            upd: dict = {}
            for pdf in rows:
                vc = pdf["event_type"].value_counts(dropna=False)
                for t, cnt in vc.items():
                    t = NULL_KEY if pd.isna(t) else t
                    upd[t] = upd.get(t, 0) + int(cnt)
            for t, c in upd.items():
                n = cur.get(t, 0) + c
                cur[t] = n
                self._m.updateValue((t,), (n,))
            out = sorted(cur.items())
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(out),
                    "event_type": [
                        None if t == NULL_KEY else t for t, _ in out
                    ],
                    "n": [n for _, n in out],
                }
            )

        def close(self):
            pass

    folded = (
        read_stream(spark, replay_dir)
        .groupBy("user_id")
        .transformWithStateInPandas(
            TypeCounts(),
            outputStructType="user_id bigint, event_type string, n bigint",
            outputMode="Update",
            timeMode="None",
        )
    )
    with _tws_scope(spark):
        got = run_to_memory(folded, "tws_map", "update", stagers, spark)
    return (
        got.groupBy("user_id", "event_type")
        .agg(F.max("n").cast("bigint").alias("n"))
    )


# ---------------------------------------------------------------------------
# agg_hll_exact — a PORTABLE HyperLogLog whose sketch is hash-graded

_HLL_P = 8
_HLL_M = 1 << _HLL_P  # 256 registers
_HLL_WBITS = 60 - _HLL_P  # 15 md5 hex digits = 60-bit hash, 52-bit suffix
_HLL_POW = 1 << (_HLL_WBITS + 1)  # 2^53, exact in int64 AND double
_HLL_COLS = ("o_custkey", "o_orderkey", "o_orderstatus")
# estimate = alpha_m * m^2 * 2^53 / S, spelled IDENTICALLY in both
# engines so IEEE evaluation order matches bit for bit
# E-notation literals: bare decimals parse as DECIMAL in BOTH Spark
# and DuckDB, whose scaled arithmetic rounds differently from IEEE;
# 0.7213E0 is a DOUBLE literal in both.
_HLL_EST = (
    f"0.7213E0 / (1.0E0 + 1.079E0 / {_HLL_M}.0E0) * {_HLL_M * _HLL_M}.0E0"
    f" * {_HLL_POW}.0E0"
)


def _hll_oracle() -> str:
    from terasort_spark.operators._util import o_rnd

    parts = []
    for c in _HLL_COLS:
        parts.append(
            f"""
SELECT '{c}' AS col_name, reg_sum, v_zero,
  {o_rnd(
      f"CASE WHEN {_HLL_EST} / reg_sum <= {2.5 * _HLL_M} AND v_zero > 0 "
      f"THEN {_HLL_M}.0E0 * ln({_HLL_M}.0E0 / v_zero) "
      f"ELSE {_HLL_EST} / reg_sum END",
      "est",
  )},
  (SELECT CAST(count(DISTINCT {c}) AS BIGINT) FROM orders) AS n_exact
FROM (
  SELECT CAST(sum(1::BIGINT << ({_HLL_WBITS + 1} - mx)) AS BIGINT)
           + ({_HLL_M} - CAST(count(*) AS BIGINT)) * {_HLL_POW} AS reg_sum,
         {_HLL_M} - CAST(count(*) AS BIGINT) AS v_zero
  FROM (
    SELECT b, max(rho) AS mx FROM (
      SELECT h % {_HLL_M} AS b,
             CASE WHEN h // {_HLL_M} = 0 THEN {_HLL_WBITS + 1}
                  ELSE {_HLL_WBITS + 1} - length(bin(h // {_HLL_M}))
             END AS rho
      FROM (
        SELECT {o_hex_int(f"md5(CAST({c} AS VARCHAR))", 15)} AS h
        FROM orders WHERE {c} IS NOT NULL
      )
    ) GROUP BY b
  )
)"""
        )
    return "\nUNION ALL\n".join(parts)


@register("agg_hll_exact", oracle=_hll_oracle())
def agg_hll_exact(spark, sf_dir):
    """HyperLogLog distinct-count sketch built from ENGINE-PORTABLE
    primitives, so — unlike agg_approx's opaque
    approx_count_distinct, rows-only by declared design since r1 — the
    SKETCH ITSELF is hash-graded: 60-bit md5-slice hash, 256 registers
    (bucket = h mod m, rho = leading-zero rank of the 52-bit suffix via
    the binary-string length both engines print identically), register
    state reduced to ONE exact int64 `reg_sum` = sum of 2^(53-M_j)
    (each term a power of two, 256 terms < 2^61 — no float sum, no
    ordering sensitivity), plus the zero-register count driving the
    standard small-range correction m*ln(m/V). The float estimate is
    one literal-identical IEEE expression over those exact integers,
    4dp-floored. Columns chosen to cover both branches: o_orderkey
    (all-distinct, raw path), o_custkey (mid), o_orderstatus (3
    values — correction path, 253 zero registers).

    100 TB: this is the mergeable-sketch shape — per-partition register
    maxes combine associatively (max commutes), one m-sized row per
    column leaves each executor, and the same construction feeds the
    sketch-rollup family. n_exact rides along so the grade also pins
    the estimate's error against truth at this SF."""
    o = table(spark, sf_dir, "orders")
    outs = []
    for c in _HLL_COLS:
        h = hex_int(F.md5(F.col(c).cast("string")), 15)
        w = F.shiftright(h, _HLL_P)
        rho = F.when(w == 0, F.lit(_HLL_WBITS + 1)).otherwise(
            F.lit(_HLL_WBITS + 1) - F.length(F.bin(w))
        )
        regs = (
            o.filter(F.col(c).isNotNull())
            .select(
                F.pmod(h, F.lit(_HLL_M)).alias("b"), rho.alias("rho")
            )
            .groupBy("b")
            .agg(F.max("rho").alias("mx"))
        )
        agg = regs.agg(
            (
                F.sum(
                    # SQL shiftleft takes a column shift count; the
                    # Python wrapper insists on a literal
                    F.expr(
                        f"shiftleft(cast(1 as bigint), {_HLL_WBITS + 1} - mx)"
                    )
                )
                + (F.lit(_HLL_M) - F.count(F.lit(1))) * F.lit(_HLL_POW)
            )
            .cast("bigint")
            .alias("reg_sum"),
            (F.lit(_HLL_M) - F.count(F.lit(1)))
            .cast("bigint")
            .alias("v_zero"),
        )
        est_raw = F.expr(_HLL_EST) / F.col("reg_sum")
        est = F.when(
            (est_raw <= 2.5 * _HLL_M) & (F.col("v_zero") > 0),
            F.lit(float(_HLL_M)) * F.log(F.lit(float(_HLL_M)) / F.col("v_zero")),
        ).otherwise(est_raw)
        exact = o.agg(
            F.count_distinct(F.col(c)).cast("bigint").alias("n_exact")
        )
        outs.append(
            agg.crossJoin(exact).select(
                F.lit(c).alias("col_name"),
                "reg_sum",
                "v_zero",
                rnd(est, "est"),
                "n_exact",
            )
        )
    out = outs[0]
    for d in outs[1:]:
        out = out.unionByName(d)
    return out


# ---------------------------------------------------------------------------
# agg_kmv_theta — KMV (theta) sketch with SET OPERATIONS, hash-graded

_KMV_K = 64
_KMV_POW = f"{1 << 60}.0E0"  # 2^60, a power of two: exact as a double
_KMV_PAIRS = (("F", "O"), ("O", "P"))


def _kmv_oracle() -> str:
    from terasort_spark.operators._util import o_rnd

    k = _KMV_K
    h = o_hex_int("md5(CAST(o_custkey AS VARCHAR))", 15)
    parts = []
    for a, b in _KMV_PAIRS:
        est = lambda n, th: (  # noqa: E731
            f"CASE WHEN {n} < {k} THEN CAST({n} AS DOUBLE) "
            f"ELSE {k - 1}.0E0 * {_KMV_POW} / {th} END"
        )
        parts.append(
            f"""
SELECT '{a}|{b}' AS pair, theta, n_int_sample,
  {o_rnd(est("na", "tha"), "est_a")},
  {o_rnd(est("nb", "thb"), "est_b")},
  {o_rnd(est("nu", "theta"), "est_union")},
  {o_rnd(
      f"CASE WHEN nu < {k} THEN CAST(n_int_sample AS DOUBLE) "
      f"ELSE CAST(n_int_sample AS DOUBLE) / {k}.0E0 "
      f"* ({k - 1}.0E0 * {_KMV_POW} / theta) END",
      "est_int",
  )},
  exact_a, exact_b, exact_int
FROM (
  WITH ha AS (SELECT DISTINCT {h} AS h
              FROM orders WHERE o_orderstatus = '{a}'),
       hb AS (SELECT DISTINCT {h} AS h
              FROM orders WHERE o_orderstatus = '{b}'),
       ka AS (SELECT h FROM ha ORDER BY h LIMIT {k}),
       kb AS (SELECT h FROM hb ORDER BY h LIMIT {k}),
       ku AS (SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb)
              ORDER BY h LIMIT {k})
  SELECT (SELECT max(h) FROM ku) AS theta,
         (SELECT max(h) FROM ka) AS tha,
         (SELECT max(h) FROM kb) AS thb,
         (SELECT CAST(count(*) AS BIGINT) FROM ka) AS na,
         (SELECT CAST(count(*) AS BIGINT) FROM kb) AS nb,
         (SELECT CAST(count(*) AS BIGINT) FROM ku) AS nu,
         (SELECT CAST(count(*) AS BIGINT) FROM ku
          WHERE h IN (SELECT h FROM ka) AND h IN (SELECT h FROM kb))
             AS n_int_sample,
         (SELECT CAST(count(*) AS BIGINT) FROM ha) AS exact_a,
         (SELECT CAST(count(*) AS BIGINT) FROM hb) AS exact_b,
         (SELECT CAST(count(*) AS BIGINT)
          FROM ha WHERE h IN (SELECT h FROM hb)) AS exact_int
)"""
        )
    return "\nUNION ALL\n".join(parts)


@register("agg_kmv_theta", oracle=_kmv_oracle())
def agg_kmv_theta(spark, sf_dir):
    """KMV / theta sketch with SET OPERATIONS, the DataSketches shape:
    per order-status customer set, keep the k={64} SMALLEST 60-bit
    md5-slice hashes; distinct-count estimate (k-1)*2^60/theta, union
    sketch = k smallest of the merged samples, intersection estimate =
    (matching sample fraction) x union estimate. Everything derives
    from k-smallest order statistics of a portable hash, so — unlike
    library theta sketches — sample, theta and the 4dp estimates
    hash-grade against DuckDB exactly; exact counts ride along to pin
    the error. Sets smaller than k degrade to exact counts by the
    standard KMV rule (the sketch IS the set), covered by the O|P pair
    at small SFs.

    100 TB: k-smallest is a mergeable bounded sample — per-partition
    top-k (TakeOrderedAndProject, no full sort) then a k-sized merge;
    set algebra over sketches replaces a shuffle-heavy distinct-join.
    2^60 and (k-1) are E-notation double literals for IEEE parity.

    r12 one-pass restructure (guide §1.2 "don't compute things twice"):
    the original built ha/hb = distinct-hash sets per status and
    re-executed those scan+md5+distinct subtrees in every consumer
    (k-sample, exact count, exact intersection — ~6 orders scans per
    pair, 12 total; a localCheckpoint of ha/hb alone was A/B-rejected,
    3.1 s plain vs 5.4 s). Every output is instead derivable from ONE
    tiny membership table hm(h, in_F, in_O, in_P) = one orders scan +
    one distinct + one groupBy(h), pinned once:
      * k-smallest of ha∪hb == k-smallest of ka∪kb (standard KMV
        mergeability: any h among the k smallest of the union has < k
        union elements below it, hence < k own-set elements below it,
        hence sits in its own set's k-sample) — so ku filters hm on
        (in_a OR in_b) directly;
      * h ∈ ku ∧ h ∈ ha ⟹ h ∈ ka by the same argument, so
        n_int_sample = count of ku rows with in_a AND in_b;
      * exact counts/intersections are conditional counts over hm.
    Estimates, casts and row order are bit-identical to the oracle."""
    o = table(spark, sf_dir, "orders")
    k = _KMV_K
    est = lambda n, th: F.when(  # noqa: E731
        F.col(n) < k, F.col(n).cast("double")
    ).otherwise(F.expr(f"{k - 1}.0E0 * {_KMV_POW}") / F.col(th))
    statuses = sorted({s for pair in _KMV_PAIRS for s in pair})
    hm = (
        o.filter(F.col("o_orderstatus").isin(statuses))
        .select(
            F.col("o_orderstatus").alias("s"),
            hex_int(F.md5(F.col("o_custkey").cast("string")), 15).alias("h"),
        )
        .distinct()
        .groupBy("h")
        .agg(
            *[
                F.max(F.col("s") == st).alias(f"in_{st}")
                for st in statuses
            ]
        )
        .localCheckpoint(eager=False)
    )

    def ksample_stats(cond, th_name, n_name):
        return (
            hm.filter(cond)
            .orderBy("h")
            .limit(k)
            .agg(
                F.max("h").alias(th_name),
                F.count(F.lit(1)).cast("bigint").alias(n_name),
            )
        )

    outs = []
    for a, b in _KMV_PAIRS:
        in_a, in_b = F.col(f"in_{a}"), F.col(f"in_{b}")
        stats = (
            hm.filter(in_a | in_b)
            .orderBy("h")
            .limit(k)
            .agg(
                F.max("h").alias("theta"),
                F.count(F.lit(1)).cast("bigint").alias("nu"),
                F.count(F.when(in_a & in_b, F.lit(1)))
                .cast("bigint")
                .alias("n_int_sample"),
            )
            .crossJoin(ksample_stats(in_a, "tha", "na"))
            .crossJoin(ksample_stats(in_b, "thb", "nb"))
            .crossJoin(
                hm.agg(
                    F.count(F.when(in_a, F.lit(1)))
                    .cast("bigint")
                    .alias("exact_a"),
                    F.count(F.when(in_b, F.lit(1)))
                    .cast("bigint")
                    .alias("exact_b"),
                    F.count(F.when(in_a & in_b, F.lit(1)))
                    .cast("bigint")
                    .alias("exact_int"),
                )
            )
        )
        est_union = est("nu", "theta")
        est_int = F.when(
            F.col("nu") < k, F.col("n_int_sample").cast("double")
        ).otherwise(
            F.col("n_int_sample").cast("double")
            / F.expr(f"{k}.0E0")
            * (F.expr(f"{k - 1}.0E0 * {_KMV_POW}") / F.col("theta"))
        )
        outs.append(
            stats.select(
                F.lit(f"{a}|{b}").alias("pair"),
                "theta",
                "n_int_sample",
                rnd(est("na", "tha"), "est_a"),
                rnd(est("nb", "thb"), "est_b"),
                rnd(est_union, "est_union"),
                rnd(est_int, "est_int"),
                "exact_a",
                "exact_b",
                "exact_int",
            )
        )
    out = outs[0]
    for d in outs[1:]:
        out = out.unionByName(d)
    return out


@register(
    "agg_bitmap_distinct",
    oracle="""
SELECT l_returnflag,
       CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_distinct,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supp
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_bitmap_distinct(spark, sf_dir):
    """EXACT distinct counting via Spark 4's bitmap function family —
    the warehouse pattern that replaces count(DISTINCT)'s expand+
    re-shuffle with OR-able fixed-width bitmaps: keys bucket by
    bitmap_bucket_number (32k-bit buckets), each (group, bucket) builds
    one bitmap with bitmap_construct_agg(bitmap_bit_position(key)),
    and the group's distinct count is the SUM of bitmap_count over its
    buckets. Two map-side-combinable aggregations, no per-key rows past
    stage one, and the bitmaps are mergeable (bitmap_or_agg) across
    partitions/days — the incremental-rollup property HLL gives
    approximately, here exactly. The oracle is plain count(DISTINCT):
    bitmap math must reproduce it bit for bit."""
    li = table(spark, sf_dir, "lineitem")

    def counts(key, alias):
        return (
            li.groupBy(
                "l_returnflag",
                F.expr(f"bitmap_bucket_number({key})").alias("bkt"),
            )
            .agg(
                F.expr(
                    f"bitmap_construct_agg(bitmap_bit_position({key}))"
                ).alias("bm")
            )
            .groupBy("l_returnflag")
            .agg(F.sum(F.expr("bitmap_count(bm)")).cast("bigint").alias(alias))
        )
    return counts("l_partkey", "n_distinct").join(
        counts("l_suppkey", "n_supp"), "l_returnflag"
    )


# ---------------------------------------------------------------------------
# sql_recursive_cte / sql_scripting — Spark 4.1 SQL surface


@register(
    "sql_recursive_cte",
    oracle="""
WITH RECURSIVE up AS (
  SELECT s_suppkey AS node, s_suppkey AS cur,
         0 AS depth, CAST(s_suppkey AS BIGINT) AS path_sum
  FROM supplier
  UNION ALL
  SELECT node, cur // 2, depth + 1, path_sum + cur // 2
  FROM up WHERE cur > 1
)
SELECT node, CAST(max(depth) AS INT) AS depth,
       CAST(max(path_sum) AS BIGINT) AS path_sum
FROM up GROUP BY node
""",
)
def sql_recursive_cte(spark, sf_dir):
    """Recursive CTE (WITH RECURSIVE, new SQL surface in Spark 4.1):
    walk every supplier up the implicit binary-heap hierarchy
    (parent(n) = n div 2) to the root, accumulating depth and the
    ancestor-key path sum — the org-chart / BOM / reachability shape
    that needed iterative DataFrame loops (graph_pagerank style) before
    the engine executed fixpoint recursion itself. DuckDB runs the
    IDENTICAL recursive SQL, so termination, step semantics and the
    accumulated values are all hash-graded. Depth is logarithmic in
    the key (the recursion is O(n log n) rows total); at 100 TB the
    same pattern walks real parent-pointer hierarchies with each
    iteration a self-join Catalyst plans like any other."""
    table(spark, sf_dir, "supplier").createOrReplaceTempView("supplier")
    return spark.sql(
        """
WITH RECURSIVE up AS (
  SELECT s_suppkey AS node, s_suppkey AS cur,
         0 AS depth, CAST(s_suppkey AS BIGINT) AS path_sum
  FROM supplier
  UNION ALL
  SELECT node, CAST(cur / 2 AS BIGINT), depth + 1,
         path_sum + CAST(cur / 2 AS BIGINT)
  FROM up WHERE cur > 1
)
SELECT node, CAST(max(depth) AS INT) AS depth,
       CAST(max(path_sum) AS BIGINT) AS path_sum
FROM up GROUP BY node
"""
    )


@register(
    "sql_scripting",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS total_cents
FROM orders
""",
)
def sql_scripting(spark, sf_dir):
    """SQL scripting (Spark 4 BEGIN..END procedural blocks): a WHILE
    loop accumulates per-residue partial aggregates of orders into
    DECLAREd session variables — five scripted iterations whose final
    SELECT must equal the one-shot aggregate. The exhibit is the
    procedural surface (DECLARE / SET / WHILE / scalar subqueries in
    loop bodies), graded by the plain-SQL oracle; each loop iteration
    is still a full Catalyst-planned query, so nothing here trades
    distributed execution for driver loops."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
BEGIN
  DECLARE k INT DEFAULT 0;
  DECLARE n_orders BIGINT DEFAULT 0;
  DECLARE total_cents BIGINT DEFAULT 0;
  WHILE k < 5 DO
    SET n_orders = n_orders + (
      SELECT count(*) FROM orders WHERE o_orderkey % 5 = k);
    SET total_cents = total_cents + (
      SELECT coalesce(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)), 0)
      FROM orders WHERE o_orderkey % 5 = k);
    SET k = k + 1;
  END WHILE;
  SELECT n_orders, total_cents;
END
"""
    )
