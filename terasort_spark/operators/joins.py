"""Join operators (SURVEY.md §2b — join_* family).

Scale notes baked into each operator:
- dim tables (region/nation/supplier/customer-slices) are broadcast —
  no shuffle of the fact side;
- fact-fact joins shuffle on the join key; AQE handles skew splitting;
- the as-of join is a window formulation (one shuffle by user), NOT a
  range self-join — the quadratic candidate explosion a naive
  BETWEEN-join would cost at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from terasort_spark.catalog import table
from terasort_spark.operators._util import dsum, o_dsum, o_rnd, rnd
from terasort_spark.operators.sketches import bloom_words
from terasort_spark.registry import register


@register(
    "join_inner",
    oracle=f"""
SELECT c_mktsegment,
       count(*) AS n_lines,
       {o_dsum("l_extendedprice * (1 - l_discount)", "revenue")}
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY c_mktsegment
""",
)
def join_inner(spark, sf_dir):
    # Multi-way equi join, smallest-first: customer⋈orders shuffles the
    # small pair, then joins lineitem on its natural key. AQE may demote
    # to broadcast when the build side fits.
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
        )
    )


@register(
    "join_broadcast",
    oracle=f"""
SELECT n_name,
       count(*) AS n_lines,
       {o_dsum("l_extendedprice", "sum_price")}
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
""",
)
def join_broadcast(spark, sf_dir):
    # Explicit broadcast of both dims: the fact table never shuffles for
    # the join — only the tiny grouped partials move. The plan assertion
    # (BroadcastHashJoin, no Exchange before it) lives in tests/test_plans.py.
    li = table(spark, sf_dir, "lineitem")
    s = F.broadcast(table(spark, sf_dir, "supplier"))
    n = F.broadcast(table(spark, sf_dir, "nation"))
    return (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(n, s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum(F.col("l_extendedprice"), "sum_price"),
        )
    )


@register(
    "join_left",
    oracle="""
SELECT c_mktsegment,
       count(*) AS n_rows,
       count(o_orderkey) AS n_matched,
       count(*) - count(o_orderkey) AS n_unmatched
FROM customer
LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 300000) big
  ON c_custkey = big.o_custkey
GROUP BY c_mktsegment
""",
)
def join_left(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    big = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    j = c.join(big, c.c_custkey == big.o_custkey, "left")
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("o_orderkey").alias("n_matched"),
        (F.count(F.lit(1)) - F.count("o_orderkey")).alias("n_unmatched"),
    )


@register(
    "join_full",
    oracle="""
SELECT count(*) AS n_rows,
       count(c.c_custkey) AS n_left_present,
       count(o.o_orderkey) AS n_right_present,
       count(CASE WHEN c.c_custkey IS NOT NULL AND o.o_orderkey IS NOT NULL
                  THEN 1 END) AS n_both
FROM (SELECT * FROM customer WHERE c_acctbal > 5000) c
FULL JOIN (SELECT * FROM orders WHERE o_totalprice > 250000) o
  ON c.c_custkey = o.o_custkey
""",
)
def join_full(spark, sf_dir):
    c = table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000)
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 250000)
    j = c.join(o, c.c_custkey == o.o_custkey, "full")
    both = F.when(
        c.c_custkey.isNotNull() & o.o_orderkey.isNotNull(), F.lit(1)
    )
    return j.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(c.c_custkey).alias("n_left_present"),
        F.count(o.o_orderkey).alias("n_right_present"),
        F.count(both).alias("n_both"),
    )


@register(
    "join_semi",
    oracle="""
SELECT c_custkey, c_name
FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_totalprice > 400000)
""",
)
def join_semi(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "join_anti",
    oracle="""
SELECT c_custkey, c_name
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
""",
)
def join_anti(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "join_cross",
    oracle="""
SELECT r_name, n_name
FROM region CROSS JOIN nation
""",
)
def join_cross(spark, sf_dir):
    # Cartesian of two dims (5 × 25). Only ever small×small; a guard in
    # the API keeps this off fact tables at scale.
    return (
        table(spark, sf_dir, "region")
        .crossJoin(table(spark, sf_dir, "nation"))
        .select("r_name", "n_name")
    )


@register(
    "join_theta",
    oracle="""
SELECT s_nationkey AS nationkey,
       count(*) AS n_pairs,
       count(DISTINCT s_suppkey) AS n_supps
FROM supplier
JOIN customer ON s_nationkey = c_nationkey AND s_acctbal > c_acctbal
GROUP BY s_nationkey
""",
)
def join_theta(spark, sf_dir):
    # Equi key + inequality residual: hash-partition on the equi key, the
    # inequality evaluates as a post-probe filter — no cartesian blowup.
    s = table(spark, sf_dir, "supplier")
    c = table(spark, sf_dir, "customer")
    return (
        s.join(
            c,
            (s.s_nationkey == c.c_nationkey) & (s.s_acctbal > c.c_acctbal),
        )
        .groupBy(s.s_nationkey.alias("nationkey"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("s_suppkey").alias("n_supps"),
        )
    )


@register(
    "join_interval",
    oracle=f"""
SELECT o_orderpriority,
       count(*) AS n_lines,
       {o_dsum("l_extendedprice", "sum_price")}
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
           AND l_shipdate BETWEEN o_orderdate
                              AND o_orderdate + INTERVAL 90 DAY
GROUP BY o_orderpriority
""",
)
def join_interval(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    upper = F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    return (
        li.join(
            o,
            (li.l_orderkey == o.o_orderkey)
            & F.col("l_shipdate").between(F.col("o_orderdate"), upper),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum(F.col("l_extendedprice"), "sum_price"),
        )
    )


@register(
    "join_asof",
    oracle="""
SELECT p.event_id, p.user_id, p.ts, c.ts AS last_click_ts
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
""",
)
def join_asof(spark, sf_dir):
    """As-of join: for each purchase, the latest click by the same user at
    or before the purchase timestamp.

    Implemented as a union + window (last ignorenulls over time order),
    not a range join: one shuffle by user_id, linear in events — the
    formulation that survives 100 TB where a BETWEEN self-join explodes
    quadratically per user.
    """
    ev = table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", F.col("ts").alias("click_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.lit(None).cast("timestamp").alias("click_ts")
    )
    # clicks sort before purchases at equal ts (is_p) so "at or before"
    # includes a same-instant click, matching ASOF's >= semantics.
    tagged = clicks.withColumn("is_p", F.lit(0)).unionByName(
        purchases.withColumn("is_p", F.lit(1))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_p", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        tagged.withColumn("last_click_ts", F.last("click_ts", ignorenulls=True).over(w))
        .filter(F.col("is_p") == 1)
        .select("event_id", "user_id", "ts", "last_click_ts")
    )


@register(
    "join_asof_nearest",
    oracle="""
WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
     c AS (SELECT * FROM events WHERE event_type = 'click')
SELECT p.event_id, p.user_id, p.ts,
       CASE
         WHEN back IS NULL THEN fwd
         WHEN fwd IS NULL THEN back
         WHEN date_diff('second', back, p.ts)
              <= date_diff('second', p.ts, fwd) THEN back
         ELSE fwd
       END AS nearest_click_ts
FROM (
  SELECT p.event_id, p.user_id, p.ts,
         (SELECT max(c.ts) FROM c
          WHERE c.user_id = p.user_id AND c.ts <= p.ts) AS back,
         (SELECT min(c.ts) FROM c
          WHERE c.user_id = p.user_id AND c.ts > p.ts) AS fwd
  FROM p
) p
""",
)
def join_asof_nearest(spark, sf_dir):
    """Nearest-neighbor as-of join: for each purchase, the click by the
    same user CLOSEST in time in either direction (sensor/trade
    alignment semantics; ties at equal distance break backward). Still
    the linear union+window formulation — one shuffle on user_id, a
    backward last() and a forward first() over the same tagged stream —
    never a |purchases|x|clicks| range join. The oracle is an
    INDEPENDENT formulation (correlated min/max subqueries), so the
    window algebra is cross-checked, not mirrored."""
    ev = table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", F.col("ts").alias("click_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts",
        F.lit(None).cast("timestamp").alias("click_ts"),
    )
    tagged = clicks.withColumn("is_p", F.lit(0)).unionByName(
        purchases.withColumn("is_p", F.lit(1))
    )
    order = [F.col("ts"), F.col("is_p"), F.col("event_id")]
    wb = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    back = F.last("click_ts", ignorenulls=True).over(wb)
    fwd = F.first("click_ts", ignorenulls=True).over(wf)
    nearest = (
        F.when(back.isNull(), fwd)
        .when(fwd.isNull(), back)
        .when(
            F.col("ts").cast("long") - back.cast("long")
            <= fwd.cast("long") - F.col("ts").cast("long"),
            back,
        )
        .otherwise(fwd)
    )
    return (
        tagged.withColumn("nearest_click_ts", nearest)
        .filter(F.col("is_p") == 1)
        .select("event_id", "user_id", "ts", "nearest_click_ts")
    )


@register(
    "join_asof_tolerance",
    oracle="""
WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
     c AS (SELECT * FROM events WHERE event_type = 'click')
SELECT p.event_id, p.user_id, p.ts,
       (SELECT max(c.ts) FROM c
        WHERE c.user_id = p.user_id
          AND c.ts <= p.ts
          AND c.ts >= p.ts - INTERVAL 1 HOUR) AS last_click_ts
FROM p
""",
)
def join_asof_tolerance(spark, sf_dir):
    """Bounded-staleness as-of join (pandas ``merge_asof(tolerance=...)``
    semantics): the latest click at or before each purchase, but only
    if it happened within the last hour — older matches return NULL
    instead of silently joining stale state. The guard every
    feature-store / trade-alignment lookup needs.

    Same linear union+window formulation as join_asof (one shuffle on
    the high-cardinality user key, never a range self-join); the
    tolerance is a stateless second-difference comparison AFTER the
    window, so it adds zero shuffles. Oracle is the independent
    correlated-subquery formulation, cross-checking the window algebra.
    """
    ev = table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", F.col("ts").alias("click_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts",
        F.lit(None).cast("timestamp").alias("click_ts"),
    )
    tagged = clicks.withColumn("is_p", F.lit(0)).unionByName(
        purchases.withColumn("is_p", F.lit(1))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_p", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    back = F.last("click_ts", ignorenulls=True).over(w)
    within = F.col("ts").cast("long") - back.cast("long") <= 3600
    return (
        tagged.withColumn("last_click_ts", F.when(within, back))
        .filter(F.col("is_p") == 1)
        .select("event_id", "user_id", "ts", "last_click_ts")
    )


@register(
    "join_salted",
    oracle=f"""
SELECT c_mktsegment,
       count(*) AS n_orders,
       {o_dsum("o_totalprice", "segment_total")}
FROM customer JOIN orders ON c_custkey = o_custkey
GROUP BY c_mktsegment
""",
)
def join_salted(spark, sf_dir):
    """Skew-mitigating salted join whose ORACLE IS THE PLAIN JOIN — the
    salt must be semantically invisible. Fact side gets salt =
    pmod(hash(o_orderkey), 8); the dim side is exploded across all 8
    salt values; the join key becomes (custkey, salt), splitting any hot
    customer key across 8 reducers. This is the manual recipe for skew
    that AQE can't fix (e.g., pre-4.x clusters or RDD-era sinks); at
    100 TB the salt fan-out is sized to the observed hot-key mass."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    n_salt = 8
    o_s = o.withColumn("salt", F.pmod(F.hash("o_orderkey"), F.lit(n_salt)))
    c_s = c.withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))
    )
    return (
        o_s.join(
            c_s,
            (o_s.o_custkey == c_s.c_custkey) & (o_s.salt == c_s.salt),
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), "segment_total"),
        )
    )


@register(
    "join_lateral",
    oracle=f"""
SELECT n.n_name, c.c_custkey, {o_rnd("c.c_acctbal", "bal")}
FROM nation n, LATERAL (
    SELECT c_custkey, c_acctbal
    FROM customer
    WHERE c_nationkey = n.n_nationkey
    ORDER BY c_acctbal DESC, c_custkey
    LIMIT 2
) c
""",
)
def join_lateral(spark, sf_dir):
    """Correlated LATERAL join: top-2 customers by account balance per
    nation, written as a dependent subquery with ORDER BY + LIMIT (the
    shape ORMs and BI tools emit), not a window function.

    Catalyst decorrelates this into WindowGroupLimit over a single
    hashpartitioning(c_nationkey) exchange — per-group top-k with
    partial pruning before the shuffle — so 100 TB of customers never
    executes 25 subqueries; it runs ONE pass. Tie-break on c_custkey
    (D4: LIMIT only over a total order)."""
    n = table(spark, sf_dir, "nation")
    c = table(spark, sf_dir, "customer")
    top2 = (
        c.where(F.col("c_nationkey") == F.col("n_nationkey").outer())
        .orderBy(F.col("c_acctbal").desc(), "c_custkey")
        .limit(2)
        .select("c_custkey", "c_acctbal")
    )
    return n.lateralJoin(top2).select(
        "n_name", "c_custkey", rnd(F.col("c_acctbal"), "bal")
    )


@register(
    "join_nullsafe",
    oracle="""
SELECT a.seg AS seg, a.n_cust, b.n_ord
FROM (
    SELECT nullif(c_mktsegment, 'BUILDING') AS seg, count(*) AS n_cust
    FROM customer GROUP BY 1
) a
JOIN (
    SELECT nullif(c_mktsegment, 'BUILDING') AS seg, count(*) AS n_ord
    FROM customer JOIN orders ON c_custkey = o_custkey
    GROUP BY 1
) b ON a.seg IS NOT DISTINCT FROM b.seg
""",
)
def join_nullsafe(spark, sf_dir):
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys
    match each other instead of vanishing — the semantics needed when a
    dimension uses NULL as a real category (here manufactured by
    nullif-ing one segment). A plain equi-join silently drops the NULL
    group; the difference is exactly one row, and it's the row this
    query exists to keep.

    Scale notes: Spark plans <=> as an ordinary hash join (EqualNullSafe
    is a valid hash key — NULLs hash to a bucket like any value), so
    this costs the same single shuffle as '='."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    seg = F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg")
    a = c.select(seg).groupBy("seg").agg(F.count(F.lit(1)).alias("n_cust"))
    b = (
        c.join(o, c.c_custkey == o.o_custkey)
        .select(seg)
        .groupBy("seg")
        .agg(F.count(F.lit(1)).alias("n_ord"))
    )
    return a.join(b, a.seg.eqNullSafe(b.seg)).select(
        a.seg.alias("seg"), "n_cust", "n_ord"
    )


# --- join_bloom -----------------------------------------------------------

# Bloom geometry: M bits / K hashes. At the sf0.01 gate the build side
# is ~10^2-10^3 keys -> false-positive rate well under 1%; in
# production M scales with the build-side count estimate exactly as
# Spark's own InjectRuntimeFilter sizes its bloom (the internal
# bloom_filter_agg expression is not exposed to the public function
# registry in 4.1, hence this from-parts formulation).
_BLOOM_BITS = 1 << 15
_BLOOM_HASHES = 3


def bloom_prefilter(probe, probe_key: str, build, build_key: str):
    """Filter `probe` to rows whose `probe_key` MIGHT appear in
    `build.build_key`, via a distributed Bloom filter: K xxhash64
    positions per build key OR'd into 32-bit words by the Bloom kernel
    (sketches.bloom_words — bounded, partial-aggregatable state),
    shipped as a one-row broadcast map, tested with pure codegen bit
    expressions. No false negatives; false positives bounded by the
    M/K geometry — callers follow with an exact join. The one-row
    cross join necessarily prints as a BroadcastNestedLoopJoin; it
    moves M/8 bytes, not data, and drops probe rows before any
    shuffle."""

    def pos(key: str):
        return [
            F.pmod(F.xxhash64(F.col(key), F.lit(i)), F.lit(_BLOOM_BITS))
            for i in range(_BLOOM_HASHES)
        ]

    bloom = bloom_words(build, pos(build_key)).agg(
        F.map_from_arrays(F.collect_list("word"), F.collect_list("bits")).alias("bf")
    )
    pre = probe.crossJoin(F.broadcast(bloom))
    for i, p in enumerate(pos(probe_key)):
        pre = pre.withColumn(f"_p{i}", p).where(
            F.expr(
                f"(shiftright(element_at(bf, shiftright(_p{i}, 5)), "
                f"CAST(_p{i} % 32 AS INT)) & 1) = 1"
            )
        )
    return pre.drop("bf", *[f"_p{i}" for i in range(_BLOOM_HASHES)])


@register(
    "join_bloom",
    oracle=f"""
SELECT o_orderstatus,
       count(*) AS n_lines,
       {o_dsum("l_extendedprice", "sum_price")}
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000
GROUP BY o_orderstatus
""",
)
def join_bloom(spark, sf_dir):
    """Runtime Bloom-filter join: the selective build side (urgent
    high-value orders) is distilled into a Bloom bitmap that pre-filters
    the probe side BEFORE its shuffle, then an exact equi-join removes
    the Bloom's false positives — so the answer (and the oracle) is the
    plain join, while the shuffle moves only the ~matching fraction of
    lineitem.

    This is the pattern Spark's AQE InjectRuntimeFilter applies
    automatically on clusters (its `bloom_filter_agg`/`might_contain`
    expressions are internal-only in 4.1), built here from public
    building blocks, all JVM-side:
      build:  K positions per key via xxhash64(key, seed) mod M,
              OR'd into 32-bit words by the Bloom kernel
              (sketches.bloom_words) — partial-aggregatable state,
              bounded by M bits no matter how many keys;
      ship:   the <=M/32-entry (word -> bits) map broadcast as a
              one-row cross join (4 KB of bits at M=2^15);
      probe:  K bit tests per row — pure codegen, no shuffle, no UDF.

    100 TB: build-side state is M bits regardless of cardinality;
    the probe filter is embedded in the scan stage, so the downstream
    join shuffles only surviving rows. False positives cost nothing
    but wasted shuffle bytes; correctness never depends on the filter."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    sel = o.where(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_totalprice") > 150000)
    )
    pre = bloom_prefilter(li, "l_orderkey", sel, "o_orderkey")
    return (
        pre.join(sel, pre.l_orderkey == sel.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum(F.col("l_extendedprice"), "sum_price"),
        )
    )


# --- join_range_binned ----------------------------------------------------

_BIN_DAYS = 14  # bin width == window length -> each window spans <=2 bins
_N_WINDOWS = 15
_WIN_DAYS = 14  # window = [start, start + 13]


@register(
    "join_range_binned",
    oracle=f"""
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n
    FROM orders GROUP BY 1
),
top AS (
    SELECT day,
           CAST(row_number() OVER (ORDER BY n DESC, day) AS INTEGER) AS wid
    FROM daily
),
wins AS (
    SELECT wid, day AS w_start, day + {_WIN_DAYS - 1} AS w_end
    FROM top WHERE wid <= {_N_WINDOWS}
)
SELECT wid,
       count(*) AS n_lines,
       {o_dsum("l_extendedprice", "sum_price")}
FROM lineitem
JOIN wins ON CAST(l_shipdate AS DATE) BETWEEN w_start AND w_end
GROUP BY wid
""",
)
def join_range_binned(spark, sf_dir):
    """Range join with NO equi-key (point-in-interval), made scale-safe
    by binning: both sides map time onto fixed 14-day bins — each
    window explodes into the <=2 bins it overlaps, each lineitem row
    computes its single containing bin — so Catalyst sees an ordinary
    equi-join on `bin` (hash/sort-merge, never a nested-loop) with the
    BETWEEN as a cheap residual filter. A row matching a window always
    shares a bin with it (the row's day lies inside the window, and the
    window covers that day's bin), so binning loses nothing; duplicates
    are impossible because a row has exactly one bin.

    The windows here (top-15 busiest order days, each open 14 days) are
    derived, not read, to keep the query self-contained; the global
    `row_number` window ranking them runs over the day-level aggregate,
    which is bounded by the calendar (a few thousand rows at ANY scale
    factor), not by the data — unlike the unbounded global windows the
    round-3 audit flagged.

    100 TB: without binning this predicate forces
    BroadcastNestedLoopJoin (every row x every window). With binning it
    is a shuffle-free broadcast hash join here, and stays a plain
    equi-join even when the interval side is itself huge (both sides
    just shuffle on bin). Plan-asserted nested-loop-free in
    tests/test_relational.py."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    day0 = F.lit("1995-01-01").cast("date")

    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    wins = (
        daily.withColumn(
            "wid", F.row_number().over(Window.orderBy(F.desc("n"), F.asc("day")))
        )
        .where(F.col("wid") <= _N_WINDOWS)
        .select(
            "wid",
            F.col("day").alias("w_start"),
            F.date_add("day", _WIN_DAYS - 1).alias("w_end"),
        )
    )
    wins_binned = wins.withColumn(
        "bin",
        F.explode(
            F.sequence(
                F.floor(F.datediff("w_start", day0) / _BIN_DAYS),
                F.floor(F.datediff("w_end", day0) / _BIN_DAYS),
            )
        ),
    )
    li_binned = li.withColumn(
        "bin", F.floor(F.datediff(F.to_date("l_shipdate"), day0) / _BIN_DAYS)
    )
    return (
        li_binned.join(wins_binned, "bin")
        .where(F.to_date("l_shipdate").between(F.col("w_start"), F.col("w_end")))
        .groupBy("wid")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum(F.col("l_extendedprice"), "sum_price"),
        )
    )
