"""Mergeable sketch aggregates: bitmap and HyperLogLog distinct counts,
KMV/theta, Count-Min top-k, Bloom filters, the AMS F2 moment, recency
decay counters and equi-width quantile histograms.

Every sketch here is a plain associative aggregate over portable
hashes (md5 slices or ``mix32``), so it is map-side combinable and
mergeable across partitions, and DuckDB replays the sketch state
itself: the oracles hash-match the estimates, not only the exact
answers they approximate."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from terasort_spark.catalog import table
from terasort_spark.operators._util import hex_int, o_hex_int, rnd
from terasort_spark.registry import register
from terasort_spark.sources.tera_queries import mix32, mix32_sql

# ---------------------------------------------------------------------------
# agg_quantile_hist — deterministic mergeable histogram quantiles: the
# exact-replayable counterpart to the by-design rows-only
# agg_percentile_approx (whose KLL-style sketch has engine-private
# state). Same accuracy CONTRACT as a production sketch (error bounded
# by bin width), but the state is a plain (group, bin) count map, so
# the estimate is bit-identical on any engine and any partitioning.

_QH_WIDTH = 1000.0  # bin width over l_extendedprice (~[900, 105k])


def _qh_rank_sql(pct: int) -> str:
    # ceil(pct% of total) in exact integer arithmetic
    return f"floor((total * {pct} + 99) / 100)"


@register(
    "agg_quantile_hist",
    oracle=f"""
WITH b AS (
  SELECT l_returnflag AS flag,
         CAST(floor(l_extendedprice / {_QH_WIDTH}) AS BIGINT) AS bin,
         count(*) AS c
  FROM lineitem GROUP BY 1, 2
),
t AS (SELECT flag, sum(c) AS total FROM b GROUP BY flag),
cum AS (
  SELECT flag, bin,
         sum(c) OVER (PARTITION BY flag ORDER BY bin) AS cum
  FROM b
),
pick AS (
  SELECT cum.flag,
         min(CASE WHEN cum >= {_qh_rank_sql(50)} THEN bin END) AS b50,
         min(CASE WHEN cum >= {_qh_rank_sql(95)} THEN bin END) AS b95,
         min(CASE WHEN cum >= {_qh_rank_sql(99)} THEN bin END) AS b99
  FROM cum JOIN t USING (flag) GROUP BY cum.flag
)
SELECT flag, CAST(total AS BIGINT) AS total,
       CAST(b50 * {_QH_WIDTH} AS DOUBLE) AS p50_est,
       CAST(b95 * {_QH_WIDTH} AS DOUBLE) AS p95_est,
       CAST(b99 * {_QH_WIDTH} AS DOUBLE) AS p99_est
FROM pick JOIN t USING (flag)
""",
)
def agg_quantile_hist(spark, sf_dir):
    """Per-group p50/p95/p99 from an equi-width histogram sketch.

    The sketch state per group is a bin→count map (bins =
    value_range / {_QH_WIDTH}, NOT rows), built by one groupBy with
    map-side partial aggregation — the same mergeable-summary shape as
    approx_percentile/t-digest, which is why it scales: partials
    combine associatively, shuffle volume is O(groups × bins), and the
    quantile extraction is a bins-sized cumulative window per group.
    Unlike those sketches the state is deterministic integers, so the
    estimate (lower edge of the first bin whose cumulative count
    reaches ceil(q·N), rank in exact integer arithmetic) is
    bit-identical across engines and partitionings — the exact-oracle
    counterpart the rows-only agg_percentile_approx can't be. Error is
    bounded by one bin width; halving the width doubles state, the
    standard sketch trade dialed by `_QH_WIDTH`."""
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.floor(F.col("l_extendedprice") / _QH_WIDTH)
        .cast("bigint")
        .alias("bin"),
    )
    b = li.groupBy("flag", "bin").agg(F.count(F.lit(1)).alias("c"))
    t = b.groupBy("flag").agg(F.sum("c").alias("total"))
    cum = b.withColumn(
        "cum",
        F.sum("c").over(Window.partitionBy("flag").orderBy("bin")),
    )

    def rank(pct: int):
        return F.floor((F.col("total") * pct + 99) / 100)

    pick = (
        cum.join(t, "flag")
        .groupBy("flag")
        .agg(
            *[
                F.min(
                    F.when(F.col("cum") >= rank(p), F.col("bin"))
                ).alias(f"b{p}")
                for p in (50, 95, 99)
            ]
        )
    )
    return pick.join(t, "flag").select(
        "flag",
        F.col("total").cast("bigint").alias("total"),
        (F.col("b50") * _QH_WIDTH).alias("p50_est"),
        (F.col("b95") * _QH_WIDTH).alias("p95_est"),
        (F.col("b99") * _QH_WIDTH).alias("p99_est"),
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
# agg_cms_topk

_CMS_D = 4
_CMS_W = 64


def _cms_hash(j: int):
    return mix32(F.lit(j * 1000003) + F.col("user_id")) % F.lit(_CMS_W)


def _cms_hash_sql(j: int) -> str:
    return f"({mix32_sql(f'{j * 1000003} + user_id')} % {_CMS_W})"


def _cms_oracle() -> str:
    hashes = ", ".join(_cms_hash_sql(j) for j in range(_CMS_D))
    js = ", ".join(str(j) for j in range(_CMS_D))
    return f"""
WITH cells AS (
    SELECT j, h, count(*) AS c FROM (
        SELECT user_id, unnest([{js}]) AS j, unnest([{hashes}]) AS h
        FROM events) GROUP BY j, h
),
exact AS (SELECT user_id, count(*) AS exact_n FROM events GROUP BY user_id),
keys AS (
    SELECT user_id, unnest([{js}]) AS j, unnest([{hashes}]) AS h
    FROM (SELECT DISTINCT user_id FROM events)
),
est AS (
    SELECT e.user_id, e.exact_n, CAST(min(c.c) AS BIGINT) AS cms_est
    FROM exact e
    JOIN keys k ON k.user_id = e.user_id
    JOIN cells c ON c.j = k.j AND c.h = k.h
    GROUP BY e.user_id, e.exact_n
)
SELECT user_id, CAST(exact_n AS BIGINT) AS exact_n, cms_est, rn FROM (
    SELECT user_id, exact_n, cms_est,
           CAST(row_number() OVER (ORDER BY exact_n DESC, user_id) AS INTEGER)
               AS rn
    FROM est)
WHERE rn <= 20
"""


@register("agg_cms_topk", oracle=_cms_oracle())
def agg_cms_topk(spark, sf_dir):
    """Count-Min sketch MERGE: two partial sketches built over disjoint
    halves of the events load, unioned by cell addition, then queried
    for the true top-20 users' frequency estimates next to their exact
    counts. d=4 rows x w=64 columns of independent mix32 row hashes —
    deliberately NARROW for the data (150 keys into 64 columns) so
    collisions actually exercise the min-over-rows estimate (91/150
    keys overestimated at sf0.01).

    The point beyond agg_heavyhitters (which grades a SINGLE-PASS CMS
    over md5-hashed tokens): cells are plain sums, so sketch UNION is
    plain cell-wise SUM — this query performs that union explicitly,
    the operation a cross-day/cross-source sketch rollup runs at
    ingest, and the single-pass oracle proves merge-equals-rebuild
    exactly. Estimates never undercount (module-tested):
    est(u) = min_j cell[j][h_j(u)] >= true count, with overestimates
    bounded by colliding mass; every hash is engine-portable, so the
    ESTIMATES (collision artifacts included) hash-grade.

    100 TB: each load's sketch is d*w integers regardless of corpus
    size; merge cost is d*w additions per pair of loads — the
    frequency-estimation primitive when the key space (URLs, shingles)
    is too large for an exact groupBy."""
    ev = table(spark, sf_dir, "events").select("event_id", "user_id")
    jh = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(j).alias("j"), _cms_hash(j).alias("h")
                )
                for j in range(_CMS_D)
            ]
        )
    ).alias("jh")

    # Build TWO independent partial sketches (disjoint halves of the
    # load) and MERGE them by cell addition — the union operation a
    # cross-day / cross-batch sketch rollup performs. Estimates from
    # the merged sketch equal the single-pass sketch exactly (cell sums
    # distribute), which is what the unchanged single-pass oracle
    # proves.
    def partial(df):
        return (
            df.select(jh)
            .select(F.col("jh.j").alias("j"), F.col("jh.h").alias("h"))
            .groupBy("j", "h")
            .agg(F.count(F.lit(1)).alias("c"))
        )

    cells = (
        partial(ev.where(F.col("event_id") % 2 == 0))
        .unionByName(partial(ev.where(F.col("event_id") % 2 == 1)))
        .groupBy("j", "h")
        .agg(F.sum("c").alias("c"))
    )
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_n"))
    keys = exact.select("user_id", jh).select(
        "user_id", F.col("jh.j").alias("j"), F.col("jh.h").alias("h")
    )
    est = (
        keys.join(cells, ["j", "h"])
        .groupBy("user_id")
        .agg(F.min("c").cast("bigint").alias("cms_est"))
    )
    w = Window.orderBy(F.desc("exact_n"), F.asc("user_id"))
    return (
        exact.join(est, "user_id")
        .withColumn("rn", F.row_number().over(w).cast("int"))
        .where(F.col("rn") <= 20)
        .select("user_id", "exact_n", "cms_est", "rn")
    )


# ---------------------------------------------------------------------------
# agg_bloom_filter

_BLOOM_BITS = 4096  # 128 words x 32 bits — shifts stay < 32 (engine-safe)
_BLOOM_K = 3


def _bloom_pos(i: int, col):
    return mix32(F.lit(i * 7919) + col) % F.lit(_BLOOM_BITS)


def _bloom_pos_sql(i: int, expr: str) -> str:
    return f"({mix32_sql(f'{i * 7919} + {expr}')} % {_BLOOM_BITS})"


def _bloom_oracle() -> str:
    build = ", ".join(_bloom_pos_sql(i, "k") for i in range(_BLOOM_K))
    probe = ", ".join(_bloom_pos_sql(i, "c_custkey") for i in range(_BLOOM_K))
    return f"""
WITH okeys AS (SELECT DISTINCT o_custkey AS k FROM orders),
words AS (
    SELECT (h // 32) AS word, bit_or(CAST(1 AS BIGINT) << (h % 32)) AS bits
    FROM (SELECT unnest([{build}]) AS h FROM okeys) GROUP BY 1
),
probe AS (SELECT c_custkey, unnest([{probe}]) AS h FROM customer),
hits AS (
    SELECT p.c_custkey,
           count(*) FILTER (
               WHERE (w.bits & (CAST(1 AS BIGINT) << (p.h % 32))) <> 0
           ) AS nbits
    FROM probe p LEFT JOIN words w ON w.word = p.h // 32
    GROUP BY p.c_custkey
)
SELECT c.c_custkey,
       (h.nbits = {_BLOOM_K}) AS bloom_hit,
       (ok.k IS NOT NULL) AS true_hit
FROM customer c
JOIN hits h ON h.c_custkey = c.c_custkey
LEFT JOIN okeys ok ON ok.k = c.c_custkey
"""


@register("agg_bloom_filter", oracle=_bloom_oracle())
def agg_bloom_filter(spark, sf_dir):
    """A Bloom filter as a MERGEABLE AGGREGATE: m=4096 bits (128
    32-bit words, shifts never touch the sign bit — DuckDB raises on
    1<<63 and Spark wraps, so 64-bit words would be engine-hostile),
    k=3 portable mix32 hashes. Build over the distinct orders fact
    keys as groupBy(word).bit_or(mask) — partial bitmaps OR-combine
    map-side, exactly how a filter is assembled across 1000 executors
    and shipped to a runtime scan filter (join_bloom / scan_bloom_skip
    consume engine-native filters; THIS query makes the bit layout
    itself portable and therefore gradeable).

    Probe the customer dimension: bloom_hit = all k bits set, next to
    the exact membership flag. No false negatives ever
    (module-tested); false positives exist at this load factor
    (~1500 non-member keys against 4096 bits) and are a DETERMINISTIC
    function of the hashes — the oracle reproduces the exact FP set,
    which is what makes a sketch auditable rather than approximately
    trusted."""
    okeys = (
        table(spark, sf_dir, "orders")
        .select(F.col("o_custkey").alias("k"))
        .distinct()
    )
    build = okeys.select(
        F.explode(
            F.array(*[_bloom_pos(i, F.col("k")) for i in range(_BLOOM_K)])
        ).alias("h")
    )
    words = (
        build.select(
            F.shiftright("h", 5).alias("word"),
            # variable-distance shift: F.shiftleft takes a literal count
            F.expr("shiftleft(cast(1 as bigint), cast(h % 32 as int))").alias(
                "mask"
            ),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )
    cust = table(spark, sf_dir, "customer").select("c_custkey")
    probe = cust.select(
        "c_custkey",
        F.explode(
            F.array(
                *[_bloom_pos(i, F.col("c_custkey")) for i in range(_BLOOM_K)]
            )
        ).alias("h"),
    )
    hits = (
        probe.withColumn("word", F.shiftright("h", 5))
        .join(F.broadcast(words), "word", "left")
        .withColumn(
            "bit_set",
            (
                F.col("bits").bitwiseAND(
                    F.expr("shiftleft(cast(1 as bigint), cast(h % 32 as int))")
                )
                != 0
            ).cast("int"),
        )
        .groupBy("c_custkey")
        .agg(F.sum("bit_set").alias("nbits"))
    )
    return (
        cust.join(hits, "c_custkey")
        .join(
            okeys.withColumnRenamed("k", "c_custkey").withColumn(
                "is_member", F.lit(True)
            ),
            "c_custkey",
            "left",
        )
        .select(
            "c_custkey",
            (F.col("nbits") == _BLOOM_K).alias("bloom_hit"),
            F.coalesce("is_member", F.lit(False)).alias("true_hit"),
        )
    )


# ---------------------------------------------------------------------------
# agg_ams_f2

_AMS_K = 16


# seed stride keeps j*stride + user_id < 2^31 (mix32's overflow-safe
# input range) for all j < k and any plausible key
def _ams_sign_sql(j: int) -> str:
    return f"(({mix32_sql(f'{j * 7000003} + user_id')} % 2) * 2 - 1)"


def _ams_sign(j: int):
    return (mix32(F.lit(j * 7000003) + F.col("user_id")) % 2) * 2 - 1


def _ams_oracle() -> str:
    signs = ", ".join(_ams_sign_sql(j) for j in range(_AMS_K))
    return f"""
WITH s AS (
    SELECT j, CAST(sum(sgn) AS BIGINT) AS sj FROM (
        SELECT unnest(range({_AMS_K})) AS j, unnest([{signs}]) AS sgn
        FROM events) GROUP BY j
),
est AS (SELECT CAST(sum(sj * sj) // {_AMS_K} AS BIGINT) AS f2_est FROM s),
exact AS (
    SELECT CAST(sum(f * f) AS BIGINT) AS f2_exact FROM (
        SELECT count(*) AS f FROM events GROUP BY user_id)
)
SELECT exact.f2_exact, est.f2_est FROM exact, est
"""


@register("agg_ams_f2", oracle=_ams_oracle())
def agg_ams_f2(spark, sf_dir):
    """AMS (tug-of-war) estimate of the second frequency moment
    F2 = Σ_u f_u² over event user_ids, next to the exact value. Each of
    k=16 estimators keeps ONE integer: S_j = Σ_rows sign_j(user_id)
    with ±1 from a portable mix32 bit; E[S_j²] = F2, and the estimate
    is the mean of the squares — here exact integer arithmetic end to
    end, so the estimate (including its variance-driven error)
    hash-grades against the SQL replay.

    F2 is the self-join size: the statistic that prices a join on a
    skewed key (join_salted's trigger) and the repetition mass a dedup
    pass will find — computable in ONE streaming pass with k counters
    where the exact answer needs a full groupBy. The sketch is a
    vector of k sums: partial aggregation combines map-side, sketch
    union is element-wise addition — the third mergeable-sketch family
    here after CMS and KMV."""
    ev = table(spark, sf_dir, "events").select("user_id")
    # The k counters are k sum COLUMNS of one global aggregate — no
    # row explosion, no shuffle keyed on the estimator index (r12; was
    # explode x k -> groupBy(j), which shipped k rows per event to pay
    # for a k-long vector). Partial aggregation folds the same ±1
    # stream into k longs per map task and the merge is element-wise
    # addition — the mergeable-sketch property, now literally the plan.
    sums = ev.agg(
        *[
            F.sum(_ams_sign(j).cast("long")).cast("bigint").alias(f"s{j}")
            for j in range(_AMS_K)
        ]
    )
    sq = " + ".join(f"s{j} * s{j}" for j in range(_AMS_K))
    est = sums.select(
        F.expr(f"cast(({sq}) div {_AMS_K} as bigint)").alias("f2_est")
    )
    exact = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("f"))
        .agg(F.sum(F.col("f") * F.col("f")).cast("bigint").alias("f2_exact"))
    )
    return exact.crossJoin(est)


# ---------------------------------------------------------------------------
# agg_decay_counter

_DECAY_HALFLIFE_DAYS = 30
_DECAY_MAX_STEPS = 40  # cap the shift; older mass contributes 0 anyway
_DECAY_SCALE = 1 << _DECAY_MAX_STEPS


@register(
    "agg_decay_counter",
    oracle=f"""
WITH ref AS (SELECT max(CAST(ts AS DATE)) AS t0 FROM events),
w AS (
    SELECT user_id,
           CAST(floor(value * 100 + 0.5) AS BIGINT)
           * (CAST({_DECAY_SCALE} AS BIGINT) >> least(
                 CAST(date_diff('day', CAST(ts AS DATE), ref.t0) AS BIGINT)
                 // {_DECAY_HALFLIFE_DAYS}, {_DECAY_MAX_STEPS})) AS du
    FROM events, ref
)
SELECT user_id, CAST(sum(du) AS BIGINT) AS decayed_units
FROM w GROUP BY user_id
""",
)
def agg_decay_counter(spark, sf_dir):
    """Recency-weighted engagement score per user: each event's exact
    cents weighted by 2^-(age_days div 30) — a step-wise 30-day
    half-life decay anchored at the corpus max date. Weights are
    powers of two applied as integer shifts on a 2^40 scale, so the
    whole score is EXACT int64 arithmetic: order-independent,
    partition-invariant, and bit-identical in the oracle (float
    exp()-decay would differ in last-ulp between libm
    implementations — the same reason the engine's PageRank is
    integer-quantized).

    The step decay keeps the aggregate a PLAIN SUM at a fixed
    reference date — mergeable map-side, incrementable batch over
    batch (re-anchoring divides all standing mass by a power of two:
    one shift per key, no re-scan). The feature-pipeline primitive
    behind "recent activity" ranking signals."""
    ev = table(spark, sf_dir, "events")
    t0 = F.broadcast(
        ev.agg(F.max(F.to_date("ts")).alias("t0"))
    )  # one scalar row: the reference date
    # integer division for the step count, then an integer shift
    steps_i = F.least(
        F.expr(
            f"cast(datediff(t0, to_date(ts)) as bigint) div {_DECAY_HALFLIFE_DAYS}"
        ),
        F.lit(_DECAY_MAX_STEPS).cast("bigint"),
    )
    du = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint") * F.expr(
        f"shiftright(cast({_DECAY_SCALE} as bigint), cast(steps_i as int))"
    )
    return (
        ev.crossJoin(t0)
        .withColumn("steps_i", steps_i)
        .withColumn("du", du)
        .groupBy("user_id")
        .agg(F.sum("du").cast("bigint").alias("decayed_units"))
    )


@register(
    "agg_bitmap",
    oracle="""
SELECT event_type, count(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type
""",
)
def agg_bitmap(spark, sf_dir):
    """Exact COUNT(DISTINCT) via bitmap aggregation: bucket each
    user_id, OR per-bucket bitmaps together (bitmap_construct_agg),
    sum popcounts. Same answer as count(DISTINCT) — the oracle IS
    count(DISTINCT) — but the distributed representation is a fixed
    32 KB bitmap per (group, bucket) instead of a shuffled set of raw
    ids: the standard warehouse trick (Roaring-style) for distinct
    counts over billions of keys.

    Scale notes: the first aggregation's partial state is bounded
    (bitmap bytes, not distinct values), so map-side combine stays
    effective no matter the cardinality; the second aggregation moves
    only (group, bucket) popcounts. Compare `agg_approx` (HLL) for the
    sketched version; this one is exact."""
    ev = table(spark, sf_dir, "events")
    per_bucket = ev.groupBy(
        "event_type",
        F.bitmap_bucket_number(F.col("user_id")).alias("bkt"),
    ).agg(
        F.bitmap_construct_agg(
            F.bitmap_bit_position(F.col("user_id"))
        ).alias("bm")
    )
    return per_bucket.groupBy("event_type").agg(
        F.sum(F.bitmap_count("bm")).alias("n_users")
    )
