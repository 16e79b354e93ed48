"""Aggregation operators (SURVEY.md §2b — agg_* family).

All pure-DataFrame: Catalyst plans partial (map-side) + final hash
aggregates automatically, so every query here shuffles only the grouped
partials, not raw rows. Scale note: group-by keys in this corpus are
low-cardinality (flag/status/priority), so the shuffle payload is tiny
regardless of input size — the 100 TB cost is the scan, which parquet
column pruning keeps to the referenced columns only.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from terasort_spark.catalog import table
from terasort_spark.operators._util import (
    dsum,
    hex_int,
    o_dsum,
    o_hex_int,
    o_ravg,
    o_rnd,
    ravg,
    rnd,
)
from terasort_spark.registry import register

# ---------------------------------------------------------------------------
# agg_group — flagship (TPC-H Q1 pricing summary shape). Reference parity:
# the reference (terasort) has no aggregation surface; this is the
# BASELINE.json north-star flagship.
# ---------------------------------------------------------------------------


@register(
    "agg_group",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       {o_dsum("l_quantity", "sum_qty")},
       {o_dsum("l_extendedprice", "sum_base_price")},
       {o_dsum("l_extendedprice*(1-l_discount)", "sum_disc_price")},
       {o_dsum("l_extendedprice*(1-l_discount)*(1+l_tax)", "sum_charge")},
       {o_ravg("l_quantity", "avg_qty")},
       {o_ravg("l_extendedprice", "avg_price")},
       {o_ravg("l_discount", "avg_disc")},
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
)
def agg_group(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity"), "sum_qty"),
            dsum(F.col("l_extendedprice"), "sum_base_price"),
            dsum(disc_price, "sum_disc_price"),
            dsum(charge, "sum_charge"),
            ravg(F.col("l_quantity"), "avg_qty"),
            ravg(F.col("l_extendedprice"), "avg_price"),
            ravg(F.col("l_discount"), "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "agg_global",
    oracle=f"""
SELECT count(*) AS n_rows,
       {o_dsum("o_totalprice", "sum_price")},
       {o_rnd("min(o_totalprice)", "min_price")},
       {o_rnd("max(o_totalprice)", "max_price")},
       count(DISTINCT o_custkey) AS n_customers
FROM orders
""",
)
def agg_global(spark, sf_dir):
    return table(spark, sf_dir, "orders").agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum(F.col("o_totalprice"), "sum_price"),
        rnd(F.min("o_totalprice"), "min_price"),
        rnd(F.max("o_totalprice"), "max_price"),
        F.countDistinct("o_custkey").alias("n_customers"),
    )


@register(
    "agg_distinct",
    oracle="""
SELECT l_returnflag,
       count(DISTINCT l_partkey) AS n_parts,
       count(DISTINCT l_suppkey) AS n_supps,
       count(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_distinct(spark, sf_dir):
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_supps"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@register(
    "agg_multidistinct",
    oracle=f"""
SELECT o_orderstatus,
       count(DISTINCT o_custkey) AS n_cust,
       count(DISTINCT o_orderpriority) AS n_prio,
       {o_dsum("o_totalprice", "sum_price")},
       count(*) AS n_orders
FROM orders
GROUP BY o_orderstatus
""",
)
def agg_multidistinct(spark, sf_dir):
    # Two DISTINCT aggs + plain aggs in one pass: Spark plans an Expand
    # (one replica per distinct set) + two-stage agg — no row explosion
    # beyond 3x, map-side partials still apply.
    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").alias("n_cust"),
            F.countDistinct("o_orderpriority").alias("n_prio"),
            dsum(F.col("o_totalprice"), "sum_price"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@register(
    "agg_stats",
    oracle=f"""
SELECT c_mktsegment,
       {o_rnd("stddev_samp(c_acctbal)", "sd_bal")},
       {o_rnd("var_samp(c_acctbal)", "var_bal")},
       {o_rnd("min(c_acctbal)", "min_bal")},
       {o_rnd("max(c_acctbal)", "max_bal")},
       count(*) AS n
FROM customer
GROUP BY c_mktsegment
""",
)
def agg_stats(spark, sf_dir):
    return (
        table(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(
            rnd(F.stddev_samp("c_acctbal"), "sd_bal"),
            rnd(F.var_samp("c_acctbal"), "var_bal"),
            rnd(F.min("c_acctbal"), "min_bal"),
            rnd(F.max("c_acctbal"), "max_bal"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "agg_rollup",
    oracle="""
SELECT r_name, n_name,
       CAST(grouping(r_name) AS INTEGER) AS g_region,
       CAST(grouping(n_name) AS INTEGER) AS g_nation,
       count(*) AS n
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
""",
)
def agg_rollup(spark, sf_dir):
    j = table(spark, sf_dir, "nation").join(
        table(spark, sf_dir, "region"),
        F.col("n_regionkey") == F.col("r_regionkey"),
    )
    return j.rollup("r_name", "n_name").agg(
        F.grouping("r_name").cast("int").alias("g_region"),
        F.grouping("n_name").cast("int").alias("g_nation"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "agg_cube",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       CAST(grouping(l_returnflag) AS INTEGER) AS g_rf,
       CAST(grouping(l_linestatus) AS INTEGER) AS g_ls,
       count(*) AS n,
       {o_dsum("l_quantity", "sum_qty")}
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""",
)
def agg_cube(spark, sf_dir):
    return (
        table(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("int").alias("g_rf"),
            F.grouping("l_linestatus").cast("int").alias("g_ls"),
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("l_quantity"), "sum_qty"),
        )
    )


@register(
    "agg_gsets",
    oracle=f"""
SELECT o_orderstatus, o_orderpriority,
       count(*) AS n,
       {o_dsum("o_totalprice", "sum_price")}
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
""",
)
def agg_gsets(spark, sf_dir):
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               count(1) AS n,
               floor(CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) * 10000 + 0.5) / 10000 AS sum_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@register(
    "agg_collect",
    oracle="""
SELECT o_orderstatus,
       array_to_string(list_sort(array_agg(DISTINCT o_orderpriority)), '|')
           AS priorities,
       count(*) AS n
FROM orders
GROUP BY o_orderstatus
""",
)
def agg_collect(spark, sf_dir):
    # D5: collected arrays sorted (and DISTINCT for set semantics) so the
    # result is independent of row arrival order on any cluster size, then
    # joined to one scalar string — declared outputs never carry raw
    # ArrayType (list cells are unhashable in pandas-based canonicalizers).
    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.array_join(
                F.sort_array(F.collect_set("o_orderpriority")), "|"
            ).alias("priorities"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register("agg_approx")  # sketch-based → no cross-engine oracle; rows-only
def agg_approx(spark, sf_dir):
    # HyperLogLog++ — mergeable sketch, constant memory per group at any
    # scale. DuckDB's approx sketch differs, so only row shape is checked;
    # accuracy asserted in tests/test_llm.py vs exact counts.
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.approx_count_distinct("l_partkey").alias("approx_parts"))
    )


CM_DEPTH = 4  # count-min rows; <= 4 so the md5 nibble slices don't overlap
CM_WIDTH = 1024  # buckets per row; overestimate <= e * N / width w.h.p.


def _cm_bucket(tok_md5, depth):
    """Depth-d count-min bucket: 3 hex nibbles of md5(token) at offset
    8*d (chars 1-3 / 9-11 / 17-19 / 25-27 of the 32-char digest), i.e.
    12 independent digest bits, folded mod CM_WIDTH. md5 replaces the
    original murmur3 so the cells replay bit-for-bit in DuckDB — the
    dedup_minhash r6 pattern (llm_dedup.py)."""
    return F.pmod(hex_int(tok_md5, 3, depth * 8 + 1), F.lit(CM_WIDTH))


def _cm_bucket_sql(h, depth):
    return f"({o_hex_int(h, 3, depth * 8 + 1)} % {CM_WIDTH})"


def _heavyhitters_oracle() -> str:
    cell_rows = "\n    UNION ALL\n    ".join(
        f"SELECT {i} AS depth, {_cm_bucket_sql('h', i)} AS bucket, tok FROM hx"
        for i in range(CM_DEPTH)
    )
    return f"""
WITH toks AS (
  SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents
),
hx AS (SELECT tok, md5(tok) AS h FROM toks),
placed AS (
    {cell_rows}
),
sketch AS (
  SELECT depth, bucket, CAST(count(*) AS BIGINT) AS cnt
  FROM placed GROUP BY depth, bucket
),
dtok AS (SELECT DISTINCT tok, md5(tok) AS h FROM toks),
est AS (
  SELECT p.tok, min(s.cnt) AS est
  FROM ({cell_rows.replace("FROM hx", "FROM dtok")}) p
  JOIN sketch s USING (depth, bucket)
  GROUP BY p.tok
),
top AS (SELECT tok, est FROM est ORDER BY est DESC, tok LIMIT 20)
SELECT CAST(row_number() OVER (ORDER BY est DESC, tok) AS INTEGER) AS rank,
       tok, est
FROM top
"""


@register("agg_heavyhitters", oracle=_heavyhitters_oracle())
def agg_heavyhitters(spark, sf_dir):
    """Heavy-hitter tokens via a count-min sketch: every token
    occurrence increments CM_DEPTH cells (md5-nibble hash mod
    CM_WIDTH); a token's estimate is the MIN over its cells — never an
    underestimate, over by at most ~N/CM_WIDTH per colliding row. The
    streaming-friendly answer to "top tokens over 100 TB" when exact
    counts would need an unbounded groupBy state.

    EXACT-oracle since r6: buckets derive from md5 digest slices
    (_cm_bucket), so the full sketch → min-estimate → top-20 pipeline
    replays bit-for-bit in DuckDB (_heavyhitters_oracle) — upgraded
    from rows-only the same way as dedup_minhash/dedup_simhash.

    Scale notes: the sketch is an aggregation to a FIXED
    CM_DEPTH x CM_WIDTH = 4096-cell table — partial aggregation
    collapses each partition to <= 4096 cells before the shuffle, so
    the exchange is constant-size at any corpus scale (the mergeability
    that makes CM work as a streaming/distributed sketch). The estimate
    join broadcasts those 4096 cells back against the distinct tokens.
    Output: top 20 tokens by estimated count, rank materialized
    (SURVEY.md §2b rule D3), ties broken on token text.

    r10 perf rewrite (identical hashes — a CM cell's count is the SUM
    of the term frequencies of the tokens hashing into it): aggregate
    the corpus to an exact per-token frequency table FIRST (one scan,
    one map-side-combined shuffle — the same shuffle the old
    d.distinct() already paid), then hash each DISTINCT token once and
    weight its cells by tf. The old form md5-hashed every token
    OCCURRENCE and scanned/exploded the corpus twice (sketch branch +
    distinct branch); this form does the expensive string hashing
    |vocab| times instead of |corpus| times and scans documents once
    (the tf table is checkpoint-pinned for both consumers). Addresses
    the r9 VERDICT 2.17x-vs-baseline flag at the root instead of
    re-freezing the baseline."""
    tf = (
        table(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.lower("text"), " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    # md5 once per distinct token + CM_DEPTH cheap slice/mod
    # projections, all DuckDB-replayable.
    h = F.md5(F.col("tok"))
    cells = F.array(
        *[
            F.struct(
                F.lit(i).alias("depth"),
                _cm_bucket(h, i).cast("int").alias("bucket"),
            )
            for i in range(CM_DEPTH)
        ]
    )
    placed = tf.select("tok", "tf", F.explode(cells).alias("c")).select(
        "tok", "tf", "c.depth", "c.bucket"
    )
    sketch = placed.groupBy("depth", "bucket").agg(F.sum("tf").alias("cnt"))
    est = (
        placed.select("tok", "depth", "bucket")
        .join(F.broadcast(sketch), ["depth", "bucket"])
        .groupBy("tok")
        .agg(F.min("cnt").alias("est"))
    )
    from pyspark.sql import Window

    # Bound the candidate set with ORDER BY + LIMIT first
    # (TakeOrderedAndProject: per-partition 20-row heaps) — the rank
    # window then runs over 20 rows, never the full distinct-token
    # table, which at corpus scale is itself billions of rows.
    top = est.orderBy(F.desc("est"), F.asc("tok")).limit(20)
    w = Window.orderBy(F.desc("est"), F.asc("tok"))
    return top.select(
        F.row_number().over(w).alias("rank"), "tok", "est"
    )
