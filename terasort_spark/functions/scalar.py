"""Scalar function library — one query per family, exercising many
functions at once (SURVEY.md §2b fn_* inventory).

All expressions are built-in ``pyspark.sql.functions`` (JVM-side, inside
whole-stage codegen) — no Python in the hot path. Oracles encode the
verified-equivalent DuckDB spelling where dialects differ (date_diff
argument order, epoch, instr→strpos, etc.).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from terasort_spark.catalog import table
from terasort_spark.operators._util import o_rnd, rnd
from terasort_spark.registry import register


@register(
    "fn_string",
    oracle="""
SELECT p_partkey,
       upper(p_name) AS up_name,
       lower(p_brand) AS lo_brand,
       substring(p_name, 1, 5) AS name5,
       trim(concat('  ', p_name, '  ')) AS trimmed,
       lpad(p_brand, 12, '*') AS padded,
       CAST(length(p_name) AS INTEGER) AS name_len,
       replace(p_type, 'a', '@') AS replaced,
       concat_ws('|', p_brand, p_type) AS joined,
       CAST(strpos(p_name, 'a') AS INTEGER) AS a_pos,
       left(p_type, 3) AS type3,
       right(p_type, 3) AS type_tail,
       regexp_extract(p_name, '([a-z]+)', 1) AS first_word
FROM part
""",
)
def fn_string(spark, sf_dir):
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("up_name"),
        F.lower("p_brand").alias("lo_brand"),
        F.substring("p_name", 1, 5).alias("name5"),
        F.trim(F.concat(F.lit("  "), F.col("p_name"), F.lit("  "))).alias("trimmed"),
        F.lpad("p_brand", 12, "*").alias("padded"),
        F.length("p_name").alias("name_len"),
        F.replace(F.col("p_type"), F.lit("a"), F.lit("@")).alias("replaced"),
        F.concat_ws("|", "p_brand", "p_type").alias("joined"),
        F.instr("p_name", "a").alias("a_pos"),
        F.left(F.col("p_type"), F.lit(3)).alias("type3"),
        F.right(F.col("p_type"), F.lit(3)).alias("type_tail"),
        F.regexp_extract("p_name", r"([a-z]+)", 1).alias("first_word"),
    )


@register(
    "fn_date",
    oracle="""
SELECT o_orderkey,
       CAST(year(o_orderdate) AS INTEGER) AS yr,
       CAST(month(o_orderdate) AS INTEGER) AS mo,
       CAST(day(o_orderdate) AS INTEGER) AS dom,
       CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
       CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
       o_orderdate + INTERVAL 30 DAY AS plus30,
       CAST(date_diff('day', o_orderdate, TIMESTAMP '2002-01-01') AS INTEGER)
           AS days_to_2002,
       CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS month_end,
       CAST(floor(epoch(o_orderdate)) AS BIGINT) AS epoch_s
FROM orders
WHERE o_orderkey < 500
""",
)
def fn_date(spark, sf_dir):
    # Dialect notes: DuckDB dayofweek is 0=Sunday vs Spark 1=Sunday (+1);
    # DuckDB date_diff('day', a, b) == Spark datediff(b, a); last_day
    # returns DATE in DuckDB, TIMESTAMP-cast to match Spark-on-timestamp.
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 500)
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dom"),
        F.dayofweek("o_orderdate").alias("dow"),
        F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("plus30"),
        F.datediff(F.lit("2002-01-01").cast("timestamp"), F.col("o_orderdate")).alias(
            "days_to_2002"
        ),
        F.last_day("o_orderdate").cast("timestamp").alias("month_end"),
        F.unix_timestamp("o_orderdate").alias("epoch_s"),
    )


@register(
    "fn_math",
    oracle=f"""
SELECT l_orderkey, l_linenumber,
       {o_rnd("abs(l_discount - 0.05)", "abs_d")},
       CAST(floor(l_extendedprice) AS BIGINT) AS fl,
       CAST(ceil(l_extendedprice) AS BIGINT) AS ce,
       {o_rnd("pow(l_quantity, 2)", "qty_sq")},
       {o_rnd("sqrt(l_extendedprice)", "price_sqrt")},
       {o_rnd("exp(l_discount)", "disc_exp")},
       {o_rnd("ln(l_extendedprice + 1)", "price_ln")},
       {o_rnd("log10(l_extendedprice + 1)", "price_log10")},
       CAST(CAST(l_orderkey AS BIGINT) % 7 AS BIGINT) AS mod7,
       CAST(sign(l_discount - 0.05) AS DOUBLE) AS sgn,
       {o_rnd("greatest(l_quantity, l_discount * 100)", "gr")},
       {o_rnd("least(l_quantity, l_discount * 100)", "le")}
FROM lineitem
WHERE l_orderkey < 1000
""",
)
def fn_math(spark, sf_dir):
    # Transcendentals (exp/ln/log10/sqrt/pow) are libm-identical across
    # engines on identical double inputs; floor-round guards the last ulp.
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 1000)
    d, p, q = F.col("l_discount"), F.col("l_extendedprice"), F.col("l_quantity")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        rnd(F.abs(d - 0.05), "abs_d"),
        F.floor(p).alias("fl"),
        F.ceil(p).alias("ce"),
        rnd(F.pow(q, 2), "qty_sq"),
        rnd(F.sqrt(p), "price_sqrt"),
        rnd(F.exp(d), "disc_exp"),
        rnd(F.log(p + 1), "price_ln"),
        rnd(F.log10(p + 1), "price_log10"),
        F.pmod(F.col("l_orderkey"), F.lit(7)).cast("long").alias("mod7"),
        F.signum(d - 0.05).alias("sgn"),
        rnd(F.greatest(q, d * 100), "gr"),
        rnd(F.least(q, d * 100), "le"),
    )


@register(
    "fn_cond",
    oracle=f"""
SELECT l_orderkey, l_linenumber,
       {o_rnd("coalesce(nullif(l_tax, 0.0), 0.999)", "tax_or_default")},
       CASE WHEN l_quantity > 25 THEN 'bulk' ELSE 'retail' END AS qty_class,
       coalesce(nullif(l_returnflag, 'N'), 'none') AS flag_or_none
FROM lineitem
WHERE l_orderkey < 2000
""",
)
def fn_cond(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 2000)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        rnd(F.coalesce(F.nullif(F.col("l_tax"), F.lit(0.0)), F.lit(0.999)), "tax_or_default"),
        F.when(F.col("l_quantity") > 25, "bulk").otherwise("retail").alias("qty_class"),
        F.coalesce(F.nullif(F.col("l_returnflag"), F.lit("N")), F.lit("none")).alias(
            "flag_or_none"
        ),
    )


@register(
    "fn_cast",
    oracle="""
SELECT o_orderkey,
       CAST(o_orderkey AS INTEGER) AS key_int,
       CAST(trunc(o_totalprice) AS BIGINT) AS price_long,
       CAST(CAST(o_totalprice AS DECIMAL(18,4)) AS VARCHAR) AS price_dec,
       CAST(o_orderkey AS VARCHAR) AS key_str,
       CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS price_str,
       CAST(o_orderdate AS DATE) AS order_date,
       CAST('42' AS BIGINT) AS lit_int,
       CAST(o_orderkey AS DOUBLE) AS key_dbl
FROM orders
WHERE o_orderkey < 1000
""",
)
def fn_cast(spark, sf_dir):
    # Cast lattice: int↔bigint↔double↔string↔decimal↔date. double→bigint
    # truncates toward zero in both engines; double→string goes through
    # DECIMAL(18,2) (shortest-repr formatting differs engine-to-engine).
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 1000)
    return o.select(
        "o_orderkey",
        F.col("o_orderkey").cast("int").alias("key_int"),
        F.col("o_totalprice").cast("long").alias("price_long"),
        F.col("o_totalprice").cast("decimal(18,4)").cast("string").alias("price_dec"),
        F.col("o_orderkey").cast("string").alias("key_str"),
        F.col("o_totalprice").cast("decimal(18,2)").cast("string").alias("price_str"),
        F.col("o_orderdate").cast("date").alias("order_date"),
        F.lit("42").cast("long").alias("lit_int"),
        F.col("o_orderkey").cast("double").alias("key_dbl"),
    )


@register(
    "fn_regex",
    oracle=r"""
SELECT p_partkey,
       regexp_extract(p_name, '^([a-z]+) ([a-z]+)', 2) AS second_word,
       CAST(len(regexp_extract_all(p_name, '[aeiou]')) AS INTEGER) AS n_vowels,
       regexp_replace(p_name, '(l+l)', '<\1>', 'g') AS doubled_marked,
       regexp_matches(p_type, '^[a-z]+ [a-z]+$') AS two_words,
       regexp_replace(p_name, '\s+', '_', 'g') AS snake
FROM part
WHERE p_partkey < 1000
""",
)
def fn_regex(spark, sf_dir):
    """Regex family. Dialect notes encoded in the oracle: group references
    are $1 in Spark replacement strings but \\1 in DuckDB's (and DuckDB's
    RE2 engine rejects backreferences in PATTERNS entirely); Spark
    regexp_count ~ DuckDB len(regexp_extract_all); Spark rlike ~ DuckDB
    regexp_matches; DuckDB regexp_replace needs the 'g' flag to match
    Spark's replace-all default."""
    p = table(spark, sf_dir, "part").filter(F.col("p_partkey") < 1000)
    return p.select(
        "p_partkey",
        F.regexp_extract("p_name", r"^([a-z]+) ([a-z]+)", 2).alias("second_word"),
        F.regexp_count(F.col("p_name"), F.lit(r"[aeiou]")).alias("n_vowels"),
        F.regexp_replace(F.col("p_name"), r"(l+l)", r"<$1>").alias(
            "doubled_marked"
        ),
        F.col("p_type").rlike(r"^[a-z]+ [a-z]+$").alias("two_words"),
        F.regexp_replace(F.col("p_name"), r"\s+", "_").alias("snake"),
    )


# ---------------------------------------------------------------------------
# fn_try — error-tolerant (TRY_*) function family


@register(
    "fn_try",
    oracle="""
SELECT o_orderkey,
       TRY_CAST(o_orderpriority AS INTEGER) AS pri_int,
       TRY_CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS pri_num,
       TRY_CAST(o_orderstatus AS DOUBLE) AS st_dbl,
       CASE WHEN o_orderkey % 5 = 0 THEN NULL
            ELSE floor(o_totalprice / (o_orderkey % 5) * 10000 + 0.5) / 10000
       END AS price_div,
       string_split(o_orderpriority, '-')[2] AS pri_word,
       string_split(o_orderpriority, '-')[3] AS pri_missing
FROM orders WHERE o_orderkey < 2000
""",
)
def fn_try(spark, sf_dir):
    """The TRY_* error-tolerant family — found-data hygiene at 100 TB,
    where a single malformed cell must yield NULL, not kill a
    1000-executor job: try_cast on non-numeric strings ('1-URGENT' ->
    NULL; its leading digit parses), try_divide (divisor 0 ->
    NULL instead of ANSI error), try_element_at past the array end ->
    NULL. The oracle replays with DuckDB's TRY_CAST / guarded divide /
    out-of-bounds list index (NULL by definition there), so the
    NULL-not-error contract is hash-checked cell by cell. All
    expressions stay in whole-stage codegen — error tolerance costs no
    Python."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    pri_parts = F.split(F.col("o_orderpriority"), "-")
    return o.select(
        "o_orderkey",
        F.col("o_orderpriority").try_cast("int").alias("pri_int"),
        F.expr("substr(o_orderpriority, 1, 1)").try_cast("bigint").alias("pri_num"),
        F.col("o_orderstatus").try_cast("double").alias("st_dbl"),
        (
            F.floor(
                F.try_divide(
                    F.col("o_totalprice"), F.col("o_orderkey") % 5
                )
                * 10000
                + F.lit(0.5)
            )
            / 10000
        ).alias("price_div"),
        F.try_element_at(pri_parts, F.lit(2)).alias("pri_word"),
        F.try_element_at(pri_parts, F.lit(3)).alias("pri_missing"),
    )


@register(
    "fn_string2",
    oracle="""
SELECT p_partkey,
       array_to_string(list_transform(string_split(p_name, ' '), w -> concat(upper(w[1:1]), lower(w[2:]))), ' ') AS cap_name,
       reverse(p_brand) AS rev_brand,
       repeat(p_brand, 2) AS brand2,
       translate(p_type, 'aeiou', '.....') AS masked_type,
       split_part(p_name, ' ', 1) AS first_tok,
       starts_with(p_name, 'a') AS starts_a,
       ends_with(p_type, 's') AS ends_s,
       contains(p_name, 'er') AS has_er
FROM part
WHERE p_partkey < 1000
""",
)
def fn_string2(spark, sf_dir):
    p = table(spark, sf_dir, "part").filter(F.col("p_partkey") < 1000)
    return p.select(
        "p_partkey",
        F.initcap("p_name").alias("cap_name"),
        F.reverse("p_brand").alias("rev_brand"),
        F.repeat("p_brand", 2).alias("brand2"),
        F.translate("p_type", "aeiou", ".....").alias("masked_type"),
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias("first_tok"),
        F.startswith(F.col("p_name"), F.lit("a")).alias("starts_a"),
        F.endswith(F.col("p_type"), F.lit("s")).alias("ends_s"),
        F.contains(F.col("p_name"), F.lit("er")).alias("has_er"),
    )


@register(
    "fn_bits",
    oracle="""
SELECT e.event_id,
       e.event_id & 255 AS low_byte,
       e.event_id | 4096 AS with_flag,
       xor(e.event_id, 1431655765) AS xored,
       e.event_id << 2 AS shl,
       e.event_id >> 3 AS shr,
       CAST(bit_count(e.event_id) AS INTEGER) AS popcount
FROM events e
WHERE e.event_id < 2000
""",
)
def fn_bits(spark, sf_dir):
    ev = table(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    k = F.col("event_id")
    return ev.select(
        "event_id",
        k.bitwiseAND(F.lit(255)).alias("low_byte"),
        k.bitwiseOR(F.lit(4096)).alias("with_flag"),
        k.bitwiseXOR(F.lit(0x55555555)).alias("xored"),
        F.shiftleft(k, 2).alias("shl"),
        F.shiftright(k, 3).alias("shr"),
        F.bit_count(k).alias("popcount"),
    )


@register(
    "fn_date2",
    oracle="""
SELECT o_orderkey,
       make_timestamp(CAST(year(o_orderdate) AS BIGINT), month(o_orderdate), 1, 0, 0, 0.0) AS month_start,
       strftime(o_orderdate, '%Y-%m') AS ym,
       CAST(quarter(o_orderdate) AS INTEGER) AS q,
       CAST(dayofyear(o_orderdate) AS INTEGER) AS doy,
       CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s
FROM orders
WHERE o_orderkey <= 1000
""",
)
def fn_date2(spark, sf_dir):
    """Datetime construction/extraction family #2: make_timestamp,
    format-to-string, quarter, day-of-year, epoch seconds — the
    constructors and extractors fn_date doesn't cover."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 1000)
    return o.select(
        "o_orderkey",
        F.make_timestamp(
            F.year("o_orderdate"),
            F.month("o_orderdate"),
            F.lit(1),
            F.lit(0),
            F.lit(0),
            F.lit(0),
        ).alias("month_start"),
        F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
        F.quarter("o_orderdate").alias("q"),
        F.dayofyear("o_orderdate").alias("doy"),
        F.unix_timestamp("o_orderdate").alias("epoch_s"),
    )


@register(
    "fn_string3",
    oracle="""
SELECT p_partkey,
       translate(p_name, 'aeiou', 'AEIOU') AS tr,
       reverse(p_name) AS rev,
       repeat(p_brand, 2) AS rep,
       CAST(ascii(p_name) AS INTEGER) AS first_code,
       chr(65 + p_size % 26) AS size_chr,
       CAST(strpos(p_name, 'a') AS INTEGER) AS a_pos,
       left(p_name, 3) AS l3,
       right(p_name, 3) AS r3
FROM part
WHERE p_partkey <= 500
""",
)
def fn_string3(spark, sf_dir):
    """String family #3: translate/reverse/repeat/ascii/chr/instr and
    left/right — rounding out the scalar string surface beyond
    fn_string/fn_string2."""
    p = table(spark, sf_dir, "part").filter(F.col("p_partkey") <= 500)
    return p.select(
        "p_partkey",
        F.translate("p_name", "aeiou", "AEIOU").alias("tr"),
        F.reverse("p_name").alias("rev"),
        F.repeat("p_brand", 2).alias("rep"),
        F.ascii("p_name").alias("first_code"),
        F.chr(F.lit(65) + F.col("p_size") % 26).alias("size_chr"),
        F.instr("p_name", "a").alias("a_pos"),
        F.left("p_name", F.lit(3)).alias("l3"),
        F.right("p_name", F.lit(3)).alias("r3"),
    )


@register(
    "fn_format",
    oracle=f"""
SELECT p_partkey,
       printf('%s#%06d', p_brand, p_partkey) AS sku,
       printf('%.2f', p_retailprice) AS price_str,
       lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_code,
       printf('%x', p_partkey) AS key_hex
FROM part WHERE p_partkey % 100 = 0
""",
)
def fn_format(spark, sf_dir):
    """String formatting family: printf-style templates
    (format_string ↔ printf), fixed-decimal rendering, zero-padding,
    hex rendering — the functions that build SKUs, codes, and export
    columns. %-template semantics are the shared C printf spec, so the
    two engines agree byte-for-byte.

    Scale notes: stateless scan-stage expressions; the modulus filter
    is pushed to parquet; whole-stage codegen keeps them JVM-side."""
    p = table(spark, sf_dir, "part")
    return (
        p.where(F.col("p_partkey") % 100 == 0)
        .select(
            "p_partkey",
            F.format_string("%s#%06d", "p_brand", "p_partkey").alias("sku"),
            F.format_string("%.2f", "p_retailprice").alias("price_str"),
            F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_code"),
            F.format_string("%x", "p_partkey").alias("key_hex"),
        )
    )
