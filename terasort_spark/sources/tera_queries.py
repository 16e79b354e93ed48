"""Registry entries for the terasort module, upgraded to exact-oracle
grading (SURVEY.md §2a R1–R5; the binary GraySort pipeline itself lives
in sources/teragen.py with TeraValidate invariants in
tests/test_terasort.py).

The registered queries use a splitmix-style integer mixer whose every
step (multiply, mod 2^32, xor, shift) is exact 64-bit integer
arithmetic expressible identically in Spark and DuckDB, so the
generated keys — unlike the xxhash64-based binary generator — have a
bit-exact SQL oracle:

- ``teragen``: the generated (id, key, value) rows themselves
  hash-compare against a DuckDB regeneration from ``range()``.
- ``terasort``: runs the real pipeline (repartitionByRange +
  sortWithinPartitions) and materializes each row's PHYSICAL global
  position (partition offset + encounter order inside the partition,
  captured by an order-preserving mapInPandas). The oracle assigns
  ``row_number() OVER (ORDER BY key, id)``; an order-insensitive hash
  match on (idx, key, id) therefore proves the engine's range
  partitioner put every row in the right partition AND the
  partition-local sort ordered it correctly — the TeraValidate triple
  as one equality.

Scale: generation is embarrassingly parallel from ``spark.range``; the
sort is one range exchange + local sort (spill-safe); the index
assignment adds only a 16-row partition-count aggregate broadcast back.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from terasort_spark.registry import register
from terasort_spark.sources.teragen import KEY_LEN, VALUE_LEN

N_ROWS = 100_000  # driver-facing sample; module tests run 1M binary rows
N_PARTS = 16


def mix32(v):
    """Splitmix-style mixer on a non-negative bigint column → uniform
    value in [0, 2^32). Every intermediate stays below 2^63: inputs up
    to 2^31 keep the first product under 2^63, and the value is capped
    to 2^31 before the second multiply. Spark ANSI mode and DuckDB
    therefore compute identical values for any v in [0, 2^31)."""
    z = (v * F.lit(2654435761)) % F.lit(4294967296)
    z = z.bitwiseXOR(F.shiftright(z, 16))
    z = ((z % F.lit(2147483648)) * F.lit(2246822519)) % F.lit(4294967296)
    z = z.bitwiseXOR(F.shiftright(z, 13))
    return z


def mix32_sql(v: str) -> str:
    """DuckDB twin of :func:`mix32` — bit-exact by construction."""
    z1 = f"((({v}) * 2654435761) % 4294967296)"
    z2 = f"xor({z1}, {z1} >> 16)"
    z3 = f"((({z2}) % 2147483648) * 2246822519) % 4294967296"
    return f"xor(({z3}), ({z3}) >> 13)"


def _mix(v):
    return mix32(v) % F.lit(95)


def _mix_sql(v: str) -> str:
    return f"(({mix32_sql(v)}) % 95)"


def gen_df(spark, n_rows: int, n_partitions: int):
    """GraySort-shaped rows: 10-char printable-ASCII key (uniform per
    char), 90-char value carrying the zero-padded row id."""
    ids = spark.range(0, n_rows, numPartitions=n_partitions)
    key = F.concat(
        *[
            F.chr(F.lit(32) + _mix(F.col("id") * KEY_LEN + F.lit(i)))
            for i in range(KEY_LEN)
        ]
    ).alias("key")
    value = F.rpad(
        F.lpad(F.col("id").cast("string"), 32, "0"), VALUE_LEN, "X"
    ).alias("value")
    return ids.select("id", key, value)


KEY_SQL = "||".join(
    f"chr(CAST(32 + {_mix_sql(f'id * {KEY_LEN} + {i}')} AS INT))"
    for i in range(KEY_LEN)
)
_GEN_SQL = f"""
SELECT id,
       {KEY_SQL} AS key,
       rpad(lpad(CAST(id AS VARCHAR), 32, '0'), {VALUE_LEN}, 'X') AS value
FROM range(0, {N_ROWS}) t(id)
"""


@register("teragen", oracle=_GEN_SQL)
def teragen_query(spark, sf_dir):
    return gen_df(spark, N_ROWS, N_PARTS)


@register(
    "terasort",
    oracle=f"""
WITH g AS ({_GEN_SQL})
SELECT CAST(row_number() OVER (ORDER BY key, id) - 1 AS BIGINT) AS idx,
       key, id
FROM g
""",
)
def terasort_query(spark, sf_dir):
    srt = (
        gen_df(spark, N_ROWS, N_PARTS)
        .repartitionByRange(N_PARTS, "key", "id")
        .sortWithinPartitions("key", "id")
    )
    return _physical_index(srt, ("key", "id"))


def _physical_index(srt, carry: tuple[str, ...]):
    """Materialize each row's PHYSICAL global position in an already
    range-partitioned + locally-sorted frame: an order-preserving
    mapInPandas tags encounter order inside every partition, partition
    offsets come from a partition-count-row aggregate broadcast back.
    Shared by terasort and terasort_skewed so both grade identically."""
    srt = srt.withColumn("pid", F.spark_partition_id()).select("pid", *carry)

    def tag(batches):
        # Encounter order inside the partition — mapInPandas receives
        # this partition's batches in physical row order, so local_idx
        # records what the sort ACTUALLY produced, not a re-sort.
        nxt = 0
        for b in batches:
            n = len(b)
            yield b.assign(local_idx=range(nxt, nxt + n))
            nxt += n

    carry_schema = ", ".join(
        {"key": "key string", "id": "id bigint"}[c] for c in carry
    )
    # localCheckpoint pins ONE physical execution of the range exchange:
    # the offsets branch below derives from the SAME materialized rows
    # as the output branch, so the two can never see different sampled
    # range boundaries (they previously re-executed srt twice and were
    # aligned only by exchange reuse — r5 ADVICE).
    tagged = srt.mapInPandas(
        tag, schema=f"pid int, {carry_schema}, local_idx bigint"
    ).localCheckpoint(eager=False)
    w = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        tagged.groupBy("pid")
        .agg((F.max("local_idx") + 1).alias("n"))
        .select(
            "pid", F.coalesce(F.sum("n").over(w), F.lit(0)).alias("offset")
        )
    )
    return tagged.join(F.broadcast(offsets), "pid").select(
        (F.col("offset") + F.col("local_idx")).alias("idx"), *carry
    )


# Skewed generator: 100 distinct keys with a cubic density ramp —
# P(key = '0'*10) = P(a <= 21) = 22% of ALL rows, the duplicate-heavy
# regime GraySort's uniform keyspace never exercises. Integer-exact in
# both engines (a^3 < 2^20 is exact in a double, truncating division on
# non-negatives == floor).
_SKEW_A = f"(({mix32_sql('id')}) % 100)"
_SKEW_KEY_SQL = (
    f"lpad(CAST((({_SKEW_A} * {_SKEW_A} * {_SKEW_A}) // 10000) AS VARCHAR),"
    " 10, '0')"
)


def _skew_df(spark, n_rows: int, n_partitions: int):
    ids = spark.range(0, n_rows, numPartitions=n_partitions)
    a = mix32(F.col("id")) % F.lit(100)
    k = F.floor((a * a * a) / F.lit(10000)).cast("long")
    return ids.select(
        "id",
        F.lpad(k.cast("string"), 10, "0").alias("key"),
        (mix32(F.col("id") + F.lit(31337)) % F.lit(64)).alias("salt"),
    )


@register(
    "terasort_skewed",
    oracle=f"""
WITH g AS (SELECT id, {_SKEW_KEY_SQL} AS key
           FROM range(0, {N_ROWS}) t(id))
SELECT CAST(row_number() OVER (ORDER BY key) - 1 AS BIGINT) AS idx, key
FROM g
""",
)
def terasort_skewed(spark, sf_dir):
    """Terasort under DUPLICATE-HEAVY skewed keys (r9 VERDICT task 1's
    graded twin of the 20 GB probe): 100k rows over 100 distinct keys
    with 22% of all rows on the hottest key. A plain range exchange
    puts every copy of a key into ONE partition (boundaries are key
    values), so the hot key alone dictates a straggler ~3.5x the
    average — the failure mode uniform GraySort never shows. The fix is
    the classic SALTED range sort: exchange + local sort on
    (key, salt) with a deterministic per-row salt; key stays the major
    sort term, so the output is still globally key-sorted while the hot
    key spreads over up to 64 salt slices (spanning-partition spread
    asserted in tests/test_terasort.py; the straggler wall-clock cost and
    the salted fix are measured at 20 GB in
    scripts/tera_scale_probe.py's key-mode dial, BASELINE.md).

    The exact oracle is the (position -> key) map itself: with
    duplicate keys ANY valid key-sorted permutation yields the same
    (idx, key) set, so materializing the engine's physical global
    positions (the proven terasort tag/offset machinery) and hashing
    against row_number() OVER (ORDER BY key) proves range partitioning
    AND local sort survived one key spanning many partitions."""
    srt = (
        _skew_df(spark, N_ROWS, N_PARTS)
        .repartitionByRange(N_PARTS, "key", "salt")
        .sortWithinPartitions("key", "salt")
    )
    return _physical_index(srt, ("key",))
