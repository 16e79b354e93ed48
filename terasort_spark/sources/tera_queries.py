"""Registry entries for the terasort module, graded against exact
oracles (SURVEY.md §2a R1–R5). The generator and the sort are the ones
the CLI runs, from sources/teragen.py: ``gen_df`` rows (the string form
of ``teragen``'s records) sorted by ``terasort`` on ``(key, value)``.
Every step of the generator is exact integer arithmetic, and ``gen_sql``
is its DuckDB twin:

- ``teragen``: the generated (id, key, value) rows themselves
  hash-compare against a DuckDB regeneration from ``range()``.
- ``terasort``: runs the real pipeline (repartitionByRange +
  sortWithinPartitions) and materializes each row's PHYSICAL global
  position (partition offset + encounter order inside the partition).
  The value holds the zero-padded id, so ``(key, value)`` order is
  ``(key, id)`` order, and the oracle assigns ``row_number() OVER
  (ORDER BY key, id)``; an order-insensitive hash match on (idx, key,
  id) therefore proves the engine's range partitioner put every row in
  the right partition AND the partition-local sort ordered it
  correctly — the TeraValidate triple as one equality.
- ``terasort_skewed``: the same sort over the skewed key, one key on 22%
  of rows.

Scale: generation is embarrassingly parallel from ``spark.range``; the
sort is one range exchange + local sort (spill-safe); the index runs in
the JVM and adds only a 16-row partition-count aggregate broadcast back.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from terasort_spark.registry import register
from terasort_spark.sources.teragen import gen_df, gen_sql, terasort

N_ROWS = 100_000  # driver-facing sample; module tests run 1M binary rows
N_PARTS = 16


@register("teragen", oracle=gen_sql(N_ROWS))
def teragen_query(spark, sf_dir):
    return gen_df(spark, N_ROWS, N_PARTS)


@register(
    "terasort",
    oracle=f"""
WITH g AS ({gen_sql(N_ROWS)})
SELECT CAST(row_number() OVER (ORDER BY key, id) - 1 AS BIGINT) AS idx,
       key, id
FROM g
""",
)
def terasort_query(spark, sf_dir):
    srt = terasort(gen_df(spark, N_ROWS, N_PARTS), N_PARTS)
    return _physical_index(srt, ("key", "id"))


def _physical_index(srt, carry: tuple[str, ...]):
    """Materialize each row's PHYSICAL global position in an already
    range-partitioned + locally-sorted frame. ``monotonically_increasing_id``
    is ``pid << 33`` plus the row's encounter order inside its partition,
    so subtracting ``pid << 33`` records what the sort ACTUALLY produced,
    not a re-sort; partition offsets come from a partition-count-row
    aggregate broadcast back. Shared by terasort and terasort_skewed so
    both grade identically."""
    pid = F.spark_partition_id().cast("long")
    local_idx = F.monotonically_increasing_id() - F.shiftleft(pid, 33)
    # localCheckpoint pins ONE physical execution of the range exchange:
    # the offsets branch below derives from the SAME materialized rows
    # as the output branch, so the two can never see different sampled
    # range boundaries (they previously re-executed srt twice and were
    # aligned only by exchange reuse — r5 ADVICE).
    tagged = srt.select(
        pid.alias("pid"), local_idx.alias("local_idx"), *carry
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


@register(
    "terasort_skewed",
    oracle=f"""
WITH g AS ({gen_sql(N_ROWS, skewed=True)})
SELECT CAST(row_number() OVER (ORDER BY key) - 1 AS BIGINT) AS idx, key
FROM g
""",
)
def terasort_skewed(spark, sf_dir):
    """Terasort under DUPLICATE-HEAVY skewed keys (r9 VERDICT task 1's
    graded twin of the large-scale probe): 100k rows over under 100
    distinct keys with 22% of all rows on the hottest key. A range
    exchange on ``key`` alone puts every copy of a key into ONE
    partition (boundaries are key values), so the hot key alone dictates
    a straggler ~3.5x the average — the failure mode uniform GraySort
    never shows. ``terasort`` ranges on ``(key, value)``, distinct per
    record, so its sampled boundaries cut the hot key across partitions
    while key stays the major sort term (spanning-partition spread
    asserted in tests/test_terasort.py; the straggler at scale is
    measured by ``scripts/probe.py tera``'s ``zipf`` mode, BASELINE.md).

    The exact oracle is the (position -> key) map itself: with
    duplicate keys ANY valid key-sorted permutation yields the same
    (idx, key) set, so materializing the engine's physical global
    positions and hashing against row_number() OVER (ORDER BY key)
    proves range partitioning AND local sort survived one key spanning
    many partitions."""
    srt = terasort(gen_df(spark, N_ROWS, N_PARTS, skewed=True), N_PARTS)
    return _physical_index(srt, ("key",))
