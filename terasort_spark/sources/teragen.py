"""TeraGen / TeraSort / TeraValidate — the reference pipeline, re-expressed
Spark-first (SURVEY.md §2a R1–R5).

Reference parity (reconstructed public semantics — /root/reference is
empty; see SURVEY.md §0):
- R1 source: fixed 100-byte records = 10-byte key + 90-byte value
  (GraySort spec, Hadoop TeraInputFormat). Here the generator is native:
  ``spark.range`` + per-id ``mix32`` hashing — no RNG state, so any retry
  or repartitioning reproduces identical data. Every step is exact
  integer arithmetic, so ``gen_sql`` regenerates the same rows in DuckDB:
  the bytes the CLI writes, and the graded ``teragen``/``terasort``
  queries (sources/tera_queries.py), share one generator with an oracle.
- R2 key normalization (``OptimizedText`` 10-byte prefix): built into
  Tungsten's UnsafeRow binary prefix comparator — nothing to write.
- R3 range partitioning (the reference's contribution — a custom
  Partitioner / Flink DataDistribution): ``repartitionByRange`` plans an
  Exchange(RangePartitioning) whose RangePartitioner reservoir-samples
  boundaries — the same "range partitioner with sampling" design, built
  in. It ranges on ``(key, value)``, which is distinct per record, so a
  duplicated key can span partitions without a salt.
- R4 per-partition sort: ``sortWithinPartitions`` fuses into the shuffle
  (SortExec after the range exchange), spill-safe.
- R5 sink: partition-indexed files are Spark's default part-NNNNN
  naming, so concatenating part files in index order yields a globally
  sorted dataset.
- TeraValidate: order-within + order-between partitions, row count, and
  an order-insensitive content checksum, all from one read of the
  sorted records (as Hadoop's TeraValidate mapper does) — invariants,
  not golden files.
"""

from __future__ import annotations

import glob
import os
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark import TaskContext
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

KEY_LEN = 10
VALUE_LEN = 90
RECORD_LEN = KEY_LEN + VALUE_LEN
_MASK31 = 0x7FFFFFFF
_MASK32 = 0xFFFFFFFF


def mix32(v: Column) -> Column:
    """Splitmix-style mixer on a non-negative bigint column -> uniform
    value in [0, 2^32). Every step (multiply, mask, xor, shift) is exact
    64-bit integer arithmetic: an input below 2^31 keeps the first
    product under 2^63, and the value is cut to 31 bits before the
    second multiply. Spark (ANSI on) and DuckDB therefore compute
    identical values for any v in [0, 2^31)."""
    z = (v * F.lit(2654435761)).bitwiseAND(F.lit(_MASK32))
    z = z.bitwiseXOR(F.shiftright(z, 16))
    z = (z.bitwiseAND(F.lit(_MASK31)) * F.lit(2246822519)).bitwiseAND(F.lit(_MASK32))
    return z.bitwiseXOR(F.shiftright(z, 13))


# The two SQL dialects the generator is written in differ only in how
# they spell bitwise xor.
_XOR = {
    "duckdb": lambda a, b: f"xor({a}, {b})",
    "spark": lambda a, b: f"(({a}) ^ ({b}))",
}


def mix32_sql(v: str, engine: str = "duckdb") -> str:
    """SQL twin of :func:`mix32` for ``engine`` ("duckdb" or "spark") —
    bit-exact by construction."""
    xor = _XOR[engine]
    z1 = f"((({v}) * 2654435761) & {_MASK32})"
    z2 = xor(z1, f"{z1} >> 16")
    z3 = f"(((({z2}) & {_MASK31}) * 2246822519) & {_MASK32})"
    return xor(z3, f"{z3} >> 13")


def _mix_in_sql(v: str, engine: str) -> str:
    """mix32's input for a value ``v`` derived from the row's ``id``: the
    low 31 bits of ``v`` xor a per-block term, the block ``id >> 27``
    times an odd constant, mod 2^31. The term is 0 for ids below 2^27,
    where the input is ``v`` itself; above that the mask keeps every
    input inside mix32's exact range, and the term keeps blocks whose
    low bits agree apart. Exact for ids below 2^58."""
    block = f"((id >> 27) * 2654435761) & {_MASK31}"
    return _XOR[engine](f"({v}) & {_MASK31}", block)


def key_sql(engine: str, skewed: bool = False) -> str:
    """TeraGen's 10-character printable-ASCII key of row ``id``, as SQL
    for ``engine``: the Spark generator and its DuckDB oracle evaluate
    the same SQL, spelled apart only in xor.

    Uniform: character i is ``chr(32 + mix32(id * 10 + i) % 95)``,
    uniform per byte — the distribution the reference's closed-form
    partitioner exploits. Skewed: 100 equally likely draws
    ``a = mix32(id) % 100`` on a cubic ramp ``floor(a^3 / 10^4)``, so the
    key ``'0' * 10`` (every a <= 21) holds 22% of all rows — the
    duplicate-heavy regime uniform GraySort keys never exercise. a^3 <
    2^20 is exact in a double."""
    if skewed:
        a = f"(({mix32_sql(_mix_in_sql('id', engine), engine)}) % 100)"
        k = f"CAST(floor(({a} * {a} * {a}) / 10000) AS BIGINT)"
        return f"lpad(CAST({k} AS STRING), {KEY_LEN}, '0')"
    return " || ".join(
        f"chr(CAST(32 + (({mix32_sql(_mix_in_sql(f'id * {KEY_LEN} + {i}', engine), engine)})"
        " % 95) AS INT))"
        for i in range(KEY_LEN)
    )


KEY_SQL = key_sql("duckdb")
SKEW_KEY_SQL = key_sql("duckdb", skewed=True)
VALUE_SQL = f"rpad(lpad(CAST(id AS STRING), 32, '0'), {VALUE_LEN}, 'X')"


def gen_df(
    spark: SparkSession, n_rows: int, n_partitions: int, skewed: bool = False
) -> DataFrame:
    """TeraGen's rows as strings: ``id``, the key from :func:`key_sql` and
    a 90-char value carrying the zero-padded id, so ``(key, value)``
    order is ``(key, id)`` order. All JVM-side expressions, embarrassingly
    parallel from ``spark.range``; ``gen_sql`` is the exact DuckDB twin.
    The key is parsed from SQL text in one call: built as Column objects,
    the same expression took ~0.3 s of Py4J calls and analysis per
    DataFrame against ~0.04 s parsed (300k rows, 4 cores, ``local[4]``),
    about what generating 300k rows costs."""
    return spark.range(0, n_rows, numPartitions=n_partitions).select(
        "id",
        F.expr(key_sql("spark", skewed)).alias("key"),
        F.expr(VALUE_SQL).alias("value"),
    )


def gen_sql(n_rows: int, skewed: bool = False) -> str:
    """DuckDB twin of :func:`gen_df`: the same (id, key, value) rows,
    regenerated from ``range()``."""
    key = SKEW_KEY_SQL if skewed else KEY_SQL
    return f"""
SELECT id,
       {key} AS key,
       {VALUE_SQL} AS value
FROM range(0, {n_rows}) t(id)
"""


def teragen(
    spark: SparkSession, n_rows: int, n_partitions: int = 32, skewed: bool = False
) -> DataFrame:
    """Deterministic TeraGen: ``gen_df``'s key and value as the binary
    10-byte key and 90-byte value of a 100-byte record."""
    return gen_df(spark, n_rows, n_partitions, skewed).select(
        F.encode("key", "utf-8").alias("key"), F.encode("value", "utf-8").alias("value")
    )


def terasort(df: DataFrame, n_partitions: int = 32) -> DataFrame:
    """Total-order sort on ``(key, value)``: range-exchange on sampled
    boundaries, then partition-local sort — partition i's records all
    precede partition i+1's, so output files concatenate to a sorted
    whole.

    Key is the major term, so keys are nondecreasing within and between
    partitions: the TeraValidate contract. A TeraGen value carries the
    row id, so ``(key, value)`` is distinct per record, and the sampled
    boundaries can cut a hot key across partitions instead of pinning
    every copy to one reducer. BinaryType ordering is unsigned-byte
    lexicographic, exactly the GraySort comparator; Tungsten compares
    via the 8-byte key prefix (the built-in equivalent of the
    reference's OptimizedText)."""
    return df.repartitionByRange(n_partitions, "key", "value").sortWithinPartitions(
        "key", "value"
    )


def write_tera_files(sorted_df: DataFrame, out_dir: str) -> list[str]:
    """R5 sink (TeraOutputFormat semantics): each partition becomes one
    file ``part-<partition index>.dat`` of raw concatenated 100-byte
    records (no header, no framing), so the files concatenated in name
    order reproduce the globally sorted dataset.

    The records travel as ``concat(key, value)`` through ``mapInArrow``;
    each task opens its own partition's file and writes every Arrow
    batch's data buffer in one call, so no data moves through the
    driver and no record is a Python object. Empty partitions still
    write a zero-byte file, as Hadoop does. A NULL record, or one that
    is not 100 bytes, fails the task.

    Like Hadoop's FileOutputFormat, this refuses an ``out_dir`` that
    already holds part files: a stale part file from an earlier, wider
    write would otherwise be read back as data. ``out_dir`` must be
    visible to the driver and every executor (local mode or a shared
    fs). Returns the paths in partition order."""
    if glob.glob(os.path.join(out_dir, "part-*.dat")):
        raise FileExistsError(f"output directory {out_dir} already holds part-*.dat files")
    os.makedirs(out_dir, exist_ok=True)

    def write_partition(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        path = os.path.join(out_dir, f"part-{TaskContext.get().partitionId():05d}.dat")
        with open(path, "wb") as f:
            for batch in batches:
                recs = batch.column(0)
                if not len(recs):
                    continue
                widths = pc.binary_length(recs)
                if recs.null_count or not pc.all(pc.equal(widths, RECORD_LEN)).as_py():
                    raise ValueError(f"{path}: every record must be {RECORD_LEN} non-NULL bytes")
                _, offsets, data = recs.buffers()
                width = np.int64 if pa.types.is_large_binary(recs.type) else np.int32
                start = int(np.frombuffer(offsets, width)[recs.offset])
                f.write(data[start : start + len(recs) * RECORD_LEN])
        yield pa.RecordBatch.from_pydict({"path": [path]})

    records = sorted_df.select(F.concat("key", "value"))
    return sorted(r["path"] for r in records.mapInArrow(write_partition, "path string").collect())


def read_tera_files(spark: SparkSession, in_dir: str) -> DataFrame:
    """R1 source (TeraInputFormat semantics): the ``part-*.dat`` files of
    ``in_dir`` as (key BINARY, value BINARY) rows, built in the JVM.

    The JVM ``binaryRecords`` RDD is wrapped as a Dataset[Array[Byte]]
    and ``substring`` slices out key and value, so no record passes
    through Python. Splits follow the Hadoop conf's
    ``mapreduce.input.fileinputformat.split.maxsize``, rounded to whole
    records; partitions come in file-name order, then byte offset. A
    file holding a partial record fails the job."""
    jsc = spark.sparkContext._jsc
    records = jsc.sc().binaryRecords(
        os.path.join(in_dir, "part-*.dat"), RECORD_LEN, jsc.hadoopConfiguration()
    )
    encoder = spark.sparkContext._jvm.org.apache.spark.sql.Encoders.BINARY()
    df = DataFrame(spark._jsparkSession.createDataset(records, encoder).toDF(), spark)
    return df.select(
        F.substring("value", 1, KEY_LEN).alias("key"),
        F.substring("value", KEY_LEN + 1, VALUE_LEN).alias("value"),
    )


def _hash_halves() -> list[Column]:
    """The checksum's per-record term, the first 48 bits of
    ``md5(key || 0x00 || value)``, as two 24-bit longs ``hi`` and ``lo``
    (term = hi * 2^24 + lo). Summed as longs, each half stays exact up
    to 2^39 records, where a 48-bit term would overflow past 2^15."""
    h = F.md5(F.concat(F.col("key"), F.lit(b"\x00"), F.col("value")))
    return [
        F.conv(F.substring(h, 1 + 6 * i, 6), 16, 10).cast("long").alias(name)
        for i, name in enumerate(("hi", "lo"))
    ]


def _halves_total(hi: int | None, lo: int | None) -> int:
    """The checksum from the summed halves; no records (NULL sums) is 0."""
    return ((hi or 0) << 24) + (lo or 0)


def checksum(df: DataFrame) -> int:
    """Order-insensitive content checksum, computed distributed: the sum
    over records of the first 48 bits of ``md5(key || 0x00 || value)``,
    exact at any row count; 0 for no records. ``teravalidate`` returns
    the same value from its own pass."""
    return _halves_total(*df.select(*(F.sum(c) for c in _hash_halves())).first())


def _summarize_partition(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """One partition's TeraValidate summary: its index, record count,
    first and last key, whether its keys never decrease — across batch
    boundaries too — and its sums of the checksum halves. Only this one
    row leaves the executor; an empty partition sends none."""
    first = last = None
    n = hi = lo = 0
    sorted_ok = True
    for batch in batches:
        keys = batch.column(0)
        if not len(keys):
            continue
        if last is not None and keys[0].as_py() < last:
            sorted_ok = False
        if pc.any(pc.less(keys[1:], keys[:-1])).as_py():
            sorted_ok = False
        if first is None:
            first = keys[0].as_py()
        last = keys[-1].as_py()
        n += len(keys)
        hi += pc.sum(batch.column(1)).as_py()
        lo += pc.sum(batch.column(2)).as_py()
    if n:
        part = TaskContext.get().partitionId()
        yield pa.RecordBatch.from_pylist(
            [{"part": part, "n": n, "first_key": first, "last_key": last,
              "sorted_ok": sorted_ok, "hi": hi, "lo": lo}]
        )


def teravalidate(sorted_df: DataFrame) -> dict:
    """TeraValidate on a sorted DataFrame, in one Spark job that reads
    each record once:
    (a) ``sorted_within``: keys non-decreasing within every partition,
    (b) ``sorted_between``: last key of partition i <= first key of
        partition i+1, taking partitions in index order — for
        ``read_tera_files`` that is file-name order, so a directory with
        two part files swapped fails,
    (c) ``n_rows``, ``n_partitions`` (non-empty ones) and
        ``max_part_rows``, for the caller to compare,
    (d) ``checksum``, equal to ``checksum(sorted_df)``: equal to the
        input's checksum, it shows no record was lost, duplicated or
        changed.
    Returns the dict; raises nothing itself."""
    # mapInArrow runs on the sorted partitions directly (no extra shuffle)
    schema = (
        "part long, n long, first_key binary, last_key binary, sorted_ok boolean,"
        " hi long, lo long"
    )
    records = sorted_df.select("key", *_hash_halves())
    rows = records.mapInArrow(_summarize_partition, schema).collect()
    summaries = sorted(rows, key=lambda r: r["part"])
    return {
        "n_rows": sum(r["n"] for r in summaries),
        "n_partitions": len(summaries),
        "max_part_rows": max((r["n"] for r in summaries), default=0),
        "sorted_within": all(r["sorted_ok"] for r in summaries),
        "sorted_between": all(
            a["last_key"] <= b["first_key"] for a, b in zip(summaries, summaries[1:])
        ),
        "checksum": _halves_total(*(sum(r[h] for r in summaries) for h in ("hi", "lo"))),
    }
