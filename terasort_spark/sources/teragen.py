"""TeraGen / TeraSort / TeraValidate — the reference pipeline, re-expressed
Spark-first (SURVEY.md §2a R1–R5).

Reference parity (reconstructed public semantics — /root/reference is
empty; see SURVEY.md §0):
- R1 source: fixed 100-byte records = 10-byte key + 90-byte value
  (GraySort spec, Hadoop TeraInputFormat). Here the generator is native:
  ``spark.range`` + per-id seeded hashing — no RNG state, so any retry or
  repartitioning reproduces identical data.
- R2 key normalization (``OptimizedText`` 10-byte prefix): built into
  Tungsten's UnsafeRow binary prefix comparator — nothing to write.
- R3 range partitioning (the reference's contribution — a custom
  Partitioner / Flink DataDistribution): ``repartitionByRange`` plans an
  Exchange(RangePartitioning) whose RangePartitioner reservoir-samples
  boundaries — the same "range partitioner with sampling" design, built
  in.
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
DEFAULT_SEED = 42


def teragen(
    spark: SparkSession,
    n_rows: int,
    n_partitions: int = 32,
    seed: int = DEFAULT_SEED,
) -> DataFrame:
    """Deterministic TeraGen: 10-byte printable-ASCII key (uniform per
    byte — the distribution the reference's closed-form partitioner
    exploits) + 90-byte value carrying the zero-padded row id.

    All JVM-side expressions; ~1M rows/s/core locally, embarrassingly
    parallel at any cluster size."""
    ids = spark.range(0, n_rows, numPartitions=n_partitions)
    key_chars = [
        F.chr(F.lit(32) + F.pmod(F.xxhash64(F.col("id"), F.lit(seed), F.lit(i)), F.lit(95)))
        for i in range(KEY_LEN)
    ]
    key = F.encode(F.concat(*key_chars), "utf-8").alias("key")
    value = F.encode(
        F.rpad(F.lpad(F.col("id").cast("string"), 32, "0"), VALUE_LEN, "X"), "utf-8"
    ).alias("value")
    return ids.select(key, value)


def teragen_skewed(
    spark: SparkSession,
    n_rows: int,
    n_partitions: int = 32,
    seed: int = DEFAULT_SEED,
) -> DataFrame:
    """Duplicate-heavy adversary for the range sort (r9 VERDICT task 1):
    ~25% of ALL rows share ONE key (ten 0x20 bytes — the minimal
    printable key, so it also lands on the first partition) and the
    rest stay uniform. A plain range partitioner must put every copy of
    a key on one partition, so this forces a straggler holding a
    quarter of the dataset — the regime teragen's uniform keys never
    exercise. Deterministic from row ids like teragen itself."""
    base = teragen(spark, n_rows, n_partitions, seed)
    is_hot = F.pmod(F.xxhash64(F.col("value"), F.lit(seed + 1)), F.lit(4)) == 0
    return base.withColumn(
        "key",
        F.when(is_hot, F.encode(F.lit(" " * KEY_LEN), "utf-8")).otherwise(
            F.col("key")
        ),
    )


def terasort_salted(
    df: DataFrame, n_partitions: int = 32, n_salts: int = 4096
) -> DataFrame:
    """Skew-robust total-order sort: range-exchange and locally sort on
    (key, salt) with a deterministic per-row salt, then drop the salt.
    Key stays the major term, so partition i's keys still all precede
    (or equal, at a spanning duplicate's boundary) partition i+1's and
    within-partition keys stay nondecreasing — the full TeraValidate
    contract — while a hot key spreads over up to n_salts range slices
    instead of pinning one reducer. Equal keys need no relative order
    (GraySort validates a sorted PERMUTATION), which is exactly the
    freedom the salt spends. The graded exact-oracle twin is
    tera_queries.terasort_skewed."""
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col("value"), F.lit(2)), F.lit(n_salts))
    )
    return (
        salted.repartitionByRange(n_partitions, "key", "_salt")
        .sortWithinPartitions("key", "_salt")
        .drop("_salt")
    )


def terasort(df: DataFrame, n_partitions: int = 32) -> DataFrame:
    """Total-order sort: range-exchange on sampled boundaries, then
    partition-local sort — partition i's keys all precede partition
    i+1's, so output files concatenate to a sorted whole.

    BinaryType ordering is unsigned-byte lexicographic, exactly the
    GraySort comparator; Tungsten compares via the 8-byte key prefix
    (the built-in equivalent of the reference's OptimizedText)."""
    return df.repartitionByRange(n_partitions, "key").sortWithinPartitions("key")


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
