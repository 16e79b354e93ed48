"""Streaming replay harness: feed the ``events`` table through a file
source incrementally, so Structured Streaming queries can be asserted
equivalent to their batch twins (SURVEY.md §2b streaming surface).

The same DataFrame expressions run in both modes — Spark's unified
API — so each streaming test builds its query from the identical
building blocks the batch operator uses.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from terasort_spark.catalog import table

EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)


def stage_chunks(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    n_chunks: int = 4,
    order_by: tuple = ("event_id",),
    src: DataFrame | None = None,
    schema: str = EVENTS_SCHEMA,
):
    """Split a table into n_chunks files by ``order_by`` range (the
    default event_id order is roughly time-ordered, like a real stream).
    Pass ``order_by=("ts", "event_id")`` for strictly nondecreasing
    event time — then no event is ever late relative to the watermark,
    which makes append-mode window aggregation drop-free and therefore
    equal to the batch twin. Returns the list of chunk-staging callables
    so tests control arrival order. ``src`` overrides the default
    events table (any DataFrame with ``schema``), so document streams
    replay through the same harness.

    DISTRIBUTED since r10 (r9 VERDICT task 8): the old form collected
    the whole table to the driver and re-created per-chunk DataFrames —
    fine at sf0.01, corpus-sized driver state in package source. Now the
    chunking IS a range exchange: ``repartitionByRange(n_chunks,
    *order_by)`` gives contiguous ordered ranges (partition i's rows all
    precede partition i+1's — the terasort contract, so chunk-by-chunk
    arrival keeps event time nondecreasing for sorted ``order_by``),
    ``sortWithinPartitions`` orders inside each chunk, and every
    executor writes its own chunk file under a hidden ``_staged``
    directory (underscore-prefixed: Spark's file listing skips it, so
    the stream source never sees unstaged chunks). Each stager is then
    a pure metadata move of one already-written file into the watched
    directory — no row ever passes through the driver."""
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    staged = os.path.join(out_dir, "_staged")
    ev = src if src is not None else table(spark, sf_dir, "events")
    (
        ev.repartitionByRange(n_chunks, *order_by)
        .sortWithinPartitions(*order_by)
        .withColumn("_chunk", F.spark_partition_id())
        .write.mode("overwrite")
        .partitionBy("_chunk")
        .parquet(staged)
    )
    stagers = []
    for i in range(n_chunks):
        def stage(i=i):
            cdir = os.path.join(staged, f"_chunk={i}")
            parts = (
                sorted(f for f in os.listdir(cdir) if f.endswith(".parquet"))
                if os.path.isdir(cdir)
                else []
            )
            if not parts:
                # a sparse range produced no rows: still land a zero-row
                # file so the trigger fires (previous behavior)
                empty = spark.createDataFrame([], schema)
                tmp = os.path.join(out_dir, f"_empty{i}")
                empty.coalesce(1).write.mode("overwrite").parquet(tmp)
                for f in os.listdir(tmp):
                    if f.endswith(".parquet"):
                        os.rename(
                            os.path.join(tmp, f),
                            os.path.join(out_dir, f"data-{i}.parquet"),
                        )
                shutil.rmtree(tmp, ignore_errors=True)
                return
            for j, f in enumerate(parts):
                suffix = f"-{j}" if j else ""
                os.rename(
                    os.path.join(cdir, f),
                    os.path.join(out_dir, f"data-{i}{suffix}.parquet"),
                )

        stagers.append(stage)
    return stagers


def read_stream(spark: SparkSession, dir_: str) -> DataFrame:
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(dir_)
    )


def run_to_memory(
    stream_df: DataFrame,
    name: str,
    output_mode: str,
    stagers,
    spark: SparkSession,
    _attempt: int = 0,
):
    """Start the query on a memory sink, release chunks one at a time
    (processing all available work between arrivals so watermarks advance
    deterministically), then stop and return the sink table. With no
    stagers (a source that replays by itself) it drains once.

    One automatic retry on a transient STREAMING failure only: under a
    heavily loaded suite the zero-interval trigger can occasionally die
    mid-replay (observed once in r5 and once in r6, different tests,
    both green in isolation). Staging is idempotent (overwrite +
    rename), so the retry restarts a FRESH query (new sink table) and
    re-releases every chunk; a deterministic failure still fails —
    the retry fires at most once and re-raises. Exceptions raised by the
    stagers themselves (test bugs, assertion errors) are NOT retried —
    they propagate immediately with their original traceback (r6
    ADVICE: the old blanket ``except Exception`` masked stager bugs)."""
    from pyspark.errors.exceptions.base import StreamingQueryException

    from terasort_spark.operators._util import (
        scoped_confs,
        stream_shuffle_width,
    )

    qname = name if _attempt == 0 else f"{name}_retry{_attempt}"
    # Micro-batch shuffle width (r12): the stream's STATE partition
    # count is pinned to spark.sql.shuffle.partitions at .start() and
    # AQE never coalesces it, so a batch-sized width here means that
    # many state-store instances + state workers per micro-batch for
    # batch-sized input. Scoped to the start call; restored before the
    # sink readback. Results are key-partitioned folds — width-free.
    with scoped_confs(
        spark,
        {"spark.sql.shuffle.partitions": stream_shuffle_width(spark)},
    ):
        q = (
            stream_df.writeStream.format("memory")
            .queryName(qname)
            .outputMode(output_mode)
            .trigger(processingTime="0 seconds")
            .start()
        )
        try:
            for stage in stagers:
                stage()
                q.processAllAvailable()
            if not stagers:  # a source that needs no staging: drain once
                q.processAllAvailable()
        except StreamingQueryException as exc:
            q.stop()
            if _attempt >= 1:
                raise
            import sys

            print(
                f"[replay] transient streaming failure in {name!r}: {exc!r} "
                "— retrying once with a fresh query",
                file=sys.stderr,
            )
            return run_to_memory(
                stream_df, name, output_mode, stagers, spark, _attempt + 1
            )
        finally:
            q.stop()
    return spark.table(qname)
