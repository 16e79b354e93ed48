"""Streaming Python DataSource: rate-limited replay of the events table
(r11 VERDICT task 6 — the one public streaming API surface not yet
exercised: Spark 4's ``SimpleDataSourceStreamReader``).

The repo's streaming modules replay events by MOVING staged parquet
files into a watched directory (streaming/replay.py) — a harness trick.
This source makes replay a first-class STREAM: a custom format
(``events_replay``) whose reader hands Structured Streaming
``batchRows`` events per micro-batch in event_id order, with exact
offset bookkeeping (offset = rows delivered so far), restart replay via
``readBetweenOffsets``, and clean end-of-stream (empty batches once the
table is exhausted).

Scale boundary, stated not hidden: ``SimpleDataSourceStreamReader`` is
DRIVER-SIDE by API contract — Spark calls ``read()`` in the driver to
fetch each batch and determine its end offset, so this class is for
low-rate control-plane streams (checkpoint replay, CDC tails, command
queues). That is exactly Spark's own guidance (the class docstring says
"lightweight use cases"). The high-throughput path stays the
partition-planning ``DataSourceStreamReader`` / the built-in file
source, which every other streaming operator here uses; this module
pins the API's offset/replay semantics with the same oracle discipline.

The parquet scan is windowed, not whole-table: each ``read`` call slices
only [start, start+batchRows) rows via pyarrow row-group iteration, so
driver memory is bounded by one batch regardless of table size.
"""

from __future__ import annotations

import datetime as _dt
import os
from typing import Iterator, Tuple

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from terasort_spark.streaming.replay import EVENTS_SCHEMA


def _slice_rows(path: str, start: int, end: int) -> Iterator[Tuple]:
    """Rows [start, end) of the event_id-ordered events table, as a
    list-backed iterator: Spark's prefetch cache ``copy.copy``-ies the
    iterator ``read()`` returns, which a generator cannot survive —
    and one batch of rows in driver memory is exactly this API's
    declared operating envelope.

    Row-group-windowed: row groups wholly before ``start`` or after
    ``end`` are never materialized. Requires the file to be written
    sorted by event_id (the staging write below guarantees it);
    sortedness is asserted per batch, not trusted."""
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    seen = 0
    last_eid = None
    out = []
    for gi in range(pf.metadata.num_row_groups):
        g_rows = pf.metadata.row_group(gi).num_rows
        if seen + g_rows <= start:
            seen += g_rows
            continue
        if seen >= end:
            break
        tbl = pf.read_row_group(gi)
        lo = max(0, start - seen)
        hi = min(g_rows, end - seen)
        for row in tbl.slice(lo, hi - lo).to_pylist():
            eid = row["event_id"]
            if last_eid is not None and eid <= last_eid:
                raise ValueError(
                    f"replay source requires event_id-sorted input: "
                    f"{eid} after {last_eid}"
                )
            last_eid = eid
            ts = row["ts"]
            if ts is not None and ts.tzinfo is None:
                # Parquet stores naive-UTC instants; Spark's Python
                # source converter calls astimezone() and requires
                # tz-aware values.
                try:
                    ts = ts.tz_localize("UTC")  # pandas.Timestamp (ns)
                except AttributeError:
                    ts = ts.replace(tzinfo=_dt.timezone.utc)
            out.append(
                (
                    row["event_id"],
                    ts,
                    row["user_id"],
                    row["event_type"],
                    row["value"],
                    row["props"],
                )
            )
        seen += g_rows
    return iter(out)


class EventsReplayStreamReader(SimpleDataSourceStreamReader):
    """Offset = {"row": number of rows delivered so far}. Exactly-once
    over restarts: ``readBetweenOffsets`` re-slices the identical row
    window (the table is immutable and sorted), which is the API's
    replay contract for failure recovery."""

    def __init__(self, options: dict) -> None:
        self._path = options.get("path")
        if not self._path:
            raise ValueError("events_replay requires option 'path'")
        self._batch = int(options.get("batchrows", 2000))
        self._n = None  # lazily read from footer metadata

    def _num_rows(self) -> int:
        if self._n is None:
            import pyarrow.parquet as pq

            self._n = pq.ParquetFile(self._path).metadata.num_rows
        return self._n

    def initialOffset(self) -> dict:
        return {"row": 0}

    def read(self, start: dict) -> Tuple[Iterator[Tuple], dict]:
        lo = int(start["row"])
        hi = min(lo + self._batch, self._num_rows())
        return _slice_rows(self._path, lo, hi), {"row": hi}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[Tuple]:
        return _slice_rows(self._path, int(start["row"]), int(end["row"]))

    def commit(self, end: dict) -> None:
        # Source-side retention ack: nothing to prune — the replay
        # table is immutable. (A real CDC tail would truncate here.)
        pass


class EventsReplayDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "events_replay"

    def schema(self) -> str:
        return EVENTS_SCHEMA

    def simpleStreamReader(self, schema) -> EventsReplayStreamReader:
        return EventsReplayStreamReader(self.options)


def stage_sorted_events(spark, sf_dir: str, out_path: str) -> str:
    """Write the events table as ONE event_id-sorted parquet file (the
    source's required layout): a single range partition, sorted write.
    Returns the staged file path."""
    import shutil

    from terasort_spark.catalog import table

    tmp = out_path + "._tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    (
        table(spark, sf_dir, "events")
        .repartition(1)
        .sortWithinPartitions("event_id")
        .write.mode("overwrite")
        .parquet(tmp)
    )
    part = next(
        f for f in sorted(os.listdir(tmp)) if f.endswith(".parquet")
    )
    if os.path.exists(out_path):
        os.remove(out_path)
    os.rename(os.path.join(tmp, part), out_path)
    shutil.rmtree(tmp, ignore_errors=True)
    return out_path


_registered: set = set()


def _pickle_module_by_value() -> None:
    """Force cloudpickle to serialize this module's classes BY VALUE.

    Spark's driver-side streaming source planner
    (``python_streaming_source_runner``) deserializes the registered
    DataSource in a fresh Python process that — unlike batch
    data-source and executor workers — does not put addPyFile'd zips
    on sys.path before ``read_command`` (observed empirically: batch
    Python data sources plan fine from a non-repo cwd, the streaming
    sources died with ModuleNotFoundError). By-value
    registration embeds the class definitions (and the
    ``_slice_rows``/``EVENTS_SCHEMA`` objects they reference) in the
    pickle itself, so the runner needs no ``terasort_spark`` import —
    the module stays dependency-free beyond pyarrow for exactly this
    reason."""
    import sys

    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(sys.modules[__name__])


def register_replay_source(spark) -> None:
    key = id(spark)
    if key not in _registered:
        _pickle_module_by_value()
        spark.dataSource.register(EventsReplayDataSource)
        _registered.add(key)


# ---------------------------------------------------------------------------
# Partition-planning streaming reader — the SCALE path of the same API.


class RowRange(InputPartition):
    def __init__(self, path: str, start: int, end: int) -> None:
        self.path = path
        self.start = start
        self.end = end


class EventsReplayDistStreamReader(DataSourceStreamReader):
    """The executor-side counterpart of EventsReplayStreamReader
    (``DataSourceStreamReader``): the driver only plans OFFSETS
    (``latestOffset`` advances by batchRows per trigger) and splits
    each batch's row window into ``numPartitions`` RowRange partitions;
    the actual parquet slicing runs in ``read()`` ON EXECUTORS. This is
    the shape a real high-throughput source (Kafka, a CDC log) takes:
    driver state is O(1) offsets, data never passes through the
    driver, and per-batch parallelism is the partition count."""

    def __init__(self, options: dict) -> None:
        self._path = options.get("path")
        if not self._path:
            raise ValueError("events_replay_dist requires option 'path'")
        self._batch = int(options.get("batchrows", 2000))
        self._parts = int(options.get("numpartitions", 4))
        import pyarrow.parquet as pq

        self._n = pq.ParquetFile(self._path).metadata.num_rows
        self._cur = 0

    def initialOffset(self) -> dict:
        return {"row": 0}

    def latestOffset(self) -> dict:
        self._cur = min(self._cur + self._batch, self._n)
        return {"row": self._cur}

    def partitions(self, start: dict, end: dict):
        lo, hi = int(start["row"]), int(end["row"])
        if hi <= lo:
            return [RowRange(self._path, lo, lo)]
        span = hi - lo
        k = min(self._parts, span)
        step = (span + k - 1) // k
        return [
            RowRange(self._path, s, min(s + step, hi))
            for s in range(lo, hi, step)
        ]

    def read(self, partition: RowRange) -> Iterator[Tuple]:
        # runs on an executor: slice only this partition's row window
        return _slice_rows(partition.path, partition.start, partition.end)

    def commit(self, end: dict) -> None:
        pass


class EventsReplayDistDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "events_replay_dist"

    def schema(self) -> str:
        return EVENTS_SCHEMA

    def streamReader(self, schema) -> EventsReplayDistStreamReader:
        return EventsReplayDistStreamReader(self.options)


def register_replay_dist_source(spark) -> None:
    key = ("dist", id(spark))
    if key not in _registered:
        _pickle_module_by_value()
        spark.dataSource.register(EventsReplayDistDataSource)
        _registered.add(key)
