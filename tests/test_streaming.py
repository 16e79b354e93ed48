"""Streaming ≡ batch equivalence tests (SURVEY.md §5b #4): the same
expressions run through Structured Streaming over a chunked file replay
of ``events`` must reproduce the batch answers after all data arrives.
Covers: tumbling windows, session windows, watermark dedup, arbitrary
state (applyInPandasWithState), and late-data drop semantics. Also the
pure-Python StateMessage codec, transformWithState TTL and state
resets, and the streaming Python DataSources' offset bookkeeping."""

from __future__ import annotations

import importlib.util
import os
import shutil
import tempfile

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

import terasort_spark.streaming.state_message_shim as sm
from terasort_spark.catalog import table
from terasort_spark.operators._util import scratch_dir
from terasort_spark.registry import queries
from terasort_spark.sources.replay_stream_ds import (
    EventsReplayStreamReader,
    _slice_rows,
    stage_sorted_events,
)
from terasort_spark.streaming.replay import (
    EVENTS_SCHEMA,
    read_stream,
    run_to_memory,
    stage_chunks,
)

_Q = queries()


@pytest.fixture()
def replay_dir():
    d = tempfile.mkdtemp(prefix="ts_stream_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_stream_tumbling_equals_batch(spark, sf_dir, replay_dir, state_store):
    stagers = stage_chunks(spark, sf_dir, replay_dir, n_chunks=3)
    agg = (
        read_stream(spark, replay_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )
    got = run_to_memory(agg, "tumbling_sink", "complete", stagers, spark)
    want = queries()["stream_tumbling"](spark, sf_dir)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_stream_session_window_equals_sessionize(spark, sf_dir, replay_dir, state_store):
    stagers = stage_chunks(spark, sf_dir, replay_dir, n_chunks=3)
    agg = (
        read_stream(spark, replay_dir)
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", "n_events")
    )
    got = run_to_memory(agg, "session_sink", "complete", stagers, spark)
    # batch twin: per-(user, session) event counts from gaps-and-islands
    want = queries()["sessionize"](spark, sf_dir).select("user_id", "n_events")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_stream_dedup_within_watermark(spark, sf_dir, replay_dir, state_store):
    # duplicate every event across two chunks: dedup must keep one each
    ev = table(spark, sf_dir, "events").filter(F.col("event_id") < 500)
    base = ev.collect()
    os.makedirs(replay_dir, exist_ok=True)

    def stage(i):
        def go():
            spark.createDataFrame(base, schema=EVENTS_SCHEMA).coalesce(1).write.mode(
                "overwrite"
            ).parquet(os.path.join(replay_dir, f"c{i}"))
            src = os.path.join(replay_dir, f"c{i}")
            for f in os.listdir(src):
                if f.endswith(".parquet"):
                    os.rename(
                        os.path.join(src, f),
                        os.path.join(replay_dir, f"data-{i}.parquet"),
                    )
            shutil.rmtree(src, ignore_errors=True)

        return go

    dedup = (
        read_stream(spark, replay_dir)
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id")
    )
    got = run_to_memory(dedup, "dedup_sink", "append", [stage(0), stage(1)], spark)
    assert got.count() == len(base)  # each duplicate suppressed


def test_stream_stateful_running_count(spark, sf_dir, replay_dir, state_store):
    stagers = stage_chunks(spark, sf_dir, replay_dir, n_chunks=3)

    def count_per_user(key, pdfs, state: GroupState):
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

    counted = (
        read_stream(spark, replay_dir)
        .groupBy("user_id")
        .applyInPandasWithState(
            count_per_user,
            outputStructType="user_id bigint, n_events bigint",
            stateStructType="n bigint",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    got = run_to_memory(counted, "stateful_sink", "update", stagers, spark)
    # the last emission per user is the total
    final = (
        got.groupBy("user_id").agg(F.max("n_events").alias("n_events")).collect()
    )
    want = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .collect()
    )
    assert sorted(map(tuple, final)) == sorted(map(tuple, want))


def test_late_data_dropped_after_watermark(spark, sf_dir, replay_dir, state_store):
    """Rows older than watermark - delay must be excluded once their
    window is closed (append mode emits closed windows only)."""
    os.makedirs(replay_dir, exist_ok=True)
    rows1 = [
        (1, "2024-01-01 10:05:00", 1, "click", 1.0, "{}"),
        (2, "2024-01-01 12:00:00", 1, "click", 1.0, "{}"),  # advances watermark
    ]
    late = [(3, "2024-01-01 10:10:00", 1, "click", 1.0, "{}")]  # closed window

    def stage(i, rows):
        def go():
            pdf = pd.DataFrame(
                rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
            )
            pdf["ts"] = pd.to_datetime(pdf["ts"])
            df = spark.createDataFrame(pdf)
            df.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(replay_dir, f"c{i}")
            )
            src = os.path.join(replay_dir, f"c{i}")
            for f in os.listdir(src):
                if f.endswith(".parquet"):
                    os.rename(
                        os.path.join(src, f),
                        os.path.join(replay_dir, f"data-{i}.parquet"),
                    )
            shutil.rmtree(src, ignore_errors=True)

        return go

    agg = (
        read_stream(spark, replay_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    got = run_to_memory(
        agg, "late_sink", "append", [stage(0, rows1), stage(1, late)], spark
    )
    out = {r["ws"].isoformat(): r["n"] for r in got.collect()}
    # the 10:00 window was closed by the 12:00 event advancing the
    # watermark; the late 10:10 row must NOT appear in it
    assert out.get("2024-01-01T10:00:00") == 1, out

def test_stream_stream_join_equals_batch(spark, sf_dir, replay_dir, state_store):
    """Stream-stream inner join with an event-time range constraint:
    purchases joined to the same user's clicks within the preceding 30
    minutes. Both sides are watermarked so Spark can discard buffered
    state; after full replay the result must equal the batch join."""
    stagers = stage_chunks(spark, sf_dir, replay_dir, n_chunks=3)
    src = read_stream(spark, replay_dir)
    purchases = (
        src.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        src.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("c_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    cond = (
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
    )
    joined = purchases.join(clicks, cond).select("p_id", "c_id")
    got = run_to_memory(joined, "ssjoin_sink", "append", stagers, spark)

    ev = table(spark, sf_dir, "events")
    bp = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    bc = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"), F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    want = bp.join(bc, cond).select("p_id", "c_id")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_foreachbatch_upsert_sink_equals_batch(spark, sf_dir, replay_dir, state_store):
    """foreachBatch is the custom-sink workhorse: an update-mode
    streaming agg emits changed per-user totals each micro-batch, and
    the sink MERGEs them into a keyed parquet state (replace-by-key —
    at cluster scale this is MERGE INTO a transactional table; the
    key-replace merge makes redelivery of a batch naturally
    idempotent). After all chunks arrive the sink state must equal the
    batch groupBy answer."""
    import pandas as pd

    stagers = stage_chunks(spark, sf_dir, replay_dir, n_chunks=3)
    # state lives OUTSIDE replay_dir: the file-stream source globs that
    # dir, and Spark's batch reader skips underscore-prefixed paths
    state_dir = tempfile.mkdtemp(prefix="ts_fbatch_state_")
    state_file = os.path.join(state_dir, "state.parquet")
    seen = {}

    def merge(batch_df, batch_id):
        upd = batch_df.toPandas()
        seen[batch_id] = upd
        if os.path.exists(state_file):
            cur = pd.read_parquet(state_file)
            cur = cur[~cur["user_id"].isin(set(upd["user_id"]))]
            out = pd.concat([cur, upd], ignore_index=True)
        else:
            out = upd
        tmp = state_file + ".tmp"
        out.to_parquet(tmp)
        os.replace(tmp, state_file)

    agg = (
        read_stream(spark, replay_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    q = (
        agg.writeStream.foreachBatch(merge)
        .outputMode("update")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        for stage in stagers:
            stage()
            q.processAllAvailable()
    finally:
        q.stop()

    got = sorted(
        (int(r.user_id), int(r.n_events))
        for r in spark.read.parquet(state_file).collect()
    )
    want = sorted(
        (int(r.user_id), int(r.n))
        for r in table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert got == want

    # redeliver the last batch verbatim: key-replace merge is idempotent
    last_bid = max(seen)
    merge(spark.createDataFrame(seen[last_bid]), last_bid)
    again = sorted(
        (int(r.user_id), int(r.n_events))
        for r in spark.read.parquet(state_file).collect()
    )
    assert again == want
    shutil.rmtree(state_dir, ignore_errors=True)


def test_stream_static_enrichment_join_equals_batch(spark, sf_dir, replay_dir, state_store):
    """Stream-static join: each micro-batch joins against a static
    dimension snapshot (no watermark needed — the static side is not
    stateful). The enrichment pattern for 100 TB pipelines: the dim is
    broadcast per batch, the stream never shuffles on the join key."""
    stagers = stage_chunks(spark, sf_dir, replay_dir, n_chunks=3)
    users = (
        table(spark, sf_dir, "customer")
        .select(
            (F.col("c_custkey") % 50).alias("user_id"), "c_mktsegment"
        )
        .groupBy("user_id")
        .agg(F.min("c_mktsegment").alias("segment"))
    )
    enriched = (
        read_stream(spark, replay_dir)
        .join(F.broadcast(users), "user_id")
        .groupBy("segment")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    got = run_to_memory(enriched, "enrich_sink", "complete", stagers, spark)
    want = (
        table(spark, sf_dir, "events")
        .join(users, "user_id")
        .groupBy("segment")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_stream_sliding_window_equals_batch(spark, sf_dir, replay_dir, state_store):
    """Sliding windows (1h size, 30m slide): every event lands in two
    overlapping windows; the streaming replay must produce the same
    per-(window, type) counts as the declared batch twin."""
    stagers = stage_chunks(spark, sf_dir, replay_dir, n_chunks=3)
    agg = (
        read_stream(spark, replay_dir)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )
    got = run_to_memory(agg, "sliding_sink", "complete", stagers, spark)
    want = queries()["stream_sliding"](spark, sf_dir)
    # align on the columns the declared query exposes
    want = want.select("window_start", "event_type", "n_events")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_stream_funnel_state_equals_batch(spark, sf_dir, replay_dir, state_store):
    """Streaming twin of events_funnel's per-user stage table: first-touch
    timestamps per funnel stage tracked in applyInPandasWithState must
    equal the batch conditional-min aggregation after full replay. State
    per user is three timestamps — bounded by keys, not history."""
    stagers = stage_chunks(spark, sf_dir, replay_dir, n_chunks=3)
    STAGES = ("signup", "click", "purchase")

    def track(key, pdfs, state: GroupState):
        cur = list(state.get) if state.exists else [None, None, None]
        for pdf in pdfs:
            for et, ts in zip(pdf["event_type"], pdf["ts"]):
                for i, name in enumerate(STAGES):
                    if et == name and (cur[i] is None or ts < cur[i]):
                        cur[i] = ts
        state.update(tuple(cur))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "t_signup": [cur[0]],
                "t_click": [cur[1]],
                "t_purchase": [cur[2]],
            }
        )

    tracked = (
        read_stream(spark, replay_dir)
        .groupBy("user_id")
        .applyInPandasWithState(
            track,
            outputStructType=(
                "user_id bigint, t_signup timestamp, "
                "t_click timestamp, t_purchase timestamp"
            ),
            stateStructType="s timestamp, c timestamp, p timestamp",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    got = run_to_memory(tracked, "funnel_sink", "update", stagers, spark)
    # last emission per user carries the final stage times: min ts per
    # stage only ever decreases, so take the row with the fewest nulls /
    # smallest times == elementwise min over emissions
    final = got.groupBy("user_id").agg(
        F.min("t_signup").alias("t_signup"),
        F.min("t_click").alias("t_click"),
        F.min("t_purchase").alias("t_purchase"),
    )
    ev = table(spark, sf_dir, "events")
    stage_min = lambda t: F.min(F.when(F.col("event_type") == t, F.col("ts")))  # noqa: E731
    want = ev.groupBy("user_id").agg(
        stage_min("signup").alias("t_signup"),
        stage_min("click").alias("t_click"),
        stage_min("purchase").alias("t_purchase"),
    )
    assert sorted(map(tuple, final.collect())) == sorted(map(tuple, want.collect()))


def test_transform_with_state_running_sum(spark, sf_dir, replay_dir, state_store):
    """transformWithState (Spark 4 stateful API, successor to
    applyInPandasWithState): running per-user (sum, count) across
    replayed micro-batches must equal the batch aggregate. Exercises
    the ValueState handle + processor lifecycle.

    The operator's state-server protocol speaks proto3; when
    google-protobuf is absent (this container), the repo-root
    usercustomize hook substitutes the pure-Python StateMessage codec
    (terasort_spark/streaming/state_message_shim.py, r11) in every
    worker process — so this test runs EVERYWHERE: real protobuf wins
    when installed, the shim carries the wire format when not."""
    import usercustomize  # noqa: F401  (installs the finder if needed)

    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    if state_store == "hdfs":
        pytest.skip(
            "transformWithState needs multiple state-store column "
            "families — RocksDB-only by Spark design "
            "(UNSUPPORTED_FEATURE.STATE_STORE_MULTIPLE_COLUMN_FAMILIES)"
        )

    stagers = stage_chunks(spark, sf_dir, replay_dir, n_chunks=3)

    class RunningSum(StatefulProcessor):
        def init(self, handle):
            self.state = handle.getValueState("tot", "total double, n bigint")

        def handleInputRows(self, key, rows, timerValues):
            total, n = (
                tuple(self.state.get()) if self.state.exists() else (0.0, 0)
            )
            for pdf in rows:
                total += float(pdf["value"].sum())
                n += len(pdf)
            self.state.update((total, n))
            yield pd.DataFrame(
                {"user_id": [key[0]], "total": [total], "n_events": [n]}
            )

        def close(self):
            pass

    counted = (
        read_stream(spark, replay_dir)
        .groupBy("user_id")
        .transformWithStateInPandas(
            RunningSum(),
            outputStructType="user_id bigint, total double, n_events bigint",
            outputMode="Update",
            timeMode="None",
        )
    )
    got = run_to_memory(counted, "tws_sink", "update", stagers, spark)
    final = (
        got.groupBy("user_id")
        .agg(
            F.round(F.max("total"), 4).alias("total"),
            F.max("n_events").alias("n_events"),
        )
        .collect()
    )
    want = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.round(F.sum("value"), 4).alias("total"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .collect()
    )
    assert sorted(map(tuple, final)) == sorted(map(tuple, want))


def test_stream_topk_equals_batch(spark, sf_dir, replay_dir, state_store):
    """Leaderboard pattern: the STREAM maintains only per-(window, user)
    counts; the rank runs over the aggregated sink (windows x users
    rows, not events). Streamed counts + batch rank must equal the
    declared batch twin exactly."""
    from pyspark.sql import Window

    stagers = stage_chunks(spark, sf_dir, replay_dir, n_chunks=3)
    counts = (
        read_stream(spark, replay_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    )
    sink = run_to_memory(counts, "topk_sink", "complete", stagers, spark)
    rank_w = Window.partitionBy("w").orderBy(
        F.desc("n_events"), F.asc("user_id")
    )
    got = (
        sink.withColumn("rn", F.row_number().over(rank_w).cast("integer"))
        .filter(F.col("rn") <= 3)
        .select(
            F.col("w.start").alias("window_start"), "user_id", "n_events", "rn"
        )
    )
    want = queries()["stream_topk"](spark, sf_dir)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_codec_emits_empty_oneof_tags():
    """proto3 oneof selection rides on the TAG being present even for
    empty messages: ValueStateCall(get=Get()) must emit field 3 with
    length 0, or the JVM server cannot tell get from exists."""
    call = sm.ValueStateCall(stateName="tot", get=sm.Get())
    enc = sm.StateRequest(
        stateVariableRequest=sm.StateVariableRequest(valueStateCall=call)
    ).SerializeToString()
    # StateRequest.stateVariableRequest = field 3 -> tag 0x1a
    assert enc[0] == 0x1A
    # inner ValueStateCall carries stateName (field 1) AND the empty
    # get (field 3, tag 0x1a, length 0)
    assert b"\x1a\x00" in enc
    assert b"tot" in enc


def test_codec_scalar_zero_defaults_skipped():
    """proto3 scalars at their zero value must NOT serialize (the JVM
    reads the same default); explicit False/0/'' are wire-identical."""
    assert sm.SetHandleState(state=sm.PRE_INIT).SerializeToString() == b""
    assert sm.ListStatePut(value=[], fetchWithArrow=False).SerializeToString() == b""
    assert sm.StateRequest(version=0).SerializeToString() == b""


def test_codec_autovivified_submessage():
    """`cmd.ttl.durationMs = 5000` (the bundled client's idiom) must
    mark ttl present and round-trip the varint."""
    cmd = sm.StateCallCommand()
    cmd.stateName = "tot"
    cmd.ttl.durationMs = 5000
    enc = cmd.SerializeToString()
    back = sm.StateCallCommand()
    back.ParseFromString(enc)
    assert back.stateName == "tot"
    assert back.ttl.durationMs == 5000


def test_codec_parses_paginated_list_response():
    """The requireNextFetch pagination flag and repeated bytes values —
    the path a >1-fetch ListStateGet exercises on big state — decode
    exactly, including across multiple frames."""
    frames = []
    for vals, more in (([b"a" * 10, b"b"], True), ([b"final"], False)):
        m = sm.StateResponseWithListGet()
        enc = b""
        for v in vals:
            enc += bytes([0x1A, len(v)]) + v
        if more:
            enc += bytes([0x20, 0x01])
        m.ParseFromString(enc)
        frames.append(m)
    assert frames[0].value == [b"a" * 10, b"b"]
    assert frames[0].requireNextFetch is True
    assert frames[1].value == [b"final"]
    assert frames[1].requireNextFetch is False
    assert frames[1].statusCode == 0 and frames[1].errorMessage == ""


def test_codec_parses_map_iterator_and_negative_long():
    """Repeated sub-messages (map iterator pages) and sign-extended
    int64 decode (a negative watermark in StateResponseWithLongTypeVal
    arrives as a 10-byte varint)."""
    kv1 = sm.KeyAndValuePair(key=b"k1", value=b"v1").SerializeToString()
    kv2 = sm.KeyAndValuePair(key=b"k2", value=b"v2").SerializeToString()
    raw = bytes([0x1A, len(kv1)]) + kv1 + bytes([0x1A, len(kv2)]) + kv2
    m = sm.StateResponseWithMapIterator()
    m.ParseFromString(raw)
    assert [(p.key, p.value) for p in m.kvPair] == [
        (b"k1", b"v1"),
        (b"k2", b"v2"),
    ]
    lt = sm.StateResponseWithLongTypeVal()
    neg = sm.StateResponseWithLongTypeVal(value=-1).SerializeToString()
    lt.ParseFromString(neg)
    assert lt.value == -1


def test_codec_skips_unknown_fields():
    """Forward compatibility: an unknown varint and an unknown
    length-delimited field must be skipped, known fields still land."""
    known = sm.StateResponse(statusCode=7).SerializeToString()
    unknown = bytes([0xF8, 0x01, 0x2A]) + bytes([0xFA, 0x01, 0x02]) + b"zz"
    m = sm.StateResponse()
    m.ParseFromString(unknown + known)
    assert m.statusCode == 7


def test_finder_defers_to_real_protobuf():
    """usercustomize's guard: the finder registers ONLY when the actual
    protobuf runtime module is missing — an empty `google` namespace
    package (spark-core.jar on the worker PYTHONPATH) must not count
    as protobuf being installed."""
    import usercustomize

    have = usercustomize._have_real_protobuf()
    # in this container there is no real protobuf, so the finder must
    # be registered and must resolve the pb2 module to the shim
    if not have:
        spec = importlib.util.find_spec(
            "pyspark.sql.streaming.proto.StateMessage_pb2"
        )
        assert spec is not None
        assert spec.origin and spec.origin.endswith("state_message_shim.py")


@pytest.fixture(scope="module")
def staged(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pyds") / "events_sorted.parquet")
    stage_sorted_events(spark, sf_dir, path)
    return path


def test_reader_offsets_partition_the_table_exactly(staged):
    """Offset bookkeeping: successive read() calls cover [0, n) in
    disjoint contiguous windows and stop advancing at the end."""
    import pyarrow.parquet as pq

    n = pq.ParquetFile(staged).metadata.num_rows
    r = EventsReplayStreamReader({"path": staged, "batchrows": "1000"})
    off = r.initialOffset()
    assert off == {"row": 0}
    seen = 0
    batches = 0
    while True:
        rows, nxt = r.read(off)
        rows = list(rows)
        if nxt == off:
            assert rows == []
            break
        assert nxt["row"] == min(off["row"] + 1000, n)
        assert len(rows) == nxt["row"] - off["row"]
        seen += len(rows)
        off = nxt
        batches += 1
        r.commit(off)
    assert seen == n
    assert batches == (n + 999) // 1000


def test_read_between_offsets_replays_identically(staged):
    """Failure-recovery contract: readBetweenOffsets(start, end) must
    return exactly the rows the original read() delivered."""
    r = EventsReplayStreamReader({"path": staged, "batchrows": "700"})
    first, nxt = r.read({"row": 0})
    replay = r.readBetweenOffsets({"row": 0}, nxt)
    assert list(first) == list(replay)
    mid, nxt2 = r.read(nxt)
    assert list(mid) == list(r.readBetweenOffsets(nxt, nxt2))


def test_slice_rows_rejects_unsorted_input(spark, sf_dir, tmp_path):
    """The event_id-sorted layout is asserted, not trusted."""
    bad = str(tmp_path / "unsorted.parquet")
    tmp = str(tmp_path / "tmp")
    (
        table(spark, sf_dir, "events")
        .orderBy(F.desc("event_id"))
        .limit(100)
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(tmp)
    )
    part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
    os.rename(os.path.join(tmp, part), bad)
    with pytest.raises(ValueError, match="sorted"):
        list(_slice_rows(bad, 0, 100))


def test_stream_source_pyds_runs_multiple_microbatches(spark, sf_dir):
    """The declared query must actually stream: the complete-mode fold
    over the custom source equals the batch GROUP BY (the oracle twin
    re-checks this at sf0.01), and the staged sorted file plus
    batchRows=n/3 forces >= 3 micro-batches through the source."""
    got = {
        r.event_type: (r.n_events, r.total_cents)
        for r in _Q["stream_source_pyds"](spark, sf_dir).collect()
    }
    exact = {
        r.event_type: (r.n, r.cents)
        for r in table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
            )
            .cast("bigint")
            .alias("cents"),
        )
        .collect()
    }
    assert got == exact
    # the staged file is still around: prove the source sliced it in
    # thirds by replaying the offsets it would have used
    root = scratch_dir(spark, "pyds_replay")
    path = os.path.join(root, "events_sorted.parquet")
    import pyarrow.parquet as pq

    n = pq.ParquetFile(path).metadata.num_rows
    batch = max(1, (n + 2) // 3)
    assert (n + batch - 1) // batch >= 3 or n < 3


def test_tws_value_state_ttl_expires_and_persists(spark, sf_dir):
    """TTL state through the StateMessage codec (the TTLConfig wire
    field, previously unexercised): a 1 ms-TTL ValueState written every
    input batch must NEVER survive to the next batch's read (batches
    are >1 ms apart by construction), while a 1 h-TTL running count
    folds exactly — TTL expiry is per-variable, not per-key-blast.
    timeMode must be ProcessingTime (engine rejects TTL under NoTime —
    asserted too); with that mode the engine schedules continuous
    maintenance batches, so the run drains by row-coverage polling and
    an explicit stop, never processAllAvailable (same discipline as
    stream_tws_timer)."""
    import time

    import pandas as pd
    import pytest as _pytest
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    from terasort_spark.operators.streaming import (
        ROCKSDB_PROVIDER,
        ensure_state_codec,
    )
    from terasort_spark.streaming.replay import read_stream, stage_chunks

    ensure_state_codec(spark)
    src = table(spark, sf_dir, "events").filter(F.col("user_id") < 5)
    exact = {
        r.user_id: r.n
        for r in src.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    expected_rows = sum(exact.values())
    replay_dir = scratch_dir(spark, "ttl_replay")
    stagers = stage_chunks(spark, sf_dir, replay_dir, n_chunks=3, src=src)
    for s in stagers:
        s()

    class TtlFold(StatefulProcessor):
        def init(self, handle):
            self._keep = handle.getValueState(
                "keep", "n bigint", ttlDurationMs=3600_000
            )
            self._tmp = handle.getValueState("tmp", "n bigint", ttlDurationMs=1)

        def handleInputRows(self, key, rows, timerValues):
            tmp_survived = self._tmp.exists()
            n = tuple(self._keep.get())[0] if self._keep.exists() else 0
            for pdf in rows:
                n += len(pdf)
            self._keep.update((n,))
            self._tmp.update((n,))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "tmp_survived": [bool(tmp_survived)],
                }
            )

        def close(self):
            pass

    def build(time_mode):
        return (
            read_stream(spark, replay_dir)
            .groupBy("user_id")
            .transformWithStateInPandas(
                TtlFold(),
                outputStructType=(
                    "user_id bigint, n_events bigint, tmp_survived boolean"
                ),
                outputMode="Update",
                timeMode=time_mode,
            )
        )

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, ROCKSDB_PROVIDER)
    try:
        q = (
            build("ProcessingTime")
            .writeStream.format("memory")
            .queryName("ttl_sink")
            .outputMode("update")
            .trigger(processingTime="500 milliseconds")
            .start()
        )
        try:
            deadline = time.time() + 300
            while time.time() < deadline:
                covered = (
                    spark.table("ttl_sink")
                    .groupBy("user_id")
                    .agg(F.max("n_events").alias("mx"))
                    .agg(F.sum("mx").alias("s"))
                    .collect()[0]
                    .s
                ) or 0
                if covered >= expected_rows:
                    break
                time.sleep(1.0)
        finally:
            q.stop()
            q.awaitTermination()
        rows = spark.table("ttl_sink").collect()
        # engine contract: TTL is a ProcessingTime-only feature (must
        # run under the SAME RocksDB provider so the time-mode check —
        # not the HDFS multi-column-family limit — is what fires)
        with _pytest.raises(Exception, match="TIME_MODE|TTL|NoTime"):
            q2 = (
                build("None")
                .writeStream.format("memory")
                .queryName("ttl_sink_bad")
                .outputMode("update")
                .start()
            )
            try:
                q2.processAllAvailable()
            finally:
                q2.stop()
                q2.awaitTermination()
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    assert rows
    assert not any(r.tmp_survived for r in rows), rows
    mx = {}
    for r in rows:
        mx[r.user_id] = max(mx.get(r.user_id, 0), r.n_events)
    assert mx == exact


def test_dist_reader_plans_partitions_and_covers_rows(staged):
    """The partition-planning reader (events_replay_dist): latestOffset
    advances by batchRows per call and saturates at the table end;
    partitions() splits each window into <= numPartitions contiguous
    disjoint RowRanges; reading every partition of every batch yields
    each row exactly once."""
    from terasort_spark.sources.replay_stream_ds import (
        EventsReplayDistStreamReader,
    )

    import pyarrow.parquet as pq

    n = pq.ParquetFile(staged).metadata.num_rows
    r = EventsReplayDistStreamReader(
        {"path": staged, "batchrows": "900", "numpartitions": "4"}
    )
    off = r.initialOffset()
    seen = 0
    while True:
        nxt = r.latestOffset()
        if nxt == off:
            break
        parts = r.partitions(off, nxt)
        assert 1 <= len(parts) <= 4
        bounds = [(p.start, p.end) for p in parts]
        assert bounds[0][0] == off["row"] and bounds[-1][1] == nxt["row"]
        for (a, b), (c, _) in zip(bounds, bounds[1:]):
            assert b == c  # contiguous, disjoint
        for p in parts:
            rows = list(r.read(p))
            assert len(rows) == p.end - p.start
            seen += len(rows)
        r.commit(nxt)
        off = nxt
    assert seen == n


def test_tws_delete_if_exists_resets_state_mid_stream(spark, sf_dir):
    """handle.deleteIfExists through the codec (the last unexercised
    StatefulProcessorCall wire method; the engine only permits it in
    init(), handle state CREATED — calling it during processing raises
    INVALID_HANDLE_STATE, verified while building this test): init
    drops the `cnt` variable every micro-batch, so the counter shows
    PER-BATCH counts, while the sibling `seq` variable — untouched —
    keeps its cross-batch fold. Together: deleteIfExists removed
    exactly the named variable, each batch, and nothing else."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    from terasort_spark.operators.streaming import (
        ROCKSDB_PROVIDER,
        ensure_state_codec,
    )
    from terasort_spark.streaming.replay import (
        read_stream,
        run_to_memory,
        stage_chunks,
    )

    ensure_state_codec(spark)
    src = table(spark, sf_dir, "events").filter(F.col("user_id") < 5)
    exact = {
        r.user_id: r.n
        for r in src.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    replay_dir = scratch_dir(spark, "dix_replay")
    stagers = stage_chunks(spark, sf_dir, replay_dir, n_chunks=3, src=src)

    class PerBatchCounter(StatefulProcessor):
        def init(self, handle):
            handle.deleteIfExists("cnt")
            self._s = handle.getValueState("cnt", "n bigint")
            self._seq = handle.getValueState("seq", "i bigint")

        def handleInputRows(self, key, rows, timerValues):
            n = tuple(self._s.get())[0] if self._s.exists() else 0
            i = (tuple(self._seq.get())[0] if self._seq.exists() else 0) + 1
            for pdf in rows:
                n += len(pdf)
            self._s.update((n,))
            self._seq.update((i,))
            yield pd.DataFrame(
                {"user_id": [key[0]], "i": [i], "n": [n]}
            )

        def close(self):
            pass

    folded = (
        read_stream(spark, replay_dir)
        .groupBy("user_id")
        .transformWithStateInPandas(
            PerBatchCounter(),
            outputStructType="user_id bigint, i bigint, n bigint",
            outputMode="Update",
            timeMode="None",
        )
    )
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, ROCKSDB_PROVIDER)
    try:
        got = run_to_memory(folded, "dix_sink", "update", stagers, spark)
        rows = got.collect()
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    per_user = {}
    for r in sorted(rows, key=lambda r: (r.user_id, r.i)):
        per_user.setdefault(r.user_id, []).append(r)
    assert set(per_user) == set(exact)
    for uid, seq in per_user.items():
        # seq (never dropped) folds across batches: 1..k
        assert [r.i for r in seq] == list(range(1, len(seq) + 1)), seq
        # cnt (dropped each init) is per-batch only: the emissions sum
        # to the user's total but no single emission reaches it
        assert sum(r.n for r in seq) == exact[uid], (uid, seq)
        assert len(seq) >= 2 and max(r.n for r in seq) < exact[uid], seq


# ---------------------------------------------------------------------------
# stream_join_outer


def test_stream_left_outer_join_equals_batch(spark, sf_dir, tmp_path, state_store):
    """The streaming LEFT OUTER join, replayed with a watermark-
    advancing sentinel chunk, must equal the batch twin EXACTLY —
    including the null-padded rows for unmatched purchases (emitted
    when the watermark closes each purchase's join window)."""
    from terasort_spark.streaming.replay import (
        EVENTS_SCHEMA,
        read_stream,
        run_to_memory,
        stage_chunks,
    )

    import os

    ev = table(spark, sf_dir, "events")
    max_ts = ev.agg(F.max("ts")).collect()[0][0]

    replay_dir = str(tmp_path / "outer_replay")
    stagers = stage_chunks(
        spark, sf_dir, replay_dir, n_chunks=3, order_by=("ts", "event_id")
    )

    # Two successive far-future sentinel waves: the first advances the
    # watermark past every real purchase's join window; the SECOND
    # gives the engine a DATA batch at that advanced watermark, in
    # which the null-padded unmatched rows actually emit (a trailing
    # no-data batch is not guaranteed to run before
    # processAllAvailable returns). Each wave carries one purchase
    # (user -1) and one click (user -2) so BOTH branches' watermarks
    # advance — the watermark must sit AFTER each branch's
    # filter/rename (the suite's inner-join pattern): placed before
    # the branch point, the file source stops discovering post-start
    # files entirely (observed empirically — batches run with
    # numInputRows=0 forever). Sentinel users never match anything;
    # their own unmatched rows are stripped by id before comparing.
    def sentinel_stager(hours, name):
        sdir = str(tmp_path / f"_sent_{name}")
        (
            spark.createDataFrame(
                [
                    (10**12, max_ts, -1, "purchase", 0.0, "{}"),
                    (10**12 + 1, max_ts, -2, "click", 0.0, "{}"),
                ],
                EVENTS_SCHEMA,
            )
            .withColumn("ts", F.col("ts") + F.expr(f"INTERVAL {hours} HOURS"))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(sdir)
        )
        part = next(
            f for f in sorted(os.listdir(sdir)) if f.endswith(".parquet")
        )

        def stage():
            os.rename(
                os.path.join(sdir, part),
                os.path.join(replay_dir, f"sentinel_{name}.parquet"),
            )

        return stage

    stagers = stagers + [
        sentinel_stager(10, "a"),
        sentinel_stager(20, "b"),
    ]
    src = read_stream(spark, replay_dir)
    purchases = (
        src.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        src.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("c_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    cond = (
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
    )
    joined = purchases.join(clicks, cond, "leftOuter").select("p_id", "c_id")
    got = sorted(
        t
        for t in map(
            tuple,
            run_to_memory(
                joined, "outer_join_sink", "append", stagers, spark
            ).collect(),
        )
        if t[0] < 10**12  # strip the sentinels' own unmatched rows
    )
    want = sorted(map(tuple, _Q["stream_join_outer"](spark, sf_dir).collect()))
    assert got == want
    assert any(c is None for _, c in want), "outer semantics unexercised"
