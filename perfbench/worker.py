"""One benchmark run, in a fresh Python and JVM process.

``run.py`` starts this file and reads the JSON it writes to ``--out``. The
run sets up a session the way a user would (``session.get_spark``,
``session.configure``, ``registry.queries()``, one cold query), then runs
its workload's rounds in a closed loop with one client (terasort_files for
``--seconds``, query_mix for one pass), checks every output outside the
timed calls, and writes its metrics.

With ``--trace 1`` it runs four rounds, the third of them traced, and
reports per-layer numbers from that one.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import proc, tera_check  # noqa: E402
from perfbench.trace import CallCounters, SparkCounters, Spans, make_progress_listener  # noqa: E402

TERA_ROWS = 300_000  # 30 MB of 100-byte records per terasort_files round
WARMUP_ROWS = 30_000  # the warm-up round's records
TERA_PARTITIONS = 4  # part files, and the sort's range partitions
MIX_SCALE = 0.01  # TPC-H scale of the generated query_mix tables
WARMUP_QUERY = "tpch_q6_shape"

# The query_mix members, by family: one or two of each family's cheapest,
# so that a cold pass plus its oracle check fits a run; see README.md for
# the members left out.
FAMILIES = {
    "relational": ("tpch_q5_shape", "win_ntile"),
    "python_udf": ("udf_pandas", "udf_python"),
    "llm": ("sim_cosine_topk", "text_bm25"),
    "iterative": ("graph_cc_star",),
    "streaming": ("stream_transformwithstate",),
}
MEMBERS = tuple(q for qs in FAMILIES.values() for q in qs)
STREAMING = FAMILIES["streaming"]
WORKLOADS = ("terasort_files", "query_mix")
# terasort_files round 0 warms up on WARMUP_ROWS records and is not
# measured: its first call of each kind starts Python workers and
# JIT-compiles the sort. query_mix measures exactly its first pass, cold,
# whatever --seconds says: each member's cold analysis and planning is part
# of what a fresh session pays, and a later, warm pass would be another
# measure.
WARMUP_ROUNDS = {"terasort_files": 1, "query_mix": 0}
# How often a terasort_files round reads its records: twice in terasort
# (the range partitioner's sampling job, then the map side of the
# exchange) and twice in teravalidate (the order check, then the checksum).
READS_PER_ROUND = 4


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Run:
    def __init__(self, args) -> None:
        self.args = args
        self.run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
        self.spans = Spans(self.run_id)
        self.work = args.work
        self.attempted = 0
        self.errors: list[str] = []
        self.layer: dict[str, float] = {}
        self.counters: SparkCounters | None = None
        self.progress = None
        self.rounds: list[dict] = []
        self.checked_mix = False

    # -- bookkeeping ------------------------------------------------------
    def expect(self, ok: bool, what: str) -> None:
        """One output check: counts as attempted, and as failed unless ok."""
        self.attempted += 1
        if not ok:
            self.errors.append(what)

    def call(self, name: str, layer: str, fn, traced: bool, stats: dict | None = None):
        """One timed call into the program. In traced rounds it runs under
        its own job group inside a ``trace`` span that also covers reading
        the counters; ``stats`` then receives the call's ``CallCounters``."""
        self.attempted += 1
        if not traced:
            with self.spans.span(name, layer) as s:
                out = fn()
            return out, s.seconds
        with self.spans.span(f"trace:{name}", "trace"):
            with self.counters.group(name) as cc:
                with self.spans.span(name, layer) as s:
                    out = fn()
        if stats is not None:
            stats[name] = cc
        return out, s.seconds

    # -- set-up -----------------------------------------------------------
    def setup(self) -> None:
        with self.spans.span("setup", "bench"):
            with self.spans.span("session.get_spark", "session") as s:
                from terasort_spark import session

                self.spark = session.get_spark()
            self.layer["session.get_spark_s"] = s.seconds
            with self.spans.span("session.configure", "session") as s:
                session.configure(self.spark)
            self.layer["session.configure_s"] = s.seconds
            with self.spans.span("registry.load", "registry") as s:
                from terasort_spark import registry

                self.queries = registry.queries()
                self.oracles = registry.oracle_sql()
            self.layer["registry.load_s"] = s.seconds
            self.layer["registry.n_queries"] = len(self.queries)
            from terasort_spark.engine import Engine

            self.engine = Engine(self.spark, sf_dir=self.args.tables)
            with self.spans.span("engine.first_query", "engine") as s:
                noop(self.engine.query(WARMUP_QUERY))
            self.layer["engine.first_query_s"] = s.seconds
        self.setup_wall_s = time.monotonic() - self.args.t0
        self.setup_cpu_s = proc.cpu_seconds(os.getpid())

    # -- rounds -----------------------------------------------------------
    def round(self, k: int, traced: bool) -> dict:
        fn = {"terasort_files": self.round_files, "query_mix": self.round_mix}[self.args.workload]
        with self.spans.span(f"round{k}", "bench") as root:
            r = fn(k, traced)
        r.update(k=k, traced=traced, span=root)
        return r

    def cli(self, argv: list[str], traced: bool, stats: dict) -> float:
        from terasort_spark.__main__ import main

        name = f"cli.{argv[0]}"
        cpu0 = proc.cpu_seconds(os.getpid())
        rc, secs = self.call(name, "cli", lambda: main(argv, spark=self.spark), traced, stats)
        stats["cpu_s"] = stats.get("cpu_s", 0.0) + proc.cpu_seconds(os.getpid()) - cpu0
        self.expect(rc == 0, f"{' '.join(argv)} exited {rc}")
        return secs

    def round_files(self, k: int, traced: bool) -> dict:
        """TeraGen -> TeraSort -> TeraValidate through the CLI, in-process."""
        n = WARMUP_ROWS if k < WARMUP_ROUNDS["terasort_files"] else TERA_ROWS
        base = os.path.join(self.work, f"tera{k}")
        src, dst = os.path.join(base, "in"), os.path.join(base, "out")
        st: dict = {}
        parts = ["--partitions", str(TERA_PARTITIONS)]
        gen = self.cli(["teragen", "--rows", str(n), "--out", src, *parts], traced, st)
        inp = tera_check.scan_dir(src, check_sorted=False)
        self.expect(inp.rows == n and not inp.errors, f"teragen input: {inp.rows} rows, {inp.errors[:2]}")
        srt = self.cli(["terasort", "--input", src, "--out", dst, *parts], traced, st)
        out = tera_check.check_sorted_dir(dst, n, inp.checksum)
        self.expect(not out.errors, f"terasort output: {out.errors[:3]}")
        val = self.cli(
            ["teravalidate", "--input", dst, "--expect-rows", str(n), "--expect-checksum", str(inp.checksum)],
            traced,
            st,
        )
        r = {"wall": gen + srt + val, "cpu": st["cpu_s"], "stages": {"gen": gen, "sort": srt, "validate": val}}
        if traced:
            r["counters"] = [st[f"cli.{c}"] for c in ("teragen", "terasort", "teravalidate")]
            r["sample_job_s"] = st["cli.terasort"].first_job_s
            r["part_rows"] = out.rows_per_file
            r["files"], r["bytes"] = inp.files, inp.rows * tera_check.RECORD_LEN
            r["probes"] = self.probe_files(src, dst)
        shutil.rmtree(base, ignore_errors=True)
        return r

    def probe_files(self, src: str, dst: str) -> dict:
        """Traced-only single-layer timings that split read, sort and write."""
        from terasort_spark.sources.teragen import checksum, read_tera_files, terasort, teravalidate

        spark, p = self.spark, {}
        with self.spans.span("probe.read_noop", "teragen") as s:
            noop(read_tera_files(spark, dst))
        p["read"] = s.seconds
        with self.spans.span("probe.read_sort_noop", "sort") as s:
            noop(terasort(read_tera_files(spark, src)))
        p["read_sort"] = s.seconds
        with self.spans.span("probe.teravalidate", "validate") as s:
            teravalidate(read_tera_files(spark, dst))
        p["validate"] = s.seconds
        with self.spans.span("probe.checksum", "validate") as s:
            checksum(read_tera_files(spark, dst))
        p["checksum"] = s.seconds
        return p

    def round_mix(self, k: int, traced: bool) -> dict:
        """One pass over the members, in an order drawn from the seed."""
        order = list(MEMBERS)
        random.Random(self.args.seed * 1000 + k).shuffle(order)
        st: dict = {}
        per: dict = {}
        built = {}
        cpu0 = proc.cpu_seconds(os.getpid())
        for q in order:
            seen = len(self.progress.batches) if traced else 0
            df, b = self.call(f"query.{q}.build", "query.build", lambda q=q: self.engine.query(q), traced, st)
            _, e = self.call(f"query.{q}.exec", "query.exec", lambda df=df: noop(df), traced, st)
            per[q] = {"build": b, "exec": e}
            if traced:
                per[q]["jobs"] = st[f"query.{q}.build"].jobs + st[f"query.{q}.exec"].jobs
                per[q]["batches"] = self.progress.batches[seen:]
            built[q] = df
        r = {"wall": sum(v["build"] + v["exec"] for v in per.values()), "cpu": proc.cpu_seconds(os.getpid()) - cpu0}
        r["stages"] = per
        if traced:
            r["counters"] = [c for c in st.values() if isinstance(c, CallCounters)]
        if not self.checked_mix:
            self.check_mix(built)
            self.checked_mix = True
        return r

    def check_mix(self, built: dict) -> None:
        """Each member's timed DataFrame against its DuckDB oracle, through
        ``compare.compare_query``; members without an oracle must return
        rows."""
        from terasort_spark.compare import compare_query, duck_connection

        con = duck_connection(self.args.tables)
        try:
            for q, df in built.items():
                if q in self.oracles:
                    res = compare_query(q, lambda spark, sf_dir, df=df: df, self.oracles[q], self.spark, self.args.tables, con)
                    self.expect(res.ok, f"{q}: {res.errors[:3]}")
                else:
                    self.expect(df.count() > 0, f"{q}: no rows")
        finally:
            con.close()

    # -- the loop ---------------------------------------------------------
    def loop(self) -> None:
        """Closed loop, one client: the next round starts when the last one
        ends. terasort_files runs until the rounds after the warm-up have
        taken ``--seconds``; counting only those keeps the number of
        measured rounds from depending on how long the warm-up took.
        query_mix runs one pass. A traced run makes four rounds: 0 and 1
        untraced, 2 traced, 3 untraced, so that the traced round sits
        between two warm untraced ones."""
        trace = bool(self.args.trace)
        if trace:
            self.counters = SparkCounters(self.spark, self.run_id)
            self.progress = make_progress_listener(self.spark)
            for k in range(4):
                self.rounds.append(self.round(k, traced=k == 2))
            return
        warmup = WARMUP_ROUNDS[self.args.workload]
        measured = 0.0
        k = 0
        while k <= warmup or (self.args.workload == "terasort_files" and measured < self.args.seconds):
            r = self.round(k, traced=False)
            self.rounds.append(r)
            if k >= warmup:
                measured += r["span"].seconds
            k += 1

    # -- results ----------------------------------------------------------
    def headline(self) -> dict:
        """Per-workload throughput and family times, medians over the
        untraced rounds, and set-up wall time: ``{name: (value, unit)}``."""
        plain = self.measured_rounds()

        def med(f) -> float:
            return statistics.median(f(r) for r in plain)

        h = {"setup_wall_s": (self.setup_wall_s, "s")}
        if self.args.workload == "terasort_files":
            mb = TERA_ROWS * tera_check.RECORD_LEN / 1e6
            for stage in ("gen", "sort", "validate"):
                h[f"{stage}_mb_s"] = (mb / med(lambda r: r["stages"][stage]), "MB/s")
        else:
            h["mix_s"] = (med(lambda r: r["wall"]), "s")
            for fam, qs in FAMILIES.items():
                h[f"{fam}_s"] = (med(lambda r: sum(r["stages"][q]["build"] + r["stages"][q]["exec"] for q in qs)), "s")
        return h

    def warm_rounds(self) -> list[dict]:
        """The untraced rounds after round 0."""
        return [r for r in self.rounds if not r["traced"] and r["k"] >= 1]

    def measured_rounds(self) -> list[dict]:
        """The rounds an untraced run measures: query_mix's first pass, or
        terasort_files' untraced rounds after the warm-up."""
        return self.rounds[:1] if self.args.workload == "query_mix" else self.warm_rounds()

    def end_to_end(self) -> dict:
        plain = self.measured_rounds()
        return {"setup_s": self.setup_cpu_s, "round_cpu_s": statistics.median(r["cpu"] for r in plain)}

    def per_layer(self) -> dict:
        m = dict.fromkeys(layer_metric_names(), 0.0)
        m.update(self.layer)
        traced = [r for r in self.rounds if r["traced"]]
        plain = self.warm_rounds()  # rounds 1 and 3: warm, like the traced round
        t = traced[0]
        u_wall = statistics.median(r["wall"] for r in plain)
        trace_wall = sum(s.seconds for s in self.spans.children(t["span"]) if s.layer == "trace")
        m["trace.overhead_frac"] = trace_wall / u_wall - 1.0
        m["trace.stage_sum_over_wall"] = t["wall"] / u_wall
        m["trace.spans"] = len(self.spans.spans)
        tot = CallCounters()
        for c in t["counters"]:
            tot.add(c)
        m["exec.jobs"], m["exec.stages"], m["exec.tasks"] = tot.jobs, tot.stages, tot.tasks
        m["exec.shuffle_write_bytes"], m["exec.spill_bytes"] = tot.shuffle_write_bytes, tot.spill_bytes
        for layer, secs in self.spans.self_seconds_by_layer([t["span"]]).items():
            key = f"self.{layer.replace('.', '_')}_s"
            if key in m:
                m[key] = secs
        if self.args.workload == "terasort_files":
            st, p = t["stages"], t["probes"]
            m["teragen.gen_write_s"] = st["gen"]
            m["teragen.files_written"], m["teragen.bytes_written"] = t["files"], t["bytes"]
            m["teragen.read_s"] = p["read"]
            m["teragen.sorted_write_s"] = st["sort"] - p["read_sort"]
            m["teragen.validate_s"], m["teragen.checksum_s"] = p["validate"], p["checksum"]
            io = st["gen"] + m["teragen.sorted_write_s"] + READS_PER_ROUND * p["read"]
            m["teragen.record_io_frac"] = io / t["wall"]
            m["sort.stage_s"] = p["read_sort"] - p["read"]
            m["sort.sample_job_s"] = t["sample_job_s"]
            part_rows = t["part_rows"]
            mean = sum(part_rows) / len(part_rows)
            m["sort.part_rows_max_over_mean"] = max(part_rows) / mean
            m["sort.part_rows_empty"] = sum(1 for n in part_rows if n == 0)
        else:
            gaps = []
            for fam, qs in FAMILIES.items():
                m[f"mix.{fam}_s"] = sum(t["stages"][q]["build"] + t["stages"][q]["exec"] for q in qs)
            for q, v in t["stages"].items():
                m[f"query.{q}.build_s"], m[f"query.{q}.exec_s"], m[f"query.{q}.jobs"] = v["build"], v["exec"], v["jobs"]
                uw = statistics.median(r["stages"][q]["build"] + r["stages"][q]["exec"] for r in plain)
                gaps.append(abs(v["build"] + v["exec"] - uw) / uw)
                if q in STREAMING:
                    b = v["batches"]
                    m[f"stream.{q}.batches"] = len(b)
                    for f in ("add_batch_ms", "planning_ms", "commit_ms"):
                        m[f"stream.{q}.{f}"] = sum(x[f] for x in b)
                    m[f"stream.{q}.state_rows"] = b[-1]["state_rows"] if b else 0
            m["trace.member_gap_median_frac"] = statistics.median(gaps)
            m["trace.member_gap_max_frac"] = max(gaps)
        return m

    def close(self) -> None:
        if self.progress is not None:
            self.spark.streams.removeListener(self.progress)
        self.spark.stop()


def layer_metric_names() -> list[str]:
    """Every per-layer metric, in the order BENCHMARK.json lists them."""
    names = [
        "session.get_spark_s", "session.configure_s", "registry.load_s", "registry.n_queries",
        "engine.first_query_s",
        "teragen.gen_write_s", "teragen.files_written", "teragen.bytes_written", "teragen.read_s",
        "teragen.sorted_write_s", "teragen.validate_s", "teragen.checksum_s", "teragen.record_io_frac",
        "sort.stage_s", "sort.sample_job_s", "sort.part_rows_max_over_mean", "sort.part_rows_empty",
        "exec.jobs", "exec.stages", "exec.tasks", "exec.shuffle_write_bytes", "exec.spill_bytes",
    ]
    names += [f"mix.{f}_s" for f in FAMILIES]
    for q in MEMBERS:
        names += [f"query.{q}.build_s", f"query.{q}.exec_s", f"query.{q}.jobs"]
    for q in STREAMING:
        names += [f"stream.{q}.{f}" for f in ("batches", "add_batch_ms", "planning_ms", "commit_ms", "state_rows")]
    names += [
        "self.bench_s", "self.cli_s", "self.teragen_s", "self.sort_s", "self.validate_s",
        "self.query_build_s", "self.query_exec_s", "self.trace_s",
        "trace.overhead_frac", "trace.stage_sum_over_wall", "trace.member_gap_median_frac",
        "trace.member_gap_max_frac", "trace.spans",
    ]
    return names


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", choices=WORKLOADS, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--t0", type=float, required=True, help="time.monotonic() when run.py started this process")
    p.add_argument("--tables", required=True)
    p.add_argument("--work", required=True)
    p.add_argument("--out", required=True)
    args = p.parse_args()

    run = Run(args)
    result = {"attempted": 0, "failed": 1, "errors": []}
    try:
        run.setup()
        run.loop()
        result["metrics"] = run.per_layer() if args.trace else run.end_to_end()
        result["headline"] = run.headline()
        if args.trace:
            run.spans.dump(os.path.join(args.work, "spans.json"))
    except Exception:
        traceback.print_exc()
        run.attempted += 1
        run.errors.append(traceback.format_exc(limit=3))
    finally:
        result.update(attempted=run.attempted, failed=len(run.errors), errors=run.errors)
        with open(args.out, "w") as f:
            json.dump(result, f)
    if getattr(run, "spark", None) is not None:
        run.close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
