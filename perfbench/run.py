"""Benchmark entry point.

    python3 perfbench/run.py --workload terasort_files --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Each run writes its inputs under
``.perfbench_work/`` in the checkout, starts ``worker.py`` as a fresh Python
process (which starts its own JVM), samples the resident memory of that
process tree from ``/proc`` while it runs, stops every process of the tree,
deletes its files and prints one JSON line last: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics of BENCHMARK.json, or its
per-layer metrics with ``--trace 1``). It exits 1 when any output check
failed and 2 when the checkout holds no program to run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_TIMEOUT_S = 170
SAMPLE_EVERY_S = 0.2


def headline_line(workload: str, res: dict, peak_bytes: int) -> dict:
    """The workload's headline metrics (throughputs or family times, and
    set-up time), with the run's peak memory and failed share added."""
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in res.get("headline", {}).items()}
    metrics["peak_rss_mb"] = {"value": peak_bytes / 1e6, "unit": "MB"}
    metrics["failed_ops_frac"] = {"value": res["failed"] / max(1, res["attempted"]), "unit": "ratio"}
    return {"workload": workload, "headline": metrics}


def result_line(res: dict, spec: dict, trace: bool) -> dict:
    """The last line of a run: BENCHMARK.json's end-to-end metrics, or its
    per-layer metrics when traced. A run that misses any metric, or failed
    any check, is not correct."""
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    measured = res.get("metrics", {})
    metrics = {m["name"]: {"value": measured[m["name"]], "unit": m["unit"]} for m in wanted if m["name"] in measured}
    ok = res["failed"] == 0 and len(metrics) == len(wanted)
    return {"correct": ok, "attempted": res["attempted"], "failed": res["failed"], "metrics": metrics}


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = p.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "terasort_spark")):
        print(f"perfbench: no terasort_spark package under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import fixtures, proc, worker

    if args.workload not in worker.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: {worker.WORKLOADS}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tables, tmp = os.path.join(work, "tables"), os.path.join(work, "tmp")
    os.makedirs(tmp)
    out_path, log_path = os.path.join(work, "result.json"), os.path.join(work, "worker.log")
    seen: dict[int, str] = {}
    try:
        fixtures.write_tables(tables, args.seed, worker.MIX_SCALE)
        env = dict(
            os.environ,
            TMPDIR=tmp,
            SPARK_LOCAL_DIRS=tmp,
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
            SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
            PYTHONUNBUFFERED="1",
        )
        cmd = [
            sys.executable, os.path.join(HERE, "worker.py"),
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--tables", tables, "--work", work, "--out", out_path,
        ]
        peak = 0
        with open(log_path, "w") as log:
            t0 = time.monotonic()
            child = subprocess.Popen(cmd + ["--t0", repr(t0)], cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT)
            try:
                while child.poll() is None:
                    if time.monotonic() - t0 > RUN_TIMEOUT_S:
                        print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
                        break
                    tree = proc.tree(child.pid)
                    for pid in tree:
                        st = proc.start_time(pid)
                        if st is not None:
                            seen.setdefault(pid, st)
                    peak = max(peak, proc.rss_bytes(child.pid))
                    time.sleep(SAMPLE_EVERY_S)
            finally:
                if child.poll() is None:
                    child.kill()
                child.wait()
                proc.stop_all(seen)
        try:
            with open(out_path) as f:
                res = json.load(f)
        except (OSError, ValueError):
            res = {"attempted": 1, "failed": 1, "errors": ["the worker wrote no result"]}
        if res["failed"]:
            with open(log_path) as f:
                sys.stderr.write("".join(f.readlines()[-60:]))
            for e in res["errors"]:
                print(f"perfbench: FAILED: {e}", file=sys.stderr)
        print(json.dumps(headline_line(args.workload, res, peak)))
        line = result_line(res, spec, bool(args.trace))
        print(json.dumps(line))
        return 0 if line["correct"] else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
