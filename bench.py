#!/usr/bin/env python
"""Benchmark harness (BASELINE.md §2 protocol).

Runs every registered query at $SPARK_GRAFT_SF_DIR (default: the sf0.1
test data, see SF_DIR) on local[$SPARK_GRAFT_CPUS] and prints three JSON
lines: the full per-query map, the gate report, and LAST the line that
is graded:
  {"metric": "suite_median_total_s", "value": N, "unit": "sec",
   "queries": {15 slowest: median_sec}, "sf": 0.1, ...}
$BENCH_ONLY (comma-separated names) restricts the run for local
iteration.

Each timing writes the full result to the built-in no-op sink: every
column of every row is computed and discarded inside Spark, so the
measured cost is the whole plan without the driver-side row transfer
(which scales with rows returned, not with cores). Every query runs one
discarded warm-up rep, then REPS timed reps; the median is reported.

Fresh-JVM chunks: one SparkSession across the suite accumulates JVM
heap, plan-cache and listener state that inflated late queries' medians
4-17x on untouched code. The suite therefore runs in chunks of CHUNK
queries, each in a FRESH child process (a fresh JVM — stronger than
newSession, which shares the aged context). Chunk startup is outside the
per-query timings, so medians are comparable to isolated runs. 25, not
50: heavyweight streaming queries measurably age their chunk-mates, and
a smaller chunk shrinks the blast radius for ~90 s of extra JVM starts.

Baseline: BENCH_QUERIES.json holds one figure per query at one scale,
the per-query minimum over every promoted sweep. It decides, per query:
- Light reps: under LIGHT_S a query runs REPS_LIGHT timed reps (median
  of 2 = their mean); at 0.2-1.5 s the rep spread is scheduling noise,
  not plan cost, so 2 reps buy the same confidence at 2/3 the cost.
- Heavy pairs: at or over HEAVY_S a query runs in a fresh JVM with one
  same-weight neighbor instead of in a chunk. Back-to-back 10-20 s
  streaming/LSH runs age every later chunk-mate; one neighbor is within
  the measured aging tolerance and halves the JVM starts of singles.
- Ambient drift: the median per-query ratio to the baseline. Host load
  moves every query by a uniform ~1.1-1.25x, a real regression moves
  single queries; >1.15 means "re-run before trusting absolute numbers".
- The gate: a query fails when median > 2x its baseline AND > 1 s.
Drift and the gate are only computed against a baseline at the run's
scale factor; otherwise drift is null and the gate reports sf_mismatch.

Gate adjudication: a chunk-sweep median can carry chunk-neighborhood
noise, so each flagged query is RE-RUN SOLO in its own fresh JVM. The
host also carries bursty external load that inflates a sweep and the
solo right after it alike, so a still-over solo runs once more and the
row is judged on the min of the two (two solos >2x apart mark it
flaky). Only solo-confirmed rows fail the gate. At most MAX_SOLO rows,
worst ratio first, are adjudicated; the rest are recorded
unadjudicated, which bounds the gate's time so the graded line still
prints within budget on a loaded box.

A full sweep writes the sidecar BENCH_QUERIES.latest.json; the committed
baseline is only changed by `make bench-promote`, which folds the
sidecar into it, so a run leaves the tree clean.
"""

from __future__ import annotations

import gc
import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

REPS = 3
REPS_LIGHT = 2
LIGHT_S = 1.5
HEAVY_S = 3.0
CHUNK = 25
MAX_SOLO = 5
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
_CHILD_MARK = "##BENCH_CHILD_RESULT##"


def _run_df(df) -> None:
    """Execute one timed repetition of a query's DataFrame."""
    df.write.format("noop").mode("overwrite").save()


def _sf_from_dir(d: str) -> float:
    base = os.path.basename(d.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def _baseline() -> dict:
    """The committed BENCH_QUERIES.json snapshot (read-only); {} if absent."""
    try:
        with open(os.path.join(REPO, "BENCH_QUERIES.json")) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {}


def _over(median: float, baseline: float) -> bool:
    """The gate's failure test: over 2x the baseline and over 1 s."""
    return median > 2 * baseline and median > 1.0


def _run_chunk(names: list[str]) -> dict[str, float]:
    """Child-process body: time the given queries in one fresh session."""
    from terasort_spark.registry import queries
    from terasort_spark.session import get_spark

    spark = get_spark(app_name="terasort-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries()
    prev = _baseline().get("queries", {})
    # JVM warm-up pre-pass: the chunk's first query runs ONCE, discarded,
    # so global one-time costs (codegen compiler JIT, parquet reader and
    # shuffle init) land outside ANY timed rep. Together with the
    # per-query rep-0 warm-up the first timed rep is the third execution,
    # the point where rep times were measured to stabilize.
    try:
        _run_df(qs[names[0]](spark, SF_DIR))
    except Exception:  # pragma: no cover
        pass
    medians: dict[str, float] = {}
    for name in names:
        fn = qs[name]
        times = []
        # Light queries get REPS_LIGHT timed reps; anything at or over
        # LIGHT_S (or never benched) keeps the full REPS.
        n_reps = REPS_LIGHT if 0.0 < prev.get(name, -1.0) < LIGHT_S else REPS
        for rep in range(n_reps + 1):  # rep 0 = warm-up, discarded
            t0 = time.perf_counter()
            try:
                _run_df(fn(spark, SF_DIR))
            except Exception as exc:  # pragma: no cover
                print(f"# {name} failed: {exc}", file=sys.stderr)
                times = []
                break
            dt = time.perf_counter() - t0
            if rep > 0:
                times.append(dt)
        if times:
            medians[name] = round(statistics.median(times), 3)
        # Release per-query driver state between queries: dropping the
        # Python DataFrame refs lets the JVM ContextCleaner evict
        # localCheckpoint blocks (iterative queries pin them until GC).
        gc.collect()
        spark.catalog.clearCache()
    spark.stop()
    return medians


def _spawn_chunk(names: list[str]) -> dict[str, float]:
    """Run one chunk in a fresh python+JVM; parse the marked result line."""
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--chunk"] + names,
        capture_output=True,
        text=True,
        cwd=REPO,
    )
    for line in reversed(proc.stdout.splitlines()):
        if line.startswith(_CHILD_MARK):
            return json.loads(line[len(_CHILD_MARK):])
    print(
        f"# chunk [{names[0]}..{names[-1]}] produced no result "
        f"(rc={proc.returncode}); stderr tail: {proc.stderr[-500:]}",
        file=sys.stderr,
    )
    return {}


def _gate(medians: dict[str, float], sf: float, baseline: dict) -> dict:
    """Evaluate the >2x-and->1s gate against a same-scale baseline,
    solo re-running flagged queries (see the module docstring)."""
    if sf != baseline.get("sf"):
        return {"metric": "gate_over_2x", "status": "sf_mismatch",
                "sf": sf, "baseline_sf": baseline.get("sf")}
    base = baseline.get("queries", {})
    over = {}
    for name, med in medians.items():
        b = base.get(name)
        if b and _over(med, b):
            over[name] = {"median_s": med, "baseline_s": b,
                          "ratio": round(med / b, 2)}
    ranked = sorted(over, key=lambda n: over[n]["ratio"], reverse=True)
    for name in ranked[MAX_SOLO:]:
        over[name]["adjudication_skipped"] = True
    n_confirmed = 0
    for name in ranked[:MAX_SOLO]:
        row = over[name]
        b = row["baseline_s"]
        print(f"# gate: solo re-adjudicating {name} "
              f"(sweep {row['median_s']} s vs baseline {b} s)",
              file=sys.stderr)
        row["load_1m"] = round(os.getloadavg()[0], 2)
        solo = _spawn_chunk([name]).get(name)
        row["solo_median_s"] = solo
        if solo is not None and _over(solo, b):
            solo2 = _spawn_chunk([name]).get(name)
            row["solo_retry_s"] = solo2
            row["load_1m_retry"] = round(os.getloadavg()[0], 2)
            if solo2 is not None:
                if max(solo, solo2) > 2 * min(solo, solo2):
                    row["flaky"] = True
                solo = min(solo, solo2)
        if solo is not None:
            row["solo_ratio"] = round(solo / b, 2)
        # A solo run that crashed is a real problem: confirmed.
        row["confirmed_solo"] = solo is None or _over(solo, b)
        n_confirmed += row["confirmed_solo"]
    return {
        "metric": "gate_over_2x",
        "status": "PASS" if not n_confirmed else "FAIL",
        "n_checked": sum(1 for n in medians if n in base),
        "n_over": len(over),
        "n_confirmed_solo": n_confirmed,
        "n_unadjudicated": max(0, len(ranked) - MAX_SOLO),
        "over": over,
    }


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--chunk":
        medians = _run_chunk(sys.argv[2:])
        print(_CHILD_MARK + json.dumps(medians))
        return

    from terasort_spark.registry import queries  # light import, no session

    names = sorted(queries())
    only = os.environ.get("BENCH_ONLY")  # comma-separated, local iteration
    if only:
        keep = {n.strip() for n in only.split(",")}
        names = [n for n in names if n in keep]
    baseline = _baseline()
    prev_meds = baseline.get("queries", {})
    light = [n for n in names if prev_meds.get(n, 0.0) < HEAVY_S]
    heavy = [n for n in names if n not in set(light)]
    chunks = [light[i : i + CHUNK] for i in range(0, len(light), CHUNK)]
    chunks += [heavy[i : i + 2] for i in range(0, len(heavy), 2)]
    medians: dict[str, float] = {}
    for ci, chunk in enumerate(chunks):
        got = _spawn_chunk(chunk)
        # A crashed child (JVM death under a co-tenant burst) loses its
        # WHOLE chunk, and a hole in the per-query map reads as a dropped
        # query. Retry each lost query once in its own fresh JVM; a query
        # that fails twice is a real failure and stays in `missing`.
        lost = [n for n in chunk if n not in got]
        if lost:
            print(f"# retrying {len(lost)} lost queries solo: {lost}",
                  file=sys.stderr)
            for name in lost:
                got.update(_spawn_chunk([name]))
        medians.update(got)
        print(
            f"# chunk {ci + 1}/{len(chunks)} done "
            f"({len(medians)}/{len(names)} queries)",
            file=sys.stderr,
        )
    total = round(sum(medians.values()), 3)
    sf = _sf_from_dir(SF_DIR)
    # Queries that produced no timing are recorded by NAME so consumers
    # see a degraded sweep instead of silently-shrunk medians.
    missing = sorted(set(names) - set(medians))
    if missing:
        print(f"# WARNING: {len(missing)} queries missing from sweep: "
              f"{missing}", file=sys.stderr)
    ambient = None
    if sf == baseline.get("sf"):
        ratios = sorted(
            medians[n] / prev_meds[n]
            for n in medians
            if n in prev_meds and prev_meds[n] > 0
        )
        if ratios:
            ambient = round(ratios[len(ratios) // 2], 3)
    # Full per-query map: its own stdout line and the sidecar. The graded
    # line must stay compact (a few hundred bytes) because only a short
    # tail of output is kept, so it carries only the 15 slowest queries.
    full = {
        "metric": "per_query_median_s",
        "unit": "sec",
        "queries": medians,
        "sf": sf,
        "n_queries": len(medians),
        "missing": missing,
        "ambient_vs_prev_snapshot": ambient,
    }
    print(json.dumps(full))
    # Only a full sweep writes the sidecar a promotion may fold in; a
    # BENCH_ONLY run is a local iteration aid.
    if not only:
        try:
            with open(os.path.join(REPO, "BENCH_QUERIES.latest.json"), "w") as f:
                json.dump(full, f, indent=1, sort_keys=True)
        except OSError as exc:  # pragma: no cover
            print(f"# could not write BENCH_QUERIES.latest.json: {exc}",
                  file=sys.stderr)
    print(json.dumps(_gate(medians, sf, baseline)))
    slowest = dict(
        sorted(medians.items(), key=lambda kv: kv[1], reverse=True)[:15]
    )
    print(
        json.dumps(
            {
                "metric": "suite_median_total_s",
                "value": total,
                "unit": "sec",
                "queries": slowest,
                "sf": sf,
                "n_queries": len(medians),
                "n_missing": len(missing),
                "ambient_vs_prev_snapshot": ambient,
            }
        )
    )


if __name__ == "__main__":
    main()
