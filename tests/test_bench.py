"""bench.py's output contract, its gate, and the baseline fold script."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

import bench

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FOLD = os.path.join(REPO, "scripts", "fold_bench_snapshots.py")
SIDECAR = os.path.join(REPO, "BENCH_QUERIES.latest.json")


def _mtime(path: str) -> float | None:
    return os.path.getmtime(path) if os.path.exists(path) else None


def test_bench_prints_graded_line_last(sf_dir):
    sidecar_before = _mtime(SIDECAR)
    env = dict(os.environ, BENCH_ONLY="agg_approx", SPARK_GRAFT_SF_DIR=sf_dir)
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        capture_output=True, text=True, env=env, cwd=REPO, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = proc.stdout.strip().splitlines()
    last, gate = json.loads(lines[-1]), json.loads(lines[-2])
    assert last["metric"] == "suite_median_total_s"
    assert last["n_queries"] == 1
    assert gate["metric"] == "gate_over_2x"
    # Drift and gate only compare like with like: a run at another scale
    # than the committed baseline reports neither.
    if bench._sf_from_dir(sf_dir) != bench._baseline().get("sf"):
        assert last["ambient_vs_prev_snapshot"] is None
        assert gate["status"] == "sf_mismatch"
    # A BENCH_ONLY run never writes the sidecar a promotion folds in.
    assert _mtime(SIDECAR) == sidecar_before


def _fake_spawn(calls: list, solos: list):
    def spawn(names):
        calls.append(names)
        return {names[0]: solos[len(calls) - 1]}
    return spawn


def test_gate_refuses_other_scale_without_solo_runs(monkeypatch):
    calls: list = []
    monkeypatch.setattr(bench, "_spawn_chunk", _fake_spawn(calls, []))
    got = bench._gate({"q": 9.0}, 0.001, {"sf": 0.1, "queries": {"q": 1.0}})
    assert got["status"] == "sf_mismatch"
    assert calls == []


def test_gate_same_scale_adjudicates_flagged_rows_solo(monkeypatch):
    baseline = {"sf": 0.1, "queries": {"hot": 1.0, "noisy": 1.0, "ok": 1.0}}
    medians = {"hot": 9.0, "noisy": 5.0, "ok": 1.5}
    # hot: both solos stay over -> confirmed; noisy: solo is fine.
    calls: list = []
    monkeypatch.setattr(bench, "_spawn_chunk", _fake_spawn(calls, [8.0, 3.0, 1.1]))
    got = bench._gate(medians, 0.1, baseline)
    assert calls == [["hot"], ["hot"], ["noisy"]]
    assert got["status"] == "FAIL"
    assert got["n_checked"] == 3 and got["n_over"] == 2
    assert got["n_confirmed_solo"] == 1
    hot, noisy = got["over"]["hot"], got["over"]["noisy"]
    assert hot["confirmed_solo"] and hot["solo_ratio"] == 3.0 and hot["flaky"]
    assert not noisy["confirmed_solo"] and "solo_retry_s" not in noisy


def _fold(tmp_path, *docs):
    paths = []
    for i, doc in enumerate(docs):
        p = tmp_path / f"in{i}.json"
        p.write_text(json.dumps(doc))
        paths.append(str(p))
    out = tmp_path / "out.json"
    proc = subprocess.run([sys.executable, FOLD, str(out), *paths],
                          capture_output=True, text=True)
    return proc, (json.loads(out.read_text()) if out.exists() else None)


def test_fold_takes_per_query_min_and_inputs_sf(tmp_path):
    proc, out = _fold(
        tmp_path,
        {"sf": 0.01, "queries": {"a": 1.0, "b": 2.0, "c": True}},
        {"sf": 0.01, "queries": {"a": 1.5, "b": 0.5, "d": 0}},
        {"a": 0.75},
    )
    assert proc.returncode == 0, proc.stderr
    assert out["metric"] == "per_query_min_of_medians_s"
    assert out["sf"] == 0.01
    assert out["queries"] == {"a": 0.75, "b": 0.5}


def test_fold_refuses_mixed_scales(tmp_path):
    proc, out = _fold(tmp_path, {"sf": 0.1, "queries": {"a": 1.0}},
                      {"sf": 0.01, "queries": {"a": 0.1}})
    assert proc.returncode == 2 and out is None


@pytest.mark.parametrize("argv", [[], ["out.json"]])
def test_fold_without_inputs_is_a_usage_error(tmp_path, argv):
    proc = subprocess.run([sys.executable, FOLD, *argv], capture_output=True,
                          text=True, cwd=tmp_path)
    assert proc.returncode == 2
    assert "usage" in proc.stderr
    assert not (tmp_path / "out.json").exists()
