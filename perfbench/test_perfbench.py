"""Tests for the benchmark's own output checks and its result line.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import random

import pytest

from perfbench import run, tera_check, worker

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def records(n: int, seed: int = 7) -> list[bytes]:
    rng = random.Random(seed)
    return [bytes(rng.randrange(256) for _ in range(100)) for _ in range(n)]


def write_dir(path, recs: list[bytes], n_files: int = 3) -> None:
    os.makedirs(path, exist_ok=True)
    per = -(-len(recs) // n_files)
    for i in range(n_files):
        with open(os.path.join(path, f"part-{i:05d}.dat"), "wb") as f:
            f.write(b"".join(recs[i * per : (i + 1) * per]))


@pytest.fixture
def sorted_dir(tmp_path):
    """A correctly sorted output directory and the scan of its input."""
    recs = records(300)
    write_dir(tmp_path / "in", recs)
    want = tera_check.scan_dir(str(tmp_path / "in"), check_sorted=False)
    write_dir(tmp_path / "out", sorted(recs, key=lambda r: r[: tera_check.KEY_LEN]))
    return tmp_path / "out", want


def test_sorted_permutation_passes(sorted_dir):
    out, want = sorted_dir
    rep = tera_check.check_sorted_dir(str(out), want.rows, want.checksum)
    assert rep.errors == []
    assert rep.rows == 300 and rep.files == 3


def test_flags_unsorted_directory(sorted_dir):
    out, want = sorted_dir
    # Swap the first record of the first and last files: the same records,
    # so only the order check can catch it.
    first, last = out / "part-00000.dat", out / "part-00002.dat"
    a, b = first.read_bytes(), last.read_bytes()
    first.write_bytes(b[:100] + a[100:])
    last.write_bytes(a[:100] + b[100:])
    rep = tera_check.check_sorted_dir(str(out), want.rows, want.checksum)
    assert any("below its predecessor" in e for e in rep.errors)
    assert rep.checksum == want.checksum


def test_flags_dropped_record(sorted_dir):
    out, want = sorted_dir
    part = out / "part-00001.dat"
    part.write_bytes(part.read_bytes()[100:])
    rep = tera_check.check_sorted_dir(str(out), want.rows, want.checksum)
    assert any(e.startswith("rows:") for e in rep.errors)


def test_flags_value_corrupted_in_one_byte(sorted_dir):
    out, want = sorted_dir
    part = out / "part-00001.dat"
    data = bytearray(part.read_bytes())
    data[150] ^= 0x01  # a value byte of the second record
    part.write_bytes(bytes(data))
    rep = tera_check.check_sorted_dir(str(out), want.rows, want.checksum)
    assert [e for e in rep.errors if e.startswith("checksum:")]
    assert rep.sorted_ok and rep.rows == want.rows


def test_flags_partial_record(tmp_path):
    write_dir(tmp_path, records(10), n_files=1)
    with open(tmp_path / "part-00000.dat", "ab") as f:
        f.write(b"x")
    rep = tera_check.scan_dir(str(tmp_path), check_sorted=False)
    assert any("not whole records" in e for e in rep.errors)


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_result_line_names_every_end_to_end_metric():
    s = spec()
    res = {"attempted": 5, "failed": 0, "metrics": {"setup_s": 29.5, "round_cpu_s": 70.0}}
    line = json.loads(json.dumps(run.result_line(res, s, False)))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert list(line["metrics"]) == [m["name"] for m in s["end_to_end"]]
    assert all(set(v) == {"value", "unit"} for v in line["metrics"].values())
    assert line["correct"]


def test_result_line_is_not_correct_on_failure_or_missing_metric():
    s = spec()
    res = {"attempted": 5, "failed": 1, "metrics": {"setup_s": 29.5, "round_cpu_s": 70.0}}
    assert not run.result_line(res, s, False)["correct"]
    res = {"attempted": 5, "failed": 0, "metrics": {"setup_s": 29.5}}
    assert not run.result_line(res, s, False)["correct"]


def test_per_layer_metrics_match_the_worker():
    assert [m["name"] for m in spec()["per_layer"]] == worker.layer_metric_names()
