"""scripts/probe.py, the scale-probe runner: every spec runs green at its
smallest size, and one point that is not ok makes the run exit 1."""

from __future__ import annotations

import importlib.util
import json
import os
import tempfile


def _load_probe():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, "scripts", "probe.py")
    spec = importlib.util.spec_from_file_location("probe", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_every_probe_spec_is_ok_at_its_smallest_size(
    spark, sf_dir, tmp_path, monkeypatch, capsys
):
    probe = _load_probe()
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    runs = [
        ["tera", "20000", "4", "uniform"],
        ["tera", "20000", "4", "zipf"],
        ["agg", "20000", "hot"],
        ["window", "20000", "hot"],
        ["tws", "3000", "300"],
        ["cc", "64", sf_dir],
        ["scaleup", "--only", "agg_group", "--scales", "1,2"],
    ]
    for argv in runs:
        assert probe.main(argv, spark=spark) == 0, argv
    points = [json.loads(line) for line in capsys.readouterr().out.splitlines()]
    assert {p["spec"] for p in points} == set(probe.SPECS)
    assert len(points) == 2 + 1 + 1 + 1 + 2 + 3
    assert all(p["ok"] for p in points), [p for p in points if not p["ok"]]
    window = next(p for p in points if p["spec"] == "window")
    assert window["parity"] and window["plain"]["rows"] > 0
    # the scaled copies live in a temporary directory that the run removes
    assert not any(f.startswith("probe-scaleup-") for f in os.listdir(tmp_path))


def test_probe_exits_1_when_any_point_is_not_ok(capsys):
    probe = _load_probe()

    def stub(spark, args):
        yield {"ok": True}
        yield {"ok": False}

    probe.SPECS["stub"] = (stub, ())
    assert probe.main(["stub"], spark=object()) == 1
    out = [json.loads(line) for line in capsys.readouterr().out.splitlines()]
    assert out == [{"spec": "stub", "ok": True}, {"spec": "stub", "ok": False}]
