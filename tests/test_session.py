"""Session set-up and the repo-root worker hook: ``session.get_spark``
launches its JVM with the engine's C2 compile thresholds and leaves
``spark.driver.extraJavaOptions`` to the caller; ``session.configure``
gives a session one worker environment led by the repo root, and the
hook's lazy zipimport cache keeps PySpark's per-task
``importlib.invalidate_caches()`` from re-reading every archive on the
worker's sys.path once per zipimporter."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
import zipimport

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# CPython 3.13 made zipimporter.invalidate_caches() lazy itself, and
# before 3.10 zipimporters had no invalidate_caches at all.
needs_backport = pytest.mark.skipif(
    hasattr(zipimport.zipimporter, "_get_files")
    or not hasattr(zipimport.zipimporter, "invalidate_caches"),
    reason="zipimport has no eager invalidate_caches to replace",
)


def test_get_spark_jvm_runs_the_c2_thresholds(spark):
    """The session fixture comes from get_spark, so its JVM must report
    every tier-4 threshold of C2_THRESHOLDS, set at VM creation."""
    from terasort_spark.session import C2_THRESHOLDS

    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    got = {}
    for flag in C2_THRESHOLDS:
        opt = bean.getVMOption(flag)
        got[flag] = (int(opt.getValue()), opt.getOrigin().toString())
    assert got == {k: (v, "VM_CREATION") for k, v in C2_THRESHOLDS.items()}


def test_get_spark_leaves_extra_java_options_to_caller(monkeypatch):
    """get_spark passes the thresholds as the driver's DEFAULT java
    options and never sets spark.driver.extraJavaOptions, which the
    launcher places after them, so a caller's own flags still win."""
    from pyspark.sql import SparkSession

    from terasort_spark.session import C2_THRESHOLDS, get_spark

    monkeypatch.setenv("PYTHONPATH", os.environ.get("PYTHONPATH", ""))
    monkeypatch.setattr(
        SparkSession.Builder, "getOrCreate", lambda self: dict(self._options)
    )
    opts = get_spark(master="local[1]")
    assert "spark.driver.extraJavaOptions" not in opts
    assert opts["spark.driver.defaultJavaOptions"].split() == [
        f"-XX:{k}={v}" for k, v in C2_THRESHOLDS.items()
    ]


def test_configure_leads_worker_pythonpath_with_repo_root(spark):
    """After configure the session's worker env leads with the repo
    root, and ensure_state_codec leaves that env as it is, so the Python
    daemon Spark keys by it is not replaced mid-session."""
    from terasort_spark.operators.streaming import ensure_state_codec
    from terasort_spark.session import configure

    configure(spark)
    env = spark.sparkContext.environment
    before = env["PYTHONPATH"]
    assert before.split(os.pathsep)[0] == REPO
    configure(spark)
    ensure_state_codec(spark)
    assert env["PYTHONPATH"] == before


_ZIP_SCRIPT = textwrap.dedent(
    """
    import importlib, json, pkgutil, sys, zipfile, zipimport

    import usercustomize

    zpath = sys.argv[1]

    def build(*extra):
        with zipfile.ZipFile(zpath, "w") as z:
            z.writestr("zpkg/__init__.py", "")
            z.writestr("zpkg/sub/__init__.py", "")
            for name in ("a", *extra):
                z.writestr(f"zpkg/sub/{name}.py", f"NAME = {name!r}")

    build()
    sys.path.insert(0, zpath)
    import zpkg.sub.a

    importers = [
        f for f in sys.path_importer_cache.values()
        if isinstance(f, zipimport.zipimporter) and f.archive == zpath
    ]
    reads = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    zipimport._read_directory = counting
    out = {"active": usercustomize.install_lazy_zip_directories(),
           "again": usercustomize.install_lazy_zip_directories(),
           "importers": len(importers)}
    for _ in range(10):
        importlib.invalidate_caches()
    for f in importers:
        f.find_spec("zpkg.sub.missing")
    out["bare_reads"] = reads.count(zpath)
    del reads[:]
    for _ in range(10):
        importlib.invalidate_caches()
        for f in importers:
            f.find_spec("zpkg.sub.missing")
    out["looked_up_reads"] = reads.count(zpath)

    build("b")
    importlib.invalidate_caches()
    import zpkg.sub.b
    out["new_module"] = zpkg.sub.b.NAME

    importlib.invalidate_caches()
    out["iter_modules"] = sorted(
        m.name for m in pkgutil.iter_modules([zpath + "/zpkg/sub"])
    )
    print(json.dumps(out))
    """
)


@needs_backport
def test_invalidate_caches_reads_each_archive_once(tmp_path):
    """In a fresh interpreter whose PYTHONPATH holds the repo root, one
    archive with two zipimporters (a package and its subpackage):
    invalidation reads the archive at most once per lookup, not once per
    zipimporter; a module added to the rewritten archive imports after
    invalidation; and pkgutil, which indexes zipimport's directory cache
    directly, still lists the archive right after invalidation."""
    script = tmp_path / "probe_zip.py"
    script.write_text(_ZIP_SCRIPT)
    proc = subprocess.run(
        [sys.executable, str(script), str(tmp_path / "pkg.zip")],
        env={**os.environ, "PYTHONPATH": REPO},
        cwd=str(tmp_path),
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["active"] and out["again"]
    assert out["importers"] >= 2
    assert out["bare_reads"] <= 1
    assert out["looked_up_reads"] <= 10
    assert out["new_module"] == "b"
    assert out["iter_modules"] == ["a", "b"]


@needs_backport
def test_every_worker_task_has_lazy_zip_directories(spark):
    """Each Python-worker task of a configured session runs with the
    lazy zipimport cache installed by the repo-root hook."""
    import pyarrow as pa

    from terasort_spark.session import configure

    configure(spark)

    def probe(batches):
        import zipimport

        lazy = isinstance(vars(zipimport.zipimporter).get("_files"), property)
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"lazy": [lazy]})

    rows = (
        spark.range(0, 4, 1, 4)
        .mapInArrow(probe, "lazy boolean")
        .collect()
    )
    assert [r.lazy for r in rows] == [True] * 4
