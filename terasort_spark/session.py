"""SparkSession factory for the engine.

Defaults are tuned so the same code is correct on local[32] test runs and
sane on a 1000-executor cluster:

- UTC session timezone (determinism rule D2, SURVEY.md §2b).
- AQE on (runtime partition coalescing, skew-join splitting, broadcast
  demotion) — the 100 TB path relies on AQE rather than hand-tuned
  partition counts.
- ``spark.sql.shuffle.partitions`` is only the *initial* number; AQE
  coalesces small post-shuffle partitions, so a value sized for the big
  end (cluster) does not hurt the small end (local tests).
- The driver JVM compiles at tier 4 (C2) only code hot enough to repay
  it: ``C2_THRESHOLDS`` sets HotSpot's four tier-4 thresholds to 4× their
  JDK 17 defaults, and C1 (tiers 1–3) keeps its defaults. Most of what a
  session runs (Catalyst rules, Janino, the closure cleaner, Java
  serialization) runs a few thousand times, and C2 compiling it was
  the largest CPU consumer of a short session. Code that stays hot,
  such as the sort's loops, still passes the thresholds and gets C2
  code. CHANGES.md has the measurements. The flags go in
  ``spark.driver.defaultJavaOptions``, so they replace a
  ``spark-defaults.conf`` value of that key; the launcher puts them
  ahead of ``spark.driver.extraJavaOptions``, so a caller's own ``-XX``
  flags there win. They apply only to a JVM that ``get_spark``
  launches: a session whose JVM another program launched
  (``entry(spark)``, ``scripts/drive_driver.py``) keeps its flags,
  because ``configure`` cannot change the flags of a running JVM.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# HotSpot tier-4 (C2) compile thresholds, 4× the JDK 17 defaults
# (5000, 600, 15000, 40000).
C2_THRESHOLDS = {
    "Tier4InvocationThreshold": 20000,
    "Tier4MinInvocationThreshold": 2400,
    "Tier4CompileThreshold": 60000,
    "Tier4BackEdgeThreshold": 160000,
}


def get_spark(
    app_name: str = "terasort-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"))
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config(
            "spark.driver.defaultJavaOptions",
            " ".join(f"-XX:{k}={v}" for k, v in C2_THRESHOLDS.items()),
        )
        # Long-lived sessions (the 186-query bench loop runs ~750 jobs in
        # one JVM) accumulate status-store state even with the UI off;
        # cap retention so late queries aren't taxed by listener-bus and
        # heap growth from the first hundred (r3 saw an across-the-board
        # ~1.4x in-suite drift vs isolated runs).
        .config("spark.sql.ui.retainedExecutions", "8")
        .config("spark.ui.retainedJobs", "100")
        .config("spark.ui.retainedStages", "200")
        .config("spark.ui.retainedTasks", "2000")
        # Periodic JVM GC (default 30min) also drives ContextCleaner's
        # weak-reference processing; 5min keeps checkpoint/broadcast
        # blocks from piling up across a long suite.
        .config("spark.cleaner.periodicGC.interval", "5min")
    )
    _export_pythonpath()
    return builder.getOrCreate()


_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _repo_first(pythonpath: str) -> str:
    """``pythonpath`` with the repo root moved (or added) to its front."""
    rest = [p for p in pythonpath.split(os.pathsep) if p != _REPO] if pythonpath else []
    return os.pathsep.join([_REPO, *rest])


def _export_pythonpath() -> None:
    """Put the repo root on PYTHONPATH BEFORE the JVM launches, so every
    Python process the JVM spawns (Arrow workers, transformWithState's
    driver-side init runner) imports the repo-root ``usercustomize`` at
    startup (the StateMessage codec shim and the lazy zipimport cache).

    This mutates the calling process's PYTHONPATH, which makes the
    repo-root hook shadow any user-site usercustomize.py in spawned
    interpreters; the hook chain-loads the next usercustomize found on
    sys.path so shadowed user hooks still run (r11 ADVICE), and a
    repo-root sitecustomize covers venvs where user-site is disabled."""
    existing = os.environ.get("PYTHONPATH", "")
    if _REPO not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = _repo_first(existing)


_shipped_sessions: set[int] = set()


def _ship_package(spark: SparkSession) -> None:
    """Make ``terasort_spark`` importable on Python workers regardless of
    the driver's cwd: zip the package and addPyFile it. Module-level
    functions sent to workers (mapInPandas et al.) are pickled BY
    REFERENCE, so the worker must be able to import the module — cwd
    inheritance only covers drivers launched from the repo root."""
    key = id(spark)
    if key in _shipped_sessions:
        return
    import shutil
    import tempfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_base = os.path.join(tempfile.gettempdir(), "terasort_spark_pkg")
    zip_path = shutil.make_archive(zip_base, "zip", os.path.dirname(pkg_dir), "terasort_spark")
    spark.sparkContext.addPyFile(zip_path)
    _shipped_sessions.add(key)


def configure(spark: SparkSession) -> SparkSession:
    """Apply the engine's session-level settings to an externally provided
    SparkSession (the driver constructs its own and calls ``entry(spark)``).

    Besides the SQL confs and shipping the package, this gives the
    session ONE Python worker environment: the repo root leads
    ``sc.environment["PYTHONPATH"]``, which every Python function
    created afterwards carries to its workers. So workers load the
    repo-root ``usercustomize`` (codec shim, lazy zipimport cache) even
    when another program built the session and launched its JVM, and
    the env does not change mid-session. Spark keys its
    Python daemons by that env, so a later change would start another
    daemon and fresh workers."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    except Exception:  # pragma: no cover - conf may be static
        pass
    env = spark.sparkContext.environment
    env["PYTHONPATH"] = _repo_first(env.get("PYTHONPATH", ""))
    _ship_package(spark)
    return spark
