"""Shared determinism helpers (SURVEY.md §2b rules D1–D6).

Two cross-engine hazards, two fixes:

1. ``round(double, 4)`` differs between engines on exact half-way
   values: Spark rounds the double's shortest decimal representation
   (HALF_UP on "x.60995"), DuckDB rounds the binary value
   (x.6094999…→down). Fix: round as ``floor(x*10000 + 0.5)/10000`` —
   pure IEEE arithmetic, bit-identical on both engines for identical
   input doubles (verified).

2. Money-scale doubles summed in floating point are order-sensitive: at
   sf0.1 ``sum(l_extendedprice*(1-l_discount))`` ≈ 3e10, where partial
   summation order perturbs the result beyond 1e-4. Fix: sum through an
   exact DECIMAL cast (inputs are ≤6dp decimals → lossless), convert
   the exact sum to double, floor-round. This keeps the same query
   hash-stable on local[32] and on a 1000-executor cluster.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(25,6)"


def scratch_dir(spark, name: str) -> str:
    """Session-scoped scratch path for sink/source round-trip queries.

    Fixed /tmp names collide when two Spark processes run the same
    operator concurrently (a pytest sweep next to a driver run clobbers
    the other's files mid-read — transient FileNotFound / parquet-footer
    errors). Suffixing the applicationId keeps the path stable WITHIN a
    session (idempotent re-runs, bench reps reuse the overwrite) while
    isolating processes — the same property a cluster job gets from a
    per-application staging directory."""
    app = spark.sparkContext.applicationId
    return os.path.join(tempfile.gettempdir(), f"terasort_spark_{name}_{app}")


# Micro-batch shuffle/state width for the streaming operator family
# (r12 optimization). Structured Streaming pins its STATE partition
# count to spark.sql.shuffle.partitions at query start — AQE never
# coalesces it — so a width sized for batch queries (32 here, larger on
# a cluster) makes every micro-batch open/close that many state-store
# instances (RocksDB for transformWithState) and Python state workers
# for batch-sized inputs. Measured at sf0.1 on local[32] (solo
# fresh-JVM medians): stream_transformwithstate 13.1 s @ 32 -> 7.3 @ 8
# -> 6.1 @ 16, 12.2 @ 4; stream_source_pyds_dist 17.0 @ 32 -> 6.3 @ 16
# — per-partition state init dominates above ~16, per-key round-trip
# serialization dominates below ~8. The width adapts to the session's
# parallelism, capped at the measured local optimum.
def stream_shuffle_width(spark) -> int:
    return max(4, min(16, spark.sparkContext.defaultParallelism))


class scoped_confs:
    """Set session confs for the duration of a with-block, restoring
    previous values (or unsetting) on exit — the conf-scoping idiom the
    streaming operators share (state-store provider, micro-batch
    shuffle width). Results never depend on these dials; only cost
    does."""

    def __init__(self, spark, pairs: dict):
        self._spark = spark
        self._pairs = pairs
        self._prev: dict[str, str | None] = {}

    def __enter__(self):
        for k, v in self._pairs.items():
            self._prev[k] = self._spark.conf.get(k, None)
            self._spark.conf.set(k, str(v))
        return self

    def __exit__(self, *exc):
        for k, old in self._prev.items():
            if old is None:
                self._spark.conf.unset(k)
            else:
                self._spark.conf.set(k, old)
        return False


def rnd(col: Column, alias: str | None = None, nd: int = 4) -> Column:
    """Engine-portable rounding: floor(x*10^nd + 0.5)/10^nd."""
    s = 10**nd
    out = F.floor(col * s + F.lit(0.5)) / F.lit(s)
    return out.alias(alias) if alias else out


def o_rnd(expr: str, alias: str | None = None, nd: int = 4) -> str:
    s = 10**nd
    sql = f"floor(({expr}) * {s} + 0.5) / {s}"
    return f"{sql} AS {alias}" if alias else sql


def hex_int(hex_col: Column, nibbles: int, start: int = 1) -> Column:
    """Integer value of ``nibbles`` hex digits of ``hex_col`` (an md5
    digest) from 1-based position ``start``. Every md5-sliced hash
    (tokens, sketches, Bloom positions) goes through this pair, so
    DuckDB replays it exactly; ``nibbles`` <= 15 keeps the value inside
    a signed 64-bit integer."""
    return F.conv(F.substring(hex_col, start, nibbles), 16, 10).cast("long")


def o_hex_int(hex_expr: str, nibbles: int, start: int = 1) -> str:
    """DuckDB twin of ``hex_int`` (DuckDB has no conv())."""
    return f"CAST('0x' || substr({hex_expr}, {start}, {nibbles}) AS BIGINT)"


def dsum(col: Column, alias: str, nd: int = 4) -> Column:
    """Exact decimal sum of a money-scale double → floor-rounded double."""
    return rnd(F.sum(col.cast(DEC)).cast("double"), alias, nd)


def o_dsum(expr: str, alias: str, nd: int = 4) -> str:
    return o_rnd(f"CAST(sum(CAST({expr} AS DECIMAL(25,6))) AS DOUBLE)", alias, nd)


def ravg(col: Column, alias: str, nd: int = 4) -> Column:
    return rnd(F.avg(col), alias, nd)


def o_ravg(expr: str, alias: str, nd: int = 4) -> str:
    return o_rnd(f"avg({expr})", alias, nd)
