"""Table catalog: the ten driver-provided parquet tables (FIXTURES.md).

All loads go through here so scan behavior (schema pinning, future
partitioned layouts for the 100 TB path) is centralized. ``table`` lets
Spark infer each schema: ``spark.read.parquet(path)`` reads the footer
in a schema-inference job, one Spark job per call, even for a single
file. ``events`` then normalizes its ``ts`` column to one type.
``estimate_rows`` reads footers with pyarrow on the driver and runs no
Spark job.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table. Parquet scan → columnar vectorized read; Catalyst
    handles column pruning + predicate pushdown from whatever the caller
    stacks on top."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    # Every query path passes through here: make sure the session is
    # configured (UTC) and the package is importable on Python workers
    # even when the caller skipped entry()/configure().
    from terasort_spark.session import configure

    configure(spark)
    if name == "events":
        # events.parquet's ts physical type has varied across driver data
        # generations: TIMESTAMP(NANOS) (which Spark's vectorized reader
        # rejects — read nanos as long, integer-div to micros, exact) vs
        # TIMESTAMP(MICROS) (reads as TIMESTAMP_NTZ directly). Normalize
        # both to a session-TZ (UTC) TIMESTAMP so every downstream
        # operator sees one type, matching DuckDB's naive-UTC reading.
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, TimestampNTZType

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        if isinstance(ts_type, TimestampNTZType):
            return df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def estimate_rows(sf_dir: str, name: str) -> int:
    """Catalog row-count estimate for one table, read from the parquet
    FOOTER metadata (pyarrow, driver-side, O(#files) — no Spark job).
    This is the stats source a cluster catalog (HMS/Delta/Iceberg)
    would serve; planners use it for size-driven strategy selection
    (plans/similarity_rewrite.py) instead of a blocking count() pass."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isdir(path):
        return sum(
            pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
            for root, _, files in os.walk(path)
            for f in files
            if f.endswith(".parquet")
        )
    return pq.ParquetFile(path).metadata.num_rows


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so SQL-form operators
    (GROUPING SETS, etc.) can run against the same inputs."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
