"""User-facing facade: the one-stop API a user of the reference would
switch to.

    from terasort_spark import Engine
    eng = Engine(sf_dir="/root/testdata/sf0.1")
    eng.query("agg_group").show()        # any registered operator
    eng.table("lineitem")                # catalog access
    eng.sql("SELECT count(*) FROM lineitem")  # SQL over registered views
    eng.terasort(n_rows=1_000_000)       # the reference pipeline
    eng.names()                          # discoverable surface
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from terasort_spark import catalog, registry
from terasort_spark.catalog import DEFAULT_SF_DIR
from terasort_spark.session import configure, get_spark


class Engine:
    def __init__(
        self, spark: SparkSession | None = None, sf_dir: str = DEFAULT_SF_DIR
    ) -> None:
        self.spark = configure(spark or get_spark())
        self.sf_dir = sf_dir
        self._views_registered = False

    # -- catalog ---------------------------------------------------------
    def table(self, name: str) -> DataFrame:
        return catalog.table(self.spark, self.sf_dir, name)

    def sql(self, query: str) -> DataFrame:
        """SQL over the ten tables (views registered lazily, once)."""
        if not self._views_registered:
            catalog.register_views(self.spark, self.sf_dir)
            self._views_registered = True
        return self.spark.sql(query)

    # -- operators -------------------------------------------------------
    def names(self) -> list[str]:
        return sorted(registry.queries())

    def query(self, name: str) -> DataFrame:
        qs = registry.queries()
        if name not in qs:
            raise KeyError(f"unknown query {name!r}; see Engine.names()")
        return qs[name](self.spark, self.sf_dir)

    def oracle(self, name: str) -> str | None:
        return registry.oracle_sql().get(name)

    def explain(self, name: str, mode: str = "formatted") -> str:
        """Physical plan of a registered query as a string — the audit
        surface behind ``python -m terasort_spark explain <q>`` and
        tests/test_plans.py (modes: 'simple' | 'extended' | 'formatted'
        | 'cost')."""
        df = self.query(name)
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), mode
        )

    # -- terasort module -------------------------------------------------
    def teragen(self, n_rows: int, n_partitions: int = 32) -> DataFrame:
        from terasort_spark.sources.teragen import teragen

        return teragen(self.spark, n_rows, n_partitions)

    def terasort(self, n_rows: int = 1_000_000, n_partitions: int = 32) -> DataFrame:
        from terasort_spark.sources.teragen import teragen, terasort

        return terasort(self.teragen(n_rows, n_partitions), n_partitions)

    def teravalidate(self, sorted_df: DataFrame) -> dict:
        from terasort_spark.sources.teragen import teravalidate

        return teravalidate(sorted_df)

    # -- versioned tables (snapshots.py) ---------------------------------
    def write_version(self, df: DataFrame, root: str, version: int) -> None:
        from terasort_spark.sources import snapshots

        snapshots.write_version(df, root, version)

    def read_snapshot(
        self, root: str, key: list[str], version: int | None = None
    ) -> DataFrame:
        from terasort_spark.sources import snapshots

        return snapshots.read_snapshot(self.spark, root, key, version)
