"""Local twin of the driver's correctness gate.

Runs a registered Spark query and its DuckDB oracle against the same
parquet directory and compares row count, schema, and an
order-insensitive canonicalization of all values. Used by tests at
sf0.001 (fast) so mismatches are caught before the driver's sf0.01 run.
"""

from __future__ import annotations

import datetime as _dt
import decimal as _decimal
import math
import os
from dataclasses import dataclass, field

import duckdb

from terasort_spark.catalog import TABLES

# ---------------------------------------------------------------- schema ---

_DUCK_TYPE_MAP = {
    "BIGINT": "i64",
    "HUGEINT": "i128",
    "INTEGER": "i32",
    "SMALLINT": "i16",
    "TINYINT": "i8",
    "UBIGINT": "u64",
    "DOUBLE": "f64",
    "FLOAT": "f32",
    "VARCHAR": "str",
    "BOOLEAN": "bool",
    "TIMESTAMP": "ts",
    "TIMESTAMP WITH TIME ZONE": "ts",
    "DATE": "date",
    "BLOB": "bin",
}


def _norm_duck_type(t: str) -> str:
    t = t.upper()
    if t.startswith("DECIMAL"):
        return "dec" + t[len("DECIMAL") :].replace(" ", "")
    if t.endswith("[]"):
        return f"list<{_norm_duck_type(t[:-2])}>"
    if t.startswith("STRUCT") or t.startswith("MAP"):
        return t.lower()
    return _DUCK_TYPE_MAP.get(t, t.lower())


def _norm_spark_type(dt) -> str:
    from pyspark.sql import types as T

    if isinstance(dt, T.LongType):
        return "i64"
    if isinstance(dt, T.IntegerType):
        return "i32"
    if isinstance(dt, T.ShortType):
        return "i16"
    if isinstance(dt, T.ByteType):
        return "i8"
    if isinstance(dt, T.DoubleType):
        return "f64"
    if isinstance(dt, T.FloatType):
        return "f32"
    if isinstance(dt, T.StringType):
        return "str"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "ts"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, T.BinaryType):
        return "bin"
    if isinstance(dt, T.DecimalType):
        return f"dec({dt.precision},{dt.scale})"
    if isinstance(dt, T.ArrayType):
        return f"list<{_norm_spark_type(dt.elementType)}>"
    return dt.simpleString()


# ---------------------------------------------------------------- values ---


def _canon(v):
    """Canonicalize one cell so Spark and DuckDB values hash identically."""
    if v is None:
        return ("0null",)  # tuple so mixed None/value columns stay sortable
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "nan")
        # rounded-to-4dp doubles from both engines are bit-identical; repr is exact
        return ("f", repr(v))
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, _decimal.Decimal):
        return ("d", str(v.normalize()))
    if isinstance(v, str):
        return ("s", v)
    if isinstance(v, bytes):
        return ("x", v.hex())
    if isinstance(v, bytearray):
        return ("x", bytes(v).hex())
    if isinstance(v, _dt.datetime):
        return ("t", v.replace(tzinfo=None).isoformat(timespec="microseconds"))
    if isinstance(v, _dt.date):
        return ("D", v.isoformat())
    if isinstance(v, (list, tuple)):
        return ("l", tuple(_canon(x) for x in v))
    if isinstance(v, dict):
        return ("m", tuple(sorted((k, _canon(x)) for k, x in v.items())))
    return ("o", str(v))


def driver_canon_check(rows, colnames) -> str | None:
    """Emulate the driver's pandas-based canonicalizer on a result set.

    The driver canonicalizes collected rows through pandas
    (``sort_values`` over all columns, then per-column ``factorize`` for
    the value hash). Both steps require every cell to be orderable and
    hashable — raw list/map/bytearray cells raise ``TypeError:
    unhashable type`` there even though this module's tuple-based
    comparison handles them fine. Running the same steps locally turns
    "driver would crash" into a red test before the driver ever sees it.

    Returns an error string if the driver-style canonicalization would
    fail, else None.
    """
    import pandas as pd

    try:
        df = pd.DataFrame(rows, columns=list(colnames))
        cols = sorted(df.columns)
        df = df[cols]
        if len(df):
            df = df.sort_values(by=cols, kind="mergesort").reset_index(drop=True)
        for c in cols:
            pd.factorize(df[c])
    except Exception as exc:
        return f"driver canonicalizer would fail: {type(exc).__name__}: {exc}"
    return None


_NESTED_KINDS = ("array<", "list<", "map<", "struct<")


def nested_output_columns(schema) -> list[str]:
    """Column names in a Spark schema whose type is array/map/struct —
    banned in every declared query output (registry convention D5+).
    DecimalType is banned too: Spark collects it as ``Decimal('1.4500')``
    while DuckDB's pandas path yields float64, so the driver's value
    hash diverges on representation even when values are equal (the r2
    fn_cast failure). Render decimals as strings or cast to double."""
    from pyspark.sql import types as T

    bad = []
    for f in schema.fields:
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType, T.DecimalType)):
            bad.append(f.name)
    return bad


@dataclass
class CompareResult:
    name: str
    ok: bool
    spark_rows: int = 0
    oracle_rows: int = 0
    errors: list[str] = field(default_factory=list)

    def __str__(self) -> str:  # pragma: no cover
        status = "OK" if self.ok else "FAIL"
        msg = f"[{status}] {self.name}: spark={self.spark_rows} oracle={self.oracle_rows}"
        for e in self.errors:
            msg += f"\n    - {e}"
        return msg


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Register the same views the driver pre-registers."""
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def compare_query(name, fn, oracle, spark, sf_dir, con=None) -> CompareResult:
    res = CompareResult(name=name, ok=True)
    own_con = con is None
    if own_con:
        con = duck_connection(sf_dir)
    try:
        sdf = fn(spark, sf_dir)
        bad_cols = nested_output_columns(sdf.schema)
        if bad_cols:
            res.ok = False
            res.errors.append(
                f"nested output columns (banned, driver-unhashable): {bad_cols}"
            )
        spark_schema = [(f.name, _norm_spark_type(f.dataType)) for f in sdf.schema.fields]
        srows = [tuple(r) for r in sdf.collect()]
        canon_err = driver_canon_check(srows, [c for c, _ in spark_schema])
        if canon_err:
            res.ok = False
            res.errors.append(canon_err)

        duck_schema_rows = con.execute(f"DESCRIBE {oracle}").fetchall()
        duck_schema = [(r[0], _norm_duck_type(r[1])) for r in duck_schema_rows]
        orows = con.execute(oracle).fetchall()
        canon_err = driver_canon_check(orows, [c for c, _ in duck_schema])
        if canon_err:
            res.ok = False
            res.errors.append(f"oracle side: {canon_err}")

        res.spark_rows, res.oracle_rows = len(srows), len(orows)
        if res.spark_rows != res.oracle_rows:
            res.ok = False
            res.errors.append(f"row count: spark={res.spark_rows} oracle={res.oracle_rows}")

        s_sorted = sorted(spark_schema)
        o_sorted = sorted(duck_schema)
        if s_sorted != o_sorted:
            res.ok = False
            res.errors.append(f"schema: spark={s_sorted} oracle={o_sorted}")
            return res

        # column order by sorted name, like the driver
        s_order = [i for _, i in sorted((c, i) for i, (c, _) in enumerate(spark_schema))]
        o_order = [i for _, i in sorted((c, i) for i, (c, _) in enumerate(duck_schema))]
        s_canon = sorted(tuple(_canon(row[i]) for i in s_order) for row in srows)
        o_canon = sorted(tuple(_canon(row[i]) for i in o_order) for row in orows)
        if s_canon != o_canon:
            res.ok = False
            mism = sum(1 for a, b in zip(s_canon, o_canon) if a != b)
            res.errors.append(f"values differ ({mism} mismatched rows of {len(s_canon)})")
            for a, b in zip(s_canon, o_canon):
                if a != b:
                    res.errors.append(f"  spark : {a}")
                    res.errors.append(f"  oracle: {b}")
                    break
    except Exception as exc:  # surface, don't raise — batch runs report all
        res.ok = False
        res.errors.append(f"{type(exc).__name__}: {exc}")
    finally:
        if own_con:
            con.close()
    return res


def compare_all(spark, sf_dir, names=None) -> list[CompareResult]:
    from terasort_spark.registry import oracle_sql, queries

    qs, os_ = queries(), oracle_sql()
    con = duck_connection(sf_dir)
    out = []
    try:
        for name, fn in qs.items():
            if names and name not in names:
                continue
            if name not in os_:
                continue  # rows-only queries have module tests instead
            out.append(compare_query(name, fn, os_[name], spark, sf_dir, con))
    finally:
        con.close()
    return out
