"""Driver-contract simulation: fresh process, own SparkSession, imports
__spark_entry__.py by path, smoke-checks entry(), then compares every
queries() entry against oracle_sql() via DuckDB at sf0.01 — the local
twin of the grading gate. Run from any cwd:  python scripts/drive_driver.py
"""
# Simulates the grading driver: fresh process, own SparkSession, imports the
# repo's __spark_entry__ by path, smoke-checks entry(), then t2-compares every
# queries() entry against oracle_sql() via DuckDB at sf0.01.
import importlib.util, sys, os
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
spec = importlib.util.spec_from_file_location("__spark_entry__", os.path.join(REPO, "__spark_entry__.py"))
mod = importlib.util.module_from_spec(spec); spec.loader.exec_module(mod)

from pyspark.sql import SparkSession
spark = SparkSession.builder.master("local[8]").appName("driver-sim").getOrCreate()

df = mod.entry(spark)
rows = df.collect()
print("t1 smoke: entry() ->", len(rows), "rows; schema:", [f"{f.name}:{f.dataType.simpleString()}" for f in df.schema.fields])
assert len(rows) > 0

qs, osql = mod.queries(), mod.oracle_sql()
print(f"declared: {len(qs)} queries, {len(osql)} oracles")
# DRIVE_ONLY=a,b,c runs the driver contract on a subset — the interim
# per-commit gate while iterating (the full default sweep stays the
# round-level gate; a subset run never replaces it).
only = os.environ.get("DRIVE_ONLY")
if only:
    keep = {n.strip() for n in only.split(",")}
    missing = keep - set(qs)
    assert not missing, f"DRIVE_ONLY names not in registry: {missing}"
    qs = {n: f for n, f in qs.items() if n in keep}
    print(f"DRIVE_ONLY: restricting to {len(qs)} queries")
sys.path.insert(0, REPO)
from terasort_spark.compare import compare_query, duck_connection
con = duck_connection("/root/testdata/sf0.01")
fails = 0
for name, fn in sorted(qs.items()):
    if name in osql:
        r = compare_query(name, fn, osql[name], spark, "/root/testdata/sf0.01", con)
        print(r)
        fails += 0 if r.ok else 1
    else:
        n = fn(spark, "/root/testdata/sf0.01").count()
        print(f"[rows-only] {name}: {n} rows")
print("FAILS:", fails)
sys.exit(1 if fails else 0)
