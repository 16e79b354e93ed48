"""Local twin of the driver's t2 gate: every registered query with an
oracle is compared against DuckDB at sf0.001 (fast; the driver re-runs
the same comparison at sf0.01)."""

from __future__ import annotations

import pytest

from terasort_spark.compare import compare_query, duck_connection
from terasort_spark.registry import oracle_sql, queries

_QUERIES = queries()
_ORACLES = oracle_sql()
_NAMES = sorted(n for n in _QUERIES if n in _ORACLES)


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_connection(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", _NAMES)
def test_oracle_match(name, spark, sf_dir, duck):
    res = compare_query(name, _QUERIES[name], _ORACLES[name], spark, sf_dir, duck)
    assert res.ok, str(res)


def test_no_nested_output_types(spark, sf_dir):
    """Registry-wide lint: no declared query may emit array/map/struct
    columns. The driver canonicalizes results through pandas
    (sort_values + factorize), where list-like cells raise
    ``TypeError: unhashable type`` — the r1 agg_collect failure class.
    Arrays must be array_join'd to scalar strings before leaving a query.
    """
    from terasort_spark.compare import nested_output_columns

    bad = {}
    for name, fn in sorted(_QUERIES.items()):
        cols = nested_output_columns(fn(spark, sf_dir).schema)
        if cols:
            bad[name] = cols
    assert not bad, f"declared queries with nested output columns: {bad}"


def test_rows_only_queries_run(spark, sf_dir):
    """Queries without an oracle still execute and return a stable schema."""
    for name in sorted(set(_QUERIES) - set(_ORACLES)):
        df = _QUERIES[name](spark, sf_dir)
        assert df.columns, name
        assert df.count() >= 0, name


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0


def test_engine_facade(spark, sf_dir):
    from terasort_spark import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir)
    assert "agg_group" in eng.names()
    assert eng.query("agg_group").count() > 0
    assert eng.sql("SELECT count(*) AS n FROM region").collect()[0]["n"] == 5
    assert eng.oracle("agg_group") is not None
    report = eng.teravalidate(eng.terasort(n_rows=10_000, n_partitions=4))
    assert report["sorted_between"] and report["sorted_within"]


def test_grading_rotation_fronts_ungraded_queries():
    """The driver grades queries() in dict order with a ~50-entry
    budget, so registry._graded_last yields the stalest evidence first:
    one sort by (round of the latest green CORRECTNESS row, else 0;
    name). This test derives the expected order from the same
    committed CORRECTNESS_r*.json files the rotation reads, so future
    driver rounds advance it without re-breaking the invariant."""
    import glob
    import json
    import os
    import re

    from terasort_spark import registry

    order = list(registry.queries())
    pos = {n: i for i, n in enumerate(order)}
    oracles = registry.oracle_sql()
    root = os.path.dirname(os.path.dirname(os.path.abspath(registry.__file__)))
    latest = {}
    paths = []
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if m:
            paths.append((int(m.group(1)), path))
    for rnum, path in sorted(paths):
        data = json.load(open(path))
        for name, row in data.items():
            if isinstance(row, dict):
                latest[name] = (rnum, row)
    green = {
        name: rnum
        for name, (rnum, row) in latest.items()
        if row.get("hash_match")
        or (row.get("err") == "no_oracle" and name not in oracles)
    }
    assert order == sorted(order, key=lambda n: (green.get(n, 0), n))
    assert list(oracles) == [n for n in order if n in oracles]
    # Self-healing rules: a rows-only row whose oracle now exists, and
    # a FAILED latest row, must both lead every green query.
    first_green = min((pos[n] for n in green if n in pos), default=len(order))
    for name, (_, row) in latest.items():
        if name not in pos:
            continue
        if row.get("err") == "no_oracle" and name in oracles:
            assert pos[name] < first_green, (
                f"{name}: rows-only row but oracle now registered"
            )
        if not row.get("hash_match") and row.get("err") != "no_oracle":
            assert pos[name] < first_green, f"{name}: failed row must re-front"


def test_engine_explain_returns_plan_text(spark, sf_dir):
    from terasort_spark import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir)
    plan = eng.explain("agg_group")
    assert "HashAggregate" in plan and "Scan parquet" in plan
    assert "Scan parquet" in eng.explain("scan_project", mode="simple")


def test_modules_are_named_for_families_not_rounds():
    """Queries live in the module of their family and tests in the test
    module of the family they exercise, so no operator module or test
    file may be named for the round it landed in."""
    import os
    import re

    rounds = re.compile(r"wave\d+|extras\d*|relational\d+|composites\d+")
    bad = sorted(
        f"{name}: {fn.__module__}"
        for name, fn in _QUERIES.items()
        if rounds.search(fn.__module__)
    )
    here = os.path.dirname(os.path.abspath(__file__))
    files = {f for f in os.listdir(here) if f.startswith("test_") and f.endswith(".py")}
    bad += sorted(f for f in files if rounds.search(f))
    assert not bad, bad


def test_scripts_import_only_names_that_exist():
    """Every `from terasort_spark... import name` in scripts/*.py and
    bench.py resolves, so moving a query or helper between modules
    cannot leave a script importing a name that is gone. No script names
    this checkout's absolute path: each derives the root from its own
    file, so a script run from another checkout imports that checkout."""
    import ast
    import glob
    import importlib
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = sorted(glob.glob(os.path.join(root, "scripts", "*.py")))
    bad = []
    for path in paths + [os.path.join(root, "bench.py")]:
        with open(path) as fh:
            src = fh.read()
        if root in src:
            bad.append(f"{os.path.relpath(path, root)}: names {root}")
        tree = ast.parse(src, path)
        for node in ast.walk(tree):
            if not isinstance(node, ast.ImportFrom) or not (
                node.module or ""
            ).startswith("terasort_spark"):
                continue
            mod = importlib.import_module(node.module)
            bad += [
                f"{os.path.relpath(path, root)}:{node.lineno}: "
                f"{node.module}.{a.name}"
                for a in node.names
                if not hasattr(mod, a.name)
            ]
    assert not bad, bad
