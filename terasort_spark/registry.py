"""Query registry: the single source of truth for the engine's declared
operator inventory (SURVEY.md §2b).

Every operator registers a callable ``(spark, sf_dir) -> DataFrame`` and,
when SQL-expressible, a DuckDB oracle string. ``__spark_entry__.py`` is a
thin shim over this module; the driver compares each pair at sf0.01
(row-count + schema + order-insensitive value-hash).

Determinism conventions enforced by every registered query (D1–D6):
  D1 round floating outputs to 4dp on both sides (exact decimal sums where
     magnitudes make double-summation order observable at 4dp);
  D2 UTC session timezone;
  D3 materialize order as row_number with unique tie-breaks;
  D4 LIMIT only over a total order;
  D5 sort collected arrays;
  D6 identical column aliases on both sides.
"""

from __future__ import annotations

import importlib
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}

# Modules that register operators on import. Import order does not set
# the order queries() yields; _graded_last does.
_OPERATOR_MODULES = (
    "terasort_spark.operators.aggregates",
    "terasort_spark.operators.sessions",
    "terasort_spark.functions.scalar",
    "terasort_spark.functions.collections",
    "terasort_spark.functions.udfs",
    "terasort_spark.sources.tera_queries",
    "terasort_spark.operators.llm_text",
    "terasort_spark.operators.llm_dedup",
    "terasort_spark.operators.llm_similarity",
    "terasort_spark.operators.multimodal",
    "terasort_spark.operators.composites",
    "terasort_spark.operators.composites2",
    "terasort_spark.operators.scans",
    "terasort_spark.operators.projections",
    "terasort_spark.operators.joins",
    "terasort_spark.operators.windows",
    "terasort_spark.operators.sorts",
    "terasort_spark.operators.setops",
    "terasort_spark.operators.extras",
    "terasort_spark.operators.extras2",
    "terasort_spark.operators.timeseries",
    "terasort_spark.operators.pipelines",
    "terasort_spark.operators.graph",
    "terasort_spark.operators.relational3",
    "terasort_spark.operators.relational4",
    "terasort_spark.operators.relational5",
    "terasort_spark.operators.pretrain",
    "terasort_spark.operators.analytics",
    "terasort_spark.operators.multimodal_audio",
    "terasort_spark.operators.llm_gemm",
    "terasort_spark.operators.llm_lm",
    "terasort_spark.operators.modern",
    "terasort_spark.operators.relational6",
    "terasort_spark.operators.curation",
    "terasort_spark.operators.geo",
    "terasort_spark.operators.tokenizer",
    "terasort_spark.operators.cdc",
    "terasort_spark.operators.ml",
    "terasort_spark.plans.similarity_rewrite",
    "terasort_spark.operators.quality",
    "terasort_spark.operators.boilerplate",
    "terasort_spark.operators.rag",
    "terasort_spark.operators.integrity",
    "terasort_spark.operators.ann_index",
    "terasort_spark.operators.wave7",
    "terasort_spark.plans.mv_rewrite",
    "terasort_spark.operators.wave8",
    "terasort_spark.operators.wave10",
    "terasort_spark.operators.wave11",
    "terasort_spark.operators.wave12",
    "terasort_spark.operators.wave13",
    "terasort_spark.operators.wave14",
    "terasort_spark.operators.wave15",
    "terasort_spark.plans.window_skew_rewrite",
    "terasort_spark.operators.wave16",
    "terasort_spark.operators.wave17",
    "terasort_spark.operators.wave18",
    "terasort_spark.operators.wave19",
    "terasort_spark.operators.wave20",
)

_loaded = False


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a query under ``name`` with an optional DuckDB
    oracle. ``oracle=None`` → driver records a weaker rows-only check."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle.strip()
        return fn

    return deco


def _load() -> None:
    global _loaded
    if _loaded:
        return
    _loaded = True
    for mod in _OPERATOR_MODULES:
        importlib.import_module(mod)


# The driver grades registry entries in dict order with a bounded
# per-round budget (~50), so queries are yielded stalest evidence first.
# The evidence is read from the committed CORRECTNESS_r*.json files
# themselves, so the rotation advances automatically each round. Two
# self-healing rules fall out of the same sort: a query whose latest row
# FAILED, and one graded rows-only before its oracle existed (err ==
# "no_oracle" but an oracle is registered now), have no green round and
# so lead with the never-graded queries.
_graded_cache: dict | None = None


def _graded_rounds() -> dict:
    """name -> round number of the query's LATEST green CORRECTNESS
    row.

    Files are ordered by PARSED round number, not filename sort: an
    unpadded name (CORRECTNESS_r2.json vs _r10.json) would otherwise
    let a stale row override a newer one and mask a later FAILED grade
    (r11 ADVICE)."""
    global _graded_cache
    if _graded_cache is not None:
        return _graded_cache
    import glob
    import json
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = []
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if m:
            paths.append((int(m.group(1)), path))
    latest: dict[str, tuple[int, dict]] = {}
    for rnum, path in sorted(paths):
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        if isinstance(data, dict):
            for name, row in data.items():
                if isinstance(row, dict):
                    latest[name] = (rnum, row)
    done: dict[str, int] = {}
    for name, (rnum, row) in latest.items():
        if row.get("hash_match"):
            done[name] = rnum
        elif row.get("err") == "no_oracle" and name not in _ORACLES:
            done[name] = rnum  # rows-only by declared design, recorded
    _graded_cache = done
    return _graded_cache


def _graded_last(d: dict) -> dict:
    """``d`` ordered by (round of the latest green row, else 0; name)."""
    rounds = _graded_rounds()
    return {k: d[k] for k in sorted(d, key=lambda k: (rounds.get(k, 0), k))}


def queries() -> dict[str, QueryFn]:
    _load()
    return _graded_last(_QUERIES)


def oracle_sql() -> dict[str, str]:
    _load()
    return _graded_last(_ORACLES)
