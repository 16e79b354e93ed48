"""Empty-input safety sweep: every registered query must execute (and
return a well-formed, possibly empty, result) against a corpus of
0-row tables with the production schemas.

Why this matters at 100 TB: empty inputs are not an edge case — they
are a daily occurrence (a partition with no matching rows after
pruning, a time window with no events, a tenant with no documents, a
backfill hitting a not-yet-populated day). An operator that crashes on
empty input turns routine gaps into paged incidents. The sweep found
and pinned real classes of bug: driver-side model-state collects
assuming >=1 row (kmeans init, PQ codebook seed, GEMM query set, PCA
partials, logreg moments, pagerank 1/N, late_data min/max), and
empty-sink re-reads failing parquet schema inference (fixed by passing
the writer's schema explicitly)."""

from __future__ import annotations

import pytest

from terasort_spark.registry import queries

_Q = queries()


@pytest.mark.parametrize("name", sorted(_Q))
def test_query_survives_empty_corpus(name, spark, empty_sf):
    rows = _Q[name](spark, empty_sf).collect()
    assert isinstance(rows, list)  # executed; empty or constant-row output
