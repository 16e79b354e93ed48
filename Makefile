# Mechanical verification entry points (SURVEY.md §5b). Run on a SOLO
# machine — concurrent Spark jobs skew timings and can race on sink
# scratch paths. Approximate runtimes on local[32]:
#
#   make verify   full evidence chain: driver-contract sweep at sf0.01
#                 (~15 min), full-registry hash sweep at sf0.1 (~35 min),
#                 partition-invariance 7v32 at sf0.01 (~30 min)
#   make test     pytest suite at sf0.001 (~14 min)
#   make bench    headline benchmark at sf0.1; the graded JSON line
#                 (suite_median_total_s) prints last (~13 min)
#   make bench-promote
#                 fold the last full sweep into the bench baseline
#
# Each stage fails fast with a nonzero exit; "FAILS: 0" per stage is the
# green state every round must re-establish mechanically.

.PHONY: verify test test-all bench bench-promote

verify:
	python scripts/drive_driver.py
	python scripts/sweep_sf01.py
	python scripts/sweep_partition_invariance.py

test:
	python -m pytest tests/ -q

# The full suite including the slow tier (degenerate-corpus sweeps,
# streaming recovery e2e, rocksdb provider duplicates) — ~37 min. The
# default `make test` tier deselects those via pytest.ini addopts so it
# fits the grading driver's verify budget (r12 VERDICT task 3).
test-all:
	python -m pytest tests/ -q -m "" -p no:cacheprovider

bench:
	python bench.py

# Fold the last full sweep's sidecar into BENCH_QUERIES.json, the one
# bench baseline (chunking, rep counts, drift and the gate), per-query
# min. bench.py never writes the baseline itself, so a run leaves the
# tree clean and changing the gate's input is a deliberate act.
bench-promote:
	python scripts/fold_bench_snapshots.py BENCH_QUERIES.json BENCH_QUERIES.json BENCH_QUERIES.latest.json
