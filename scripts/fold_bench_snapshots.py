#!/usr/bin/env python
"""Fold per-query MINIMA across bench runs into the bench baseline.

Usage:
    python scripts/fold_bench_snapshots.py OUT.json IN1.json [IN2.json ...]

`make bench-promote` runs it with OUT = IN1 = BENCH_QUERIES.json and
IN2 = BENCH_QUERIES.latest.json, so each query's gate bound is its
minimum over every promoted sweep.

Each IN file is either a full-sweep sidecar (BENCH_QUERIES.latest.json
shape: {"queries": {...}, "sf": ...}) or a bare {"name": seconds} map
(hand-built from gate solo adjudications / quiet BENCH_ONLY re-times —
the same solo fresh-JVM protocol). Rationale: the bench host carries bursty
external co-tenant load (BASELINE.md); a per-query min across repeated
runs converges on the query's cost, while any single sweep carries 2-8x
phantom inflation on whichever chunks a burst hit. The sidecar-shaped
inputs must declare one shared scale factor, which OUT carries; a fold
of mixed scales, or with no declared scale, is refused.

A query deliberately reworked to do more work gets its entry reset by
hand in the same change, since its old minimum timed different code.
"""

from __future__ import annotations

import json
import sys


def main() -> None:
    if len(sys.argv) < 3:
        print("usage: fold_bench_snapshots.py OUT.json IN1.json [IN2.json ...]",
              file=sys.stderr)
        sys.exit(2)
    out_path, *in_paths = sys.argv[1:]
    folded: dict[str, float] = {}
    sfs = set()
    sources = []
    for p in in_paths:
        with open(p) as f:
            doc = json.load(f)
        if "queries" in doc:
            qs = doc["queries"]
            if doc.get("sf") is not None:
                sfs.add(doc["sf"])
        else:
            qs = doc
        n_used = 0
        for name, med in qs.items():
            if (isinstance(med, bool) or not isinstance(med, (int, float))
                    or med <= 0):
                continue
            if med < folded.get(name, float("inf")):
                folded[name] = med
                n_used += 1
        sources.append({"path": p, "n_queries": len(qs), "n_mins": n_used})
    if len(sfs) != 1:
        print(f"refusing to fold: inputs must declare one sf, got {sorted(sfs)}",
              file=sys.stderr)
        sys.exit(2)
    out = {
        "metric": "per_query_min_of_medians_s",
        "unit": "sec",
        "queries": dict(sorted(folded.items())),
        "sf": sfs.pop(),
        "n_queries": len(folded),
        "fold_sources": sources,
    }
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    total = round(sum(folded.values()), 3)
    print(f"wrote {out_path}: {len(folded)} queries, folded total {total}s",
          file=sys.stderr)


if __name__ == "__main__":
    main()
