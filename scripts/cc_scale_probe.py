"""graph_cc_star scale probe (round 12): turn the "O(log n) rounds
regardless of component diameter" claim from prose into measured
curves, on exactly the loop the graded query runs
(graph.star_components — shared, not re-implemented).

Two sweeps:

1. LSH similarity graphs at the three shipped SFs — rounds and wall
   time as the real near-dup graph grows (its diameter is small, so
   this pins the ambient cost curve, not the algorithmic win).
2. PATH GRAPHS (0-1-2-...-n): diameter = n-1, the adversarial topology
   for O(diameter) label propagation (~n rounds — analytically, its
   per-round min spreads one hop). Star alternation
   must stay logarithmic: rounds vs log2(n) is THE claim under test.

Correctness is CHECKED at every point: labels must equal a sequential
union-find over the same edge list (chain: all nodes -> component 0).

Run:  python scripts/cc_scale_probe.py            # both sweeps
      python scripts/cc_scale_probe.py chain 65536  # one chain point
"""

from __future__ import annotations

import json
import sys
import time

REPO = "/root/repo"
if REPO not in sys.path:
    sys.path.insert(0, REPO)


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def probe_lsh(spark, sf_dir):
    from terasort_spark.operators.graph import lsh_edges, star_components

    t0 = time.time()
    e = lsh_edges(spark, sf_dir, tau=0.8).localCheckpoint(eager=True)
    n_edges = e.count()
    t_edges = time.time() - t0
    t0 = time.time()
    labels, rounds = star_components(spark, e)
    got = {r["doc_id"]: r["component"] for r in labels.collect()}
    t_loop = time.time() - t0
    want = _union_find([(r["a"], r["b"]) for r in e.collect()])
    assert got == want, f"parity FAILED at {sf_dir}"
    return {
        "sf_dir": sf_dir,
        "n_edges": n_edges,
        "n_nodes": len(got),
        "rounds": rounds,
        "t_edges_s": round(t_edges, 2),
        "t_loop_s": round(t_loop, 2),
        "parity": True,
    }


def probe_chain(spark, n):
    from pyspark.sql import functions as F

    from terasort_spark.operators.graph import star_components

    e = (
        spark.range(n - 1)
        .select(F.col("id").alias("a"), (F.col("id") + 1).alias("b"))
        .repartition(32)
    )
    t0 = time.time()
    labels, rounds = star_components(spark, e, max_rounds=64)
    rows = labels.collect()
    t_loop = time.time() - t0
    assert len(rows) == n and all(r["component"] == 0 for r in rows), (
        f"chain parity FAILED at n={n}"
    )
    import math

    return {
        "chain_n": n,
        "diameter": n - 1,
        "rounds": rounds,
        "log2_n": round(math.log2(n), 1),
        "t_loop_s": round(t_loop, 2),
        "parity": True,
    }


def main() -> None:
    from terasort_spark.session import get_spark

    spark = get_spark(app_name="cc-scale-probe", shuffle_partitions=32)
    out = []
    if len(sys.argv) > 1 and sys.argv[1] == "chain":
        out.append(probe_chain(spark, int(sys.argv[2])))
    else:
        for sf in ("sf0.001", "sf0.01", "sf0.1"):
            out.append(probe_lsh(spark, f"/root/testdata/{sf}"))
        for n in (1024, 8192, 65536):
            out.append(probe_chain(spark, n))
    for row in out:
        print(json.dumps(row))


if __name__ == "__main__":
    main()
