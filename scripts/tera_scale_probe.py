"""Third-decade terasort probe (r8 VERDICT task 4): run the REAL
range-partition sort + full TeraValidate permutation contract at 10x the
r8 headline (1B rows = 100 GB logical), inside a 78-GB-free sandbox.

Methodology (documented in BASELINE.md): the sandbox cannot hold
gen + sorted + shuffle copies of 100 GB at once, so the probe elides the
*sink and source I/O* — records are generated in-executor (teragen is
deterministic from row ids, so no input scan is needed) and the sorted
stream is validated WITHOUT being persisted. What remains is the part
that actually stresses scale: the full 100 GB range exchange
(lz4-compressed shuffle spill is the only disk cost), the
partition-local sort, and the complete validation contract —
``teravalidate`` on the sorted stream as it leaves the sort:
  (a) keys non-decreasing within every partition,
  (b) partition boundaries ordered, in partition-index order,
  (c) row count preserved,
  (d) the order-insensitive content checksum equal to ``checksum`` of
      the generated stream (multiset equality -> the output is a true
      sorted permutation).
The sort executes exactly once; the generated stream is hashed in a
separate, shuffle-free pass.

Key-mode dial (r9 VERDICT task 1 — skew robustness): ``uniform`` is the
GraySort distribution; ``zipf`` keeps the plain key-ranged sort but
feeds it teragen_skewed's adversary (~25% of all rows on ONE key, so
one partition holds a quarter of the dataset — the straggler a real
skewed corpus produces); ``zipf_salted`` runs the salted
(key, salt)-ranged sort over the same data, spreading the hot key over
up to 4096 range slices while preserving the full permutation contract
(equal keys need no relative order). The JSON line reports the
straggler factor (``max_part_rows`` / mean rows per non-empty
partition) so the skew and its fix are both measured, not asserted.

Run:  python scripts/tera_scale_probe.py [n_rows] [n_partitions] [mode]
      mode in {uniform (default), zipf, zipf_salted}
"""

from __future__ import annotations

import json
import sys
import time

REPO = "/root/repo"
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from terasort_spark.session import get_spark  # noqa: E402
from terasort_spark.sources.teragen import (  # noqa: E402
    checksum,
    teragen,
    teragen_skewed,
    terasort,
    terasort_salted,
    teravalidate,
)

N_ROWS = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000_000
N_PARTS = int(sys.argv[2]) if len(sys.argv) > 2 else 256
MODE = sys.argv[3] if len(sys.argv) > 3 else "uniform"
assert MODE in ("uniform", "zipf", "zipf_salted"), MODE
_GEN = teragen if MODE == "uniform" else teragen_skewed
_SORT = terasort_salted if MODE == "zipf_salted" else terasort


def main() -> None:
    spark = get_spark(app_name="tera-scale-probe", shuffle_partitions=N_PARTS)
    spark.sparkContext.setLogLevel("ERROR")

    # pass 1: checksum of the generated stream (no shuffle, pure codegen)
    t0 = time.time()
    cs_gen = checksum(_GEN(spark, N_ROWS, n_partitions=N_PARTS))
    t_gen_cs = time.time() - t0

    # pass 2: the sort itself + one-pass validate/checksum, never sunk
    t1 = time.time()
    rep = teravalidate(
        _SORT(_GEN(spark, N_ROWS, n_partitions=N_PARTS), n_partitions=N_PARTS)
    )
    t_sort_validate = time.time() - t1

    within, between = rep["sorted_within"], rep["sorted_between"]
    rows_ok, cs_ok = rep["n_rows"] == N_ROWS, rep["checksum"] == cs_gen
    ok = within and between and rows_ok and cs_ok
    straggler = (
        round(rep["max_part_rows"] * rep["n_partitions"] / rep["n_rows"], 2)
        if rep["n_rows"]
        else 0
    )
    print(
        json.dumps(
            {
                "mode": MODE,
                "n_rows": N_ROWS,
                "bytes": N_ROWS * 100,
                "n_partitions": N_PARTS,
                "straggler_factor": straggler,
                "sorted_within": within,
                "sorted_between": between,
                "rows_preserved": rows_ok,
                "checksum_match": cs_ok,
                "ok": ok,
                "gen_checksum_sec": round(t_gen_cs, 1),
                "sort_validate_sec": round(t_sort_validate, 1),
                "total_sec": round(t_gen_cs + t_sort_validate, 1),
                "mb_per_sec_sort": round(
                    N_ROWS * 100 / 1e6 / t_sort_validate, 1
                ),
            }
        )
    )
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
