"""One-off evidence sweep: every oracle-backed query must hash-match
DuckDB at sf0.1 too — 10x the driver's graded scale. Catches
float-summation-order effects that only appear as magnitudes grow
(the round-1 sweep did this at 100 queries; re-run at the full
registry). Output: one line per failure, summary at the end."""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from terasort_spark.compare import compare_query, duck_connection  # noqa: E402
from terasort_spark.registry import oracle_sql, queries  # noqa: E402
from terasort_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.1"


def main() -> None:
    spark = get_spark(app_name="sweep-sf01", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    qs, os_ = queries(), oracle_sql()
    con = duck_connection(SF)
    fails = []
    for i, (name, oracle) in enumerate(os_.items(), 1):
        try:
            r = compare_query(name, qs[name], oracle, spark, SF, con)
            ok = r.ok
            err = "; ".join(r.errors)[:200]
        except Exception as e:  # noqa: BLE001
            ok, err = False, repr(e)[:200]
        print(f"[{i}/{len(os_)}] {'OK  ' if ok else 'FAIL'} {name} {err}", flush=True)
        if not ok:
            fails.append(name)
    print(f"\nFAILS: {len(fails)} {fails}")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
