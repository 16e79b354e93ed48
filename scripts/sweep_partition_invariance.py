"""One-off evidence sweep: every declared query's result bytes must be
identical at shuffle.partitions 7 vs 32 (sf0.01) — the retry-safety
precondition for 100 TB jobs (SCALE.md principle 5). The round-4 sweep
covered 189 queries; re-run at the full registry."""

from __future__ import annotations

import hashlib
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from terasort_spark.compare import _canon  # noqa: E402
from terasort_spark.registry import queries  # noqa: E402
from terasort_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.01"


def result_hash(df) -> str:
    rows = sorted(tuple(_canon(v) for v in r) for r in df.collect())
    return hashlib.sha256(repr(rows).encode()).hexdigest()


def main() -> None:
    spark = get_spark(app_name="sweep-partinv", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries()
    fails = []
    for i, (name, fn) in enumerate(qs.items(), 1):
        try:
            spark.conf.set("spark.sql.shuffle.partitions", "32")
            h32 = result_hash(fn(spark, SF))
            spark.conf.set("spark.sql.shuffle.partitions", "7")
            h7 = result_hash(fn(spark, SF))
            ok = h32 == h7
            err = "" if ok else "hash mismatch 7 vs 32"
        except Exception as e:  # noqa: BLE001
            ok, err = False, repr(e)[:200]
        print(f"[{i}/{len(qs)}] {'OK  ' if ok else 'FAIL'} {name} {err}", flush=True)
        if not ok:
            fails.append(name)
    print(f"\nFAILS: {len(fails)} {fails}")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
