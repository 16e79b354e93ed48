"""CLI entry point — the spark-submit surface a user of the reference
drives today (gen → sort → validate over record directories), plus
registry access:

    python -m terasort_spark teragen --rows 1000000 --out /tmp/tera_in
    python -m terasort_spark terasort --input /tmp/tera_in --out /tmp/tera_out
    python -m terasort_spark teravalidate --input /tmp/tera_out
    python -m terasort_spark list
    python -m terasort_spark query agg_group --sf-dir /root/testdata/sf0.01
    python -m terasort_spark explain dedup_minhash

Each subcommand is a thin shim over the library (Engine /
sources/teragen.py), so spark-submit'ing this module on a cluster runs
the identical code paths the tests pin. teravalidate reads the
directory once, in one Spark job, and reports its order checks, counts
and content checksum. Its exit status is nonzero when the directory is
NOT sorted — and, when the caller supplies ``--expect-rows`` /
``--expect-checksum`` (printed by ``teragen --checksum``), also when
records were dropped, duplicated, or corrupted, which upgrades the
check to the reference validator's full sorted-permutation contract.
teragen and terasort exit 1 when ``--out`` already holds part files,
and every command that reads records exits 1 when its input directory
holds no part files or a part file ends in a partial record, each with
one ``terasort_spark: ...`` line on stderr.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys

from py4j.protocol import Py4JJavaError


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="terasort_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("teragen", help="generate records -> fixed-width files")
    g.add_argument("--rows", type=int, required=True)
    g.add_argument("--out", required=True)
    g.add_argument("--partitions", type=int, default=32)
    g.add_argument(
        "--checksum",
        action="store_true",
        help="also read back the written files and print their content "
        "checksum, for a later teravalidate --expect-checksum",
    )

    s = sub.add_parser("terasort", help="sort a record directory")
    s.add_argument("--input", required=True)
    s.add_argument("--out", required=True)
    s.add_argument("--partitions", type=int, default=32)

    v = sub.add_parser("teravalidate", help="validate a sorted directory")
    v.add_argument("--input", required=True)
    v.add_argument(
        "--expect-rows",
        type=int,
        default=None,
        help="fail unless the directory holds exactly this many records",
    )
    v.add_argument(
        "--expect-checksum",
        type=int,
        default=None,
        help="fail unless the reported content checksum (always computed, "
        "in the same pass as the order check) matches; catches "
        "duplicated/corrupted records a sort check cannot",
    )

    sub.add_parser("list", help="list registered queries")

    q = sub.add_parser("query", help="run a registered query")
    q.add_argument("name")
    q.add_argument("--sf-dir", default=None)
    q.add_argument("--limit", type=int, default=20)

    e = sub.add_parser("explain", help="formatted plan of a registered query")
    e.add_argument("name")
    e.add_argument("--sf-dir", default=None)
    e.add_argument("--mode", default="formatted")
    return p


def _refused(reason: object) -> int:
    """A refused run: one line on stderr and exit 1, no traceback."""
    print(f"terasort_spark: {reason}", file=sys.stderr)
    return 1


def _partial_record(e: Py4JJavaError, in_dir: str) -> int:
    """A Spark job over ``in_dir`` failed. When ``in_dir`` holds no part
    file (the JVM reader fails with InvalidInputException) or a part
    file there ends in a partial record (a bare EOFException), that is
    the cause, so refuse with one line; otherwise re-raise. The
    directory is listed only here, after a failure."""
    from terasort_spark.sources.teragen import RECORD_LEN

    parts = glob.glob(os.path.join(in_dir, "part-*.dat"))
    if not parts:
        return _refused(f"{in_dir}: no part-*.dat files")
    bad = sorted(os.path.basename(p) for p in parts if os.path.getsize(p) % RECORD_LEN)
    if not bad:
        raise e
    return _refused(
        f"{in_dir}: partial record in {', '.join(bad)}"
        f" (size not a multiple of {RECORD_LEN} bytes)"
    )


def main(argv: list[str] | None = None, spark=None) -> int:
    """Runs one subcommand; ``spark`` is injectable for in-process tests
    (a real spark-submit leaves it None and builds the session)."""
    args = _build_parser().parse_args(argv)

    if args.cmd == "list":
        # pure-Python registry read — no SparkSession/JVM boot needed
        from terasort_spark import registry

        for name in sorted(registry.queries()):
            print(name)
        return 0

    from terasort_spark.catalog import DEFAULT_SF_DIR
    from terasort_spark.engine import Engine

    eng = Engine(spark=spark, sf_dir=getattr(args, "sf_dir", None) or DEFAULT_SF_DIR)

    if args.cmd == "teragen":
        from terasort_spark.sources.teragen import write_tera_files

        try:
            paths = write_tera_files(
                eng.teragen(args.rows, args.partitions), args.out
            )
        except FileExistsError as e:
            return _refused(e)
        out = {"rows": args.rows, "files": len(paths)}
        if args.checksum:
            from terasort_spark.sources.teragen import checksum, read_tera_files

            try:
                out["checksum"] = checksum(read_tera_files(eng.spark, args.out))
            except Py4JJavaError as e:
                return _partial_record(e, args.out)
        print(json.dumps(out))
        return 0

    if args.cmd == "terasort":
        from terasort_spark.sources.teragen import (
            read_tera_files,
            terasort,
            write_tera_files,
        )

        df = read_tera_files(eng.spark, args.input)
        try:
            paths = write_tera_files(terasort(df, args.partitions), args.out)
        except FileExistsError as e:
            return _refused(e)
        except Py4JJavaError as e:
            return _partial_record(e, args.input)
        print(json.dumps({"files": len(paths)}))
        return 0

    if args.cmd == "teravalidate":
        from terasort_spark.sources.teragen import read_tera_files

        try:
            report = eng.teravalidate(read_tera_files(eng.spark, args.input))
        except Py4JJavaError as e:
            return _partial_record(e, args.input)
        ok = report["sorted_within"] and report["sorted_between"]
        if args.expect_rows is not None:
            report["rows_ok"] = report["n_rows"] == args.expect_rows
            ok = ok and report["rows_ok"]
        if args.expect_checksum is not None:
            report["checksum_ok"] = report["checksum"] == args.expect_checksum
            ok = ok and report["checksum_ok"]
        print(json.dumps(report))
        return 0 if ok else 1

    if args.cmd == "query":
        eng.query(args.name).show(args.limit, truncate=False)
        return 0

    if args.cmd == "explain":
        print(eng.explain(args.name, mode=args.mode))
        return 0

    raise AssertionError(f"unhandled command {args.cmd}")  # pragma: no cover


if __name__ == "__main__":
    sys.exit(main())
