"""CLI surface (python -m terasort_spark): the gen -> sort -> validate
pipeline over record directories plus registry access — invoked
in-process with an injected session so the suite doesn't boot extra
JVMs. Checksums/ordering semantics are pinned by test_terasort.py; this
pins the command wiring and exit-status contract."""

from __future__ import annotations

import json

from terasort_spark.__main__ import main


def test_cli_gen_sort_validate_roundtrip(spark, tmp_path, capsys):
    gen_dir = str(tmp_path / "gen")
    sort_dir = str(tmp_path / "sorted")

    assert main(
        ["teragen", "--rows", "20000", "--out", gen_dir, "--partitions", "4"],
        spark=spark,
    ) == 0
    assert json.loads(capsys.readouterr().out)["files"] == 4

    assert main(
        ["terasort", "--input", gen_dir, "--out", sort_dir, "--partitions", "4"],
        spark=spark,
    ) == 0
    capsys.readouterr()

    assert main(["teravalidate", "--input", sort_dir], spark=spark) == 0
    report = json.loads(capsys.readouterr().out)
    assert report["n_rows"] == 20000
    assert report["sorted_within"] and report["sorted_between"]

    # the UNSORTED directory must FAIL validation (nonzero exit) —
    # the scriptable contract a validator exists for
    assert main(["teravalidate", "--input", gen_dir], spark=spark) == 1
    capsys.readouterr()

    # --expect-rows/--expect-checksum upgrade the check to the full
    # sorted-PERMUTATION contract: a sorted directory with dropped or
    # duplicated records must now fail too
    from terasort_spark.sources.teragen import checksum, read_tera_files

    cks = checksum(read_tera_files(spark, gen_dir))
    assert main(
        ["teravalidate", "--input", sort_dir,
         "--expect-rows", "20000", "--expect-checksum", str(cks)],
        spark=spark,
    ) == 0
    report = json.loads(capsys.readouterr().out)
    assert report["rows_ok"] and report["checksum_ok"]

    assert main(
        ["teravalidate", "--input", sort_dir, "--expect-rows", "19999"],
        spark=spark,
    ) == 1
    assert json.loads(capsys.readouterr().out)["rows_ok"] is False

    assert main(
        ["teravalidate", "--input", sort_dir,
         "--expect-checksum", str(cks + 1)],
        spark=spark,
    ) == 1
    assert json.loads(capsys.readouterr().out)["checksum_ok"] is False


def test_cli_teragen_bytes_match_duckdb_regeneration(spark, tmp_path, capsys):
    """The records the CLI's teragen writes are, as a multiset, the rows
    DuckDB regenerates from ``gen_sql`` (``KEY_SQL`` and the padded id):
    the reference job's own bytes have an oracle."""
    import duckdb

    from terasort_spark.sources.teragen import RECORD_LEN, gen_sql

    n, gen_dir = 20000, tmp_path / "gen"
    argv = ["teragen", "--rows", str(n), "--out", str(gen_dir), "--partitions", "4"]
    assert main(argv, spark=spark) == 0
    capsys.readouterr()
    data = b"".join(p.read_bytes() for p in sorted(gen_dir.glob("part-*.dat")))
    got = sorted(data[o : o + RECORD_LEN] for o in range(0, len(data), RECORD_LEN))
    want = duckdb.sql(f"SELECT key || value FROM ({gen_sql(n)})").fetchall()
    assert got == sorted(r[0].encode() for r in want)


def test_cli_teravalidate_fails_on_swapped_part_files(spark, tmp_path, capsys):
    """Sorted files concatenate in NAME order, so swapping two sorted
    part files breaks the total order even though each file, and the
    set of first/last keys, is unchanged."""
    from terasort_spark.sources.teragen import teragen, terasort, write_tera_files

    d = tmp_path / "sorted"
    write_tera_files(terasort(teragen(spark, 4000, n_partitions=2), 4), str(d))
    assert main(["teravalidate", "--input", str(d)], spark=spark) == 0
    capsys.readouterr()

    first, last = d / "part-00000.dat", d / "part-00003.dat"
    first_bytes = first.read_bytes()
    first.write_bytes(last.read_bytes())
    last.write_bytes(first_bytes)
    assert main(["teravalidate", "--input", str(d)], spark=spark) == 1
    report = json.loads(capsys.readouterr().out)
    assert report["sorted_within"] and not report["sorted_between"]


def test_cli_teravalidate_fails_on_corrupted_record(spark, tmp_path, capsys):
    """One flipped byte inside a value leaves every key, and so every
    order check, intact; only the checksum, which teravalidate reports
    from the same single job as the order checks, can catch it."""
    gen_dir, sort_dir = str(tmp_path / "gen"), str(tmp_path / "sorted")
    parts = ["--partitions", "4"]
    gen = ["teragen", "--rows", "4000", "--out", gen_dir, *parts, "--checksum"]
    assert main(gen, spark=spark) == 0
    cks = json.loads(capsys.readouterr().out)["checksum"]
    assert main(["terasort", "--input", gen_dir, "--out", sort_dir, *parts], spark=spark) == 0
    capsys.readouterr()
    assert main(["teravalidate", "--input", sort_dir], spark=spark) == 0
    assert json.loads(capsys.readouterr().out)["checksum"] == cks

    part = tmp_path / "sorted" / "part-00001.dat"
    data = bytearray(part.read_bytes())
    data[150] ^= 0x01  # a value byte of the second record
    part.write_bytes(bytes(data))
    sc, group = spark.sparkContext, "cli-teravalidate-corrupted"
    sc.setJobGroup(group, "teravalidate --expect-checksum")
    try:
        argv = ["teravalidate", "--input", sort_dir, "--expect-checksum", str(cks)]
        rc = main(argv, spark=spark)
    finally:
        sc._jsc.clearJobGroup()
    assert rc == 1
    report = json.loads(capsys.readouterr().out)
    assert report["sorted_within"] and report["sorted_between"], report
    assert report["n_rows"] == 4000 and report["checksum_ok"] is False
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1

def test_cli_terasort_refuses_existing_output(spark, tmp_path, capsys):
    """Like Hadoop's FileOutputFormat: part files left by an earlier
    write would be read back as data, so a second write into the same
    directory fails instead: exit 1 and one message line, no
    traceback."""
    gen_dir, sort_dir = str(tmp_path / "gen"), str(tmp_path / "sorted")
    parts = ["--partitions", "2"]
    gen = ["teragen", "--rows", "1000", "--out", gen_dir, *parts]
    assert main(gen, spark=spark) == 0
    argv = ["terasort", "--input", gen_dir, "--out", sort_dir, *parts]
    assert main(argv, spark=spark) == 0
    capsys.readouterr()
    for refused in (gen, argv):
        assert main(refused, spark=spark) == 1
        err = capsys.readouterr().err.splitlines()
        assert len(err) == 1, err
        assert err[0].startswith("terasort_spark: ")
        assert "already holds part-*.dat files" in err[0]


def test_cli_partial_record_exits_with_one_line(spark, tmp_path, capsys):
    """A part file cut short of a whole record fails the read job deep in
    the JVM (java.io.EOFException); both commands that read records
    report it as exit 1 and one line naming the file, no traceback."""
    gen_dir, sort_dir = str(tmp_path / "gen"), str(tmp_path / "sorted")
    parts = ["--partitions", "2"]
    assert main(["teragen", "--rows", "1000", "--out", gen_dir, *parts], spark=spark) == 0
    capsys.readouterr()
    cut = tmp_path / "gen" / "part-00001.dat"
    cut.write_bytes(cut.read_bytes()[:-7])
    for argv in (
        ["terasort", "--input", gen_dir, "--out", sort_dir, *parts],
        ["teravalidate", "--input", gen_dir],
    ):
        assert main(argv, spark=spark) == 1
        err = capsys.readouterr().err.splitlines()
        assert len(err) == 1, err
        assert err[0].startswith("terasort_spark: ")
        assert "partial record in part-00001.dat" in err[0]


def test_cli_list_query_explain(spark, sf_dir, capsys):
    assert main(["list"], spark=spark) == 0
    names = capsys.readouterr().out.split()
    assert "agg_group" in names and len(names) > 250

    assert main(
        ["query", "agg_group", "--sf-dir", sf_dir, "--limit", "3"], spark=spark
    ) == 0
    shown = capsys.readouterr().out
    assert "l_returnflag" in shown  # show() rendered the result table

    assert main(["explain", "scan_pushdown", "--sf-dir", sf_dir], spark=spark) == 0
    assert "Scan parquet" in capsys.readouterr().out


def test_cli_input_without_part_files_exits_with_one_line(spark, tmp_path, capsys):
    """teragen of zero rows writes no part file; every command that
    then reads that directory fails with one line naming it, not with a
    JVM traceback."""
    empty = str(tmp_path / "empty")
    assert main(["teragen", "--rows", "0", "--out", empty, "--partitions", "2"], spark=spark) == 0
    assert json.loads(capsys.readouterr().out)["files"] == 0
    again = str(tmp_path / "again")
    for argv, in_dir in (
        (["teravalidate", "--input", empty], empty),
        (["terasort", "--input", empty, "--out", str(tmp_path / "sorted")], empty),
        (["teragen", "--rows", "0", "--out", again, "--checksum"], again),
    ):
        assert main(argv, spark=spark) == 1
        err = capsys.readouterr().err.splitlines()
        assert err == [f"terasort_spark: {in_dir}: no part-*.dat files"], err
