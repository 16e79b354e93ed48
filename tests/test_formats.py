"""File-format sources (terasort_spark/operators/formats.py and the
DataSources in terasort_spark/sources/). Oracle parity runs in
tests/test_oracle.py; these tests pin the Avro reader's split geometry
and the fixed-width source's split count."""

from __future__ import annotations

from pyspark.sql import functions as F

from terasort_spark.catalog import table
from terasort_spark.registry import queries

_Q = queries()


def _reader_tuples(reader, parts):
    """Flatten a DataSourceReader's Arrow RecordBatch yields to row
    tuples (field order preserved by to_pylist)."""
    for sp in parts:
        for b in reader.read(sp):
            for d in b.to_pylist():
                yield tuple(d.values())


def test_avro_split_geometry_invariance(tmp_path):
    """The Avro reader's split planning contract (r9 VERDICT task 2
    'done' criterion): ANY record-UNALIGNED byte carving of the file —
    splits landing mid-block, mid-varint, inside the deflate payload —
    must yield exactly the same row multiset, because a split owns
    precisely the blocks whose preceding sync marker begins inside it.
    Pure-Python (driver-side twin of what each executor runs), both
    spec codecs, nulls through the union branch, non-ASCII strings.
    read() yields Arrow RecordBatches (Spark 4 direct-Arrow path);
    flatten them back to tuples for the multiset comparison."""
    from terasort_spark.sources.avro_ds import AvroReader, write_avro

    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "k", "type": "long"},
            {"name": "s", "type": ["null", "string"]},
            {"name": "x", "type": "double"},
            {"name": "raw", "type": "bytes"},
        ],
    }
    rows = [
        (
            (-1) ** i * i * 12345,
            None if i % 7 == 0 else f"véal-{i}",
            i / 3.0,
            bytes([i % 256, 255 - i % 256]),
        )
        for i in range(5003)
    ]
    for codec in ("deflate", "null"):
        p = str(tmp_path / f"{codec}.avro")
        assert write_avro(p, rows, schema, codec=codec, block_rows=251) == len(rows)
        base = sorted(rows)
        n_splits_tiny = None
        for sb in (64, 997, 8192, 1 << 30):
            r = AvroReader({"path": p, "split_bytes": str(sb)})
            parts = r.partitions()
            if sb == 64:
                n_splits_tiny = len(parts)
            got = sorted(_reader_tuples(r, parts))
            assert got == base, (codec, sb, len(got))
        assert n_splits_tiny > 1  # tiny splits really fanned out


def test_avro_adaptive_split_default(tmp_path):
    """With no explicit split_bytes, the reader derives the split from
    the file size (size/4, clamped to [16 KiB, 128 MiB]) — multiple
    splits per file whenever the file exceeds the floor, bounded task
    count always, and the same row multiset as a whole-file read
    (r12 optimization of the fixed-16 KiB geometry)."""
    from terasort_spark.sources.avro_ds import AvroReader, write_avro

    schema = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "k", "type": "long"},
                   {"name": "s", "type": ["null", "string"]}],
    }
    rows = [(i, f"pad-{i:06d}" * 20) for i in range(9000)]
    p = str(tmp_path / "adaptive.avro")
    assert write_avro(p, rows, schema, codec="null", block_rows=100) == 9000
    import os

    size = os.path.getsize(p)
    assert size > 4 * AvroReader._MIN_SPLIT  # big enough to fan out
    r = AvroReader({"path": p})
    parts = r.partitions()
    # size/4 splits -> 4..6 partitions depending on header remainder
    assert 3 < len(parts) <= 6, len(parts)
    got = sorted(_reader_tuples(r, parts))
    assert got == sorted(rows)
    # explicit option still wins exactly
    r1 = AvroReader({"path": p, "split_bytes": str(1 << 30)})
    assert len(r1.partitions()) == 1


def test_source_avro_reads_through_real_datasource(spark, sf_dir):
    """source_avro must come back through spark.read.format('pyavro')
    with >1 input partitions (the distributed write produced several
    container files and the planner carved them) and equal the source
    table exactly — the oracle proves values, this pins the fan-out."""
    df = _Q["source_avro"](spark, sf_dir)
    n_parts = df.rdd.getNumPartitions()
    assert n_parts > 1, f"avro scan did not fan out: {n_parts} partition(s)"
    got = sorted(map(tuple, df.collect()))
    want = sorted(
        map(
            tuple,
            table(spark, sf_dir, "orders")
            .select(
                "o_orderkey",
                "o_custkey",
                "o_orderstatus",
                "o_totalprice",
                F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias(
                    "o_orderdate"
                ),
            )
            .collect(),
        )
    )
    assert got == want


def test_source_fixedwidth_query_has_multiple_splits(spark, sf_dir):
    df = _Q["source_fixedwidth"](spark, sf_dir)
    # one split per written part file at the default split size
    assert df.rdd.getNumPartitions() == 8
    assert df.count() == 20_000
