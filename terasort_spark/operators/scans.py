"""Scan and sink operators (SURVEY.md §2b): pushdown, row-group stats,
provenance, sampling, Bloom and manifest skipping, positional and
equality deletes, VACUUM, and the partitioned/bucketed/compacted
sinks. File-format sources live in formats.py.

Reference parity: the reference's only source/sink is the fixed-width
TeraGen record format (see ``terasort_spark/sources/teragen.py``); the
general engine reads columnar parquet so Catalyst can push filters and
prune columns into the scan itself — verified by plan assertions in
``tests/test_plans.py`` (PushedFilters / ReadSchema).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from terasort_spark.catalog import table
from terasort_spark.operators._util import dsum, o_dsum, rnd, scratch_dir
from terasort_spark.operators.sketches import bloom_bits_set, bloom_words
from terasort_spark.registry import register
from terasort_spark.sources.snapshots import delete_keys, read_snapshot, write_version
from terasort_spark.sources.teragen import mix32, mix32_sql

_O_DSUM_REVENUE = o_dsum("l_extendedprice*(1-l_discount)", "revenue")


@register("scan_full", oracle="SELECT * FROM nation")
def scan_full(spark, sf_dir):
    return table(spark, sf_dir, "nation")


@register(
    "scan_project",
    oracle="SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem",
)
def scan_project(spark, sf_dir):
    # Column pruning: ReadSchema must contain exactly these three columns —
    # at 100 TB this is the difference between scanning 3 columns and 11.
    return table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


@register(
    "scan_pushdown",
    oracle="""
SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity
FROM lineitem
WHERE l_shipdate BETWEEN TIMESTAMP '1997-01-01' AND TIMESTAMP '1997-03-31'
  AND l_quantity > 45
""",
)
def scan_pushdown(spark, sf_dir):
    # Predicate pushdown: both conjuncts reach the parquet reader
    # (row-group statistics skip non-matching groups before decode).
    return (
        table(spark, sf_dir, "lineitem")
        .filter(
            F.col("l_shipdate").between(
                F.lit("1997-01-01").cast("timestamp"),
                F.lit("1997-03-31").cast("timestamp"),
            )
            & (F.col("l_quantity") > 45)
        )
        .select("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity")
    )


@register(
    "source_json",
    oracle="""
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS INTEGER) AS props_k
FROM events
""",
)
def source_json(spark, sf_dir):
    # JSON-in-string → typed column, JVM-side (from_json, no Python UDF).
    return (
        table(spark, sf_dir, "events")
        .select(
            "event_id",
            F.from_json(F.col("props"), "k INT").getField("k").alias("props_k"),
        )
    )


@register(
    "sink_parquet",
    # round-trip identity oracle: partitioned write + re-read must
    # reproduce orders exactly (partition column type/order restored)
    oracle="""
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       o_orderdate, o_orderpriority
FROM orders
""",
)
def sink_parquet(spark, sf_dir):
    """Write + re-read round-trip. Scale note: output is partitioned by a
    low-cardinality column — the layout a 100 TB pipeline would use for
    partition pruning on later reads."""
    out = scratch_dir(spark, "sink_parquet")
    shutil.rmtree(out, ignore_errors=True)
    src = table(spark, sf_dir, "orders")
    src.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    # explicit schema: the writer knows it, and an all-empty (or
    # empty-partition) output directory then still reads back cleanly
    df = spark.read.schema(src.schema).parquet(out)
    # partitionBy reads the partition column back as string; restore type
    # and original column order for a stable schema.
    return df.select(
        "o_orderkey",
        "o_custkey",
        F.col("o_orderstatus").cast("string").alias("o_orderstatus"),
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    )


@register(
    "sink_partitioned_pruned",
    oracle="SELECT doc_id, lang, n_chars FROM documents WHERE lang = 'en'",
)
def sink_partitioned_pruned(spark, sf_dir):
    """Partitioned sink + partition-pruned re-read, oracle-checked: write
    documents hive-partitioned by lang, then read back ONE partition.
    The filter is satisfied by directory listing alone (PartitionFilters
    in the scan, zero data files from other langs opened) — the layout
    that makes a 100 TB corpus cheap to slice by a low-cardinality key.
    Values must round-trip bit-exactly through the write, so this is a
    sink-fidelity check too (vs sink_parquet's weaker rows-only)."""
    out = scratch_dir(spark, "sink_part")
    shutil.rmtree(out, ignore_errors=True)
    src = table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    src.write.mode("overwrite").partitionBy("lang").parquet(out)
    return (
        spark.read.schema(src.schema).parquet(out)
        .filter(F.col("lang") == "en")
        .select("doc_id", F.col("lang").cast("string").alias("lang"), "n_chars")
    )


@register(
    "scan_provenance",
    # positions are computed over the FULL per-lang file, then filtered —
    # row_index is physical, so the doc_id<100 cut happens in the outer
    # query exactly like the Spark-side post-scan filter
    oracle="""
SELECT doc_id, src_part, src_row FROM (
  SELECT doc_id, lang AS src_part,
         CAST(row_number() OVER (PARTITION BY lang ORDER BY doc_id) - 1
              AS BIGINT) AS src_row
  FROM documents
)
WHERE doc_id < 100
""",
)
def scan_provenance(spark, sf_dir):
    """Row-level lineage from the hidden _metadata column of file
    sources: which physical source object (and physical row position
    inside it) produced each row. At 100 TB this is how a pipeline
    traces a bad record back to its source object without any
    bookkeeping columns in the data.

    Upgraded rows-only → exact oracle in r9: lineage over raw corpus
    paths is environment-specific, so the operator writes its own
    deterministic layout — repartition(lang) + sortWithinPartitions
    (lang, doc_id) + partitionBy(lang) yields exactly one file per lang
    whose physical row order is doc_id order — then reads it back and
    relativizes _metadata.file_path to the partition directory and
    _metadata.row_index to the in-file position. Both are then exactly
    replayable relationally: src_part = lang, src_row = rank of doc_id
    within lang. The same _metadata relativization trick as
    scan_position_delete."""
    out = scratch_dir(spark, "provenance")
    shutil.rmtree(out, ignore_errors=True)
    src = table(spark, sf_dir, "documents").select("doc_id", "lang")
    (
        src.repartition("lang")
        .sortWithinPartitions("lang", "doc_id")
        .write.mode("overwrite")
        .partitionBy("lang")
        .parquet(out)
    )
    back = spark.read.schema("doc_id bigint, lang string").parquet(out)
    return (
        back.select(
            "doc_id",
            # partition directory, relativized: the lineage key a 100 TB
            # pipeline stores (object identity, never absolute paths)
            F.regexp_extract(F.col("_metadata.file_path"), "lang=([^/]+)/", 1).alias(
                "src_part"
            ),
            F.col("_metadata.row_index").alias("src_row"),
        )
        .filter(F.col("doc_id") < 100)
    )


@register(
    "source_json_dirty",
    oracle="""
SELECT event_type,
       CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
       CAST(sum(CASE WHEN ok THEN 0 ELSE 1 END) AS BIGINT) AS n_corrupt
FROM (
  SELECT event_type,
         json_valid(CASE WHEN event_id % 7 = 0
                         THEN substr(props, 1, length(props) - 1)
                         ELSE props END) AS ok
  FROM events
)
GROUP BY event_type
""",
)
def source_json_dirty(spark, sf_dir):
    """Dirty-data tolerance: a corpus where ~1/7 of the JSON payloads
    are malformed (simulated by truncating the closing brace — the one
    corruption class Spark's lenient Jackson parser and DuckDB's
    json_valid agree on; trailing garbage and trailing commas are each
    accepted by exactly one engine) must parse
    without failing the job — from_json's PERMISSIVE default yields a
    struct whose fields are all NULL for bad rows (the struct itself is
    non-null), so corruption is detected through a required field
    (every valid payload carries ``k``; FIXTURES.md) and counted per
    event type.
    At 100 TB you quarantine by routing the n_corrupt rows to a
    dead-letter sink instead of counting them; the detection predicate
    is the same."""
    ev = table(spark, sf_dir, "events")
    mangled = F.when(
        F.col("event_id") % 7 == 0,
        F.substring(F.col("props"), 1, F.length("props") - 1),
    ).otherwise(F.col("props"))
    parsed = F.from_json(mangled, "k INT, cat STRING")
    return (
        ev.select("event_type", parsed.getField("k").isNotNull().alias("ok"))
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("ok"), 1).otherwise(0)).alias("n_valid"),
            F.sum(F.when(F.col("ok"), 0).otherwise(1)).alias("n_corrupt"),
        )
    )


@register(
    "sink_bucketed",
    oracle=f"""
SELECT o.o_orderkey, CAST(count(*) AS BIGINT) AS n_items,
       {_O_DSUM_REVENUE}
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderkey
""",
)
def sink_bucketed(spark, sf_dir):
    """Pre-bucketed table layout: write orders AND lineitem bucketed +
    sorted by their join key into the warehouse, re-read both, and run
    the fact-fact join + per-key aggregation ENTIRELY shuffle-free —
    the sort-merge join consumes co-located pre-sorted buckets and the
    groupBy on the same key reuses the bucket partitioning, so the
    physical plan contains ZERO Exchange (asserted in
    tests/test_plans.py). At 100 TB this is the layout that turns every
    repeated join on the table's primary key into a scan-only
    operation — bucketing cost is paid once at write time. The oracle
    is the plain join: the layout must not change a single answer."""
    o = table(spark, sf_dir, "orders").select("o_orderkey")
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    # table names carry the applicationId (same isolation as
    # _util.scratch_dir): two processes sharing a warehouse dir would
    # otherwise rmtree each other's buckets mid-read
    app = "".join(
        c if c.isalnum() else "_" for c in spark.sparkContext.applicationId
    )
    t_o = f"sink_bucketed_orders_{app}"
    t_li = f"sink_bucketed_lineitem_{app}"
    spark.sql(f"DROP TABLE IF EXISTS {t_o}")
    spark.sql(f"DROP TABLE IF EXISTS {t_li}")
    # a previous SESSION's table may survive as an orphaned warehouse
    # directory the new catalog doesn't know about — clear the location
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    for t in (t_o, t_li):
        shutil.rmtree(
            os.path.join(wh.removeprefix("file:"), t), ignore_errors=True
        )
    (
        o.write.bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .mode("overwrite")
        .saveAsTable(t_o)
    )
    (
        li.write.bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .mode("overwrite")
        .saveAsTable(t_li)
    )
    ob = spark.table(t_o)
    lb = spark.table(t_li)
    # merge hint: the broadcast path would be chosen at this size, but
    # the POINT is the shuffle-free sort-merge over buckets
    j = ob.hint("merge").join(lb, ob.o_orderkey == lb.l_orderkey)
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return j.groupBy("o_orderkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        dsum(revenue, "revenue"),
    )


@register(
    "scan_rowgroup_stats",
    oracle="""
SELECT 'doc_id' AS col_name,
       CAST(count(*) - count(doc_id) AS BIGINT) AS n_nulls,
       CAST(min(doc_id) AS BIGINT) AS min_val,
       CAST(max(doc_id) AS BIGINT) AS max_val
FROM documents
UNION ALL
SELECT 'n_chars', CAST(count(*) - count(n_chars) AS BIGINT),
       CAST(min(n_chars) AS BIGINT), CAST(max(n_chars) AS BIGINT)
FROM documents
""",
)
def scan_rowgroup_stats(spark, sf_dir):
    """Metadata-only statistics query: answer per-column null_count /
    min / max for the documents table from PARQUET FOOTER row-group
    statistics alone — zero data pages read, zero Spark jobs. The
    oracle recomputes the same numbers by scanning the data, so a hash
    match PROVES the footer stats are faithful — the property every
    data-skipping decision (min/max pruning, scan_zorder) silently
    relies on. At 100 TB this is the difference between a catalog
    lookup and a full scan for COUNT/MIN/MAX-shaped queries.

    Scale: driver-side O(#row-groups) footer reads (a real engine
    caches these in the catalog); the result is 2 rows."""
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, "documents.parquet")
    files = []
    if os.path.isdir(path):
        for root, _, names in os.walk(path):
            files += [
                os.path.join(root, n) for n in names if n.endswith(".parquet")
            ]
    else:
        files = [path]
    agg: dict[str, list] = {}  # col -> [nulls, min, max]
    for fp in sorted(files):
        md = pq.ParquetFile(fp).metadata
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            for i in range(rg.num_columns):
                c = rg.column(i)
                if c.path_in_schema not in ("doc_id", "n_chars"):
                    continue
                st = c.statistics
                # Fail LOUDLY when a writer omitted statistics for a
                # targeted column — silently skipping would return wrong
                # min/max/null counts while claiming footer fidelity (r6
                # ADVICE). A production engine would fall back to a data
                # scan; here the contract is "footers are faithful".
                # Exception: an ALL-NULL row group legitimately has
                # null_count but no min/max — the metadata answer is
                # still exact (nothing to fold into min/max).
                if st is None or st.null_count is None:
                    raise ValueError(
                        f"{fp} row-group {g}: column "
                        f"{c.path_in_schema!r} lacks parquet statistics "
                        "(null_count) — metadata-only answer would be "
                        "wrong; rewrite the file or scan data"
                    )
                all_null = st.null_count == rg.num_rows
                if not st.has_min_max and not all_null:
                    raise ValueError(
                        f"{fp} row-group {g}: column "
                        f"{c.path_in_schema!r} has non-null values but "
                        "no min/max statistics — metadata-only answer "
                        "would be wrong; rewrite the file or scan data"
                    )
                cur = agg.setdefault(c.path_in_schema, [0, None, None])
                cur[0] += st.null_count
                if st.has_min_max:
                    cur[1] = st.min if cur[1] is None else min(cur[1], st.min)
                    cur[2] = st.max if cur[2] is None else max(cur[2], st.max)
    rows = [
        (name, int(v[0]), v[1], v[2])
        for name, v in sorted(agg.items())
    ]
    return spark.createDataFrame(
        rows, "col_name string, n_nulls bigint, min_val bigint, max_val bigint"
    )


_COMPACT_TARGET_BYTES = 1 << 20  # 1 MiB target output files


@register(
    "sink_compacted",
    # identity oracle: compaction must not change a single row
    oracle="SELECT o_orderkey, o_custkey, o_totalprice FROM orders",
)
def sink_compacted(spark, sf_dir):
    """Small-file compaction: simulate an ingest that produced 64 tiny
    parquet files (every streaming/CDC sink does this), then rewrite
    them into size-targeted files — target count = ceil(on-disk bytes /
    1 MiB) from the actual directory listing, so the plan adapts to the
    data instead of hardcoding a file count. The declared result is the
    compacted table re-read: the oracle proves compaction is purely a
    LAYOUT operation (zero row changes). File-count assertions live in
    test_compaction_reduces_file_count_to_size_target.

    This is the file-size axis of compaction; sources/snapshots.py
    compact() is the orthogonal version axis (rewriting delta chains to
    a fresh base). At 100 TB the small-file problem is an availability
    risk, not a tuning nit: a million 100 KB files turn scan planning
    and NameNode/listing into the bottleneck — periodic size-targeted
    rewrite is the standard operational fix (OPTIMIZE in table
    formats). One round-robin shuffle, no skew (keys never matter)."""
    small_dir = scratch_dir(spark, "smallfiles")
    big_dir = scratch_dir(spark, "compacted")
    shutil.rmtree(small_dir, ignore_errors=True)
    shutil.rmtree(big_dir, ignore_errors=True)
    src = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    src.repartition(64).write.mode("overwrite").parquet(small_dir)
    on_disk = sum(
        os.path.getsize(os.path.join(small_dir, f))
        for f in os.listdir(small_dir)
        if f.endswith(".parquet")
    )
    target = max(1, -(-on_disk // _COMPACT_TARGET_BYTES))  # ceil div
    small = spark.read.schema(src.schema).parquet(small_dir)
    small.repartition(target).write.mode("overwrite").parquet(big_dir)
    return spark.read.schema(src.schema).parquet(big_dir)


# ---------------------------------------------------------------------------
# scan_position_delete — merge-on-read POSITIONAL deletes.

@register(
    "scan_position_delete",
    # the oracle states the SEMANTICS relationally (base minus the
    # deleted predicate); the operator must reach it through the
    # position-delete mechanism — file write, (file_path, row_index)
    # delete-vector encoding, anti-join merge-on-read
    oracle="""
SELECT o_orderkey,
       o_orderstatus,
       floor(o_totalprice * 10000 + 0.5) / 10000 AS price
FROM orders
WHERE o_orderkey % 4 <> 3
  AND NOT (o_orderkey % 9 = 0)
""",
)
def scan_position_delete(spark, sf_dir):
    """Merge-on-read positional deletes — the Iceberg v2 / Delta
    deletion-vector mechanism, complementing snapshots.py's KEY-based
    tombstones: deletes address physical ROW POSITIONS
    (file_path, row_index), so dropping rows never rewrites a data
    file. Staging writes the base table partitioned by a bucket key,
    derives the delete vector by scanning the committed files WITH
    Spark's _metadata columns (file_path + row_index) under the delete
    predicate, and persists those positions. The read path is then:
    data scan + metadata columns, LEFT ANTI join against the
    (broadcast) delete vector on (file_path, row_index). The oracle
    states the intended semantics relationally, so the hash match
    proves the positional encode/decode loses and resurrects nothing.

    100 TB: deletes cost O(deleted positions) in storage and a
    broadcast-able side in the read (vectors are per-file and tiny
    relative to data); the data files are immutable — the property
    that makes concurrent readers and time travel cheap. A compaction
    (sink_compacted) later folds vectors into rewritten files."""
    data_dir = scratch_dir(spark, "posdel_data")
    del_dir = scratch_dir(spark, "posdel_deletes")
    shutil.rmtree(data_dir, ignore_errors=True)
    shutil.rmtree(del_dir, ignore_errors=True)

    base = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 4 != 3)
        .select(
            "o_orderkey",
            "o_orderstatus",
            "o_totalprice",
            (F.col("o_orderkey") % 8).alias("bucket"),
        )
    )
    base.repartition("bucket").write.mode("overwrite").partitionBy(
        "bucket"
    ).parquet(data_dir)

    schema = "o_orderkey bigint, o_orderstatus string, o_totalprice double"
    with_meta = spark.read.schema(schema).parquet(data_dir).select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.col("_metadata.file_path").alias("file_path"),
        F.col("_metadata.row_index").alias("pos"),
    )
    # commit the delete VECTOR: positions of rows matching the delete
    # predicate, addressed physically — no data file is touched
    (
        with_meta.filter(F.col("o_orderkey") % 9 == 0)
        .select("file_path", "pos")
        .write.mode("overwrite")
        .parquet(del_dir)
    )

    deletes = spark.read.schema("file_path string, pos bigint").parquet(del_dir)
    return (
        with_meta.join(
            F.broadcast(deletes), ["file_path", "pos"], "left_anti"
        )
        .select(
            "o_orderkey",
            "o_orderstatus",
            rnd(F.col("o_totalprice"), "price"),
        )
    )


# ---------------------------------------------------------------------------
# scan_bloom_skip — per-file Bloom file-skipping index: the point-lookup
# complement to scan_rowgroup_stats' min/max zone maps. Data is bucketed
# by a key UNCORRELATED with the lookup key (the case where zone maps
# prune nothing), a per-bucket Bloom bitmap over the lookup key is built
# relationally, and each probe scans ONLY the buckets whose bitmap
# matches — Iceberg/Delta/Parquet bloom-filter semantics, replayed
# exactly in SQL.

_BLOOM_BUCKETS = 16
_BLOOM_K = 4
# ~10 bits/key like any production bloom (and the r8 dedup admission
# gate): mbits = 32 * max(128, ceil(10n / (buckets*32))) — data-sized,
# so the false-positive prune holds at EVERY scale instead of
# saturating when the corpus outgrows a fixed bitmap.
_BLOOM_MBITS_SQL = (
    f"32 * greatest(128, CAST(floor((n * 10.0 + {_BLOOM_BUCKETS * 32 - 1})"
    f" / {_BLOOM_BUCKETS * 32}) AS BIGINT))"
)
# 3 present keys (orders keys are dense from 0) + 3 absent: absent keys
# measure the false-positive prune, present keys the no-false-negative
# guarantee.
_BLOOM_PROBES = (1, 2, 3, 900000007, 900000008, 900000009)


def _bloom_pos_sql(key: str, j: str) -> str:
    return (
        f"CAST({mix32_sql(f'((({key}) % 134217728) * {_BLOOM_K} + ({j}))')} "
        f"% mbits AS BIGINT)"
    )


def _bloom_oracle() -> str:
    probes = ", ".join(f"({p})" for p in _BLOOM_PROBES)
    in_list = ", ".join(str(p) for p in _BLOOM_PROBES)
    return f"""
WITH staged AS (
  SELECT o_orderkey AS k,
         CAST({mix32_sql("o_custkey % 2147483648")} % {_BLOOM_BUCKETS}
              AS BIGINT) AS bucket
  FROM orders
),
params AS (SELECT {_BLOOM_MBITS_SQL} AS mbits
           FROM (SELECT count(*) AS n FROM staged)),
js AS (SELECT unnest(range({_BLOOM_K})) AS j),
pos AS (
  SELECT bucket, {_bloom_pos_sql("k", "j")} AS pos FROM staged, js, params
),
words AS (
  SELECT bucket, pos // 32 AS word,
         bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INTEGER)) AS bits
  FROM pos GROUP BY 1, 2
),
probes(p) AS (VALUES {probes}),
ppos AS (
  SELECT p, {_bloom_pos_sql("p", "j")} AS pos FROM probes, js, params
),
cand AS (
  SELECT q.p, w.bucket
  FROM ppos q
  JOIN words w
    ON w.word = q.pos // 32
   AND (w.bits & (CAST(1 AS BIGINT) << CAST(q.pos % 32 AS INTEGER))) != 0
  GROUP BY q.p, w.bucket
  HAVING count(*) = {_BLOOM_K}
)
SELECT CAST(pr.p AS BIGINT) AS probe_key,
       CAST(coalesce(c.n_cand, 0) AS BIGINT) AS n_candidates,
       CAST(coalesce(f.n, 0) AS BIGINT) AS n_found
FROM probes pr
LEFT JOIN (SELECT p, count(*) AS n_cand FROM cand GROUP BY p) c
       ON c.p = pr.p
LEFT JOIN (SELECT k, count(*) AS n FROM staged
           WHERE k IN ({in_list}) GROUP BY k) f
       ON f.k = pr.p
"""


@register("scan_bloom_skip", oracle=_bloom_oracle())
def scan_bloom_skip(spark, sf_dir):
    """Bloom file-skip index, end to end: stage orders hive-partitioned
    into {_BLOOM_BUCKETS} buckets by mix32(o_custkey) — deliberately
    UNCORRELATED with o_orderkey, so every bucket spans the full key
    range and min/max zone maps (scan_rowgroup_stats) cannot prune a
    key lookup at all. Build a data-sized per-bucket Bloom bitmap over
    o_orderkey (~10 bits/key, {_BLOOM_K} mix32 hashes, bitmap = groupBy
    bit_or of 32-bit words — pure relational, map-side combined), probe
    {len(_BLOOM_PROBES)} keys, and scan ONLY the bloom-qualified
    buckets per probe (partition filter on the bucket directory; an
    absent key touches the few false-positive buckets or no files).

    Emits per probe the candidate-bucket count (the prune, bit-exactly
    replayed by the oracle) and the rows found by the pruned scan
    (== the true count — Bloom's no-false-negative guarantee, enforced
    by the hash grade). Build and probe are the Bloom kernel
    (sketches.bloom_words / bloom_bits_set, by bucket): the words
    relation broadcasts into one hash join against the
    {len(_BLOOM_PROBES)}x{_BLOOM_K} probe-position table, and only the
    per-probe candidate lists (bounded by probes x buckets) are
    collected to parameterize the pruned scans, exactly how a planner
    consumes file-skip metadata. The bitmap scales at ~10 bits/key
    like Parquet/Iceberg bloom footers, so the false-positive rate
    (~1%) holds at every scale instead of saturating a fixed-size
    filter; the broadcast grows with it, one row per 32 filter bits."""
    out = scratch_dir(spark, "bloom_skip")
    shutil.rmtree(out, ignore_errors=True)
    staged = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        (mix32(F.col("o_custkey") % F.lit(2147483648)) % _BLOOM_BUCKETS)
        .cast("bigint")
        .alias("bucket"),
    )
    staged.write.mode("overwrite").partitionBy("bucket").parquet(out)

    c = _BLOOM_BUCKETS * 32
    params = staged.agg(F.count(F.lit(1)).alias("n")).select(
        (
            32
            * F.greatest(
                F.lit(128),
                F.floor((F.col("n") * 10.0 + (c - 1)) / c).cast("bigint"),
            )
        ).alias("mbits")
    )

    def pos_col(key_col, j: int):
        return (
            mix32((key_col % 134217728) * _BLOOM_K + F.lit(j))
            % F.col("mbits")
        ).cast("bigint")

    words = bloom_words(
        staged.crossJoin(F.broadcast(params)),
        [pos_col(F.col("k"), j) for j in range(_BLOOM_K)],
        by=("bucket",),
    )
    probes_df = spark.createDataFrame(
        [(p,) for p in _BLOOM_PROBES], "p bigint"
    )
    # bounded collect: per-probe candidate lists (<= probes x buckets
    # rows)
    cand_rows = (
        bloom_bits_set(
            probes_df.crossJoin(F.broadcast(params)),
            "p",
            [pos_col(F.col("p"), j) for j in range(_BLOOM_K)],
            words,
            by=("bucket",),
        )
        .filter(F.col("nbits") == _BLOOM_K)
        .select("p", "bucket")
        .collect()
    )
    cand: dict = {p: [] for p in _BLOOM_PROBES}
    for r in cand_rows:
        cand[r["p"]].append(r["bucket"])

    reread = spark.read.schema("k bigint, bucket bigint").parquet(out)
    branches = [
        reread.filter(
            F.col("bucket").isin(cand[p]) & (F.col("k") == p)
        ).select(F.lit(p).cast("bigint").alias("probe_key"))
        for p in _BLOOM_PROBES
        if cand[p]
    ]
    if branches:
        found = branches[0]
        for b in branches[1:]:
            found = found.unionAll(b)
        found = found.groupBy("probe_key").agg(
            F.count(F.lit(1)).alias("n_found")
        )
    else:
        found = spark.createDataFrame([], "probe_key bigint, n_found bigint")
    base = spark.createDataFrame(
        [(p, len(cand[p])) for p in _BLOOM_PROBES],
        "probe_key bigint, n_candidates bigint",
    )
    return (
        base.join(found, "probe_key", "left")
        .select(
            "probe_key",
            "n_candidates",
            F.coalesce(F.col("n_found"), F.lit(0)).cast("bigint").alias(
                "n_found"
            ),
        )
    )


# ---------------------------------------------------------------------------
# scan_vacuum — lakehouse VACUUM dry-run: segment liveness audit

_VACUUM_BASE = 3  # the checkpoint version; earlier segments are unreferenced


@register(
    "scan_vacuum",
    oracle="""
WITH o AS (
  SELECT o_orderkey AS k,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
         o_orderstatus AS st
  FROM orders
),
latest AS (
  SELECT k, CASE WHEN k % 7 = 0 THEN cents + 100 ELSE cents END AS cents, st
  FROM o WHERE k % 13 <> 0
)
SELECT CAST(0 AS INT) AS v,
       (SELECT count(*) FROM o) AS n_rows,
       (SELECT count(*) FROM o WHERE k % 7 <> 0 AND k % 13 <> 0) AS n_live,
       TRUE AS removable
UNION ALL
SELECT 1, (SELECT count(*) FROM o WHERE k % 7 = 0),
          (SELECT count(*) FROM o WHERE k % 7 = 0 AND k % 13 <> 0), TRUE
UNION ALL
SELECT 2, (SELECT count(*) FROM o WHERE k % 13 = 0), 0, TRUE
UNION ALL
SELECT 3, (SELECT count(*) FROM latest), (SELECT count(*) FROM latest), FALSE
""",
)
def scan_vacuum(spark, sf_dir):
    """VACUUM dry-run over the versioned snapshot store: stage base
    (v0) -> upserts (v1, keys %7, +100 cents) -> tombstones (v2, keys
    %13) -> CHECKPOINT (v3, the resolved snapshot rewritten as a fresh
    base), then audit every segment against the latest state. A
    segment is removable iff no retained snapshot references it — with
    retention at the checkpoint that is exactly v < base. The report
    is DATA-derived, not listing-derived: n_live counts the segment's
    rows still byte-identical to the latest state for their key (the
    left-semi join on all columns), so the grade proves the checkpoint
    lost nothing — the audit a real VACUUM runs before deleting. Note
    tombstone segments show n_live = 0 yet are only removable because
    the checkpoint subsumes them; liveness alone never justifies
    deletion (dropping v2 without v3 would resurrect v0 rows).

    100 TB: the audit is one snapshot-sized semi-join per retention
    decision; segment scans prune on the hive version partition.
    Integer cents keep row equality exact. Oracle replays the staging
    recipe relationally from orders."""
    root = scratch_dir(spark, "vacuum")
    shutil.rmtree(root, ignore_errors=True)
    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey"),
        F.floor(F.col("o_totalprice") * 100 + 0.5)
        .cast("bigint")
        .alias("cents"),
        F.col("o_orderstatus").alias("st"),
    )
    write_version(o, root, 0)
    ups = o.filter(F.col("o_orderkey") % 7 == 0).withColumn(
        "cents", F.col("cents") + 100
    )
    write_version(ups, root, 1)
    delete_keys(spark, o.filter(F.col("o_orderkey") % 13 == 0), root, 2)
    # Pin the v<=2 resolution BEFORE writing v3 into the same root:
    # spark.read.parquet lists files lazily enough that the checkpoint
    # write job could otherwise re-list the root mid-write and read its
    # own partial _v=3 output (the transient-FileNotFound retry shape
    # _util.py documents). localCheckpoint is the repo's idiom for
    # cutting a lineage off a directory that is about to be mutated.
    snap = read_snapshot(spark, root, ["o_orderkey"], version=2).localCheckpoint()
    write_version(snap, root, _VACUUM_BASE)

    latest = read_snapshot(
        spark, root, ["o_orderkey"], version=_VACUUM_BASE
    ).select("o_orderkey", "cents", "st")
    segs = None
    for v in range(_VACUUM_BASE + 1):
        seg = spark.read.parquet(os.path.join(root, f"_v={v}")).withColumn(
            "v", F.lit(v)
        )
        segs = seg if segs is None else segs.unionByName(seg)
    n_rows = segs.groupBy("v").agg(F.count(F.lit(1)).alias("n_rows"))
    n_live = (
        segs.filter(~F.col("_deleted"))
        .select("v", "o_orderkey", "cents", "st")
        .join(latest, ["o_orderkey", "cents", "st"], "left_semi")
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("n_live"))
    )
    return (
        n_rows.join(n_live, "v", "left")
        .select(
            F.col("v").cast("int").alias("v"),
            F.col("n_rows").cast("bigint").alias("n_rows"),
            F.coalesce(F.col("n_live"), F.lit(0))
            .cast("bigint")
            .alias("n_live"),
            (F.col("v") < _VACUUM_BASE).alias("removable"),
        )
        .orderBy("v")
    )


# ---------------------------------------------------------------------------
# scan_equality_delete


@register(
    "scan_equality_delete",
    # relational statement of the upsert outcome: non-deleted base rows
    # plus the re-inserted new versions of the deleted keys
    oracle="""
SELECT o_orderkey, o_custkey, o_orderstatus,
       floor(o_totalprice * 10000 + 0.5) / 10000 AS price,
       CAST(1 AS BIGINT) AS seq
FROM orders WHERE o_custkey % 13 <> 0
UNION ALL
SELECT o_orderkey, o_custkey, o_orderstatus,
       floor((o_totalprice + 1000) * 10000 + 0.5) / 10000 AS price,
       CAST(3 AS BIGINT) AS seq
FROM orders WHERE o_custkey % 13 = 0
""",
)
def scan_equality_delete(spark, sf_dir):
    """Merge-on-read EQUALITY deletes — Iceberg v2's second delete
    flavor, complementing the positional deletes
    (scan_position_delete): a delete file carries KEY VALUES plus the
    sequence number at which they apply, and a reader drops every data
    row whose key matches AND whose sequence is OLDER than the
    delete's. An upsert is then delete(key)@seq + insert(new row)@seq
    with zero data-file rewrites.

    Staged here as the classic upsert flow: base snapshot at seq=1,
    equality-delete file for o_custkey % 13 = 0 at seq=2, re-insert
    of those keys (price restated +1000) at seq=3. The read path is
    data-scan → LEFT ANTI against the (broadcast) delete file on the
    compound condition (key match AND delete.seq > row.seq) — the
    new seq-3 versions survive their own key's earlier delete. The
    oracle states the upsert outcome relationally, so a hash match
    proves the sequencing drops and resurrects nothing.

    100 TB: equality deletes cost O(deleted keys) in storage and a
    broadcastable side at read; unlike positional deletes they don't
    need to know where matching rows live — the flavor streaming CDC
    writers emit (cdc.py applies full change feeds; this is the
    storage-layer primitive under them)."""
    data_dir = scratch_dir(spark, "eqdel_data")
    del_dir = scratch_dir(spark, "eqdel_deletes")
    shutil.rmtree(data_dir, ignore_errors=True)
    shutil.rmtree(del_dir, ignore_errors=True)

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    base = orders.withColumn("seq", F.lit(1).cast("long"))
    base.write.mode("overwrite").parquet(data_dir)
    upserts = (
        orders.where(F.col("o_custkey") % 13 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + 1000)
        .withColumn("seq", F.lit(3).cast("long"))
    )
    upserts.write.mode("append").parquet(data_dir)
    (
        orders.where(F.col("o_custkey") % 13 == 0)
        .select(F.col("o_custkey").alias("k"))
        .distinct()
        .withColumn("del_seq", F.lit(2).cast("long"))
        .write.mode("overwrite")
        .parquet(del_dir)
    )

    schema = (
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, seq bigint"
    )
    data = spark.read.schema(schema).parquet(data_dir)
    deletes = spark.read.schema("k bigint, del_seq bigint").parquet(del_dir)
    cond = (data.o_custkey == deletes.k) & (deletes.del_seq > data.seq)
    return data.join(F.broadcast(deletes), cond, "left_anti").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        rnd(F.col("o_totalprice"), "price"),
        "seq",
    )


# ---------------------------------------------------------------------------
# scan_manifest_prune


@register(
    "scan_manifest_prune",
    # relational statement of the predicate; the operator must reach it
    # through the manifest: stats write, file-level pruning, residual
    oracle="""
SELECT o_orderkey, o_custkey,
       floor(o_totalprice * 10000 + 0.5) / 10000 AS price
FROM orders
WHERE o_orderdate >= TIMESTAMP '1995-01-01'
  AND o_orderdate < TIMESTAMP '1995-07-01'
""",
)
def scan_manifest_prune(spark, sf_dir):
    """Iceberg/Delta-style MANIFEST pruning: data files are committed
    together with a manifest of per-file column min/max stats; a
    reader evaluates the predicate against the MANIFEST first and
    opens only files whose [min,max] interval can contain matches,
    then applies the residual predicate to the survivors.

    Staging writes orders bucketed into date-sorted files (so file
    stats are tight), derives the manifest by scanning the committed
    files' _metadata.file_path with per-file min/max(o_orderdate),
    and persists it. The read path lists the manifest (file-count-
    sized, driver-bounded — the same object an Iceberg planner holds),
    prunes to overlapping files, and reads ONLY those paths. The
    module test proves pruning behaviorally: corrupting a pruned-out
    file does not change the result.

    This is the table-format layer ABOVE scan_rowgroup_stats (parquet
    footer min/max inside a file) and sink_partitioned_pruned
    (partition values in paths): at 100 TB the manifest prunes
    thousands of files without touching storage, footers prune row
    groups within the survivors."""
    data_dir = scratch_dir(spark, "manifest_data")
    man_dir = scratch_dir(spark, "manifest_meta")
    shutil.rmtree(data_dir, ignore_errors=True)
    shutil.rmtree(man_dir, ignore_errors=True)

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )
    # range-partitioned, date-sorted files -> tight, disjoint per-file
    # min/max stats (the layout a clustered/Z-ordered commit produces)
    (
        orders.repartitionByRange(8, "o_orderdate")
        .sortWithinPartitions("o_orderdate")
        .write.mode("overwrite")
        .parquet(data_dir)
    )
    schema = (
        "o_orderkey bigint, o_custkey bigint, o_totalprice double, "
        "o_orderdate timestamp"
    )
    committed = spark.read.schema(schema).parquet(data_dir)
    (
        committed.groupBy(F.col("_metadata.file_path").alias("file_path"))
        .agg(
            F.min("o_orderdate").alias("min_date"),
            F.max("o_orderdate").alias("max_date"),
        )
        .write.mode("overwrite")
        .parquet(man_dir)
    )

    lo, hi = "1995-01-01", "1995-07-01"
    manifest = spark.read.schema(
        "file_path string, min_date timestamp, max_date timestamp"
    ).parquet(man_dir)
    keep = [
        r["file_path"]
        for r in manifest.where(
            (F.col("max_date") >= F.lit(lo).cast("timestamp"))
            & (F.col("min_date") < F.lit(hi).cast("timestamp"))
        ).collect()  # manifest rows = file count: the planner-sized list
    ]
    pruned = spark.read.schema(schema).parquet(*keep)
    return pruned.where(
        (F.col("o_orderdate") >= F.lit(lo).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(hi).cast("timestamp"))
    ).select("o_orderkey", "o_custkey", rnd(F.col("o_totalprice"), "price"))


_SAMPLE_SALT = 15485863  # 1e6-th prime; distinct from the quality.py salts
_SAMPLE_THRESH = 429496729  # floor(0.1 * 2^32): 10% Bernoulli keep rate


@register(
    "scan_sample",
    oracle=f"""
SELECT l_orderkey, l_linenumber
FROM lineitem
WHERE {mix32_sql(f"(l_orderkey * 7 + l_linenumber + {_SAMPLE_SALT}) % 2147483648")}
      < {_SAMPLE_THRESH}
""",
)
def scan_sample(spark, sf_dir):
    """Content-addressed Bernoulli sample (data-selection primitive for
    training pipelines): keep iff mix32(key) < 0.1 * 2^32, where key is
    a pure function of the row's identity — so the sample is identical
    on ANY partitioning, any cluster size, and any engine (r6
    exact-oracle upgrade; Spark's built-in ``.sample(seed=)`` draws
    per-partition XORShift streams, so a repartition silently yields a
    different subset — the reproducibility hazard this rewrite removes;
    fraction still checked within binomial bounds in tests). The key
    folds the composite (orderkey, linenumber) and wraps at 2^31 to
    stay inside the mixer's bit-exact input range at any scale."""
    li = table(spark, sf_dir, "lineitem")
    key = (
        F.col("l_orderkey") * 7 + F.col("l_linenumber") + F.lit(_SAMPLE_SALT)
    ) % F.lit(2147483648)
    return (
        li.filter(mix32(key) < F.lit(_SAMPLE_THRESH))
        .select("l_orderkey", "l_linenumber")
    )


_STRAT_SALT = 32452843  # 2e6-th prime
_STRAT_FRACTIONS = {"en": 0.2, "de": 1.0, "es": 0.5, "fr": 1.0, "zh": 1.0}


def _strat_oracle() -> str:
    cases = " ".join(
        f"WHEN '{lang}' THEN {int(frac * 4294967296)}"
        for lang, frac in sorted(_STRAT_FRACTIONS.items())
    )
    return f"""
SELECT doc_id, lang
FROM documents
WHERE {mix32_sql(f"doc_id + {_STRAT_SALT}")}
      < (CASE lang {cases} ELSE 0 END)
"""


@register("scan_stratified", oracle=_strat_oracle())
def scan_stratified(spark, sf_dir):
    """Stratified sampling: per-class keep fractions — the data-mixing
    primitive for training-set curation (e.g. downsample the dominant
    language, keep the rare ones). The coin is mix32(doc_id + salt)
    compared against a per-stratum threshold (r6 exact-oracle upgrade;
    was ``sampleBy(seed=)``, whose per-partition RNG streams change the
    subset on repartition — this rewrite is partition- and
    engine-invariant, the property a resumable 100 TB curation run
    needs). Thresholds ride a small CASE expression, not a join — the
    stratum table is query-constant. Per-stratum counts checked in
    tests."""
    thresh = F.lit(0)
    for lang, frac in sorted(_STRAT_FRACTIONS.items()):
        thresh = F.when(F.col("lang") == lang, F.lit(int(frac * 4294967296))).otherwise(
            thresh
        )
    return (
        table(spark, sf_dir, "documents")
        .filter(mix32(F.col("doc_id") + F.lit(_STRAT_SALT)) < thresh)
        .select("doc_id", "lang")
    )
