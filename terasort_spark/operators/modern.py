"""Modern Spark 4 surface: VARIANT, pipe SQL, collations, XML source,
and RAG-style document chunking.

These queries exercise engine features introduced in Spark 4.x that a
user migrating from any reference engine would expect a current
PySpark-native stack to cover:

- ``fn_variant``    — semi-structured shredding via the open VARIANT
  type (``parse_json`` → ``variant_get``): the scale path for JSON-heavy
  event logs, because variant decode happens once at the scan and typed
  extraction is codegen, not per-row string re-parsing.
- ``sql_pipe``      — SQL pipe syntax (``|>``), the linear dataflow
  dialect; compiles to the identical Catalyst plan as the classic form.
- ``fn_collate``    — collation-aware comparison/distinct
  (``COLLATE UTF8_LCASE``): case-insensitive semantics pushed into the
  engine instead of ``lower()`` wrappers at every call site.
- ``source_xml``    — built-in XML source (Spark 4 absorbed spark-xml):
  write + schema-pinned read round trip.
- ``text_chunk``    — overlapping token-window chunking (window 16,
  stride 12): the RAG/pretraining primitive that splits each document
  into retrieval units. Pure codegen (split/sequence/explode/slice) —
  no UDF, no shuffle until a consumer aggregates; at 100 TB the fan-out
  is a bounded per-row multiplier (~n_tokens/stride), never a join.

Determinism: D1–D6 conventions from ``operators/_util`` apply; chunk
hashes are md5 over the exact joined token string on both engines.
"""

from __future__ import annotations

import shutil

from pyspark.sql import Window
from pyspark.sql import functions as F

from terasort_spark.catalog import table
from terasort_spark.operators._util import hex_int, o_hex_int, rnd, scratch_dir
from terasort_spark.registry import register

# Chunking geometry: 16-token windows, stride 12 (25% overlap).
CHUNK_W = 16
CHUNK_S = 12


@register(
    "fn_variant",
    oracle="""
SELECT event_type,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
       COUNT(*) AS n
FROM events
GROUP BY event_type
""",
)
def fn_variant(spark, sf_dir):
    """Shred events.props (JSON strings) into VARIANT once, then do all
    typed extraction with ``variant_get`` — at 100 TB this parses each
    payload exactly once into the binary variant encoding; every
    downstream field access is an O(1) path lookup in codegen, unlike
    ``get_json_object`` which re-parses the string per call."""
    e = table(spark, sf_dir, "events")
    return (
        e.select(
            "event_type",
            F.expr("variant_get(parse_json(props), '$.k', 'bigint')").alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.count(F.lit(1)).alias("n"),
        )
    )


_PIPE_ORACLE = """
SELECT l_returnflag, l_linestatus,
       floor((CAST(sum(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE)) * 10000 + 0.5) / 10000 AS sum_qty,
       floor((CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(25,6))) AS DOUBLE)) * 10000 + 0.5) / 10000 AS sum_disc_price,
       COUNT(*) AS n
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


@register("sql_pipe", oracle=_PIPE_ORACLE)
def sql_pipe(spark, sf_dir):
    """SQL pipe syntax (Spark 4 ``|>``): the same pricing-summary
    aggregate as ``agg_group``, written as a linear dataflow. Pipe
    operators are pure surface syntax — Catalyst receives the identical
    logical plan (filter → partial agg → exchange → final agg), so every
    scale property of the classic form carries over unchanged
    (asserted plan-identical in tests/test_modern.py)."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
FROM lineitem
|> WHERE l_shipdate <= TIMESTAMP '1998-09-02'
|> EXTEND l_extendedprice * (1 - l_discount) AS disc_price
|> AGGREGATE
     floor(CAST(sum(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) * 10000 + 0.5) / 10000 AS sum_qty,
     floor(CAST(sum(CAST(disc_price  AS DECIMAL(25,6))) AS DOUBLE) * 10000 + 0.5) / 10000 AS sum_disc_price,
     COUNT(*) AS n
   GROUP BY l_returnflag, l_linestatus
"""
    )


@register(
    "fn_collate",
    oracle="""
WITH mixed AS (
  SELECT CASE WHEN c_custkey % 2 = 0 THEN upper(c_mktsegment)
              ELSE lower(c_mktsegment) END AS seg
  FROM customer
)
SELECT COUNT(DISTINCT seg)        AS n_distinct_binary,
       COUNT(DISTINCT lower(seg)) AS n_distinct_ci,
       CAST(SUM(CASE WHEN lower(seg) = 'building' THEN 1 ELSE 0 END) AS BIGINT) AS n_building
FROM mixed
""",
)
def fn_collate(spark, sf_dir):
    """Collation-aware semantics (Spark 4 ``COLLATE UTF8_LCASE``): the
    engine-native form of case-insensitive comparison. A case-mixed
    segment column yields 10 binary-distinct values but 5 under the
    case-insensitive collation, and collated equality matches both
    casings of 'BUILDING'. At scale this beats ``lower()`` wrappers:
    the collation is part of the type, so every comparison/join/group on
    the column is consistently case-insensitive without per-call-site
    normalization expressions."""
    c = table(spark, sf_dir, "customer")
    mixed = c.select(
        F.when(
            F.col("c_custkey") % 2 == 0, F.upper("c_mktsegment")
        )
        .otherwise(F.lower("c_mktsegment"))
        .alias("seg")
    )
    return mixed.select(
        F.expr("seg COLLATE UTF8_BINARY").alias("seg_bin"),
        F.expr("seg COLLATE UTF8_LCASE").alias("seg_ci"),
    ).agg(
        F.countDistinct("seg_bin").alias("n_distinct_binary"),
        F.countDistinct("seg_ci").alias("n_distinct_ci"),
        F.sum(
            F.when(F.expr("seg_ci = 'BuIlDiNg' COLLATE UTF8_LCASE"), 1).otherwise(0)
        ).alias("n_building"),
    )


@register("source_xml", oracle="SELECT * FROM nation")
def source_xml(spark, sf_dir):
    """XML source round trip (built-in since Spark 4 absorbed
    spark-xml): write nation as <rows><row>…</row></rows>, read back
    with the schema pinned from the parquet original — no inference
    pass, so types survive exactly. XML is a row-framed format like
    JSONL: splittable per file, scans parallelize across files."""
    out = scratch_dir(spark, "src_xml")
    shutil.rmtree(out, ignore_errors=True)
    nation = table(spark, sf_dir, "nation")
    (
        nation.write.mode("overwrite")
        .format("xml")
        .option("rootTag", "rows")
        .option("rowTag", "row")
        .save(out)
    )
    return (
        spark.read.format("xml")
        .option("rowTag", "row")
        .schema(nation.schema)
        .load(out)
    )


@register(
    "text_chunk",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t, len(string_split(text, ' ')) AS n
  FROM documents
), starts AS (
  SELECT doc_id, t, unnest(generate_series(1, n, {CHUNK_S})) AS chunk_start
  FROM toks
)
SELECT doc_id,
       chunk_start,
       len(list_slice(t, chunk_start, chunk_start + {CHUNK_W} - 1)) AS chunk_len,
       md5(array_to_string(list_slice(t, chunk_start, chunk_start + {CHUNK_W} - 1), ' ')) AS chunk_md5
FROM starts
""",
)
def text_chunk(spark, sf_dir):
    """Overlapping token-window chunking: every document becomes
    ceil(n_tokens/stride) chunks of ≤16 tokens with 4-token overlap —
    the unit RAG indexes and packing pipelines consume. All codegen:
    split → sequence(1, n, stride) → explode → slice → md5. The fan-out
    multiplier is bounded by document length over stride, so a 100 TB
    corpus chunks in one narrow-dependency map stage with zero
    shuffles; chunk identity is content-addressed (md5 of the exact
    token string), making downstream chunk-level dedup a groupBy away."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split(F.col("text"), " ").alias("t")).withColumn(
        "n", F.size("t")
    )
    return (
        toks.withColumn(
            "chunk_start",
            F.explode(F.sequence(F.lit(1), F.col("n"), F.lit(CHUNK_S))),
        )
        .withColumn("chunk", F.slice(F.col("t"), F.col("chunk_start"), CHUNK_W))
        .select(
            "doc_id",
            F.col("chunk_start").cast("bigint").alias("chunk_start"),
            F.size("chunk").cast("bigint").alias("chunk_len"),
            F.md5(F.array_join("chunk", " ").cast("binary")).alias("chunk_md5"),
        )
    )


_DEDUP_CHUNK_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t, len(string_split(text, ' ')) AS n
  FROM documents
), starts AS (
  SELECT doc_id, t, unnest(generate_series(1, n, {CHUNK_S})) AS chunk_start
  FROM toks
), chunks AS (
  SELECT doc_id, chunk_start,
         md5(array_to_string(list_slice(t, chunk_start, chunk_start + {CHUNK_W} - 1), ' ')) AS chunk_md5
  FROM starts
), owned AS (
  SELECT doc_id, chunk_start, chunk_md5,
         row_number() OVER (PARTITION BY chunk_md5
                            ORDER BY doc_id, chunk_start) AS rn
  FROM chunks
)
SELECT doc_id,
       COUNT(*) AS n_chunks,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_canonical,
       CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
FROM owned
GROUP BY doc_id
"""


@register("dedup_chunk", oracle=_DEDUP_CHUNK_ORACLE)
def dedup_chunk(spark, sf_dir):
    """Cross-document chunk-level dedup: every 16-token chunk is
    content-addressed by md5; the canonical owner of a chunk is the
    (doc_id, chunk_start)-smallest occurrence, everything else is a
    duplicate. This is the chunk-granularity variant of corpus dedup
    (exact-span repetition across documents — boilerplate, licenses,
    quoted passages) that document-level hashing can't see.

    Scale shape: the chunking stage is the zero-shuffle ``text_chunk``
    map; dedup adds exactly ONE hash shuffle on chunk_md5 (window
    row_number keyed by the hash — same key distribution as a groupBy)
    plus one groupBy on doc_id. Both keys are high-cardinality and
    uniform (md5), so no salting is needed at 100 TB."""
    chunks = text_chunk(spark, sf_dir)
    from pyspark.sql import Window

    w = Window.partitionBy("chunk_md5").orderBy("doc_id", "chunk_start")
    owned = chunks.withColumn("rn", F.row_number().over(w))
    return owned.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("n_canonical"),
        F.sum(F.when(F.col("rn") > 1, 1).otherwise(0)).alias("n_dup"),
    )


def _mrl_oracle() -> str:
    from terasort_spark.operators._util import o_rnd
    from terasort_spark.operators.llm_similarity import dot_sql, norm_sql

    def cos(a, b):
        return f"{dot_sql(a, b)} / ({norm_sql(a)} * {norm_sql(b)})"

    pre_q = f"list_slice(q.embedding, 1, {MRL_DIMS})"
    pre_c = f"list_slice(c.embedding, 1, {MRL_DIMS})"
    return f"""
WITH shortlist AS (
  SELECT q_id, c_id, q_emb, c_emb, rn16 FROM (
    SELECT q.vec_id AS q_id, c.vec_id AS c_id,
           q.embedding AS q_emb, c.embedding AS c_emb,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {o_rnd(cos(pre_q, pre_c))} DESC, c.vec_id) AS rn16
    FROM (SELECT * FROM embeddings WHERE vec_id < 10) q
    JOIN embeddings c ON c.vec_id != q.vec_id
  ) WHERE rn16 <= {MRL_SHORTLIST}
)
SELECT q_id, c_id, cosine, rn FROM (
  SELECT q_id, c_id,
         {o_rnd(cos('q_emb', 'c_emb'), 'cosine')},
         CAST(row_number() OVER (
           PARTITION BY q_id
           ORDER BY {o_rnd(cos('q_emb', 'c_emb'))} DESC, c_id) AS INTEGER) AS rn
  FROM shortlist
) WHERE rn <= 5
"""


# Matryoshka geometry: rank on the first 16 of 64 dims, shortlist 32.
MRL_DIMS = 16
MRL_SHORTLIST = 32


@register("sim_cosine_mrl", oracle=_mrl_oracle())
def sim_cosine_mrl(spark, sf_dir):
    """Matryoshka-style two-stage ANN: shortlist by cosine on the first
    16 of 64 dims (4× less arithmetic and — with a prefix-split storage
    layout — 4× less scan IO), then exact full-dim re-rank of the
    32-candidate shortlist to top-5. MRL-trained embeddings concentrate
    signal in the prefix, making this the standard cheap first stage.
    The synthetic corpus is isotropic random vectors — the WORST case
    for prefix ranking (the 16-dim prefix carries only 1/4 of the
    variance): measured top-5 recall vs the exact scan is 0.54 at
    sf0.01 (0.66 with a 32-dim prefix). On real MRL embeddings the
    prefix is trained to dominate, so production recall is far higher;
    the operator's own output is nonetheless fully deterministic and
    oracle-checked (the oracle replays the same two-stage ranking).

    Scale shape: identical to ``sim_cosine_topk`` (tiny query side
    broadcast, one pass over candidates, per-partition window group
    limit prunes before the shuffle) — the stage-2 re-rank input is
    bounded at shortlist×n_queries rows regardless of corpus size. Both
    stages rank on floor-rounded cosines with c_id tie-breaks, so the
    shortlist boundary is deterministic across engines and partitionings."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("emb")
    )
    q = F.broadcast(
        e.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("q_id"), F.col("emb").alias("q_emb")
        )
    )
    c = e.select(F.col("vec_id").alias("c_id"), F.col("emb").alias("c_emb"))

    from terasort_spark.operators.llm_similarity import dot_fold as dot

    def cos(x, y):
        return dot(x, y) / (F.sqrt(dot(x, x)) * F.sqrt(dot(y, y)))

    from terasort_spark.operators._util import rnd

    pre_q = F.slice("q_emb", 1, MRL_DIMS)
    pre_c = F.slice("c_emb", 1, MRL_DIMS)
    w16 = Window.partitionBy("q_id").orderBy(F.desc("cos16"), F.asc("c_id"))
    shortlist = (
        q.join(c, F.col("c_id") != F.col("q_id"))
        .withColumn("cos16", rnd(cos(pre_q, pre_c)))
        .withColumn("rn16", F.row_number().over(w16))
        .filter(F.col("rn16") <= MRL_SHORTLIST)
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))
    return (
        shortlist.withColumn("cosine", rnd(cos(F.col("q_emb"), F.col("c_emb"))))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("q_id", "c_id", "cosine", "rn")
    )


def agg_sketch_rollup_hll(spark, sf_dir):
    """Apache DataSketches HLL exhibit (NOT registered — the library
    sketch's estimate is engine-private, so it stays a module test;
    mergeability + accuracy pinned in tests/test_modern.py):
    per-priority ``hll_sketch_agg`` over o_custkey, lossless
    ``hll_union_agg`` merge for the grand total. The registered
    ``agg_sketch_rollup`` below proves the identical rollup algebra
    with a PORTABLE sketch that hash-grades against DuckDB."""
    o = table(spark, sf_dir, "orders")
    per = o.groupBy("o_orderpriority").agg(
        F.hll_sketch_agg("o_custkey").alias("sk")
    )
    per_level = per.select(
        "o_orderpriority",
        F.hll_sketch_estimate("sk").alias("n_custkeys"),
    )
    total = per.agg(F.hll_union_agg("sk").alias("sk")).select(
        F.lit("ALL").alias("o_orderpriority"),
        F.hll_sketch_estimate("sk").alias("n_custkeys"),
    )
    return per_level.unionAll(total)


# Portable KMV rollup (r11 VERDICT task 3): same parameters as
# sketches.agg_kmv_theta so the sketch family is consistent repo-wide.
_SKR_K = 64
_SKR_POW = f"{1 << 60}.0E0"  # 2^60 exactly representable as a double


@register(
    "agg_sketch_rollup",
    oracle=f"""
WITH h AS (
  SELECT DISTINCT o_orderpriority AS pr,
         {o_hex_int("md5(CAST(o_custkey AS VARCHAR))", 15)} AS h
  FROM orders
),
samp AS (
  SELECT pr, h,
         row_number() OVER (PARTITION BY pr ORDER BY h) AS rn
  FROM h
),
kept AS (SELECT pr, h FROM samp WHERE rn <= {_SKR_K}),
per AS (
  SELECT pr, max(h) AS theta, CAST(count(*) AS BIGINT) AS n_samp
  FROM kept GROUP BY pr
),
merged AS (
  SELECT h FROM (SELECT DISTINCT h FROM kept) ORDER BY h LIMIT {_SKR_K}
),
allrow AS (
  SELECT 'ALL' AS pr, max(h) AS theta, CAST(count(*) AS BIGINT) AS n_samp
  FROM merged
),
ex AS (
  SELECT pr, CAST(count(*) AS BIGINT) AS n_exact FROM h GROUP BY pr
  UNION ALL
  SELECT 'ALL', CAST(count(DISTINCT h) AS BIGINT) FROM h
)
SELECT u.pr AS o_orderpriority,
       round(CASE WHEN n_samp < {_SKR_K} THEN CAST(n_samp AS DOUBLE)
                  ELSE {_SKR_K - 1}.0E0 * {_SKR_POW} / theta END,
             4) AS est_custkeys,
       n_samp, n_exact
FROM (SELECT * FROM per UNION ALL SELECT * FROM allrow) u
JOIN ex ON ex.pr = u.pr
""",
)
def agg_sketch_rollup(spark, sf_dir):
    """Re-aggregatable distinct counting with a PORTABLE KMV (bottom-k)
    sketch, hash-graded end-to-end (upgraded from rows-only in round
    12; the DataSketches HLL twin lives on as the module-test exhibit
    ``agg_sketch_rollup_hll``): per o_orderpriority keep the k={64}
    smallest 60-bit md5-slice hashes of o_custkey; the rollup's 'ALL'
    row merges the per-group samples by re-taking the k smallest —
    the KMV merge rule, whose result is IDENTICAL to sketching the
    unfiltered column (global k-smallest ⊆ union of per-group
    k-smallest), which is exactly the lossless re-aggregation property
    the HLL exhibit pins. Estimate (k-1)·2^60/theta, degrading to the
    exact sample count when |set| < k; exact distinct counts ride
    along to pin the error.

    100 TB: per-group state is a bounded k-row sample produced by one
    row_number window over the distinct-hash set (per-partition top-k,
    no full sort); every rollup level re-aggregates from k-sized
    samples without touching raw data, and the estimate is
    deterministic integer/IEEE math — identical on any engine and any
    partitioning, unlike library sketch registers."""
    o = table(spark, sf_dir, "orders")
    k = _SKR_K
    h = (
        o.select(
            F.col("o_orderpriority").alias("pr"),
            hex_int(F.md5(F.col("o_custkey").cast("string")), 15).alias("h"),
        )
        .distinct()
    )
    w = Window.partitionBy("pr").orderBy("h")
    kept = (
        h.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("pr", "h")
        .localCheckpoint(eager=False)
    )
    per = kept.groupBy("pr").agg(
        F.max("h").alias("theta"),
        F.count(F.lit(1)).cast("bigint").alias("n_samp"),
    )
    allrow = (
        kept.select("h")
        .distinct()
        .orderBy("h")
        .limit(k)
        .agg(
            F.max("h").alias("theta"),
            F.count(F.lit(1)).cast("bigint").alias("n_samp"),
        )
        .select(F.lit("ALL").alias("pr"), "theta", "n_samp")
    )
    ex = h.groupBy("pr").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exact")
    ).unionByName(
        h.select("h")
        .distinct()
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
        .select(F.lit("ALL").alias("pr"), "n_exact")
    )
    est = F.when(
        F.col("n_samp") < k, F.col("n_samp").cast("double")
    ).otherwise(F.expr(f"{k - 1}.0E0 * {_SKR_POW}") / F.col("theta"))
    return (
        per.unionByName(allrow)
        .join(ex, "pr")
        .select(
            F.col("pr").alias("o_orderpriority"),
            rnd(est, "est_custkeys"),
            "n_samp",
            "n_exact",
        )
    )
