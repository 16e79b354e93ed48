"""Persisted ANN index layout (north-star extension): embeddings
written hive-partitioned BY IVF BUCKET, so a nearest-neighbor probe
reads only the matching partition directories — the disk layout that
makes similarity search over a 100 TB embedding corpus a pruned scan
instead of a full pass.

Shares the exact integer-hyperplane quantizer with sim_cosine_ivf
(llm_similarity.ivf_bucket / ivf_proj_sql), so the whole
build → write → prune → re-rank pipeline replays in DuckDB.
"""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from terasort_spark.operators._util import o_rnd, rnd, scratch_dir
from terasort_spark.operators.llm_similarity import (
    COSINE_SQL,
    cosine,
    ivf_bits,
    ivf_bucket,
    ivf_proj_sql,
    ivf_projections,
    micro,
    pq_train_encode,
    side,
    split,
    topk_per,
    vectors,
)
from terasort_spark.registry import register


@register(
    "sink_ann_index",
    oracle=f"""
WITH xu AS (
  SELECT vec_id, embedding,
         list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS v
  FROM embeddings
),
b AS MATERIALIZED (
  SELECT vec_id, embedding,
         (CASE WHEN {ivf_proj_sql(0)} > 0 THEN 1 ELSE 0 END)
       + (CASE WHEN {ivf_proj_sql(1)} > 0 THEN 2 ELSE 0 END)
       + (CASE WHEN {ivf_proj_sql(2)} > 0 THEN 4 ELSE 0 END)
       + (CASE WHEN {ivf_proj_sql(3)} > 0 THEN 8 ELSE 0 END) AS bucket
  FROM xu
)
SELECT q_id, c_id, cosine, rn
FROM (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         {o_rnd(COSINE_SQL, "cosine")},
         CAST(row_number() OVER (
              PARTITION BY q.vec_id
              ORDER BY {o_rnd(COSINE_SQL)} DESC, c.vec_id) AS INTEGER) AS rn
  FROM (SELECT vec_id, embedding, bucket FROM b WHERE vec_id < 5) q
  JOIN b c ON c.bucket = q.bucket AND c.vec_id != q.vec_id
)
WHERE rn <= 3
""",
)
def sink_ann_index(spark, sf_dir):
    """Build a persisted IVF index (embeddings hive-partitioned by
    coarse-quantizer bucket), then answer 5 probes by joining the
    broadcast query frame against the index ON THE PARTITION COLUMN and
    exact-re-ranking cosine top-3 inside the matching buckets.

    The join key IS the directory key, so Spark's dynamic partition
    pruning (or a static IN-filter from the planner) restricts the
    index scan to the probed buckets' directories — at 100 TB the probe
    reads |probed buckets| / 16 of the corpus from disk, and wider
    quantizers (256/4096 lists) shrink that fraction without changing
    the plan shape. The write is one shuffle-free pass (partitionBy on
    a computed column); probes are a broadcast join + per-bucket
    window top-k, never an all-pairs scan. Recall measurement for this
    quantizer lives in tests/test_llm.py (sim_cosine_ivf shares it).

    The returned answer is layout-independent (same rows as an
    unpartitioned bucketed join — the oracle), making this a
    sink-fidelity check too: doubles must round-trip the parquet write
    bit-exactly."""
    out = scratch_dir(spark, "ann_index")
    shutil.rmtree(out, ignore_errors=True)
    eb = vectors(spark, sf_dir).withColumn("bucket", ivf_bucket(micro(F.col("v"))))
    eb.write.mode("overwrite").partitionBy("bucket").parquet(out)

    # explicit schema: an all-empty corpus writes no partition
    # directories, and the re-read must still resolve (sink_parquet
    # empty-input convention). Partition inference would also widen
    # bucket to int anyway; pinning it keeps the probe join key typed.
    # Each vector's norm is stored next to it, as real indexes do.
    idx = side(spark.read.schema(eb.schema).parquet(out), "c")
    q, _ = split(eb, 5)
    pairs = idx.join(
        q, (F.col("c_bucket") == F.col("q_bucket")) & (F.col("c_id") != F.col("q_id"))
    ).withColumn("cosine", rnd(cosine()))
    return topk_per(pairs, 3, "cosine").select("q_id", "c_id", "cosine", "rn")


def _ivfpq_oracle() -> str:
    from terasort_spark.operators.llm_similarity import PQ_CODE_CTES

    bucket_case = (
        f"(CASE WHEN {ivf_proj_sql(0)} > 0 THEN 1 ELSE 0 END)\n"
        f"       + (CASE WHEN {ivf_proj_sql(1)} > 0 THEN 2 ELSE 0 END)\n"
        f"       + (CASE WHEN {ivf_proj_sql(2)} > 0 THEN 4 ELSE 0 END)\n"
        f"       + (CASE WHEN {ivf_proj_sql(3)} > 0 THEN 8 ELSE 0 END)"
    )
    return f"""
WITH e AS MATERIALIZED (
  SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL
),
{PQ_CODE_CTES},
xb AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS v
  FROM e
),
ib AS MATERIALIZED (
  SELECT vec_id, {bucket_case} AS bucket
  FROM xb
),
adots AS MATERIALIZED (
  SELECT l.q_id, c.c_id, sum(l.pdot) AS adot
  FROM codes c
  JOIN lut l ON l.sub_id = c.sub_id AND l.cid = c.cid
  JOIN ib qb ON qb.vec_id = l.q_id
  JOIN ib cb ON cb.vec_id = c.c_id AND cb.bucket = qb.bucket
  WHERE c.c_id != l.q_id
  GROUP BY l.q_id, c.c_id
),
approx AS MATERIALIZED (
  SELECT a.q_id, a.c_id,
         (CAST(a.adot AS DOUBLE) / 1000000000000.0) / (qn.nrm * cn.nrm) AS acos
  FROM adots a
  JOIN norms qn ON qn.vec_id = a.q_id
  JOIN norms cn ON cn.vec_id = a.c_id
),
shortlist AS MATERIALIZED (
  SELECT q_id, c_id FROM (
    SELECT q_id, c_id,
           row_number() OVER (PARTITION BY q_id ORDER BY acos DESC, c_id) AS arn
    FROM approx) WHERE arn <= 32
)
SELECT q_id, c_id, cosine, rn FROM (
  SELECT s.q_id, s.c_id,
         {o_rnd(COSINE_SQL, "cosine")},
         CAST(row_number() OVER (PARTITION BY s.q_id
              ORDER BY {o_rnd(COSINE_SQL)} DESC, s.c_id) AS INTEGER) AS rn
  FROM shortlist s
  JOIN e q ON q.vec_id = s.q_id
  JOIN e c ON c.vec_id = s.c_id
) WHERE rn <= 3
"""


@register("sim_cosine_ivfpq", oracle=_ivfpq_oracle())
def sim_cosine_ivfpq(spark, sf_dir):
    """FAISS-style IVF-PQ: the coarse 16-list IVF quantizer routes every
    vector to a hive partition (sink_ann_index's disk layout) and each
    vector is stored as PQ_SUB byte-sized PQ codes + its norm + the full
    vector for the refine step. A probe (nprobe=1, the query's own
    list) reads ONLY the matching partition directory — dynamic
    partition pruning on the bucket join key — ADC-scores the codes in
    that list against the query's lookup table, shortlists top-32 by
    approximate cosine, and exact-re-ranks cosine top-3 from the stored
    full vectors.

    Composes the two proven pieces verbatim: the coarse quantizer is
    sim_cosine_ivf's integer-hyperplane ivf_bucket and the codebooks/
    codes/LUT come from pq_train_encode (sim_cosine_pq's machinery —
    shared function AND shared oracle CTE chain, so the three operators
    can never drift). 100 TB: the scan cost per probe is
    |probed lists|/16 of the corpus read as 8-byte codes (not
    256-byte vectors); codebook training touches a PQ_K-seeded sample;
    the refine step reads 32 full vectors per query. The quantized scan
    and the directory pruning COMPOUND — this is the layout
    billion-vector services actually deploy."""
    out = scratch_dir(spark, "ivfpq")
    shutil.rmtree(out, ignore_errors=True)
    e = vectors(spark, sf_dir, "embedding").filter(F.col("embedding").isNotNull())
    e = e.withColumn("vu", micro(F.col("v")))
    pq = pq_train_encode(spark, e, q_cut=10)
    if pq is None:  # empty corpus
        return spark.createDataFrame(
            [], "q_id bigint, c_id bigint, cosine double, rn int"
        )
    _sub, codes, lut = pq
    # pack per-vector codes into the compact array layout a real PQ
    # index stores (array position == sub_id), norm alongside
    code_arr = (
        codes.groupBy("c_id")
        .agg(F.array_sort(F.collect_list(F.struct("sub_id", "cid"))).alias("pm"))
        .select(F.col("c_id").alias("vec_id"), F.col("pm.cid").alias("code"))
    )
    eb = e.withColumn("bucket", ivf_bucket(F.col("vu")))
    idx_rows = eb.join(code_arr, "vec_id").select(
        "vec_id", "v", "nrm", "code", "bucket"
    )
    idx_rows.write.mode("overwrite").partitionBy("bucket").parquet(out)
    idx = side(spark.read.schema(idx_rows.schema).parquet(out), "c")

    # probe: broadcast query routing; the bucket join key IS the
    # partition directory key -> DPP restricts the scan to probed lists
    q, _ = split(eb, 10)
    cand = idx.join(
        q.select("q_id", "q_bucket"),
        (F.col("c_bucket") == F.col("q_bucket")) & (F.col("c_id") != F.col("q_id")),
    )
    adc = (
        cand.select("q_id", "c_id", "c_nrm", F.posexplode("c_code").alias("sub_id", "cid"))
        .join(lut, ["q_id", "sub_id", "cid"])
        .groupBy("q_id", "c_id", "c_nrm")
        .agg(F.sum("pdot").alias("adot"))
    )
    approx = adc.join(q.select("q_id", "q_nrm"), "q_id").withColumn(
        "acos",
        (F.col("adot").cast("double") / F.lit(1000000000000.0))
        / (F.col("q_nrm") * F.col("c_nrm")),
    )
    shortlist = topk_per(approx, 32, "acos", rn="arn").select("q_id", "c_id")
    # refine: exact cosine over the 32 stored full vectors per query
    exact = (
        shortlist.join(q.select("q_id", "q_v", "q_nrm"), "q_id")
        .join(idx.select("c_id", "c_v", "c_nrm"), "c_id")
        .withColumn("cosine", rnd(cosine()))
    )
    return topk_per(exact, 3, "cosine").select("q_id", "c_id", "cosine", "rn")


def _nprobe_oracle(nprobe: int, q_cut: int) -> str:
    """Margin-ranked multi-probe replay: per query, sort the 4
    hyperplanes by |projection| ascending and probe the own bucket plus
    the buckets reached by flipping the (nprobe-1) narrowest-margin
    signs — exact int64 end to end."""
    pj = ",\n         ".join(f"{ivf_proj_sql(j)} AS p{j}" for j in range(4))
    bucket = " + ".join(
        f"(CASE WHEN p{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(4)
    )
    ms = ", ".join(f"{{'m': abs(p{j}), 'j': {j}}}" for j in range(4))
    flips = ", ".join(
        f"xor(bucket, ([1,2,4,8])[(ms[{k + 1}]).j + 1])"
        for k in range(nprobe - 1)
    )
    probes = f"bucket{', ' + flips if flips else ''}"
    return f"""
WITH xu AS (
  SELECT vec_id, embedding,
         list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS v
  FROM embeddings WHERE embedding IS NOT NULL
),
pj AS MATERIALIZED (
  SELECT vec_id, embedding,
         {pj}
  FROM xu
),
b AS MATERIALIZED (
  SELECT vec_id, embedding, {bucket} AS bucket,
         list_sort([{ms}]) AS ms
  FROM pj
),
probes AS MATERIALIZED (
  SELECT vec_id, embedding, unnest([{probes}]) AS bucket
  FROM b WHERE vec_id < {q_cut}
)
SELECT q_id, c_id, cosine, rn
FROM (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         {o_rnd(COSINE_SQL, "cosine")},
         CAST(row_number() OVER (
              PARTITION BY q.vec_id
              ORDER BY {o_rnd(COSINE_SQL)} DESC, c.vec_id) AS INTEGER) AS rn
  FROM probes q
  JOIN b c ON c.bucket = q.bucket AND c.vec_id != q.vec_id
)
WHERE rn <= 5
"""


_NPROBE = 3  # own list + the 2 narrowest-margin sign flips
_NPROBE_QCUT = 30


def _ivf_nprobe_df(spark, sf_dir, nprobe: int, q_cut: int = _NPROBE_QCUT):
    """Shared builder for sim_cosine_ivf_nprobe and its recall test
    (which runs it at nprobe=1 to measure the lift)."""
    e = vectors(spark, sf_dir, "embedding").filter(F.col("embedding").isNotNull())
    eb = e.withColumn("pj", ivf_projections(micro(F.col("v")))).withColumn(
        "bucket", ivf_bits(F.col("pj"))
    )
    q, c = split(eb, q_cut)
    # the (margin, plane) pairs sorted by margin; flip the narrowest first
    ms = F.sort_array(
        F.array(
            *[
                F.struct(F.abs(F.col("q_pj")[j]).alias("m"), F.lit(j).alias("j"))
                for j in range(4)
            ]
        )
    )
    flips = F.array(*[F.lit(1 << k) for k in range(4)])
    bkt = F.col("q_bucket")
    probes = [bkt] + [
        bkt.bitwiseXOR(F.element_at(flips, ms.getItem(k).getField("j") + 1))
        for k in range(nprobe - 1)
    ]
    q = q.select("q_id", "q_v", "q_nrm", F.explode(F.array(*probes)).alias("q_bucket"))
    pairs = q.join(
        c, (F.col("c_bucket") == F.col("q_bucket")) & (F.col("c_id") != F.col("q_id"))
    ).withColumn("cosine", rnd(cosine()))
    return topk_per(pairs, 5, "cosine").select("q_id", "c_id", "cosine", "rn")


@register("sim_cosine_ivf_nprobe", oracle=_nprobe_oracle(_NPROBE, _NPROBE_QCUT))
def sim_cosine_ivf_nprobe(spark, sf_dir):
    """FAISS-style MARGIN-RANKED multi-probe IVF (r9 VERDICT task 3 —
    the nprobe dial sink_ann_index/sim_cosine_ivfpq lacked): each query
    probes its own coarse list plus the lists reached by flipping the
    signs of its (nprobe-1) NARROWEST-margin hyperplanes — the
    projections whose sign decision was least confident, exactly where
    near neighbors land on the far side of a cutting plane. nprobe=3
    scans a bounded 3/16 of the corpus per probe (vs 1/16 at nprobe=1
    and 5/16 for sim_cosine_ivf's blanket Hamming-1 fan); the recall
    lift over nprobe=1 at that bounded extra scan is asserted
    strictly in tests/test_similarity.py (hit@5 vs exact brute force).

    Exact oracle end to end: margins |p_j| are the SAME int64
    hyperplane projections whose signs form the bucket
    (llm_similarity.ivf_projection — one definition for bucket and
    margin, so the probe order can never drift from the quantizer),
    ranked via sorted (m, j) structs in both engines; probe-list
    construction, in-list cosine and top-5 all reuse the proven
    sim_cosine_ivf contract. 100 TB: probes stay an equi-join against
    the bucket-partitioned layout (DPP-prunable exactly like
    sink_ann_index's directory read); the margin sort is over 4
    numbers per query row."""
    return _ivf_nprobe_df(spark, sf_dir, _NPROBE)


_ANN_INC_SCHEMA = "vec_id bigint, emb array<double>, src string, bucket int"


def _ann_inc_bucketed(spark, sf_dir, src_filter, src_tag):
    e = vectors(spark, sf_dir, "embedding")
    e = e.filter(F.col("embedding").isNotNull() & src_filter)
    return e.select(
        "vec_id",
        F.col("v").alias("emb"),
        F.lit(src_tag).alias("src"),
        ivf_bucket(micro(F.col("v"))).alias("bucket"),
    )


def _ann_inc_build(spark, sf_dir, out):
    """Phase 1: full build of the base IVF layout (vec_id % 10 != 0)."""
    shutil.rmtree(out, ignore_errors=True)
    base = _ann_inc_bucketed(spark, sf_dir, F.col("vec_id") % 10 != 0, "base")
    base.write.mode("overwrite").partitionBy("bucket").parquet(out)


def _ann_inc_ingest(spark, sf_dir, out):
    """Phase 2: APPEND the new batch (vec_id % 10 == 0) into the same
    layout. mode('append') + partitionBy only ADDS files under the
    buckets the batch routes to; every existing base file is untouched
    (asserted file-level in tests/test_similarity.py)."""
    batch = _ann_inc_bucketed(spark, sf_dir, F.col("vec_id") % 10 == 0, "batch")
    batch.write.mode("append").partitionBy("bucket").parquet(out)


@register(
    "sink_ann_incremental",
    oracle=f"""
WITH xu AS (
  SELECT vec_id,
         list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS v
  FROM embeddings WHERE embedding IS NOT NULL
)
SELECT vec_id,
       (CASE WHEN {ivf_proj_sql(0)} > 0 THEN 1 ELSE 0 END)
     + (CASE WHEN {ivf_proj_sql(1)} > 0 THEN 2 ELSE 0 END)
     + (CASE WHEN {ivf_proj_sql(2)} > 0 THEN 4 ELSE 0 END)
     + (CASE WHEN {ivf_proj_sql(3)} > 0 THEN 8 ELSE 0 END) AS bucket,
       CASE WHEN vec_id % 10 = 0 THEN 'batch' ELSE 'base' END AS src
FROM xu
""",
)
def sink_ann_incremental(spark, sf_dir):
    """Incremental ANN index maintenance — the ingest twin of
    dedup_fuzzy_ingest: a new embedding batch (vec_id % 10 == 0) is
    appended into the existing hive-partitioned IVF layout WITHOUT
    rebuilding untouched lists. The coarse quantizer routes each new
    vector to its bucket directory and mode('append') adds files only
    there — base files are never rewritten (file-level mtime/size
    assertion in tests/test_similarity.py), which is what makes a 100 TB
    index maintainable: ingest cost is O(batch), not O(index), and
    readers keep dynamic partition pruning over the same directory
    keys (sink_ann_index / sim_cosine_ivfpq share this layout).

    The returned frame is the full index read back — every vector with
    its list assignment and provenance — which must equal the from-
    scratch relational assignment (the oracle): append-maintenance is
    an execution strategy, never a semantics change."""
    out = scratch_dir(spark, "ann_inc")
    _ann_inc_build(spark, sf_dir, out)
    _ann_inc_ingest(spark, sf_dir, out)
    return (
        spark.read.schema(_ANN_INC_SCHEMA).parquet(out)
        .select("vec_id", "bucket", "src")
    )
