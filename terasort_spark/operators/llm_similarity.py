"""Similarity-search operators for LLM data pipelines (north-star
extension): exact n-gram Jaccard pairs, brute-force cosine top-k, kNN
majority-label classification, quantized retrieval (PQ, SQ8, binary
codes), late-interaction MaxSim, edit distance and source-level MinHash
sketches.

Scale design: the declared queries are the exact baselines at corpus
scale; the 100 TB path swaps the all-pairs step for the banded
MinHash-LSH candidate join (llm_dedup.dedup_minhash) or an IVF-style
bucketed cosine (coarse quantizer key → per-bucket brute force) — both
equi-key joins, no cartesian product. See tests/test_llm.py.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from terasort_spark.catalog import table
from terasort_spark.operators._util import hex_int, o_hex_int, o_rnd, rnd
from terasort_spark.operators.llm_dedup import BUCKET_M, N_HASHES, PERM_A, PERM_B
from terasort_spark.registry import register

TAU = 0.9  # Jaccard threshold (p95 of the corpus pair distribution)


@register(
    "sim_jaccard",
    oracle=f"""
WITH t AS (
  SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS toks
  FROM documents WHERE doc_id < 200
)
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       {o_rnd("CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / len(list_distinct(a.toks || b.toks))", "jaccard")}
FROM t a JOIN t b ON a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
      / len(list_distinct(a.toks || b.toks)) >= {TAU}
""",
)
def sim_jaccard(spark, sf_dir):
    """Exact Jaccard >= TAU pairs via PREFIX FILTERING (AllPairs/PPJoin
    prefix-filter principle): order the token universe by ascending
    document frequency; if J(a,b) >= tau then |a∩b| >= ceil(tau*|a|)
    and >= ceil(tau*|b|), so the first |s| - ceil(tau*|s|) + 1 tokens of
    each set (rarest first) must share at least one token. Candidate
    generation is therefore an EQUI-join on prefix tokens — recall is
    exactly 1 (same answer as the all-pairs formulation, same oracle),
    and the plan contains no BroadcastNestedLoopJoin / cartesian
    product. Prefix tokens are by construction the rarest, so join
    buckets stay small at any corpus size; the exact-verify step touches
    only candidate pairs. This is the scale path for exact-threshold
    similarity; the probabilistic path (banded MinHash-LSH with a
    per-doc cap) lives in llm_dedup.dedup_minhash.
    """
    docs = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", F.array_distinct(F.split(F.lower("text"), " ")).alias("toks"))
    )
    tok = docs.select("doc_id", F.explode("toks").alias("token"))
    df_counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    w_rank = Window.partitionBy("doc_id").orderBy("df", "token")
    w_doc = Window.partitionBy("doc_id")
    ranked = (
        tok.join(df_counts, "token")
        .withColumn("rn", F.row_number().over(w_rank))
        .withColumn("n", F.count(F.lit(1)).over(w_doc))
    )
    # prefix length = n - ceil(tau*n) + 1, with ceil(0.9n) as exact
    # integer arithmetic floor((9n+9)/10) — float tau*n would round the
    # wrong way for multiples of 10 and silently drop qualifying pairs
    assert TAU == 0.9, "prefix length below is specialized to tau=0.9"
    prefix_len = F.col("n") - F.floor((9 * F.col("n") + 9) / 10) + 1
    prefix = ranked.filter(F.col("rn") <= prefix_len).select("doc_id", "token")
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .dropDuplicates(["a_id", "b_id"])
    )
    t_a = docs.select(F.col("doc_id").alias("a_id"), F.col("toks").alias("a_toks"))
    t_b = docs.select(F.col("doc_id").alias("b_id"), F.col("toks").alias("b_toks"))
    jacc = F.size(F.array_intersect("a_toks", "b_toks")).cast("double") / F.size(
        F.array_union("a_toks", "b_toks")
    )
    return (
        cand.join(t_a, "a_id")
        .join(t_b, "b_id")
        .withColumn("jaccard", rnd(jacc))
        .filter(F.col("jaccard") >= TAU)
        .select("a_id", "b_id", "jaccard")
    )


def dot_fold(x, y):
    """THE dot-product fold every cosine operator (and its oracle's
    list_sum twin) depends on bit-for-bit: a sequential left fold over
    zip_with products with a 0.0 init. One definition — callers
    (sim_cosine_topk/knn_label/sim_cosine_ivf/gemm verify/ml_mrr) must
    import this rather than re-stating it, so the fold order/init can
    never silently diverge between the index and its evaluator."""
    return F.aggregate(
        F.zip_with(x, y, lambda a, b: a * b), F.lit(0.0), lambda acc, v: acc + v
    )


def dot_sql(a, b):
    return (
        f"list_sum(list_transform(list_zip({a}, {b}), "
        f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    )


def norm_sql(a):
    return f"sqrt({dot_sql(a, a)})"


COSINE_SQL = f"{dot_sql('q.embedding', 'c.embedding')} / ({norm_sql('q.embedding')} * {norm_sql('c.embedding')})"


def ivf_proj_sql(j: int) -> str:
    """Integer hyperplane projection for IVF bucket bit j: 6dp-quantized
    coordinates (CTE column ``v``) dotted with mix32-derived signed
    weights — exact int64, matching the Spark expression bit-for-bit.
    Spark's transform index is 0-based, DuckDB's range is 1-based, hence
    the i - 1."""
    from terasort_spark.sources.tera_queries import mix32_sql

    return (
        "list_sum(list_transform(range(1, len(v) + 1), "
        f"i -> v[i] * ({mix32_sql(f'{j * 1000} + i - 1')} - 2147483648)))"
    )


# Shared by sim_cosine_topk and sim_cosine_gemm: both declare the same
# (q_id, c_id, cosine@4dp, rn) contract, so the same DuckDB twin grades
# both — the GEMM path's BLAS dot products land on identical 4dp values
# (proven row-identical to the HOF path in tests/test_llm.py).
COSINE_TOPK_ORACLE = f"""
SELECT q_id, c_id, cosine, rn
FROM (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         {o_rnd(COSINE_SQL, "cosine")},
         CAST(row_number() OVER (
              PARTITION BY q.vec_id
              ORDER BY {o_rnd(COSINE_SQL)} DESC, c.vec_id) AS INTEGER) AS rn
  FROM (SELECT * FROM embeddings WHERE vec_id < 10) q
  JOIN embeddings c ON c.vec_id != q.vec_id
)
WHERE rn <= 5
"""


@register("sim_cosine_topk", oracle=COSINE_TOPK_ORACLE)
def sim_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-5 for 10 query vectors.

    Dot products via JVM higher-order functions (zip_with + aggregate)
    over double-cast elements — identical sequential fold order on both
    engines, floor-rounded. The broadcast of the tiny query side means
    the candidate scan is a single pass, embarrassingly parallel; at
    1000× scale the same plan holds (queries broadcast, candidates
    partition-local top-k via the rn<=5 window group limit)."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("emb")
    )
    q = F.broadcast(
        e.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("q_id"), F.col("emb").alias("q_emb")
        )
    )
    c = e.select(F.col("vec_id").alias("c_id"), F.col("emb").alias("c_emb"))

    dot = dot_fold

    cosine = dot(F.col("q_emb"), F.col("c_emb")) / (
        F.sqrt(dot(F.col("q_emb"), F.col("q_emb")))
        * F.sqrt(dot(F.col("c_emb"), F.col("c_emb")))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))
    return (
        q.join(c, F.col("c_id") != F.col("q_id"))
        .withColumn("cosine", rnd(cosine))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("q_id", "c_id", "cosine", "rn")
    )


@register(
    "knn_label",
    oracle=f"""
WITH topk AS (
  SELECT q_id, c_id, label, rn FROM (
    SELECT q.vec_id AS q_id, c.vec_id AS c_id, c.label AS label,
           CAST(row_number() OVER (
                PARTITION BY q.vec_id
                ORDER BY {o_rnd(COSINE_SQL)} DESC, c.vec_id) AS INTEGER) AS rn
    FROM (SELECT * FROM embeddings WHERE vec_id < 10) q
    JOIN embeddings c ON c.vec_id != q.vec_id
  ) WHERE rn <= 5
),
votes AS (
  SELECT q_id, label, count(*) AS n_votes
  FROM topk GROUP BY q_id, label
)
SELECT q_id, label AS knn_label, n_votes FROM (
  SELECT q_id, label, n_votes,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY n_votes DESC, label) AS vr
  FROM votes
) WHERE vr = 1
""",
)
def knn_label(spark, sf_dir):
    # Majority label among the 5 nearest neighbors; ties broken by the
    # smaller label id (explicit window, never mode() whose tie choice
    # is engine-arbitrary).
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    )
    q = F.broadcast(
        e.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("q_id"), F.col("emb").alias("q_emb")
        )
    )
    c = e.select(
        F.col("vec_id").alias("c_id"), F.col("label"), F.col("emb").alias("c_emb")
    )

    dot = dot_fold

    cosine = dot(F.col("q_emb"), F.col("c_emb")) / (
        F.sqrt(dot(F.col("q_emb"), F.col("q_emb")))
        * F.sqrt(dot(F.col("c_emb"), F.col("c_emb")))
    )
    w = Window.partitionBy("q_id").orderBy(rnd(cosine).desc(), F.asc("c_id"))
    topk = (
        q.join(c, F.col("c_id") != F.col("q_id"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
    )
    votes = topk.groupBy("q_id", "label").agg(F.count(F.lit(1)).alias("n_votes"))
    vw = Window.partitionBy("q_id").orderBy(F.desc("n_votes"), F.asc("label"))
    return (
        votes.withColumn("vr", F.row_number().over(vw))
        .filter(F.col("vr") == 1)
        .select("q_id", F.col("label").alias("knn_label"), "n_votes")
    )


def ivf_projection(xu_col, j: int):
    """Signed int64 projection of 6dp-quantized coordinates onto IVF
    hyperplane ``j`` (mix32-derived weights) — the quantity whose SIGN
    is bucket bit j and whose MAGNITUDE is the margin multi-probe ranks
    flip candidates by (ann_index.sim_cosine_ivf_nprobe). Twin of
    ivf_proj_sql; factored so the bucket and the margins can never use
    different hyperplanes."""
    from terasort_spark.sources.tera_queries import mix32

    return F.aggregate(
        F.transform(
            xu_col,
            lambda x, i: x * (mix32(F.lit(j * 1000) + i) - F.lit(2147483648)),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def ivf_bucket(xu_col):
    """16-way IVF coarse quantizer: sign pattern of 4 integer mix32
    hyperplanes dotted against 6dp-quantized coordinates (``xu_col`` is
    an array<long>). Exact int64 in both engines — shared by
    sim_cosine_ivf and sink_ann_index (ann_index.py), twin of
    ivf_proj_sql."""
    bits = [
        F.when(ivf_projection(xu_col, j) > 0, F.lit(1 << j)).otherwise(F.lit(0))
        for j in range(4)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


# Shared oracle text for the IVF index: the bucket-assignment CTEs and
# the multi-probe top-5 inner query. sim_cosine_ivf's oracle AND
# ml_mrr's oracle (ml._mrr_oracle) are both composed from these, so
# the index and its evaluation metric cannot drift apart silently.
IVF_BUCKET_CTES = f"""xu AS (
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
)"""

IVF_TOPK_INNER = f"""SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         {o_rnd(COSINE_SQL, "cosine")},
         CAST(row_number() OVER (
              PARTITION BY q.vec_id
              ORDER BY {o_rnd(COSINE_SQL)} DESC, c.vec_id) AS INTEGER) AS rn
  FROM (SELECT vec_id, embedding, unnest([bucket, xor(bucket, 1),
               xor(bucket, 2), xor(bucket, 4), xor(bucket, 8)]) AS bucket
        FROM b WHERE vec_id < 10) q
  JOIN b c ON c.bucket = q.bucket AND c.vec_id != q.vec_id"""


@register(
    "sim_cosine_ivf",
    oracle=f"""
WITH {IVF_BUCKET_CTES}
SELECT q_id, c_id, cosine, rn
FROM (
  {IVF_TOPK_INNER}
)
WHERE rn <= 5
""",
)
def sim_cosine_ivf(spark, sf_dir):
    """IVF-style approximate nearest neighbor: coarse-quantize vectors
    by the sign pattern of 4 fixed pseudo-random hyperplanes, then
    brute-force cosine only within the probe's bucket. The bucket key
    turns the all-pairs scan into an equi-join — the shape that scales;
    recall vs the exact top-k is measured in tests/test_llm.py.

    EXACT-oracle since r6: the hyperplanes are integer mix32 draws
    (h_j[i] = mix32(j*1000 + i) − 2^31) dotted against 6dp-quantized
    integer coordinates — the sign decision is exact int64 arithmetic
    in every engine (the old sin()-hyperplane floats could flip a
    near-zero sign between libm implementations); the in-bucket cosine
    reuses sim_cosine_topk's verified float-fold contract. Overflow:
    |x_u| ≤ 1e6, |h| ≤ 2^31 → per-term ≤ 2.2e15, ×64 terms ≤ 1.4e17
    < 2^63."""
    from terasort_spark.sources.tera_queries import mix32

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("emb")
    )
    xu = F.transform(
        F.col("emb"), lambda x: F.floor(x * 1000000 + F.lit(0.5)).cast("long")
    )
    eb = e.withColumn("bucket", ivf_bucket(xu))
    # multi-probe: each query probes its own bucket plus the 4 Hamming-1
    # neighbors — 5/16 of the space instead of 1/16, the standard
    # recall/cost dial (candidates stay single-bucket, so no dup pairs)
    bkt = F.col("bucket")
    q = (
        eb.filter(F.col("vec_id") < 10)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("emb").alias("q_emb"),
            F.explode(
                F.array(
                    bkt,
                    bkt.bitwiseXOR(F.lit(1)),
                    bkt.bitwiseXOR(F.lit(2)),
                    bkt.bitwiseXOR(F.lit(4)),
                    bkt.bitwiseXOR(F.lit(8)),
                )
            ).alias("bucket"),
        )
    )
    c = eb.select(
        F.col("vec_id").alias("c_id"), F.col("emb").alias("c_emb"), "bucket"
    )

    dot = dot_fold

    cosine = dot(F.col("q_emb"), F.col("c_emb")) / (
        F.sqrt(dot(F.col("q_emb"), F.col("q_emb")))
        * F.sqrt(dot(F.col("c_emb"), F.col("c_emb")))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))
    return (
        q.join(c, "bucket")
        .filter(F.col("c_id") != F.col("q_id"))
        .withColumn("cosine", rnd(cosine))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("q_id", "c_id", "cosine", "rn")
    )


_SHINGLES_SQL = (
    "list_distinct(list_transform("
    "range(1, greatest(len(string_split(lower(text), ' ')) - 2, 0) + 1), "
    "i -> concat(string_split(lower(text), ' ')[i], ' ', "
    "string_split(lower(text), ' ')[i+1], ' ', "
    "string_split(lower(text), ' ')[i+2])))"
)


@register(
    "sim_ngram",
    oracle=f"""
WITH t AS (
  SELECT doc_id, {_SHINGLES_SQL} AS sh
  FROM documents WHERE doc_id < 150
)
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       {o_rnd("CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(a.sh || b.sh))", "ngram_jaccard")}
FROM t a JOIN t b ON a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      / len(list_distinct(a.sh || b.sh)) >= 0.2
""",
)
def sim_ngram(spark, sf_dir):
    """3-gram (shingle) Jaccard near-dup pairs: word trigrams are far
    more selective than single tokens on high-overlap corpora (token
    Jaccard median here is 0.6; trigram Jaccard collapses unless word
    ORDER also matches). Shingling is a JVM expression over the token
    array (sequence + element_at); the pair step is the same
    candidate/verify split as sim_jaccard — MinHash over shingles is the
    100 TB path."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    toks = F.split(F.lower("text"), " ")

    def shingle(ts):
        idx = F.sequence(F.lit(1), F.greatest(F.size(ts) - 2, F.lit(0)))
        return F.array_distinct(
            F.transform(
                idx,
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(ts, i),
                    F.element_at(ts, i + 1),
                    F.element_at(ts, i + 2),
                ),
            )
        )

    t = d.select("doc_id", shingle(toks).alias("sh"))
    a = t.select(F.col("doc_id").alias("a_id"), F.col("sh").alias("a_sh"))
    b = t.select(F.col("doc_id").alias("b_id"), F.col("sh").alias("b_sh"))
    jacc = F.size(F.array_intersect("a_sh", "b_sh")).cast("double") / F.size(
        F.array_union("a_sh", "b_sh")
    )
    return (
        a.join(b, F.col("a_id") < F.col("b_id"))
        .withColumn("ngram_jaccard", rnd(jacc))
        .filter(F.col("ngram_jaccard") >= 0.2)
        .select("a_id", "b_id", "ngram_jaccard")
    )


@register(
    "emb_centroid",
    oracle="""
SELECT label, pos,
       floor(CAST(sum(CAST(CAST(v AS DOUBLE) AS DECIMAL(25,6))) AS DOUBLE)
             / count(*) * 10000 + 0.5) / 10000 AS centroid
FROM (
  SELECT label,
         CAST(generate_subscripts(embedding, 1) AS INTEGER) AS pos,
         unnest(embedding) AS v
  FROM embeddings
)
GROUP BY label, pos
""",
)
def emb_centroid(spark, sf_dir):
    """Per-label embedding centroid (column-wise mean): posexplode to
    (label, dimension, value) rows, then one hash agg — the coarse
    quantizer training step of IVF ANN and the update step of
    distributed k-means. Sums run through an exact DECIMAL cast (a
    binary double is never exactly half-way at 6dp, so both engines
    round it identically) and divide by the exact count, making the
    centroid reproducible under any partitioning. At 100 TB this is a
    single map-side-combined shuffle of dims×labels cells — no vector
    ever crosses the wire whole."""
    e = table(spark, sf_dir, "embeddings")
    ex = e.select("label", F.posexplode("embedding").alias("pos0", "v"))
    return (
        ex.groupBy("label", (F.col("pos0") + 1).cast("int").alias("pos"))
        .agg(
            rnd(
                F.sum(F.col("v").cast("double").cast("decimal(25,6)")).cast("double")
                / F.count(F.lit(1)),
                "centroid",
            )
        )
    )


@register(
    "emb_quantize",
    oracle="""
WITH cells AS (
  SELECT vec_id,
         CAST(generate_subscripts(embedding, 1) AS INTEGER) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
ranges AS (
  SELECT pos, min(v) AS lo, max(v) AS hi FROM cells GROUP BY pos
)
SELECT c.vec_id, c.pos,
       CAST(least(floor((c.v - r.lo) / (r.hi - r.lo) * 255), 255) AS INTEGER) AS code
FROM cells c JOIN ranges r ON c.pos = r.pos
WHERE c.vec_id < 5
""",
)
def emb_quantize(spark, sf_dir):
    """Per-dimension min-max scalar quantization to 8-bit codes (the SQ8
    compression step of a vector index): one global pass computes each
    dimension's [min, max], broadcast back onto the cells, then
    code = floor((v - lo) / (hi - lo) * 255). Min/max over floats and
    the single IEEE divide are bit-deterministic on both engines. The
    ranges table is dims-sized (tiny) regardless of corpus scale, so
    the join is always a broadcast."""
    e = table(spark, sf_dir, "embeddings")
    cells = e.select(
        "vec_id",
        F.posexplode(F.transform("embedding", lambda x: x.cast("double"))).alias(
            "pos0", "v"
        ),
    ).select("vec_id", (F.col("pos0") + 1).cast("int").alias("pos"), "v")
    ranges = cells.groupBy("pos").agg(
        F.min("v").alias("lo"), F.max("v").alias("hi")
    )
    code = F.least(
        F.floor((F.col("v") - F.col("lo")) / (F.col("hi") - F.col("lo")) * 255),
        F.lit(255),
    ).cast("int")
    return (
        cells.filter(F.col("vec_id") < 5)
        .join(F.broadcast(ranges), "pos")
        .select("vec_id", "pos", code.alias("code"))
    )


# CTE prefix ending in cov(i, j, cov) — the exact-decimal covariance
# replay, shared by the emb_covariance oracle and the emb_pca_power
# oracle (which diagonalizes the same matrix).
_COV_PREFIX = """cells AS (
  SELECT vec_id,
         CAST(generate_subscripts(embedding, 1) AS INTEGER) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
means AS (
  SELECT pos,
         CAST(sum(CAST(v AS DECIMAL(25,6))) AS DOUBLE) / count(*) AS m
  FROM cells GROUP BY pos
),
prods AS (
  SELECT a.pos AS i, b.pos AS j,
         CAST(sum(CAST(a.v * b.v AS DECIMAL(25,6))) AS DOUBLE) AS s,
         count(*) AS cnt
  FROM cells a JOIN cells b ON a.vec_id = b.vec_id AND a.pos <= b.pos
  GROUP BY a.pos, b.pos
),
cov AS MATERIALIZED (
  SELECT i, j,
         floor((s / cnt - ma.m * mb.m) * 10000 + 0.5) / 10000 AS cov
  FROM prods
  JOIN means ma ON ma.pos = i
  JOIN means mb ON mb.pos = j
)"""


@register(
    "emb_covariance",
    oracle=f"WITH {_COV_PREFIX}\nSELECT i, j, cov FROM cov",
)
def emb_covariance(spark, sf_dir):
    """Distributed covariance matrix of the embedding columns (upper
    triangle): the gram-style block computation under PCA / whitening.

    The dims²-per-vector product work runs as Arrow-batched numpy outer
    products (mapInPandas), with each product quantized to 6dp int64
    BEFORE summation — exactly the DECIMAL(25,6) arithmetic the oracle
    does, so the result stays bit-identical to the SQL formulation while
    replacing the dims²·n-row self-join shuffle with one dims²-row
    partial per Arrow batch. Partials reduce through a regular groupBy
    (treeAggregate shape, never a driver collect); int64 cell totals
    stay far under 2^53 so the final /1e6 double conversion is the
    correctly-rounded value on both engines. E[x] means use the same
    exact decimal sums; cov = s/n - mx*my is then a fixed IEEE
    expression, reproducible on any partitioning (population
    covariance, same as the oracle)."""
    import numpy as np

    def prod_partials(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:  # empty Arrow batch / empty partition
                continue
            x = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            dim = x.shape[1]
            acc = np.zeros((dim, dim), dtype="int64")
            # sub-chunk so peak memory is chunk×dims² regardless of
            # Arrow batch size (100 TB hygiene)
            for k in range(0, len(x), 512):
                p = np.einsum("ni,nj->nij", x[k : k + 512], x[k : k + 512])
                # round half away from zero at 6dp == CAST AS DECIMAL(25,6)
                acc += np.trunc(p * 1e6 + np.copysign(0.5, p)).astype("int64").sum(
                    axis=0
                )
            ii, jj = np.triu_indices(dim)
            yield pd.DataFrame(
                {
                    "i": (ii + 1).astype("int32"),
                    "j": (jj + 1).astype("int32"),
                    "q": acc[ii, jj],
                    "cnt": np.full(len(ii), len(x), dtype="int64"),
                }
            )

    e = table(spark, sf_dir, "embeddings")
    cells = e.select(
        "vec_id",
        F.posexplode(F.transform("embedding", lambda x: x.cast("double"))).alias(
            "pos0", "v"
        ),
    ).select("vec_id", (F.col("pos0") + 1).cast("int").alias("pos"), "v")
    means = cells.groupBy("pos").agg(
        (F.sum(F.col("v").cast("decimal(25,6)")).cast("double") / F.count(F.lit(1))).alias("m")
    )
    prods = (
        # null vectors contribute no cells in the oracle's unnest — drop
        # them before the Arrow path for the same semantics
        e.filter(F.col("embedding").isNotNull())
        .select("embedding")
        .mapInPandas(prod_partials, schema="i int, j int, q long, cnt long")
        .groupBy("i", "j")
        .agg(
            (F.sum("q").cast("double") / F.lit(1e6)).alias("s"),
            F.sum("cnt").alias("cnt"),
        )
    )
    ma = means.select(F.col("pos").alias("i"), F.col("m").alias("ma"))
    mb = means.select(F.col("pos").alias("j"), F.col("m").alias("mb"))
    return (
        prods.join(F.broadcast(ma), "i")
        .join(F.broadcast(mb), "j")
        .select(
            "i",
            "j",
            rnd(F.col("s") / F.col("cnt") - F.col("ma") * F.col("mb"), "cov"),
        )
    )


PCA_SQUARINGS = 12  # C^(2^12): (λ2/λ1)^4096 ≈ 0 even at this corpus's 0.93 gap
PCA_MSCALE = 100000  # matrix max-norm after each squaring; see overflow note


def _pca_oracle() -> str:
    """Replay of the repeated-squaring eigensolve over the exact
    covariance: quantize cov to 1e4 integer units, normalize the matrix
    to max-abs PCA_MSCALE, square it PCA_SQUARINGS times (renormalizing
    after each — truncating integer division, deterministic in every
    engine), then read the dominant eigenvector off the pivot column of
    the (numerically rank-1) result. Only the final L2 normalization
    touches floats — one sqrt and one division per entry, fixed IEEE
    expressions. Overflow: entries ≤ 1e5, squaring sums ≤ 64·1e10 =
    6.4e11, rescale product ≤ 6.4e16 < 2^63; val² sums ≤ 6.4e11 < 2^53
    so the double conversion is exact. Every chained CTE is MATERIALIZED
    (the ml_logreg discipline — DuckDB inlines unmarked chains
    exponentially)."""
    parts = [
        _COV_PREFIX,
        """cu AS MATERIALIZED (
  SELECT i, j, CAST(floor(cov * 10000 + 0.5) AS BIGINT) AS c FROM cov
),
full0 AS MATERIALIZED (
  SELECT i, j, c FROM cu
  UNION ALL
  SELECT j AS i, i AS j, c FROM cu WHERE i <> j
),
mx0 AS (SELECT greatest(max(abs(c)), 1) AS mx FROM full0),
m0 AS MATERIALIZED (
  SELECT i, j, CAST((c * %(S)d) // (SELECT mx FROM mx0) AS BIGINT) AS c
  FROM full0
)"""
        % {"S": PCA_MSCALE},
    ]
    for k in range(1, PCA_SQUARINGS + 1):
        parts.append(
            f"""s{k} AS MATERIALIZED (
  SELECT a.i, b.j, sum(a.c * b.c) AS c
  FROM m{k - 1} a JOIN m{k - 1} b ON a.j = b.i GROUP BY a.i, b.j
),
mx{k} AS (SELECT greatest(max(abs(c)), 1) AS mx FROM s{k}),
m{k} AS MATERIALIZED (
  SELECT i, j, CAST((c * {PCA_MSCALE}) // (SELECT mx FROM mx{k}) AS BIGINT) AS c
  FROM s{k}
)"""
        )
    last = f"m{PCA_SQUARINGS}"
    parts.append(
        f"""piv AS (SELECT j FROM {last} WHERE i = j ORDER BY c DESC, j ASC LIMIT 1),
vcol AS MATERIALIZED (
  SELECT i AS pos, c AS val FROM {last} WHERE j = (SELECT j FROM piv)
),
sgn AS (
  SELECT CASE WHEN val < 0 THEN -1 ELSE 1 END AS s
  FROM vcol ORDER BY abs(val) DESC, pos ASC LIMIT 1
),
nrm AS (SELECT sqrt(CAST(sum(val * val) AS DOUBLE)) AS nv FROM vcol)"""
    )
    body = ",\n".join(parts)
    return f"""
WITH {body}
SELECT pos,
       floor(((SELECT s FROM sgn) * val) / (SELECT nv FROM nrm) * 10000 + 0.5)
           / 10000 AS loading
FROM vcol
"""


@register("emb_pca_power", oracle=_pca_oracle())
def emb_pca_power(spark, sf_dir):
    """First principal component of the embedding covariance — EXACT
    oracle since r6. The data-sized work is emb_covariance's
    decimal-exact distributed pass (Arrow-batched int64 partials, one
    dims²-row partial per batch — never a data-sized collect); the
    eigensolve over the resulting dims×dims matrix is repeated matrix
    SQUARING in integer arithmetic: quantize cov to 1e4 units,
    normalize to max-abs PCA_MSCALE, square PCA_SQUARINGS times
    (truncating rescale after each). C^(2^k) is PSD and its eigengap
    squares every step, so the result is numerically rank-1 and its
    pivot column IS the dominant eigenvector — no convergence loop, no
    float accumulation, identical integers in every engine (Python //
    and DuckDB // both floor). Only the final L2 normalization touches
    floats: one exact int→double conversion (< 2^53), one sqrt, one
    division — fixed IEEE expressions, bit-equal across engines.
    Output: (pos, loading), sign-normalized so the largest-|loading|
    entry is positive; replaces the r3 float power iteration whose
    1000 numpy matvecs weren't replayable."""
    import math

    cov_rows = emb_covariance(spark, sf_dir).collect()
    if not cov_rows:  # empty corpus → no component, not a crash
        return spark.createDataFrame([], "pos int, loading double")
    dim = max(r.j for r in cov_rows)
    m = [[0] * dim for _ in range(dim)]
    for r in cov_rows:
        c = int(math.floor(r.cov * 10000 + 0.5))
        m[r.i - 1][r.j - 1] = c
        m[r.j - 1][r.i - 1] = c

    def tdiv(a, b):
        # truncating integer division (toward zero) — DuckDB's // on
        # integers truncates, Python's floors; they differ on negatives
        q = abs(a) // b
        return -q if a < 0 else q

    def rescale(mat):
        mx = max(max(abs(x) for x in row) for row in mat) or 1
        return [[tdiv(x * PCA_MSCALE, mx) for x in row] for row in mat]

    m = rescale(m)
    for _ in range(PCA_SQUARINGS):
        s = [
            [sum(m[i][k] * m[k][j] for k in range(dim)) for j in range(dim)]
            for i in range(dim)
        ]
        m = rescale(s)
    # pivot column: largest diagonal entry (diag of ~v·vᵀ is v_i² —
    # maximal amplitude, never sign-cancelled), smallest index on ties
    piv = max(range(dim), key=lambda j: (m[j][j], -j))
    v = [m[i][piv] for i in range(dim)]
    sp = max(range(dim), key=lambda i: (abs(v[i]), -i))
    if v[sp] < 0:
        v = [-x for x in v]
    nv = math.sqrt(float(sum(x * x for x in v)))
    return spark.createDataFrame(
        [(i + 1, math.floor(x / nv * 10000 + 0.5) / 10000) for i, x in enumerate(v)],
        "pos int, loading double",
    )


K_CLUSTERS = 8
KMEANS_ITER = 3


def _kmeans_assign(e, centroids):
    """Assign each vector to its nearest centroid (squared L2 in exact
    integer micro-units — see emb_kmeans for the quantization contract).

    centroids is a driver-side list of K dim-length int lists — k-means
    centroids always fit on the driver (K x dim values, independent of
    corpus size), so they ship to executors as broadcast literals and
    the K distance expressions run inside whole-stage codegen: no join,
    no shuffle, no Python. Distances are int64 sums of int64 squares —
    no float accumulation order to worry about — and ties break to the
    lowest cluster id (array_position finds the first minimum)."""
    dists = F.array(
        *[
            F.aggregate(
                F.zip_with(
                    "v",
                    F.array(*[F.lit(int(x)) for x in c]),
                    lambda p, q: (p - q) * (p - q),
                ),
                F.lit(0).cast("long"),
                lambda acc, t: acc + t,
            )
            for c in centroids
        ]
    )
    return e.withColumn("dists", dists).select(
        "vec_id",
        "v",
        (F.array_position("dists", F.array_min("dists")) - 1).cast("int").alias("cid"),
        F.array_min("dists").alias("d2"),
    )


def _kmeans_oracle() -> str:
    """Unroll the KMEANS_ITER Lloyd rounds into chained MATERIALIZED
    CTEs (the ml_logreg discipline — DuckDB inlines unmarked chained
    CTEs exponentially). Every quantity is an exact int64: vector
    coordinates are 6dp micro-units, distances are integer sums of
    integer squares, and centroid means re-quantize through one
    deterministic double division — so the replay is bit-identical to
    the Spark trajectory at any partitioning."""
    parts = [
        f"""cells AS MATERIALIZED (
    SELECT vec_id, i - 1 AS pos,
           CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5)
                AS BIGINT) AS x
    FROM (SELECT vec_id, embedding FROM embeddings
          WHERE embedding IS NOT NULL) e,
         LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i)
),
init_ids AS MATERIALIZED (
    SELECT vec_id,
           CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid
    FROM (SELECT DISTINCT vec_id FROM cells)
    ORDER BY vec_id LIMIT {K_CLUSTERS}
),
c0 AS MATERIALIZED (
    SELECT i.cid, c.pos, c.x AS cx
    FROM init_ids i JOIN cells c USING (vec_id)
)"""
    ]
    for t in range(KMEANS_ITER):
        parts.append(
            f""",
d{t} AS MATERIALIZED (
    SELECT c.vec_id, k.cid, sum((c.x - k.cx) * (c.x - k.cx)) AS d2
    FROM cells c JOIN c{t} k USING (pos) GROUP BY c.vec_id, k.cid
),
a{t} AS MATERIALIZED (
    SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        FROM d{t})
    WHERE rn = 1
),
c{t + 1} AS MATERIALIZED (
    SELECT k.cid, k.pos, coalesce(u.nx, k.cx) AS cx
    FROM c{t} k LEFT JOIN (
        SELECT a.cid, c.pos,
               CAST(floor(CAST(sum(c.x) AS DOUBLE) / count(*) + 0.5)
                    AS BIGINT) AS nx
        FROM a{t} a JOIN cells c USING (vec_id) GROUP BY a.cid, c.pos
    ) u ON k.cid = u.cid AND k.pos = u.pos
)"""
        )
    parts.append(
        f""",
dfin AS MATERIALIZED (
    SELECT c.vec_id, k.cid, sum((c.x - k.cx) * (c.x - k.cx)) AS d2
    FROM cells c JOIN c{KMEANS_ITER} k USING (pos)
    GROUP BY c.vec_id, k.cid
),
afin AS MATERIALIZED (
    SELECT vec_id, cid, d2 FROM (
        SELECT vec_id, cid, d2,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        FROM dfin)
    WHERE rn = 1
)
SELECT cid, CAST(count(*) AS BIGINT) AS n_vecs,
       floor(CAST(sum(d2) AS DOUBLE) / 1000000000000 * 10000 + 0.5) / 10000
           AS sse
FROM afin GROUP BY cid"""
    )
    return "WITH " + "".join(parts)


@register("emb_kmeans", oracle=_kmeans_oracle())
def emb_kmeans(spark, sf_dir):
    """Distributed k-means (Lloyd's) over the embedding table: K=8,
    3 fixed iterations, deterministic init = the K vectors with the
    smallest vec_ids. Output is one row per cluster (size + SSE) —
    the clustering that backs IVF coarse quantizers, data-mixture
    balancing, and diversity sampling in pretraining pipelines.

    Exact-oracle upgrade (round 6): coordinates are quantized to 6dp
    integer micro-units at ingest, so distances are int64 sums of
    int64 squares (no float accumulation order anywhere), centroid
    means re-quantize through one deterministic IEEE division, and the
    whole 3-round trajectory replays bit-identically in SQL
    (_kmeans_oracle's unrolled MATERIALIZED CTEs — the ml_logreg
    pattern applied to Lloyd's). SSE is reported in original units²
    (micro² / 1e12).

    Scale notes: the assignment step is pure codegen over broadcast
    centroid literals (see _kmeans_assign); the update step posexplodes
    to (cid, dim, value) cells and averages — one map-side-combined
    shuffle of K x dim cells per iteration, the emb_centroid pattern.
    Only K x dim centroid ints ever reach the driver per round;
    vectors never move. Empty clusters keep their previous centroid."""
    e = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())  # null vectors are unscoreable
        .select(
            "vec_id",
            F.transform(
                "embedding",
                lambda x: F.floor(x.cast("double") * 1000000 + F.lit(0.5)).cast(
                    "long"
                ),
            ).alias("v"),
        )
    )
    # The base vectors are re-read KMEANS_ITER+2 times (init, one
    # assignment per Lloyd round, final assignment); materialize them
    # ONCE so each round reads cached blocks instead of re-running the
    # parquet scan + cast — the same reuse pattern dedup_cluster and
    # graph_pagerank apply to their loop state.
    e = e.localCheckpoint(eager=True)
    init = e.orderBy("vec_id").limit(K_CLUSTERS).collect()
    if not init:  # empty corpus → no clusters, not a crash
        return spark.createDataFrame([], "cid int, n_vecs bigint, sse double")
    centroids = [list(r["v"]) for r in init]
    for _ in range(KMEANS_ITER):
        assigned = _kmeans_assign(e, centroids)
        rows = (
            assigned.select("cid", F.posexplode("v").alias("pos", "val"))
            .groupBy("cid", "pos")
            # quantized mean: exact int64 sum, ONE deterministic IEEE
            # division, floor-round back to micro-units — bit-identical
            # on any engine/partitioning (the oracle replays it verbatim)
            .agg(
                F.floor(
                    F.sum("val").cast("double") / F.count(F.lit(1)) + F.lit(0.5)
                )
                .cast("long")
                .alias("m")
            )
            .groupBy("cid")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select("cid", F.col("pm.m").alias("c"))
            .collect()
        )
        got = {r["cid"]: list(r["c"]) for r in rows}
        centroids = [got.get(i, centroids[i]) for i in range(K_CLUSTERS)]
    final = _kmeans_assign(e, centroids)
    return final.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        # micro² back to original units²: exact int64 sum, then one
        # deterministic double conversion + power-of-ten division
        rnd(F.sum("d2").cast("double") / F.lit(1e12), "sse"),
    )


PQ_SUB = 8  # subspaces (codebooks)
PQ_K = 16  # codewords per subspace
PQ_TRAIN_ITER = 1  # Lloyd rounds per subspace codebook (1 beats 2 on recall here)


def _pq_idot(x, y):
    return F.aggregate(
        F.zip_with(x, y, lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )


def _pq_id2(x, y):
    return F.aggregate(
        F.zip_with(x, y, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )


def pq_train_encode(spark, e, q_cut: int = 10):
    """Shared PQ machinery for sim_cosine_pq and sim_cosine_ivfpq
    (extracted verbatim in r9 so the two operators can never train
    divergent codebooks): seed codebooks from the PQ_K smallest-id
    vectors, run PQ_TRAIN_ITER integer Lloyd rounds per subspace,
    encode every vector, and build the per-query ADC lookup table for
    vec_id < q_cut. ``e`` must carry (vec_id, v double[], vu long[]).

    Returns None on an empty corpus, else (sub, codes, lut) where
    sub = (vec_id, sub_id, sv long[]) subvector rows,
    codes = (c_id, sub_id, cid) assignments,
    lut = broadcast (q_id, sub_id, cid, pdot) integer partial dots."""
    seed = e.filter(F.col("vec_id") < PQ_K).collect()
    if not seed:  # empty corpus → no codebooks, not a crash
        return None
    dim = len(seed[0]["v"])
    assert dim % PQ_SUB == 0, (
        f"embedding dim {dim} not divisible by PQ_SUB={PQ_SUB}: the "
        "trailing dim % PQ_SUB dimensions would silently drop out of "
        "codebooks and the ADC scan, degrading shortlist recall"
    )
    subdim = dim // PQ_SUB
    subvecs = F.array(
        *[
            F.struct(
                F.lit(s).alias("sub_id"),
                F.slice("vu", s * subdim + 1, subdim).alias("sv"),
            )
            for s in range(PQ_SUB)
        ]
    )
    sub = e.select("vec_id", F.explode(subvecs).alias("p")).select(
        "vec_id", "p.sub_id", "p.sv"
    )

    train = sub  # codebook training set; at 100 TB swap in a %-sample —
    # recall then depends on sample size per codeword, not corpus size
    cb_rows = [
        (
            s,
            int(r["vec_id"]),
            [int(x) for x in list(r["vu"])[s * subdim : (s + 1) * subdim]],
        )
        for r in seed
        for s in range(PQ_SUB)
    ]
    for _ in range(PQ_TRAIN_ITER):
        cb = F.broadcast(
            spark.createDataFrame(
                cb_rows, "sub_id int, cid int, cvec array<long>"
            )
        )
        best = (
            train.join(cb, "sub_id")
            .withColumn("d2", _pq_id2(F.col("sv"), F.col("cvec")))
            .groupBy("vec_id", "sub_id")
            .agg(F.min(F.struct("d2", "cid")).alias("m"))
            .select("vec_id", "sub_id", F.col("m.cid").alias("cid"))
        )
        updated = (
            train.join(best, ["vec_id", "sub_id"])
            .select("sub_id", "cid", F.posexplode("sv").alias("pos", "val"))
            .groupBy("sub_id", "cid", "pos")
            # integer re-quantized mean — one deterministic double
            # division, the emb_kmeans centroid contract
            .agg(
                F.floor(
                    F.sum("val").cast("double") / F.count(F.lit(1)) + F.lit(0.5)
                )
                .cast("long")
                .alias("m")
            )
            .groupBy("sub_id", "cid")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select("sub_id", "cid", F.col("pm.m").alias("cvec"))
            .collect()
        )
        got = {(r["sub_id"], r["cid"]): [int(x) for x in r["cvec"]] for r in updated}
        cb_rows = [
            (s, c, got.get((s, c), old)) for s, c, old in cb_rows
        ]
    cb = F.broadcast(
        spark.createDataFrame(cb_rows, "sub_id int, cid int, cvec array<long>")
    )
    codes = (
        sub.join(cb, "sub_id")
        .withColumn("d2", _pq_id2(F.col("sv"), F.col("cvec")))
        .groupBy("vec_id", "sub_id")
        .agg(F.min(F.struct("d2", "cid")).alias("m"))
        .select(
            F.col("vec_id").alias("c_id"), "sub_id", F.col("m.cid").alias("cid")
        )
    )
    lut = F.broadcast(
        sub.filter(F.col("vec_id") < q_cut)
        .select(F.col("vec_id").alias("q_id"), "sub_id", F.col("sv").alias("qsv"))
        .join(cb, "sub_id")
        .select(
            "q_id", "sub_id", "cid", _pq_idot(F.col("qsv"), F.col("cvec")).alias("pdot")
        )
    )
    return sub, codes, lut


# Shared PQ-codebook oracle chain (train -> encode -> LUT -> norms),
# consumed by sim_cosine_pq AND sim_cosine_ivfpq (ann_index.py) so the
# two operators can never grade against divergent codebooks. Depends
# only on a preceding CTE `e(vec_id, embedding)`.
PQ_CODE_CTES = f"""subcells AS MATERIALIZED (
  SELECT vec_id,
         CAST((i - 1) // (len(embedding) // {PQ_SUB}) AS INTEGER) AS sub_id,
         CAST((i - 1) % (len(embedding) // {PQ_SUB}) AS INTEGER) AS pos,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS x
  FROM e, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i)
),
cb0 AS MATERIALIZED (
  SELECT sub_id, CAST(vec_id AS INTEGER) AS cid, pos, x AS cx
  FROM subcells WHERE vec_id < {PQ_K}
),
d0 AS MATERIALIZED (
  SELECT s.vec_id, s.sub_id, k.cid, sum((s.x - k.cx) * (s.x - k.cx)) AS d2
  FROM subcells s JOIN cb0 k ON s.sub_id = k.sub_id AND s.pos = k.pos
  GROUP BY s.vec_id, s.sub_id, k.cid
),
a0 AS MATERIALIZED (
  SELECT vec_id, sub_id, cid FROM (
    SELECT vec_id, sub_id, cid,
           row_number() OVER (PARTITION BY vec_id, sub_id ORDER BY d2, cid) AS rn
    FROM d0) WHERE rn = 1
),
cb1 AS MATERIALIZED (
  SELECT k.sub_id, k.cid, k.pos, coalesce(u.nx, k.cx) AS cx
  FROM cb0 k LEFT JOIN (
    SELECT a.sub_id, a.cid, s.pos,
           CAST(floor(CAST(sum(s.x) AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS nx
    FROM a0 a JOIN subcells s ON s.vec_id = a.vec_id AND s.sub_id = a.sub_id
    GROUP BY a.sub_id, a.cid, s.pos
  ) u ON k.sub_id = u.sub_id AND k.cid = u.cid AND k.pos = u.pos
),
enc AS MATERIALIZED (
  SELECT s.vec_id, s.sub_id, k.cid, sum((s.x - k.cx) * (s.x - k.cx)) AS d2
  FROM subcells s JOIN cb1 k ON s.sub_id = k.sub_id AND s.pos = k.pos
  GROUP BY s.vec_id, s.sub_id, k.cid
),
codes AS MATERIALIZED (
  SELECT vec_id AS c_id, sub_id, cid FROM (
    SELECT vec_id, sub_id, cid,
           row_number() OVER (PARTITION BY vec_id, sub_id ORDER BY d2, cid) AS rn
    FROM enc) WHERE rn = 1
),
lut AS MATERIALIZED (
  SELECT s.vec_id AS q_id, s.sub_id, k.cid, sum(s.x * k.cx) AS pdot
  FROM subcells s JOIN cb1 k ON s.sub_id = k.sub_id AND s.pos = k.pos
  WHERE s.vec_id < 10
  GROUP BY s.vec_id, s.sub_id, k.cid
),
norms AS MATERIALIZED (
  SELECT vec_id, sqrt({dot_sql('embedding', 'embedding')}) AS nrm FROM e
)"""


@register(
    "sim_cosine_pq",
    oracle=f"""
WITH e AS MATERIALIZED (
  SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL
),
{PQ_CODE_CTES},
adots AS MATERIALIZED (
  SELECT l.q_id, c.c_id, sum(l.pdot) AS adot
  FROM codes c JOIN lut l ON l.sub_id = c.sub_id AND l.cid = c.cid
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
) WHERE rn <= 5
""",
)
def sim_cosine_pq(spark, sf_dir):
    """Product-quantization ANN: split each vector into PQ_SUB
    subvectors, learn a PQ_K-codeword codebook per subspace (Lloyd rounds
    on the corpus; swap in a sample at scale), encode every vector as
    PQ_SUB byte-sized codes, then answer cosine top-5 for the 10 query
    vectors from a lookup table of query-subvector x codeword partial
    dots — the memory layout (8 bytes + 1 norm per vector instead of
    256 bytes) that makes billion-vector ANN fit in RAM.

    EXACT-oracle since r6: codebook training, encoding and the ADC
    lookup run in 6dp-quantized int64 micro-units (distances are
    integer sums of integer squares; centroid means re-quantize through
    one deterministic double division — the emb_kmeans contract), so
    the trained codebooks, the codes and the adot numerators are
    bit-identical in every engine; the shortlist ordering divides the
    exact integer adot by float norms built from the verified
    sim_cosine_topk fold contract, and the final top-5 is the same
    exact re-rank as before. The whole pipeline replays as one
    unrolled-CTE SQL statement (the oracle above).

    Scale notes: training touches only the sample; codebooks
    (PQ_SUB x PQ_K x subdim ints) and the per-query LUT
    (10 x PQ_SUB x PQ_K partial dots) are driver-small and broadcast;
    encoding is a broadcast join + min per subvector; scoring shuffles
    only (q_id, c_id, partial) triples with map-side combine. No
    all-pairs step anywhere. Candidate norms ride alongside the codes
    (exact), as real PQ indexes store them."""
    e = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())  # null vectors are unscoreable
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        )
    )
    # quantized integer coordinates (6dp micro-units) drive training,
    # encoding and the ADC numerators; the float v drives norms and the
    # exact re-rank
    e = e.withColumn(
        "vu",
        F.transform(
            F.col("v"), lambda x: F.floor(x * 1000000 + F.lit(0.5)).cast("long")
        ),
    )
    pq = pq_train_encode(spark, e, q_cut=10)
    if pq is None:  # empty corpus → no codebooks, not a crash
        return spark.createDataFrame(
            [], "q_id bigint, c_id bigint, cosine double, rn int"
        )
    _sub, codes, lut = pq

    dot = dot_fold
    norms = e.select("vec_id", F.sqrt(dot(F.col("v"), F.col("v"))).alias("nrm"))
    approx = (
        codes.join(lut, ["sub_id", "cid"])
        .groupBy("q_id", "c_id")
        .agg(F.sum("pdot").alias("adot"))
        .join(norms.select(F.col("vec_id").alias("c_id"), F.col("nrm").alias("cnrm")), "c_id")
        .join(
            F.broadcast(
                norms.filter(F.col("vec_id") < 10).select(
                    F.col("vec_id").alias("q_id"), F.col("nrm").alias("qnrm")
                )
            ),
            "q_id",
        )
        .filter(F.col("c_id") != F.col("q_id"))
        # exact int adot (1e12 scale, < 2^53 so the double conversion is
        # exact) over IEEE norms — the same value in every engine
        .withColumn(
            "acos",
            (F.col("adot").cast("double") / F.lit(1000000000000.0))
            / (F.col("qnrm") * F.col("cnrm")),
        )
    )
    # ADC shortlist (top-32 by approximate cosine), then exact re-rank —
    # the standard PQ answer path: the quantized scan prunes 1e9 -> 32,
    # the exact pass reads only those 32 full vectors per query
    wa = Window.partitionBy("q_id").orderBy(F.desc("acos"), F.asc("c_id"))
    shortlist = (
        approx.withColumn("arn", F.row_number().over(wa))
        .filter(F.col("arn") <= 32)
        .select("q_id", "c_id")
    )
    qv = F.broadcast(
        e.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
        )
    )
    cv = e.select(F.col("vec_id").alias("c_id"), F.col("v").alias("cv"))
    exact = (
        shortlist.join(qv, "q_id")
        .join(cv, "c_id")
        .withColumn(
            "cosine",
            rnd(
                dot(F.col("qv"), F.col("cv"))
                / (
                    F.sqrt(dot(F.col("qv"), F.col("qv")))
                    * F.sqrt(dot(F.col("cv"), F.col("cv")))
                )
            ),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))
    return (
        exact.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("q_id", "c_id", "cosine", "rn")
    )


# ---------------------------------------------------------------------------
# sim_cosine_sq8 — int8 scalar quantization: the third quantization
# family (PQ = codebook, MRL = prefix truncation, SQ8 = per-vector
# symmetric int8). Shortlist by exact-integer int8 dot products, exact
# cosine re-rank of the shortlist.

SQ8_QCUT = 10
_SQ8_SHORTLIST = 20
SQ8_TOPK = 5

_SQ8_BASE_SQL = f"""
base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings WHERE embedding IS NOT NULL
),
sq AS (
  SELECT vec_id, v,
         list_max(list_transform(v, x -> abs(x))) AS amax,
         {norm_sql("v")} AS nrm,
         list_transform(
           v, x -> CAST(floor(x * 127 / list_max(list_transform(v, y -> abs(y)))
                              + 0.5) AS BIGINT)) AS q8
  FROM base
  WHERE list_max(list_transform(v, x -> abs(x))) > 0
)"""


# Shared by sim_cosine_sq8 and its evaluator ml_ndcg, so the index and
# its metric cannot drift apart silently (the ml_mrr <-> sim_cosine_ivf
# pattern).
SQ8_CTES = f"""{_SQ8_BASE_SQL},
pairs AS (
  SELECT a.vec_id AS q_id, b.vec_id AS c_id,
         {dot_sql("a.q8", "b.q8")} AS dot8,
         a.amax AS aq, b.amax AS ac, a.nrm AS nq, b.nrm AS nc,
         a.v AS qv, b.v AS cv
  FROM sq a JOIN sq b ON b.vec_id != a.vec_id
  WHERE a.vec_id < {SQ8_QCUT}
),
short AS (
  SELECT *, row_number() OVER (
      PARTITION BY q_id
      ORDER BY {o_rnd("(dot8 * aq * ac) / (16129.0 * nq * nc)", nd=6)} DESC,
               c_id) AS rn8
  FROM pairs
),
rer AS (
  SELECT q_id, c_id,
         {o_rnd(f"{dot_sql('qv', 'cv')} / (nq * nc)", "cosine")}
  FROM short WHERE rn8 <= {_SQ8_SHORTLIST}
),
sq8_topk AS (
  SELECT q_id, c_id, cosine, rn FROM (
    SELECT q_id, c_id, cosine,
           CAST(row_number() OVER (PARTITION BY q_id
                ORDER BY cosine DESC, c_id) AS INTEGER) AS rn
    FROM rer
  ) WHERE rn <= {SQ8_TOPK}
)"""


@register(
    "sim_cosine_sq8",
    oracle=f"""
WITH {SQ8_CTES}
SELECT q_id, c_id, cosine, rn FROM sq8_topk
""",
)
def sim_cosine_sq8(spark, sf_dir):
    """ANN via per-vector symmetric int8 scalar quantization: q_i =
    round(v_i * 127 / max|v|) — the classic SQ8 index cell (FAISS
    ScalarQuantizer, Lucene int8 HNSW storage). Shortlist of
    {_SQ8_SHORTLIST} by the int8 dot estimate, exact cosine re-rank to
    top {SQ8_TOPK}.

    Why this matters at 100 TB: the scan side of brute-force ANN is
    memory-bandwidth-bound, and SQ8 cuts the scanned bytes 4x vs fp32
    (8x vs fp64) while keeping the estimator a pure-INTEGER dot
    product — exact int64 arithmetic, so the shortlist is
    partition-count- and engine-invariant (the PQ/IVF float-score
    subtlety disappears). Per-vector scale+norm ride along as two
    doubles (the standard SQ sidecar). The plan is the sim_cosine_topk
    shape — broadcast queries, one candidate pass, WindowGroupLimit
    shortlist — with the re-rank touching only shortlisted fp
    vectors. Estimator rank key is quantized to 6dp like the IVF/PQ
    family; re-rank and output round at the family-standard 4dp."""
    e = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        )
        .withColumn("amax", F.array_max(F.transform("v", F.abs)))
        .filter(F.col("amax") > 0)
        .withColumn("nrm", F.sqrt(dot_fold(F.col("v"), F.col("v"))))
        .withColumn(
            "q8",
            F.transform(
                "v",
                lambda x: F.floor(x * 127 / F.col("amax") + 0.5).cast(
                    "bigint"
                ),
            ),
        )
    )
    q = F.broadcast(
        e.filter(F.col("vec_id") < SQ8_QCUT).select(
            F.col("vec_id").alias("q_id"),
            F.col("v").alias("qv"),
            F.col("amax").alias("aq"),
            F.col("nrm").alias("nq"),
            F.col("q8").alias("qq8"),
        )
    )
    c = e.select(
        F.col("vec_id").alias("c_id"),
        F.col("v").alias("cv"),
        F.col("amax").alias("ac"),
        F.col("nrm").alias("nc"),
        F.col("q8").alias("cq8"),
    )
    dot8 = dot_fold(F.col("qq8"), F.col("cq8"))
    est = (F.col("dot8") * F.col("aq") * F.col("ac")) / (
        F.lit(16129.0) * F.col("nq") * F.col("nc")
    )
    w8 = Window.partitionBy("q_id").orderBy(F.desc("est6"), F.asc("c_id"))
    short = (
        q.join(c, F.col("c_id") != F.col("q_id"))
        .withColumn("dot8", dot8)
        .withColumn("est6", rnd(est, nd=6))
        .withColumn("rn8", F.row_number().over(w8))
        .filter(F.col("rn8") <= _SQ8_SHORTLIST)
    )
    cosine = dot_fold(F.col("qv"), F.col("cv")) / (F.col("nq") * F.col("nc"))
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))
    return (
        short.withColumn("cosine", rnd(cosine))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= SQ8_TOPK)
        .select("q_id", "c_id", "cosine", "rn")
    )


# ---------------------------------------------------------------------------
# sim_source_minhash — mergeable corpus-level MinHash sketch per source


def _src_minhash_oracle() -> str:
    h28 = o_hex_int("md5(t)", 7)
    mh_cols = ",\n         ".join(
        f"min((h * {PERM_A[i]} + {PERM_B[i]}) % {BUCKET_M}) AS mh{i}"
        for i in range(N_HASHES)
    )
    agree = " + ".join(
        f"CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END"
        for i in range(N_HASHES)
    )
    return f"""
WITH st AS MATERIALIZED (
  SELECT DISTINCT source, unnest(list_distinct(string_split(lower(text), ' '))) AS t
  FROM documents
),
th AS MATERIALIZED (
  SELECT source, {h28} AS h FROM st
),
sig AS MATERIALIZED (
  SELECT source,
         {mh_cols}
  FROM th GROUP BY source
),
sz AS MATERIALIZED (
  SELECT source, CAST(count(*) AS BIGINT) AS n FROM st GROUP BY source
),
inter AS MATERIALIZED (
  SELECT a.source AS src_a, b.source AS src_b, CAST(count(*) AS BIGINT) AS i
  FROM st a JOIN st b ON a.t = b.t AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT a.source AS src_a, b.source AS src_b,
       floor(CAST(({agree}) AS DOUBLE) / {N_HASHES} * 10000 + 0.5) / 10000
         AS est_jaccard,
       floor(CAST(coalesce(i.i, 0) AS DOUBLE)
             / (za.n + zb.n - coalesce(i.i, 0)) * 10000 + 0.5) / 10000
         AS jaccard
FROM sig a JOIN sig b ON a.source < b.source
JOIN sz za ON za.source = a.source
JOIN sz zb ON zb.source = b.source
LEFT JOIN inter i ON i.src_a = a.source AND i.src_b = b.source
"""


@register("sim_source_minhash", oracle=_src_minhash_oracle())
def sim_source_minhash(spark, sf_dir):
    """Corpus-level similarity between SOURCES via mergeable MinHash
    sketches: each source's token set is summarized by N_HASHES
    min-aggregations (the same 28-bit md5 hash + universal-hash
    permutations as dedup_minhash, so sketch and dedup cannot drift),
    and pairwise estimated Jaccard = fraction of agreeing signature
    slots — emitted NEXT TO the exact Jaccard so the sketch's error is
    measured on the graded path, not asserted.

    This is the sketch-rollup shape of corpus governance ("how much
    does crawl A overlap crawl B"): min() is associative and
    commutative, so per-partition partials merge in the map-combine —
    the sketch of a 100 TB source is computed in ONE streaming
    aggregation pass and two sources' sketches union by slot-wise min
    WITHOUT touching raw data again, where exact Jaccard needs a
    token-level join of both corpora. The exact side here is the
    oracle's ground truth AND stays feasible because sources are few;
    at scale you keep only the sketch."""
    st = (
        table(spark, sf_dir, "documents")
        .select(
            "source",
            F.explode(
                F.array_distinct(F.split(F.lower("text"), " "))
            ).alias("t"),
        )
        .distinct()
    )
    th = st.select("source", hex_int(F.md5("t"), 7).alias("h"))
    sig = th.groupBy("source").agg(
        *[
            F.min(
                (F.col("h") * F.lit(PERM_A[i]) + F.lit(PERM_B[i]))
                % F.lit(BUCKET_M)
            ).alias(f"mh{i}")
            for i in range(N_HASHES)
        ]
    )
    sz = st.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a, b = sig.alias("a"), sig.alias("b")
    agree = sum(
        F.when(F.col(f"a.mh{i}") == F.col(f"b.mh{i}"), 1).otherwise(0)
        for i in range(N_HASHES)
    )
    pairs = a.join(b, F.col("a.source") < F.col("b.source")).select(
        F.col("a.source").alias("src_a"),
        F.col("b.source").alias("src_b"),
        (
            F.floor(
                agree.cast("double") / N_HASHES * 10000 + F.lit(0.5)
            )
            / 10000
        ).alias("est_jaccard"),
    )
    inter = (
        st.alias("x")
        .join(
            st.alias("y"),
            (F.col("x.t") == F.col("y.t"))
            & (F.col("x.source") < F.col("y.source")),
        )
        .groupBy(
            F.col("x.source").alias("src_a"),
            F.col("y.source").alias("src_b"),
        )
        .agg(F.count(F.lit(1)).alias("i"))
    )
    return (
        pairs.join(
            F.broadcast(sz.select(F.col("source").alias("src_a"), F.col("n").alias("na"))),
            "src_a",
        )
        .join(
            F.broadcast(sz.select(F.col("source").alias("src_b"), F.col("n").alias("nb"))),
            "src_b",
        )
        .join(F.broadcast(inter), ["src_a", "src_b"], "left")
        .select(
            "src_a",
            "src_b",
            "est_jaccard",
            (
                F.floor(
                    F.coalesce(F.col("i"), F.lit(0)).cast("double")
                    / (F.col("na") + F.col("nb") - F.coalesce(F.col("i"), F.lit(0)))
                    * 10000
                    + F.lit(0.5)
                )
                / 10000
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# sim_maxsim

_MS_TOK = 8  # token vectors per embedding (64 dims -> 8 x 8)
_MS_DIM = 8
_MS_NQ = 5  # query vectors: vec_id < 5
_MS_TOPK = 3


def _maxsim_oracle() -> str:
    cos = (
        f"{dot_sql('q.tv', 'c.tv')} / ({norm_sql('q.tv')} * {norm_sql('c.tv')})"
    )
    return f"""
WITH toks AS (
    SELECT vec_id, t,
           list_slice(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                      (t - 1) * {_MS_DIM} + 1, t * {_MS_DIM}) AS tv
    FROM embeddings,
         LATERAL (SELECT unnest(generate_series(1, {_MS_TOK})) AS t)
),
q AS (SELECT * FROM toks WHERE vec_id < {_MS_NQ}),
c AS (SELECT * FROM toks WHERE vec_id >= {_MS_NQ}),
tok_max AS (
    SELECT q.vec_id AS q_id, c.vec_id AS c_id, q.t AS qt,
           max({o_rnd(cos)}) AS m
    FROM q JOIN c ON true
    GROUP BY q.vec_id, c.vec_id, q.t
),
scores AS (
    SELECT q_id, c_id, {o_rnd("sum(m)", "maxsim")}
    FROM tok_max GROUP BY q_id, c_id
)
SELECT q_id, c_id, maxsim, rn FROM (
    SELECT q_id, c_id, maxsim,
           CAST(row_number() OVER (PARTITION BY q_id
                ORDER BY maxsim DESC, c_id) AS INTEGER) AS rn
    FROM scores)
WHERE rn <= {_MS_TOPK}
"""


@register("sim_maxsim", oracle=_maxsim_oracle())
def sim_maxsim(spark, sf_dir):
    """ColBERT-style late-interaction top-3: each of 5 query vectors is
    split into 8 token vectors (8-dim slices, deterministic), every
    candidate likewise; score = Σ_qt max_ct cosine(qt, ct). Late
    interaction beats single-vector cosine when different query tokens
    match different document regions — the granularity single-vector
    retrieval (sim_cosine_topk) averages away.

    Plan shape: explode both sides to token rows, broadcast the (tiny)
    query-token side, one equi-free token join bounded by
    |q_tokens| × |c_tokens|, then two aggregations — per-(pair, query
    token) MAX, per-pair SUM — both map-side combinable. Per-token
    max is the WindowGroupLimit-free formulation (groupBy max beats a
    window here: no ordering needed). At corpus scale the candidate
    set comes from an ANN prefilter (sim_cosine_ivf) and MaxSim
    re-ranks the shortlist — exactly how late-interaction systems
    deploy; the 4dp-rounded per-token cosines reuse the shared
    dot_fold, so the whole score replays in SQL."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    )
    toks = e.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("t"),
                        F.slice("emb", (t - 1) * _MS_DIM + 1, _MS_DIM).alias(
                            "tv"
                        ),
                    )
                    for t in range(1, _MS_TOK + 1)
                ]
            )
        ).alias("tok"),
    ).select("vec_id", F.col("tok.t").alias("t"), F.col("tok.tv").alias("tv"))
    q = F.broadcast(
        toks.where(F.col("vec_id") < _MS_NQ).select(
            F.col("vec_id").alias("q_id"),
            F.col("t").alias("qt"),
            F.col("tv").alias("qv"),
        )
    )
    c = toks.where(F.col("vec_id") >= _MS_NQ).select(
        F.col("vec_id").alias("c_id"), F.col("tv").alias("cv")
    )
    cos = dot_fold(F.col("qv"), F.col("cv")) / (
        F.sqrt(dot_fold(F.col("qv"), F.col("qv")))
        * F.sqrt(dot_fold(F.col("cv"), F.col("cv")))
    )
    tok_max = (
        c.crossJoin(q)
        .withColumn("cc", rnd(cos))
        .groupBy("q_id", "c_id", "qt")
        .agg(F.max("cc").alias("m"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("maxsim"), F.asc("c_id"))
    return (
        tok_max.groupBy("q_id", "c_id")
        .agg(rnd(F.sum("m"), "maxsim"))
        .withColumn("rn", F.row_number().over(w).cast("int"))
        .where(F.col("rn") <= _MS_TOPK)
        .select("q_id", "c_id", "maxsim", "rn")
    )


# ---------------------------------------------------------------------------
# sim_cosine_binary

_BIN_NQ = 10
_BIN_TOPK = 5


def _bin_word(word: int):
    """Bits 32*word .. 32*word+31 of the sign code as one bigint."""
    return F.expr(
        "aggregate(transform(sequence(0, 31), i -> IF(element_at(emb, "
        f"{32 * word} + i + 1) > 0D, shiftleft(cast(1 as bigint), i), "
        "cast(0 as bigint))), cast(0 as bigint), (a, x) -> a + x)"
    )


def _bin_word_sql(col: str, word: int) -> str:
    return (
        f"list_sum(list_transform(range(0, 32), i -> CASE WHEN "
        f"{col}[{32 * word} + i + 1] > 0 THEN (CAST(1 AS BIGINT) << i) "
        f"ELSE CAST(0 AS BIGINT) END))"
    )


def _binary_oracle() -> str:
    h = (
        f"(bit_count(xor(q.h0, c.h0)) + bit_count(xor(q.h1, c.h1)))"
    )
    return f"""
WITH codes AS (
    SELECT vec_id,
           CAST({_bin_word_sql("embedding", 0)} AS BIGINT) AS h0,
           CAST({_bin_word_sql("embedding", 1)} AS BIGINT) AS h1
    FROM embeddings
),
q AS (SELECT * FROM codes WHERE vec_id < {_BIN_NQ}),
c AS (SELECT * FROM codes WHERE vec_id >= {_BIN_NQ})
SELECT q_id, c_id, hamming, rn FROM (
    SELECT q.vec_id AS q_id, c.vec_id AS c_id,
           CAST({h} AS BIGINT) AS hamming,
           CAST(row_number() OVER (PARTITION BY q.vec_id
                ORDER BY {h}, c.vec_id) AS INTEGER) AS rn
    FROM q CROSS JOIN c)
WHERE rn <= {_BIN_TOPK}
"""


@register("sim_cosine_binary", oracle=_binary_oracle())
def sim_cosine_binary(spark, sf_dir):
    """Binary-code nearest neighbors: each 64-dim embedding becomes a
    64-bit sign code (bit i = coordinate i > 0 — hyperplane LSH with
    the coordinate axes as hyperplanes), held as two 32-bit halves in
    bigints so no shift ever touches the sign bit (the engine-safe
    layout agg_bloom_filter established). Top-5 per query by Hamming
    distance = popcount(xor) on each half — integer-exact, so the
    whole ranking hash-grades.

    This is the 8-byte compression point of the ANN family: SQ8 keeps
    64 bytes, PQ 8 bytes with codebooks and ADC lookups; binary codes
    need NO codebook and the distance is two xor+popcount
    instructions — the candidate-generation tier billion-scale systems
    scan first, re-ranking survivors with exact cosine
    (sim_cosine_topk's plan). The code build is one whole-stage-
    codegen projection; at 100 TB codes ride in a 64x smaller column
    and the scan is bandwidth-bound at 8 bytes/vector."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    )
    codes = e.select(
        "vec_id", _bin_word(0).alias("h0"), _bin_word(1).alias("h1")
    )
    q = F.broadcast(
        codes.where(F.col("vec_id") < _BIN_NQ).select(
            F.col("vec_id").alias("q_id"),
            F.col("h0").alias("q0"),
            F.col("h1").alias("q1"),
        )
    )
    c = codes.where(F.col("vec_id") >= _BIN_NQ).select(
        F.col("vec_id").alias("c_id"),
        F.col("h0").alias("c0"),
        F.col("h1").alias("c1"),
    )
    ham = (
        F.bit_count(F.col("q0").bitwiseXOR(F.col("c0")))
        + F.bit_count(F.col("q1").bitwiseXOR(F.col("c1")))
    ).cast("bigint")
    w = Window.partitionBy("q_id").orderBy(F.asc("hamming"), F.asc("c_id"))
    return (
        c.crossJoin(q)
        .withColumn("hamming", ham)
        .withColumn("rn", F.row_number().over(w).cast("int"))
        .where(F.col("rn") <= _BIN_TOPK)
        .select("q_id", "c_id", "hamming", "rn")
    )


@register(
    "sim_levenshtein",
    oracle="""
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(levenshtein(substring(a.text, 1, 30), substring(b.text, 1, 30)) AS INTEGER) AS dist
FROM documents a
JOIN documents b ON a.lang = b.lang
                AND substring(a.text, 1, 4) = substring(b.text, 1, 4)
                AND a.doc_id < b.doc_id
WHERE levenshtein(substring(a.text, 1, 30), substring(b.text, 1, 30)) <= 8
""",
)
def sim_levenshtein(spark, sf_dir):
    """Edit-distance near-dup: same-language docs sharing a 4-char
    blocking prefix whose 30-char prefixes are within Levenshtein
    distance 8. The (lang, 4-char-prefix) blocking key is part of the
    operator's definition (mirrored in the oracle): it turns the
    O(n²)-per-lang self-join into an equi-join over small blocks — the
    only shape that survives 100 TB. Finer corpora swap in a coarser
    fingerprint (first-k-token hash) as the block key; same plan."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.substring("text", 1, 4).alias("blk"),
        F.substring("text", 1, 30).alias("prefix"),
    )
    a = d.alias("a")
    b = d.alias("b")
    dist = F.levenshtein(F.col("a.prefix"), F.col("b.prefix"))
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            dist.alias("dist"),
        )
        .filter(F.col("dist") <= 8)
    )
