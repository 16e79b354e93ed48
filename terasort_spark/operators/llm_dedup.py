"""Deduplication operators for LLM data pipelines (north-star
extension): exact dedup and MinHash-LSH near-dedup.

Scale design:
- exact dedup is a hash-groupBy keeping the minimum doc_id —
  deterministic (never bare dropDuplicates, whose row choice depends on
  partition arrival order) and a single shuffle on the content hash;
- MinHash-LSH replaces the O(n²) pair scan with banded bucket joins —
  candidates are only pairs sharing a band bucket, so the join is
  equi-key and shuffle-partitioned, the pattern that survives 100 TB.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from terasort_spark.catalog import table
from terasort_spark.operators._util import hex_int, o_hex_int, o_rnd, rnd
from terasort_spark.registry import register

N_HASHES = 32  # minhash signature length
N_BANDS = 4  # bands of 8 rows each: P(candidate) = 1-(1-s^8)^4
BUCKET_M = 2147483647  # Mersenne modulus (perm + band polynomial hash)
BUCKET_POW = [pow(31, k + 1, BUCKET_M) for k in range(32)]
# Universal-hash permutation constants: deterministic, coprime-ish,
# below 2^31 so every product stays under 2^59 in int64 arithmetic.
PERM_A = [pow(48271, k + 1, BUCKET_M) for k in range(32)]
PERM_B = [pow(16807, k + 7, BUCKET_M) for k in range(32)]


def _with_dups(spark, sf_dir):
    """The corpus has no exact duplicate texts (FIXTURES.md) — union a
    re-keyed slice of documents onto itself so dedup has work to do."""
    d = table(spark, sf_dir, "documents")
    dup = d.filter(F.col("doc_id") % 5 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    return d.unionByName(dup)


_DUP_SQL = """
  SELECT * FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text, lang, source, n_chars
  FROM documents WHERE doc_id % 5 = 0
"""


@register(
    "dedup_exact",
    oracle=f"""
SELECT md5(lower(trim(text))) AS h,
       min(doc_id) AS keep_id,
       count(*) AS n_copies
FROM ({_DUP_SQL})
GROUP BY md5(lower(trim(text)))
""",
)
def dedup_exact(spark, sf_dir):
    # groupBy(hash).min(doc_id): the kept row is a pure function of the
    # data, independent of partitioning — unlike dropDuplicates.
    return (
        _with_dups(spark, sf_dir)
        .withColumn("h", F.md5(F.lower(F.trim(F.col("text")))))
        .groupBy("h")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def lsh_signatures(spark, sf_dir):
    """MinHash signatures + banded bucket keys for every document —
    the shared front of lsh_candidates (within-corpus pairs) and
    wave8's dedup_fuzzy_ingest (cross-corpus candidates). Returns
    ``(sig, buckets)``: ``sig`` carries doc_id, toks and the mh0..mh{N}
    signature columns; ``buckets`` is (doc_id, band, bucket).

    signature: one 28-bit md5 slice per token, re-mixed into 32
    "permutations" by universal hashing (fully deterministic, no RNG
    state);
    banding: 4 bands x 8 rows (P(candidate) = 1-(1-s^8)^4 ~ 0.89 at
    s=0.9 but only ~0.07 at this corpus's 0.6 median overlap — the knob
    that keeps candidates sub-quadratic on high-overlap data);
    candidate join: ONE equi-join on (band, bucket) over exploded band
    rows carrying ids only — token arrays never ride the shuffle;
    verification: exact Jaccard >= 0.8 after re-joining token sets.

    per_doc_cap: when the caller only needs whether ANY qualifying
    smaller-id partner exists (keep/drop dedup), verification is capped
    at the cap smallest candidate a_ids per b_id. On a pathologically
    high-overlap corpus (this synthetic one has ~2.3M qualifying pairs
    among 5k docs) that bounds verification at cap·n pairs instead of
    ~n² — the difference between a dedup pass that finishes at 100 TB
    and one that doesn't. None = verify every candidate (pair-list
    semantics).
    """
    return lsh_signatures_df(
        table(spark, sf_dir, "documents").select("doc_id", "text")
    )


def lsh_signatures_df(docs):
    """lsh_signatures over an arbitrary (doc_id, text) DataFrame — the
    factor that lets STREAMING micro-batches compute the exact same
    signatures/band buckets as the batch corpus pass
    (wave10.dedup_stream_lsh signs each arriving batch with this)."""
    d = docs.select(
        "doc_id", F.array_distinct(F.split(F.lower("text"), " ")).alias("toks")
    )
    # Hash each token ONCE (the expensive string hash — 28 bits of md5,
    # identical in every engine), then derive the N_HASHES
    # "permutations" by cheap integer re-mixing of that value with the
    # engine-portable splitmix mixer — the standard a_i*h+b_i trick.
    # Cuts per-token hashing work by N_HASHES x without changing the
    # scheme's guarantees (each mix is an independent uniform function
    # of the token), and makes the ENTIRE candidate pipeline
    # SQL-replayable: md5 is the one token hash DuckDB can replay.
    # 28 bits keeps every mix32 input below 2^31, the mixer's
    # bit-exactness precondition.
    d = d.withColumn(
        "th", F.transform(F.col("toks"), lambda t: hex_int(F.md5(t), 7))
    ).localCheckpoint(eager=False)
    # ^ pin the hashed-token arrays: Catalyst collapses projections, so
    # without the checkpoint every one of the N_HASHES signature
    # columns would re-run the md5 pass over every token (32x the
    # corpus's most expensive scan work). One materialization, read by
    # all 32 permutations and the verify stage.

    def minhash(i):
        # 1-ary lambda: a 2-ary one would receive the array INDEX as its
        # second argument, silently replacing the seed. The permutation
        # is the textbook universal hash (a_i*h + b_i) mod p — three
        # integer ops per token, exact in every engine (a_i < 2^31 and
        # h < 2^28 keep the product under 2^59).
        a, b = PERM_A[i], PERM_B[i]
        return F.array_min(
            F.transform(
                F.col("th"),
                lambda h: (h * F.lit(a) + F.lit(b)) % F.lit(BUCKET_M),
            )
        ).alias(f"mh{i}")

    sig = d.select("doc_id", "toks", *[minhash(i) for i in range(N_HASHES)])
    rows_per_band = N_HASHES // N_BANDS

    def band_bucket(b):
        # polynomial fold of the band's rows — the engine-portable
        # replacement for murmur3(mh0..mh7). Each mh expression is
        # referenced exactly ONCE (a chained mixer would duplicate the
        # operand tree at every xor step and explode codegen); modular
        # arithmetic keeps every intermediate under 2^63 in both
        # engines. Collision probability between distinct 8-tuples is
        # ~1/M — irrelevant next to LSH's own false-positive rate.
        acc = F.lit(0)
        for r in range(rows_per_band):
            c = BUCKET_POW[b * rows_per_band + r]
            acc = (
                acc + (F.col(f"mh{b * rows_per_band + r}") % BUCKET_M) * c
            ) % F.lit(BUCKET_M)
        return acc

    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                band_bucket(b).alias("bucket"),
            )
            for b in range(N_BANDS)
        ]
    )
    buckets = sig.select("doc_id", F.explode(band_structs).alias("bb")).select(
        "doc_id", "bb.band", "bb.bucket"
    )
    return sig, buckets


def lsh_candidates(spark, sf_dir, per_doc_cap: int | None = None):
    """MinHash-LSH candidate generation — the shared front half of
    minhash_pairs (exact-Jaccard verification) and wave8's
    text_minhash_containment (signature-agreement estimation). Returns
    ``(sig, pairs)``: ``sig`` carries doc_id, toks and the mh0..mh{N}
    signature columns; ``pairs`` is the banded candidate set
    (a_id < b_id), capped per b_id when per_doc_cap is given. See
    lsh_signatures for the signature/banding details."""
    sig, buckets = lsh_signatures(spark, sf_dir)
    if per_doc_cap is not None:
        # Capped candidates are generated INSIDE each bucket, never as
        # the full bucket self-join: group the bucket to a sorted id
        # array and pair each doc with only its per_doc_cap nearest
        # SMALLER ids. A hot bucket of B docs emits cap·B candidate
        # rows instead of B²/2 — the difference between a dense-corpus
        # dedup that finishes and one that quadratically explodes. Two-
        # stage heuristic: each bucket contributes a doc's cap NEAREST
        # (largest) smaller ids, then ONE groupBy per b_id dedups the
        # per-band candidates (collect_set), sorts, and slices the cap
        # smallest of that nearest-biased union — a bounded subset of
        # the true cap-smallest candidates, not that exact set. Doing
        # dedup + cap inside a single aggregation (instead of
        # dropDuplicates + a row_number window, r3's form) costs one
        # shuffle, not three; the aggregated state per b_id is bounded
        # at cap * N_BANDS ids, so no reducer can blow up on a hot doc.
        grouped = buckets.groupBy("band", "bucket").agg(
            F.sort_array(F.collect_set("doc_id")).alias("ids")
        )
        cand = grouped.select(
            F.posexplode("ids").alias("idx", "b_id"),
            F.col("ids"),
        ).select(
            "b_id",
            F.explode(
                F.slice(
                    "ids",
                    F.greatest(F.lit(1), F.col("idx") - per_doc_cap + 1),
                    F.least(F.col("idx"), F.lit(per_doc_cap)),
                )
            ).alias("a_id"),
        )
        pairs = (
            cand.groupBy("b_id")
            .agg(
                F.slice(
                    F.array_sort(F.collect_set("a_id")), 1, per_doc_cap
                ).alias("a_ids")
            )
            .select("b_id", F.explode("a_ids").alias("a_id"))
            .select("a_id", "b_id")
        )
    else:
        pairs = (
            buckets.alias("a")
            .join(
                buckets.alias("b"),
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
            .dropDuplicates(["a_id", "b_id"])
        )
    return sig, pairs


def minhash_pairs(spark, sf_dir, tau: float = 0.8, per_doc_cap: int | None = None):
    """MinHash-LSH near-duplicate PAIRS: lsh_candidates' banded
    candidate set, verified at exact Jaccard >= tau by re-joining the
    token sets (tests assert recall against the exact Jaccard pair
    set). Capped or not, every pair comes out once, with a_id < b_id
    (tests/test_graph.py pins it; graph.lsh_edges relies on it)."""
    sig, pairs = lsh_candidates(spark, sf_dir, per_doc_cap)
    toks = sig.select("doc_id", "toks")
    verified = pairs.join(
        toks.select(F.col("doc_id").alias("a_id"), F.col("toks").alias("a_toks")),
        "a_id",
    ).join(
        toks.select(F.col("doc_id").alias("b_id"), F.col("toks").alias("b_toks")),
        "b_id",
    )
    jacc = F.size(F.array_intersect("a_toks", "b_toks")).cast("double") / F.size(
        F.array_union("a_toks", "b_toks")
    )
    return (
        verified.withColumn("jaccard", rnd(jacc))
        .filter(F.col("jaccard") >= tau)
        .select("a_id", "b_id", "jaccard")
    )


def lsh_buckets_sql() -> str:
    """WITH-clause body replaying ``lsh_signatures`` in DuckDB SQL:
    28-bit md5 token hashes, 32 universal-hash permutations and the
    polynomial band buckets — every stage exact integer. Ends with CTE
    ``buckets(doc_id, band, bucket)``; ``d`` (doc_id, toks), ``th_t``
    and ``sig`` (mh0..mh31) stay visible to callers. Shared by
    lsh_candidates_sql and wave8's cross-corpus fuzzy-ingest oracle."""
    h28 = o_hex_int("md5(t)", 7)
    mh_cols = ",\n           ".join(
        f"list_min(list_transform(th, h -> (h * {PERM_A[i]} + {PERM_B[i]})"
        f" % {BUCKET_M})) AS mh{i}"
        for i in range(N_HASHES)
    )
    rows_per_band = N_HASHES // N_BANDS
    band_selects = []
    for b in range(N_BANDS):
        acc = "0"
        for r in range(rows_per_band):
            k = b * rows_per_band + r
            acc = f"(({acc} + (mh{k} % {BUCKET_M}) * {BUCKET_POW[k]}) % {BUCKET_M})"
        band_selects.append(
            f"SELECT doc_id, {b} AS band, {acc} AS bucket FROM sig"
        )
    bands_sql = "\n    UNION ALL\n    ".join(band_selects)
    return f"""d AS MATERIALIZED (
    SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS toks
    FROM documents
),
th_t AS MATERIALIZED (
    SELECT doc_id, toks, list_transform(toks, t -> {h28}) AS th FROM d
),
sig AS MATERIALIZED (
    SELECT doc_id,
           {mh_cols}
    FROM th_t
),
buckets AS MATERIALIZED (
    {bands_sql}
)"""


def lsh_candidates_sql(cap: int = 8) -> str:
    """lsh_buckets_sql + per-bucket nearest-smaller candidate slices
    and the cap-smallest per-doc cap — the replay of
    ``lsh_candidates(per_doc_cap=cap)``. Ends with CTE
    ``capped(b_id, a_id)``. Shared by lsh_pairs_sql (exact-Jaccard
    verification) and wave8's containment oracle (signature-agreement
    estimation)."""
    return f"""{lsh_buckets_sql()},
grouped AS MATERIALIZED (
    SELECT band, bucket, list_sort(list(DISTINCT doc_id)) AS ids
    FROM buckets GROUP BY band, bucket
),
cand AS MATERIALIZED (
    SELECT ids[i.i] AS b_id,
           unnest(ids[greatest(1, i.i - {cap}) : i.i - 1]) AS a_id
    FROM grouped,
         LATERAL (SELECT unnest(generate_series(1, len(ids))) AS i) i
),
capped AS MATERIALIZED (
    SELECT b_id, unnest(list_sort(list(DISTINCT a_id))[1:{cap}]) AS a_id
    FROM cand GROUP BY b_id
)"""


def jaccard_sql(a: str = "ta", b: str = "tb") -> str:
    """4dp floor-rounded exact Jaccard between two th_t aliases."""
    inter = f"len(list_filter({a}.toks, x -> list_contains({b}.toks, x)))"
    return (
        f"floor(CAST({inter} AS DOUBLE)"
        f" / (len({a}.toks) + len({b}.toks) - {inter}) * 10000 + 0.5) / 10000"
    )


def lsh_pairs_sql(tau: float) -> str:
    """lsh_candidates_sql + exact-Jaccard verification, ending with CTE
    ``lsh_pairs(a_id, b_id)`` (a_id < b_id, verified at Jaccard >= tau)
    — the replay of ``minhash_pairs(tau, per_doc_cap=8)``. Shared by
    the dedup_minhash keep/drop oracle and the graph oracles
    (graph.lsh_edges_sql)."""
    jacc = jaccard_sql()
    return f"""{lsh_candidates_sql(8)},
lsh_pairs AS MATERIALIZED (
    SELECT c.a_id, c.b_id
    FROM capped c
    JOIN th_t ta ON ta.doc_id = c.a_id
    JOIN th_t tb ON tb.doc_id = c.b_id
    WHERE {jacc} >= {tau!r}
)"""


def _minhash_oracle() -> str:
    """Keep/drop replay over the shared LSH pairs body (tau=0.8, cap=8
    — dedup_minhash's exact parameters)."""
    return f"""
WITH {lsh_pairs_sql(tau=0.8)},
dropped AS MATERIALIZED (
    SELECT DISTINCT b_id AS doc_id FROM lsh_pairs
)
SELECT d.doc_id, (dr.doc_id IS NULL) AS keep
FROM d LEFT JOIN dropped dr USING (doc_id)
"""


@register("dedup_minhash", oracle=_minhash_oracle())
def dedup_minhash(spark, sf_dir):
    """Near-dedup keep/drop decisions via MinHash-LSH (see
    ``minhash_pairs`` for the candidate machinery).

    Output is ONE row per document (keep = no near-duplicate with a
    smaller doc_id) — bounded by n at any scale, unlike a pair list,
    which is inherently quadratic on high-overlap corpora (2.1M
    qualifying pairs among just 5000 docs of this synthetic corpus).
    This min-id survivor rule is the single-pass approximation of
    connected-components dedup used by large pretraining pipelines.

    EXACT-oracle since r6: the token hash is 28 bits of md5, the 32
    permutations are universal hashes (a_i*h+b_i mod p), and band
    buckets are polynomial folds — all engine-portable integer
    arithmetic, so the ENTIRE pipeline (banding, per-bucket candidate
    slices, the 8-smallest cap, exact-Jaccard verification) replays
    bit-for-bit in SQL (_minhash_oracle). md5 is the token hash
    because DuckDB can replay it; the scheme itself only needs a
    uniform hash.

    Verification is capped at 8 candidate partners per doc (see
    minhash_pairs.per_doc_cap — per-bucket nearest-smaller ids, then
    the 8 smallest of that union): a doc is dropped iff one of those 8
    capped LSH candidates verifies at Jaccard >= 0.8 — on a corpus
    where ~73% of candidates verify, the chance all 8 fail for a true
    near-dup is negligible, and the verify stage becomes O(n) instead
    of O(n²) on high-overlap data."""
    docs = table(spark, sf_dir, "documents").select("doc_id")
    pairs = minhash_pairs(spark, sf_dir, tau=0.8, per_doc_cap=8)
    # any partner with a smaller id ⇒ drop (b_id always > a_id)
    dropped = pairs.select(F.col("b_id").alias("doc_id")).distinct()
    return docs.join(dropped, "doc_id", "left_anti").select(
        "doc_id", F.lit(True).alias("keep")
    ).unionByName(dropped.select("doc_id", F.lit(False).alias("keep")))


@register(
    "dedup_simhash",
    oracle=f"""
WITH ints_t AS (
    SELECT doc_id,
           list_transform(
               list_distinct(string_split(lower(text), ' ')),
               t -> {o_hex_int("md5(t)", 4)}) AS ints
    FROM documents
),
votes AS (
    SELECT doc_id,
       CASE WHEN list_sum(list_transform(ints, h -> CASE WHEN (h >> 0) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN 1 ELSE 0 END AS p0,
       CASE WHEN list_sum(list_transform(ints, h -> CASE WHEN (h >> 1) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN 2 ELSE 0 END AS p1,
       CASE WHEN list_sum(list_transform(ints, h -> CASE WHEN (h >> 2) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN 4 ELSE 0 END AS p2,
       CASE WHEN list_sum(list_transform(ints, h -> CASE WHEN (h >> 3) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN 8 ELSE 0 END AS p3,
       CASE WHEN list_sum(list_transform(ints, h -> CASE WHEN (h >> 4) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN 16 ELSE 0 END AS p4,
       CASE WHEN list_sum(list_transform(ints, h -> CASE WHEN (h >> 5) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN 32 ELSE 0 END AS p5,
       CASE WHEN list_sum(list_transform(ints, h -> CASE WHEN (h >> 6) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN 64 ELSE 0 END AS p6,
       CASE WHEN list_sum(list_transform(ints, h -> CASE WHEN (h >> 7) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN 128 ELSE 0 END AS p7,
       CASE WHEN list_sum(list_transform(ints, h -> CASE WHEN (h >> 8) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN 256 ELSE 0 END AS p8,
       CASE WHEN list_sum(list_transform(ints, h -> CASE WHEN (h >> 9) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN 512 ELSE 0 END AS p9,
       CASE WHEN list_sum(list_transform(ints, h -> CASE WHEN (h >> 10) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN 1024 ELSE 0 END AS p10,
       CASE WHEN list_sum(list_transform(ints, h -> CASE WHEN (h >> 11) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN 2048 ELSE 0 END AS p11,
       CASE WHEN list_sum(list_transform(ints, h -> CASE WHEN (h >> 12) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN 4096 ELSE 0 END AS p12,
       CASE WHEN list_sum(list_transform(ints, h -> CASE WHEN (h >> 13) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN 8192 ELSE 0 END AS p13,
       CASE WHEN list_sum(list_transform(ints, h -> CASE WHEN (h >> 14) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN 16384 ELSE 0 END AS p14,
       CASE WHEN list_sum(list_transform(ints, h -> CASE WHEN (h >> 15) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN 32768 ELSE 0 END AS p15
    FROM ints_t
)
SELECT doc_id,
       CAST(coalesce(p0 + p1 + p2 + p3 + p4 + p5 + p6 + p7 + p8 + p9 + p10 + p11 + p12 + p13 + p14 + p15, 0) AS BIGINT) AS simhash16
FROM votes
""",
)
def dedup_simhash(spark, sf_dir):
    """SimHash fingerprint per document: sign-sum of per-token hash
    bits, bit-majority packed into a BIGINT. Near-dup candidates =
    equal fingerprints (Hamming-0 buckets; a banded Hamming-k variant
    splits the bits into 4-bit keys the same way MinHash bands do).

    Exact-oracle upgrade (round 6): the per-token hash is the first 16
    bits of md5 — identical in both engines — so the ±1 bit votes are
    exact integer sums and the whole fingerprint replays in SQL. One
    hash per DISTINCT token, all JVM higher-order functions, zero
    shuffles before the fingerprint groupBy; tests/test_token_hash.py
    pins that exact-duplicate texts land on one fingerprint."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.array_distinct(F.split(F.lower("text"), " ")).alias("toks")
    )
    # For each bit b: +1 if token-hash bit set else -1; sum over tokens;
    # fingerprint bit = 1 iff sum > 0. All JVM higher-order functions.
    d = d.withColumn(
        "th", F.transform(F.col("toks"), lambda t: hex_int(F.md5(t), 4))
    )

    def make_vote(b):
        # HOF merge lambdas must be exactly 2-ary; bind b via closure
        def vote(acc, h):
            bit = F.shiftright(h, b).bitwiseAND(F.lit(1))
            return acc + F.when(bit == 1, F.lit(1)).otherwise(F.lit(-1))

        return vote

    fp = F.lit(0)
    for b in range(16):  # 16-bit simhash keeps the expression tree small
        vote = F.aggregate(F.col("th"), F.lit(0), make_vote(b))
        fp = fp + F.when(vote > 0, F.lit(1 << b)).otherwise(F.lit(0))
    return d.select(
        "doc_id", F.coalesce(fp, F.lit(0)).cast("long").alias("simhash16")
    )


_EMB_DOT = (
    "list_sum(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]))"
)
_EMB_COS = (
    f"{_EMB_DOT} / (sqrt(list_sum(list_transform(a.v, x -> x*x))) * "
    "sqrt(list_sum(list_transform(b.v, x -> x*x))))"
)


@register(
    "dedup_embcos",
    oracle=f"""
WITH d AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings WHERE vec_id < 300
)
SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       {o_rnd(_EMB_COS, "cosine")}
FROM d a JOIN d b ON a.vec_id < b.vec_id
WHERE {o_rnd(_EMB_COS)} >= 0.3
""",
)
def dedup_embcos(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs: exact all-pairs on a
    bounded slice (300 vecs → 44,850 pairs). The 100 TB path reuses the
    sign-LSH bucketing from sim_cosine_ivf to make candidates an
    equi-join before this exact verify — same candidate/verify split as
    MinHash for text."""
    e = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 300)
        .select("vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v"))
    )
    a = e.select(F.col("vec_id").alias("a_id"), F.col("v").alias("a_v"))
    b = e.select(F.col("vec_id").alias("b_id"), F.col("v").alias("b_v"))

    from terasort_spark.operators.llm_similarity import dot_fold as dot

    cos = dot(F.col("a_v"), F.col("b_v")) / (
        F.sqrt(dot(F.col("a_v"), F.col("a_v"))) * F.sqrt(dot(F.col("b_v"), F.col("b_v")))
    )
    return (
        a.join(b, F.col("a_id") < F.col("b_id"))
        .withColumn("cosine", rnd(cos))
        .filter(F.col("cosine") >= 0.3)
        .select("a_id", "b_id", "cosine")
    )


@register(
    "dedup_cluster",
    oracle="""
WITH RECURSIVE
t AS (SELECT doc_id, list_distinct(string_split(lower(text),' ')) AS toks
      FROM documents WHERE doc_id < 200),
p AS (SELECT a.doc_id AS u, b.doc_id AS v FROM t a JOIN t b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.toks,b.toks)) AS DOUBLE)
            / len(list_distinct(a.toks || b.toks)) >= 0.9),
e AS (SELECT u, v FROM p UNION SELECT v, u FROM p),
reach AS (
  SELECT u, v FROM e
  UNION
  SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u
)
SELECT d.doc_id, least(d.doc_id, coalesce(min(r.v), d.doc_id)) AS cluster_id
FROM t d LEFT JOIN reach r ON r.u = d.doc_id
GROUP BY d.doc_id
""",
)
def dedup_cluster(spark, sf_dir):
    """Connected components over near-duplicate pairs — the step after
    LSH in a real dedup pipeline (grouping candidate pairs into
    duplicate clusters; cluster_id = smallest doc_id in the component).

    Spark has no recursive SQL, so the components come from
    graph.star_components, the package's one CC loop (large-star /
    small-star alternation: O(log n) rounds whatever the component
    diameter; the driver only sees one convergence scalar per round).
    It labels the nodes that have an edge; a left join gives every
    other document its own id as its cluster. The oracle is DuckDB's
    recursive-CTE transitive closure — same answer, engine-native
    recursion.

    The pair generator here is the exact-Jaccard slice (doc_id < 200,
    tau 0.9) so the oracle can reproduce it; at 100 TB the pairs input
    swaps to minhash_pairs with no change to the components step."""
    from terasort_spark.operators.graph import star_components

    d = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", F.array_distinct(F.split(F.lower("text"), " ")).alias("toks"))
    )
    a = d.select(F.col("doc_id").alias("a_id"), F.col("toks").alias("a_toks"))
    b = d.select(F.col("doc_id").alias("b_id"), F.col("toks").alias("b_toks"))
    jacc = F.size(F.array_intersect("a_toks", "b_toks")).cast("double") / F.size(
        F.array_union("a_toks", "b_toks")
    )
    pairs = (
        a.join(b, F.col("a_id") < F.col("b_id"))
        .filter(jacc >= 0.9)
        .select(F.col("a_id").alias("a"), F.col("b_id").alias("b"))
    )
    labels, _rounds = star_components(spark, pairs)
    return d.join(labels, "doc_id", "left").select(
        "doc_id", F.coalesce("component", "doc_id").alias("cluster_id")
    )


def canonical_url(col):
    """Canonicalize a URL column: lowercase scheme+host, drop the
    fragment, strip each utm_* tracking param individually (non-utm
    params survive, in order), repair the leading separator (a query
    string left starting with '&' gets its first '&' promoted to '?'),
    strip the trailing slash. Idempotent (property-tested in
    tests/test_property.py) — a prerequisite for using it as a dedup
    key, since crawl frontiers re-canonicalize already-canonical
    URLs."""
    sh_pat = "^(https?://[^/]+)"
    scheme_host = F.regexp_extract(col, sh_pat, 1)
    rest = F.expr(
        f"substr({col}, length(regexp_extract({col}, '{sh_pat}', 1)) + 1)"
    )
    rest = F.regexp_replace(rest, r"#.*$", "")
    # Strip utm params without ever touching a literal '&' in the path
    # (legal per RFC 3986): (1) drop '&utm_...' params, (2) a leading
    # '?utm_...&' promotes the next param's '&' to '?' in the same
    # match, (3) a lone trailing '?utm_...' disappears. A blanket
    # "promote first '&' to '?'" would corrupt paths like /a&b.
    rest = F.regexp_replace(rest, r"&utm_[^&#]*", "")
    rest = F.regexp_replace(rest, r"\?utm_[^&#]*&", "?")
    rest = F.regexp_replace(rest, r"\?utm_[^&#]*$", "")
    rest = F.regexp_replace(rest, r"/+$", "")
    return F.concat(F.lower(scheme_host), rest)


_URL_RAW_SQL = """
    'https://WWW.' || upper(source) || '.example.com/' || lang || '/doc-'
    || CAST(doc_id % 50 AS VARCHAR)
    || CASE WHEN doc_id % 3 = 0 THEN '/?utm_source=feed&utm_campaign=x'
            WHEN doc_id % 3 = 1 THEN '/' ELSE '' END
    || CASE WHEN doc_id % 7 = 0 THEN '#frag' ELSE '' END
"""


@register(
    "dedup_urlnorm",
    oracle=rf"""
WITH raw AS (
    SELECT doc_id, {_URL_RAW_SQL} AS url FROM documents
),
canon AS (
    SELECT doc_id,
           lower(regexp_extract(url, '^(https?://[^/]+)', 1)) ||
           regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
               substr(url, len(regexp_extract(url, '^(https?://[^/]+)', 1)) + 1),
               '#.*$', ''), '&utm_[^&#]*', '', 'g'), '\?utm_[^&#]*&', '?', 'g'),
               '\?utm_[^&#]*$', '', 'g'), '/+$', '')
           AS canonical
    FROM raw
)
SELECT canonical, min(doc_id) AS keep_id, count(*) AS n_variants
FROM canon GROUP BY canonical
""",
)
def dedup_urlnorm(spark, sf_dir):
    """URL-canonicalization dedup — the first dedup pass of any
    web-crawl pipeline: case-fold the scheme+host, drop the fragment,
    strip utm_* tracking parameters and the trailing slash, then keep
    one document per canonical URL (min doc_id). The corpus has no URL
    column, so a raw URL is synthesized deterministically from
    (source, lang, doc_id) with the classic variant noise — uppercase
    host, trailing slash, utm params, #fragment — identically on both
    engines.

    Scale notes: canonicalization is pure per-row string work inside
    whole-stage codegen; the only shuffle is the final groupBy on the
    canonical URL — exactly the shape of a 100 TB crawl dedup (the
    group key is ~unique, so AQE coalesces the mostly-size-1 groups)."""
    d = table(spark, sf_dir, "documents")
    raw = F.concat(
        F.lit("https://WWW."),
        F.upper("source"),
        F.lit(".example.com/"),
        F.col("lang"),
        F.lit("/doc-"),
        (F.col("doc_id") % 50).cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("/?utm_source=feed&utm_campaign=x"))
        .when(F.col("doc_id") % 3 == 1, F.lit("/"))
        .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 7 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )
    d = d.select("doc_id", raw.alias("url"))
    return (
        d.select("doc_id", canonical_url("url").alias("canonical"))
        .groupBy("canonical")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_variants"))
    )
