"""Deduplication operators for LLM data pipelines (north-star
extension): exact dedup and MinHash-LSH near-dedup, Bloom-gated and
fuzzy ingest against a standing corpus (batch and streaming), semantic
(embedding) dedup and quality-aware keeper selection.

Scale design:
- exact dedup is a hash-groupBy keeping the minimum doc_id —
  deterministic (never bare dropDuplicates, whose row choice depends on
  partition arrival order) and a single shuffle on the content hash;
- MinHash-LSH replaces the O(n²) pair scan with banded bucket joins —
  candidates are only pairs sharing a band bucket, so the join is
  equi-key and shuffle-partitioned, the pattern that survives 100 TB.
"""

from __future__ import annotations

import shutil

from pyspark.sql import Window
from pyspark.sql import functions as F

from terasort_spark.catalog import table
from terasort_spark.operators._util import (
    hex_int,
    o_hex_int,
    o_rnd,
    rnd,
    scoped_confs,
    scratch_dir,
)
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
    dedup_fuzzy_ingest (cross-corpus candidates). Returns
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
    (dedup_stream_lsh signs each arriving batch with this)."""
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
    minhash_pairs (exact-Jaccard verification) and dedup_fuzzy_ingest's
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
    lsh_candidates_sql and dedup_fuzzy_ingest's cross-corpus oracle."""
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
    verification) and text_minhash_containment's oracle (signature-agreement
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


# ---------------------------------------------------------------------------
# dedup_probabilistic — Bloom-filter cross-snapshot admission gate.
#
# dedup_incremental (curation.py) answers "which batch docs are new?"
# with an exact hash anti-join: the EXISTING corpus's full hash set
# rides the shuffle every ingest. At 100 TB the existing side is the
# whole corpus; the standing structure a recurring crawl actually keeps
# is a Bloom filter over existing content hashes — M bits NO MATTER HOW
# MANY DOCUMENTS — and the exact join runs only for the Bloom-positive
# (suspected-duplicate) sliver. No false negatives: a Bloom miss is
# PROOF the doc is new, so fast-path docs skip the corpus join entirely.

BLOOM_W = 32  # bits per word; the filter broadcasts as an M/W-entry map
BLOOM_K = 2  # hash functions per key
BLOOM_BITS_PER_KEY = 10  # M sized from the existing-hash count (r8 ADVICE
#   item 3: a fixed M saturates once distinct hashes exceed capacity and
#   every batch doc routes 'verified'); with K=2 at 10 bits/key the
#   false-positive rate is (1-e^(-K/10))^K ~= 3.3%, so the fast path
#   keeps ~96% of genuinely-new docs out of the corpus join at EVERY
#   scale. Both engines compute the identical M from the identical
#   count, so the bitmap stays oracle-replayed.
BLOOM_M_MIN = 1024


def _bloom_m(n_existing: int) -> int:
    """Filter bits: bits-per-key * existing keys, rounded up to a whole
    word, floored at BLOOM_M_MIN. Positive ints only, so Python's //
    agrees with DuckDB's truncating //."""
    return max(
        BLOOM_M_MIN,
        (BLOOM_BITS_PER_KEY * n_existing + BLOOM_W - 1) // BLOOM_W * BLOOM_W,
    )


_BLOOM_M_SQL = (
    f"GREATEST({BLOOM_M_MIN}, "
    f"(({BLOOM_BITS_PER_KEY} * (SELECT count(*) FROM existing) + {BLOOM_W - 1}) "
    f"// {BLOOM_W}) * {BLOOM_W})"
)


def _bloom_pos_sql(h_expr: str, k: int) -> str:
    """Bit position k for key ``h_expr``: 32 bits of md5(h || '#k')
    (16 bits would alias once the data-sized M exceeds 65536), mod the
    data-sized M (a scalar subquery over the `mm` CTE) — the same
    expression the Spark side evaluates with its driver-side M."""
    md5_expr = f"md5({h_expr} || '#{k}')"
    return f"({o_hex_int(md5_expr, 8)} % (SELECT m FROM mm))"


def _bloom_pos_spark(h_col, k: int, m_col):
    """``m_col`` is the data-sized M as a COLUMN (1-row scalar joined
    in), so sizing never needs a separate driver action."""
    return F.pmod(hex_int(F.md5(F.concat(h_col, F.lit(f"#{k}"))), 8), m_col)


def _probabilistic_oracle() -> str:
    e_pos = ", ".join(_bloom_pos_sql("h", k) for k in range(BLOOM_K))
    b_pos = ", ".join(_bloom_pos_sql("b.h", k) for k in range(BLOOM_K))
    return f"""
WITH existing AS MATERIALIZED (
  SELECT DISTINCT md5(text) AS h FROM documents
  WHERE doc_id % 5 = 0 AND text IS NOT NULL
),
batch AS MATERIALIZED (
  SELECT md5(text) AS h, min(doc_id) AS doc_id,
         CAST(count(*) AS BIGINT) AS n_copies
  FROM documents WHERE doc_id % 5 <> 0 AND text IS NOT NULL
  GROUP BY md5(text)
),
mm AS MATERIALIZED (
  SELECT {_BLOOM_M_SQL} AS m
),
epos AS MATERIALIZED (
  SELECT unnest([{e_pos}]) AS p FROM existing
),
words AS MATERIALIZED (
  SELECT p // {BLOOM_W} AS widx,
         bit_or(CAST(1 AS BIGINT) << (p % {BLOOM_W})) AS w
  FROM epos GROUP BY p // {BLOOM_W}
),
probe AS MATERIALIZED (
  SELECT h, bool_and(
           w.w IS NOT NULL AND ((w.w >> (bp.p % {BLOOM_W})) & 1) = 1
         ) AS might
  FROM (SELECT b.h, unnest([{b_pos}]) AS p FROM batch b) bp
  LEFT JOIN words w ON w.widx = bp.p // {BLOOM_W}
  GROUP BY h
)
SELECT b.doc_id, b.h, b.n_copies,
       CASE WHEN p.might THEN 'verified' ELSE 'fast' END AS path
FROM batch b
JOIN probe p USING (h)
LEFT JOIN existing e USING (h)
WHERE e.h IS NULL
"""


@register("dedup_probabilistic", oracle=_probabilistic_oracle())
def dedup_probabilistic(spark, sf_dir):
    """Bloom-gated incremental dedup: admit a crawl batch against the
    existing corpus using an M-bit Bloom filter over existing content
    hashes. Batch hashes the filter has DEFINITELY never seen are
    admitted on the fast path (no corpus join at all — the no-false-
    negative guarantee); Bloom-positive hashes go through the exact
    anti-join, which clears false positives ('verified' path) and drops
    true duplicates. Output = every admitted (new) doc with its batch
    keep-id, copy count, and which path admitted it.

    Oracle-replayed BITMAP: bit positions are 16 md5 bits of (h || '#k')
    mod M, the words are bit_or aggregates — both engines build the
    identical filter, so the fast/verified routing itself is
    hash-checked, not just the final admitted set (join_bloom's oracle,
    by contrast, only checks the answer). The bloom admission tests
    additionally pin admitted == the exact anti-join and that NO
    existing hash ever tests negative.

    100 TB: the filter is M bits regardless of corpus size and ships as
    a ~M/W-entry broadcast map; per-batch cost is one scan of the batch
    plus an equi-join whose left side is only the Bloom-positive sliver
    (true dups + ~(1-e^{{-Kn/M}})^K false positives). The positions are
    md5 slices so DuckDB replays the filter bit-for-bit."""
    d = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    h = F.md5("text").alias("h")
    # checkpoint pins ONE execution: the M-sizing aggregate, the
    # bit-position build, and the verification anti-join all consume
    # `existing`
    existing = (
        d.filter(F.col("doc_id") % 5 == 0)
        .select(h)
        .distinct()
        .localCheckpoint(eager=False)
    )
    # data-sized M as a 1-row scalar (broadcast-joined below, never a
    # driver action): the same bits-per-key formula as _bloom_m/the
    # oracle's mm CTE
    mm = existing.agg(
        F.greatest(
            F.lit(BLOOM_M_MIN),
            (
                (F.count(F.lit(1)) * BLOOM_BITS_PER_KEY + (BLOOM_W - 1))
                / BLOOM_W
            ).cast("long")
            * BLOOM_W,
        ).alias("m")
    )
    batch = (
        d.filter(F.col("doc_id") % 5 != 0)
        .select("doc_id", h)
        .groupBy("h")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).cast("bigint").alias("n_copies"),
        )
    )
    # build: K positions per existing hash, OR'd into 32-bit words held
    # in longs — bounded state (256 rows) whatever the corpus size
    epos = existing.crossJoin(F.broadcast(mm)).select(
        F.explode(
            F.array(
                *[
                    _bloom_pos_spark(F.col("h"), k, F.col("m"))
                    for k in range(BLOOM_K)
                ]
            )
        ).alias("p")
    )
    words = epos.groupBy(
        (F.col("p") / BLOOM_W).cast("long").alias("widx")
    ).agg(
        F.bit_or(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(p % {BLOOM_W} AS INT))")
        ).alias("w")
    )
    # probe: K bit tests per batch hash against the broadcast words map
    bpos = batch.crossJoin(F.broadcast(mm)).select(
        "h",
        F.explode(
            F.array(
                *[
                    _bloom_pos_spark(F.col("h"), k, F.col("m"))
                    for k in range(BLOOM_K)
                ]
            )
        ).alias("p"),
    )
    hit = F.col("w").isNotNull() & (
        F.expr(f"shiftright(w, CAST(p % {BLOOM_W} AS INT))").bitwiseAND(F.lit(1))
        == 1
    )
    probe = (
        bpos.join(
            F.broadcast(words),
            (F.col("p") / BLOOM_W).cast("long") == F.col("widx"),
            "left",
        )
        .groupBy("h")
        .agg(F.bool_and(hit).alias("might"))
    )
    gated = batch.join(probe, "h")
    # fast path: Bloom miss == PROOF of novelty, no corpus join
    fast = gated.filter(~F.col("might")).withColumn("path", F.lit("fast"))
    # suspected dups: exact anti-join clears the false positives
    verified = (
        gated.filter(F.col("might"))
        .join(existing, "h", "left_anti")
        .withColumn("path", F.lit("verified"))
    )
    return fast.unionByName(verified).select(
        "doc_id", "h", "n_copies", "path"
    )


# ---------------------------------------------------------------------------
# dedup_fuzzy_ingest — cross-corpus NEAR-dup admission (the fuzzy half
# of crawl ingest; dedup_probabilistic above is the exact half).

FUZZY_TAU = 0.8  # dedup_minhash's verification threshold
FUZZY_CAP = 8  # existing-side candidate cap per batch doc


def _fuzzy_oracle() -> str:
    return f"""
WITH {lsh_buckets_sql()},
exb AS MATERIALIZED (
  SELECT band, bucket, doc_id AS e_id FROM buckets WHERE doc_id % 5 = 0
),
btb AS MATERIALIZED (
  SELECT band, bucket, doc_id AS b_id FROM buckets WHERE doc_id % 5 <> 0
),
grouped AS MATERIALIZED (
  SELECT band, bucket, list_sort(list(DISTINCT e_id)) AS eids
  FROM exb GROUP BY band, bucket
),
cand AS MATERIALIZED (
  SELECT b.b_id, unnest(g.eids[1:{FUZZY_CAP}]) AS e_id
  FROM btb b JOIN grouped g USING (band, bucket)
),
capped AS MATERIALIZED (
  SELECT b_id, unnest(list_sort(list(DISTINCT e_id))[1:{FUZZY_CAP}]) AS e_id
  FROM cand GROUP BY b_id
),
dropped AS MATERIALIZED (
  SELECT DISTINCT c.b_id
  FROM capped c
  JOIN th_t ta ON ta.doc_id = c.e_id
  JOIN th_t tb ON tb.doc_id = c.b_id
  WHERE {jaccard_sql()} >= {FUZZY_TAU!r}
)
SELECT d.doc_id, (dr.b_id IS NULL) AS keep
FROM d LEFT JOIN dropped dr ON dr.b_id = d.doc_id
WHERE d.doc_id % 5 <> 0
"""


def fuzzy_group_state(exb):
    """Group standing-side (band,bucket,e_id) rows into the sorted
    per-bucket id arrays the admission rule consumes. Kept as its own
    factor so a PRE-GROUPED, cap-compacted state store (dedup_stream_lsh's
    streaming ingest) can skip this full-state shuffle per batch."""
    return exb.groupBy("band", "bucket").agg(
        F.sort_array(F.collect_set("e_id")).alias("eids")
    )


def fuzzy_capped(btb, grouped, cap=FUZZY_CAP):
    """Capped candidate generation: join arriving (band,bucket,b_id)
    against grouped standing buckets, take the cap smallest standing
    ids per bucket, then the cap smallest of each arriving doc's
    per-band union — per-reducer state bounded at cap x bands ids, no
    arriving-arriving or standing-standing pair ever formed."""
    cand = btb.join(grouped, ["band", "bucket"]).select(
        "b_id", F.explode(F.slice("eids", 1, cap)).alias("e_id")
    )
    return (
        cand.groupBy("b_id")
        .agg(
            F.slice(F.array_sort(F.collect_set("e_id")), 1, cap).alias("eids")
        )
        .select("b_id", F.explode("eids").alias("e_id"))
    )


def fuzzy_verified_drops(capped, b_toks, e_toks, tau=FUZZY_TAU):
    """Exact-Jaccard verification of capped candidate pairs; returns
    the DISTINCT dropped b_ids (a verified >= tau partner exists)."""
    verified = capped.join(
        e_toks.select(F.col("e_id"), F.col("toks").alias("e_toks")), "e_id"
    ).join(
        b_toks.select(F.col("b_id"), F.col("toks").alias("b_toks")), "b_id"
    )
    jacc = F.size(F.array_intersect("e_toks", "b_toks")).cast(
        "double"
    ) / F.size(F.array_union("e_toks", "b_toks"))
    return (
        verified.withColumn("jaccard", rnd(jacc))
        .filter(F.col("jaccard") >= tau)
        .select("b_id")
        .distinct()
    )


def fuzzy_dropped(btb, exb, b_toks, e_toks, cap=FUZZY_CAP, tau=FUZZY_TAU):
    """THE cross-corpus capped LSH admission rule, factored (r10) so
    the batch ingest below and the streaming ingest
    (dedup_stream_lsh's per-micro-batch twin) are one code path.
    ``btb``/(band,bucket,b_id) is the arriving side, ``exb``/(band,
    bucket,e_id) the standing side; ``b_toks``/(b_id,toks) and
    ``e_toks``/(e_id,toks) feed exact-Jaccard verification. Composed
    from the three factors above (r11: split so the streaming twin can
    feed a pre-grouped pruned state instead of re-grouping the full
    standing corpus every micro-batch)."""
    return fuzzy_verified_drops(
        fuzzy_capped(btb, fuzzy_group_state(exb), cap), b_toks, e_toks, tau
    )


@register("dedup_fuzzy_ingest", oracle=_fuzzy_oracle())
def dedup_fuzzy_ingest(spark, sf_dir):
    """Cross-corpus near-duplicate admission: a new crawl batch
    (doc_id % 5 != 0) is deduped against the EXISTING corpus
    (doc_id % 5 == 0) by MinHash-LSH — the GPT-3/CCNet ingest shape
    where each crawl is fuzzy-deduplicated against all previous crawls,
    not just against itself (dedup_minhash) and not just exactly
    (dedup_probabilistic/dedup_incremental). A batch doc is dropped
    when a capped LSH candidate from the EXISTING side verifies at
    exact Jaccard >= 0.8; output is one keep/drop decision per batch
    doc.

    Reuses dedup_minhash's signatures and band buckets verbatim
    (llm_dedup.lsh_signatures / lsh_buckets_sql) — only the candidate
    join is asymmetric: existing-side ids group per (band, bucket) into
    a sorted list, each batch doc takes the cap smallest, and one
    groupBy per batch doc dedups the per-band unions. Per-reducer state
    is bounded at cap x bands ids exactly as in the self-join case.

    100 TB: the existing corpus contributes signatures only (32 longs
    per doc — in production these are PERSISTED once per crawl, not
    recomputed); candidates are an equi-join on (band, bucket); the cap
    bounds verification at cap x |batch| pairs however hot the buckets
    get. No batch-batch or existing-existing pair is ever formed."""
    sig, buckets = lsh_signatures(spark, sf_dir)
    is_existing = F.col("doc_id") % 5 == 0
    exb = buckets.filter(is_existing).select(
        "band", "bucket", F.col("doc_id").alias("e_id")
    )
    btb = buckets.filter(~is_existing).select(
        "band", "bucket", F.col("doc_id").alias("b_id")
    )
    toks = sig.select("doc_id", "toks")
    dropped = fuzzy_dropped(
        btb,
        exb,
        toks.select(F.col("doc_id").alias("b_id"), "toks"),
        toks.select(F.col("doc_id").alias("e_id"), "toks"),
    )
    batch = sig.filter(~is_existing).select("doc_id")
    return batch.join(
        dropped.withColumnRenamed("b_id", "doc_id"), "doc_id", "left_anti"
    ).withColumn("keep", F.lit(True)).unionByName(
        dropped.select(F.col("b_id").alias("doc_id")).withColumn(
            "keep", F.lit(False)
        )
    )


# ---------------------------------------------------------------------------
# dedup_stream_lsh — streaming near-dup ingest (r9 VERDICT task 4): the
# watermarked streaming surface composed with the LSH fuzzy-admission
# stages, so a live crawl deduplicates each arriving micro-batch against
# STANDING state and folds its admissions back in.

_STREAM_ROUNDS = 3
_DOCS_SCHEMA = (
    "doc_id bigint, text string, lang string, source string, n_chars bigint"
)
# Standing-state layout (r10 VERDICT task 2): bucket state is stored
# PRE-GROUPED and CAP-COMPACTED (per (band,bucket) the sorted <=cap
# smallest admitted ids — the only ids the admission slice can ever
# use), hive-partitioned by (band, bs=pmod(bucket, _BUCKET_SHARDS)) so
# a micro-batch reads only the partition directories its own buckets
# can touch. Token state is partitioned by ds=pmod(doc_id, _TOK_SHARDS)
# so Jaccard verification reads only the shards holding candidate ids.
_BUCKET_SHARDS = 4
_TOK_SHARDS = 8
_COMPACT_FILES = 8  # fragmentation threshold: compact a (band, bs)


# leaf once it holds this many files (>= bounds read amplification at
# cap-merge time; appends write one file per touched leaf per batch)


def _leaf_file_count(st_b: str, band, bs) -> int:
    import os as _os

    leaf = _os.path.join(st_b, f"band={band}", f"bs={bs}")
    try:
        return sum(1 for f in _os.listdir(leaf) if f.endswith(".parquet"))
    except OSError:
        return 0


_GSTATE_SCHEMA = "bucket bigint, eids array<bigint>, band int, bs int"
_TOKS_PART_SCHEMA = "doc_id bigint, toks array<string>, ds int"


def _bucket_shard(col):
    return F.pmod(col, F.lit(_BUCKET_SHARDS)).cast("int")


def _tok_shard(col):
    return F.pmod(col, F.lit(_TOK_SHARDS)).cast("int")


def _read_pruned_buckets(spark, st_b, pairs, cap):
    """Partition-pruned standing-state read: only the (band, bs) hive
    directories in ``pairs`` are listed and scanned — the filter is a
    disjunction over partition columns only, so it resolves at file
    listing time (PartitionFilters in the scan node), never touching
    the other shards' bytes. ``pairs`` is bounded at
    N_BANDS x _BUCKET_SHARDS regardless of corpus size.

    State rows are APPEND-ONLY pre-capped groups (one row per bucket
    per admitting batch); this read cap-merges them back to one sorted
    <=cap array per bucket. Exact despite per-row capping: an id
    outside a row's cap-smallest could only have been capped out by
    cap smaller ids in that same row, all of which are present in the
    merge, so it can never re-enter any cap slice."""
    from functools import reduce

    cond = reduce(
        lambda acc, p: acc
        | ((F.col("band") == p[0]) & (F.col("bs") == p[1])),
        sorted(pairs),
        F.lit(False),
    )
    return (
        spark.read.schema(_GSTATE_SCHEMA)
        .parquet(st_b)
        .filter(cond)
        .groupBy("band", "bucket")
        .agg(
            F.slice(
                F.array_sort(F.array_distinct(F.flatten(F.collect_list("eids")))),
                1,
                cap,
            ).alias("eids")
        )
        .select("band", "bucket", "eids")
    )


def _compact_buckets(spark, st_b, pairs, cap):
    """Physical cap-compaction: rewrite the given (band, bs) partitions
    as one merged <=cap row per bucket (dynamic partition overwrite of
    a checkpointed merge), so standing state stays bounded at
    cap x n_buckets ids no matter how many batches appended. Triggered
    per leaf by measured fragmentation (>= _COMPACT_FILES files) —
    amortized, never on the admission path."""
    merged = (
        _read_pruned_buckets(spark, st_b, pairs, cap)
        .withColumn("bs", _bucket_shard(F.col("bucket")))
        .localCheckpoint(eager=True)  # pin before overwriting source
    )
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("band", "bs")
        .parquet(st_b)
    )


def _stream_lsh_oracle() -> str:
    """Sequential-ingest replay: the standing corpus (doc_id % 5 == 0)
    is round-0 state; crawl round k (doc_id % 3 == k among the rest)
    dedups against everything admitted so far, then its keeps join the
    admitted set — three unrolled MATERIALIZED rounds of the exact
    dedup_fuzzy_ingest CTE chain."""
    parts = [
        lsh_buckets_sql(),
        "adm0 AS MATERIALIZED (SELECT doc_id FROM d WHERE doc_id % 5 = 0)",
    ]
    drops = []
    for k in range(_STREAM_ROUNDS):
        parts.append(
            f"bk{k} AS MATERIALIZED (SELECT doc_id FROM d "
            f"WHERE doc_id % 5 <> 0 AND doc_id % 3 = {k})"
        )
        parts.append(
            f"""g{k} AS MATERIALIZED (
  SELECT band, bucket, list_sort(list(DISTINCT b.doc_id)) AS eids
  FROM buckets b JOIN adm{k} a USING (doc_id) GROUP BY band, bucket)"""
        )
        parts.append(
            f"""c{k} AS MATERIALIZED (
  SELECT bb.doc_id AS b_id, unnest(g.eids[1:{FUZZY_CAP}]) AS e_id
  FROM buckets bb JOIN bk{k} USING (doc_id) JOIN g{k} g USING (band, bucket))"""
        )
        parts.append(
            f"""p{k} AS MATERIALIZED (
  SELECT b_id, unnest(list_sort(list(DISTINCT e_id))[1:{FUZZY_CAP}]) AS e_id
  FROM c{k} GROUP BY b_id)"""
        )
        parts.append(
            f"""dr{k} AS MATERIALIZED (
  SELECT DISTINCT p.b_id
  FROM p{k} p
  JOIN th_t ta ON ta.doc_id = p.e_id
  JOIN th_t tb ON tb.doc_id = p.b_id
  WHERE {jaccard_sql()} >= {FUZZY_TAU!r})"""
        )
        drops.append(f"SELECT b_id FROM dr{k}")
        if k < _STREAM_ROUNDS - 1:
            parts.append(
                f"""adm{k + 1} AS MATERIALIZED (
  SELECT doc_id FROM adm{k}
  UNION ALL
  SELECT b.doc_id FROM bk{k} b
  LEFT JOIN dr{k} x{k} ON x{k}.b_id = b.doc_id
  WHERE x{k}.b_id IS NULL)"""
            )
    union_drops = "\n      UNION ALL ".join(drops)
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT b.doc_id, CAST(b.doc_id % 3 AS INT) AS round,
       (dr.b_id IS NULL) AS keep
FROM (SELECT doc_id FROM d WHERE doc_id % 5 <> 0) b
LEFT JOIN ({union_drops}) dr ON dr.b_id = b.doc_id
"""
    )


@register("dedup_stream_lsh", oracle=_stream_lsh_oracle())
def dedup_stream_lsh(spark, sf_dir):
    """STREAMING near-duplicate ingest — the live-crawl shape (r9
    VERDICT task 4): document batches arrive as a real file-source
    stream; each micro-batch is MinHash-LSH deduplicated against the
    STANDING admitted corpus inside foreachBatch, and its admissions
    MERGE back into that state before the next batch — so a near-dup
    of a doc admitted two crawls ago is dropped even though batch LSH
    (dedup_minhash) and streaming exact dedup (sessions.stream_dedup)
    would each miss it.

    One code path with the batch twin: signatures/bands come from
    lsh_signatures_df and the capped admission rule is
    fuzzy_dropped — literally the functions dedup_fuzzy_ingest
    runs, applied per micro-batch. Arrival rounds are the exact
    function doc_id % 3 (a value-partitioned staged write, moved file
    by file into the watched directory), so the whole sequential fold
    replays relationally: the oracle unrolls the three rounds as
    MATERIALIZED CTE generations of the fuzzy-ingest chain.

    Per-batch state discipline: the drop set is eagerly checkpointed
    BEFORE any state write (the decision must see state as of batch
    start); decisions land in an append-only sink. Bucket state lives
    PRE-GROUPED and CAP-COMPACTED (r10 VERDICT task 2): per
    (band,bucket) only the sorted cap SMALLEST admitted ids —
    semantics-preserving because the admission slice sort(S)[1:cap]
    depends only on those — hive-partitioned by (band, bucket shard)
    so each micro-batch's state read PRUNES to the directories its own
    buckets map to instead of re-scanning (and re-grouping!) the full
    standing corpus. Admissions APPEND pre-capped per-bucket groups
    (the pruned read cap-merges them exactly — see
    _read_pruned_buckets); once a leaf's measured fragmentation reaches
    _COMPACT_FILES files, a physical
    compaction rewrites that partition to one row per bucket
    (dynamic partition overwrite on a checkpointed merge; at 100 TB
    the same rewrite is a staged write + atomic dir swap). Token state
    is doc-id-sharded the same way, so Jaccard verification reads only
    the shards that hold candidate ids. The existing side contributes
    signatures, never text, exactly as in the batch twin."""
    import os as _os

    base = scratch_dir(spark, "stream_lsh")
    shutil.rmtree(base, ignore_errors=True)
    replay = _os.path.join(base, "replay")
    ckpt = _os.path.join(base, "ckpt")
    st_b = _os.path.join(base, "state_buckets")
    st_t = _os.path.join(base, "state_toks")
    dec = _os.path.join(base, "decisions")
    staged = _os.path.join(base, "_staged")
    _os.makedirs(replay, exist_ok=True)

    # Micro-batch shuffles here move batch-sized (not corpus-sized)
    # data through many small jobs; 32-way exchanges are pure task
    # overhead at that volume. Scope a smaller width to this operator
    # (results are order-free, so the width never affects the hash).
    # 8 deliberately diverges from _util.stream_shuffle_width's adaptive
    # clamp: it is the measured local sweet spot for these ~batch-row
    # jobs.
    with scoped_confs(spark, {"spark.sql.shuffle.partitions": 8}):
        return _stream_lsh_run(
            spark, sf_dir, replay, ckpt, st_b, st_t, dec, staged
        )


def _stream_lsh_run(spark, sf_dir, replay, ckpt, st_b, st_t, dec, staged):
    import os as _os

    docs = table(spark, sf_dir, "documents")
    # bootstrap standing state from the existing corpus: grouped,
    # cap-compacted, shard-partitioned (layout documented at top)
    sig0, b0 = lsh_signatures_df(
        docs.filter(F.col("doc_id") % 5 == 0).select("doc_id", "text")
    )
    (
        b0.groupBy("band", "bucket")
        .agg(
            F.slice(
                F.sort_array(F.collect_set("doc_id")), 1, FUZZY_CAP
            ).alias("eids")
        )
        .withColumn("bs", _bucket_shard(F.col("bucket")))
        # repartition on the partition columns: one file per leaf dir
        # instead of one per task per dir (commit cost is per file)
        .repartition("band", "bs")
        .write.mode("overwrite")
        .partitionBy("band", "bs")
        .parquet(st_b)
    )
    (
        sig0.select("doc_id", "toks")
        .withColumn("ds", _tok_shard(F.col("doc_id")))
        .repartition("ds")
        .write.mode("overwrite")
        .partitionBy("ds")
        .parquet(st_t)
    )

    # stage the crawl rounds: VALUE-partitioned write (round is the
    # exact function doc_id % 3, never a sampled range), then each
    # round's files move into the watched dir when its turn comes
    (
        docs.filter(F.col("doc_id") % 5 != 0)
        .withColumn("_round", F.pmod("doc_id", F.lit(3)).cast("int"))
        .repartition(_STREAM_ROUNDS, "_round")
        .write.mode("overwrite")
        .partitionBy("_round")
        .parquet(staged)
    )

    def admit(batch_df, _batch_id):
        b = batch_df.select("doc_id", "text")
        sigb, bb = lsh_signatures_df(b)
        btb = bb.select("band", "bucket", F.col("doc_id").alias("b_id"))
        # (band, shard) pairs this batch can touch — bounded at
        # N_BANDS x _BUCKET_SHARDS rows regardless of batch size, so
        # the collect is a constant-size driver list, not data volume
        touched = {
            (r["band"], r["bs"])
            for r in btb.filter(F.col("bucket").isNotNull())
            .select("band", _bucket_shard(F.col("bucket")).alias("bs"))
            .distinct()
            .collect()
        }  # NULL-text docs have NULL buckets: they can never match
        # standing state, so they prune out here and fall through to
        # keep=True via the left-anti decision join
        state = _read_pruned_buckets(spark, st_b, touched, FUZZY_CAP)
        capped = fuzzy_capped(btb, state)
        # token-state pruning without a second action: semi-join the
        # doc-sharded toks store against the candidates' shard set
        # (broadcast -> dynamic partition pruning prunes the ds= dirs
        # at scale; locally it degrades to a cheap semi-join, same
        # rows either way)
        cand_ds = capped.select(_tok_shard(F.col("e_id")).alias("ds")).distinct()
        e_toks = (
            spark.read.schema(_TOKS_PART_SCHEMA)
            .parquet(st_t)
            .join(F.broadcast(cand_ds), "ds", "left_semi")
            .select(F.col("doc_id").alias("e_id"), "toks")
        )
        b_toks = sigb.select(F.col("doc_id").alias("b_id"), "toks")
        # pin the drop set against state AS OF batch start: the toks
        # append below would otherwise change what a lazy recompute of
        # this plan reads (the buckets append changes st_b too)
        dropped = fuzzy_verified_drops(
            capped, b_toks, e_toks
        ).localCheckpoint(eager=True)
        drop_ids = dropped.withColumnRenamed("b_id", "doc_id")
        decisions = (
            sigb.select("doc_id")
            .join(drop_ids, "doc_id", "left_anti")
            .withColumn("keep", F.lit(True))
            .unionByName(drop_ids.withColumn("keep", F.lit(False)))
        )
        kept = sigb.select("doc_id", "toks").join(
            drop_ids, "doc_id", "left_anti"
        )
        # the batch's admissions append as pre-capped per-bucket groups
        # (one row per bucket per batch; the pruned read cap-merges);
        # every new row's partition is in `touched` by construction —
        # its bucket came from btb
        new_groups = (
            bb.join(kept.select("doc_id"), "doc_id")
            .groupBy("band", "bucket")
            .agg(
                F.slice(
                    F.sort_array(F.collect_set("doc_id")), 1, FUZZY_CAP
                ).alias("eids")
            )
            .withColumn("bs", _bucket_shard(F.col("bucket")))
            .repartition("band", "bs")  # one file per touched leaf dir
        )
        new_toks = kept.withColumn(
            "ds", _tok_shard(F.col("doc_id"))
        ).repartition("ds")
        # all three sinks read only the PINNED drop set (plus the lazy
        # signature checkpoint), so they are independent — submit them
        # concurrently; small-job latency, not data volume, is the
        # per-batch cost here
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=3) as pool:
            futs = [
                pool.submit(
                    lambda: decisions.write.mode("append").parquet(dec)
                ),
                pool.submit(
                    lambda: new_groups.write.mode("append")
                    .partitionBy("band", "bs")
                    .parquet(st_b)
                ),
                pool.submit(
                    lambda: new_toks.write.mode("append")
                    .partitionBy("ds")
                    .parquet(st_t)
                ),
            ]
            for f in futs:
                f.result()
        # amortized physical compaction keeps per-bucket state at ONE
        # row regardless of batch count. Cadence is AUTO-TUNED by
        # measured fragmentation (r11 SURVEY candidate): a leaf
        # (band, bs) dir is rewritten only once it holds >=
        # _COMPACT_FILES parquet files — compaction work tracks actual
        # append pressure per leaf instead of a blind every-N clock, so
        # hot leaves stay within a bounded read amplification while
        # cold leaves are never rewritten. The listing is the same
        # O(touched-leaves) driver metadata walk the pruned read
        # already pays; at 100 TB the file count comes from the table
        # metadata layer (manifest/file-index) for the same O(1)/leaf.
        frag = [
            (band, bs)
            for band, bs in touched
            if _leaf_file_count(st_b, band, bs) >= _COMPACT_FILES
        ]
        if frag:
            _compact_buckets(spark, st_b, frag, FUZZY_CAP)

    q = (
        spark.readStream.schema(_DOCS_SCHEMA)
        .parquet(replay)
        .writeStream.foreachBatch(admit)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        for r in range(_STREAM_ROUNDS):
            rdir = _os.path.join(staged, f"_round={r}")
            if _os.path.isdir(rdir):
                parts = sorted(
                    f for f in _os.listdir(rdir) if f.endswith(".parquet")
                )
                for j, f in enumerate(parts):
                    _os.rename(
                        _os.path.join(rdir, f),
                        _os.path.join(replay, f"data-{r}-{j}.parquet"),
                    )
            q.processAllAvailable()
    finally:
        q.stop()

    if not _os.path.isdir(dec):  # empty corpus: no batch ever landed
        return spark.createDataFrame(
            [], "doc_id bigint, round int, keep boolean"
        )
    return (
        spark.read.schema("doc_id bigint, keep boolean")
        .parquet(dec)
        .select(
            "doc_id",
            F.pmod("doc_id", F.lit(3)).cast("int").alias("round"),
            "keep",
        )
    )


# ---------------------------------------------------------------------------
# dedup_semantic

_SEM_K = 8  # centroid vectors: vec_id < 8
_SEM_TAU = 0.4


def _semdedup_oracle() -> str:
    from terasort_spark.operators.llm_similarity import dot_sql, norm_sql

    def cos(a, b):
        return f"{dot_sql(a, b)} / ({norm_sql(a)} * {norm_sql(b)})"

    ccos = o_rnd(cos("v.embedding", "c.embedding"))
    pcos = o_rnd(cos("ea.embedding", "eb.embedding"))
    return f"""
WITH cents AS (SELECT vec_id AS cent_id, embedding FROM embeddings
               WHERE vec_id < {_SEM_K}),
asg AS (
    SELECT vec_id, cent_id AS cluster FROM (
        SELECT v.vec_id, c.cent_id,
               row_number() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY {ccos} DESC, c.cent_id) AS rn
        FROM embeddings v CROSS JOIN cents c) WHERE rn = 1
)
SELECT a.vec_id, CAST(a.cluster AS BIGINT) AS cluster,
       EXISTS (
           SELECT 1 FROM asg b
           JOIN embeddings eb ON eb.vec_id = b.vec_id
           JOIN embeddings ea ON ea.vec_id = a.vec_id
           WHERE b.cluster = a.cluster AND b.vec_id < a.vec_id
             AND {pcos} >= {_SEM_TAU!r}
       ) AS is_dup
FROM asg a
"""


@register("dedup_semantic", oracle=_semdedup_oracle())
def dedup_semantic(spark, sf_dir):
    """SemDeDup-style clustered semantic dedup (Abbas et al. 2023):
    (1) route every embedding to its argmax-cosine centroid (here the
    first K=8 vectors as fixed deterministic centroids; production
    seeds them with emb_kmeans), (2) compare pairs only WITHIN a
    cluster, (3) mark a vector duplicate when an earlier (smaller
    vec_id) cluster-mate has cosine >= 0.4 — keep-earliest, the
    deterministic greedy.

    The cluster routing is the whole point at scale: candidate cost
    drops from n²/2 to Σ|cluster|²/2, and each cluster's pair join is
    an equi-join on the cluster key — the embedding-space twin of
    MinHash-LSH banding (dedup_embcos is the unclustered exact slice;
    sim_cosine_ivf uses the same routing idea for search). Assignment
    broadcasts K vectors; ties break to the smaller centroid id.
    Cosines round to 4dp via the shared dot_fold (bit-identical to
    the oracle's list_sum twin), so the EXISTS set replays exactly."""
    from terasort_spark.operators.llm_similarity import dot_fold

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    )
    cents = F.broadcast(
        e.where(F.col("vec_id") < _SEM_K).select(
            F.col("vec_id").alias("cent_id"), F.col("emb").alias("cemb")
        )
    )

    # Precompute each vector's norm ONCE (sqrt of the same fold the
    # oracle's per-pair recomputation runs — identical doubles, 1/3 the
    # fold work in the pair join: dot only, not dot + two norms).
    e = e.withColumn("nrm", F.sqrt(dot_fold(F.col("emb"), F.col("emb"))))
    cents = F.broadcast(
        cents.withColumn(
            "cnrm", F.sqrt(dot_fold(F.col("cemb"), F.col("cemb")))
        )
    )

    w = Window.partitionBy("vec_id").orderBy(
        F.desc("ccos"), F.asc("cent_id")
    )
    ccos = dot_fold(F.col("emb"), F.col("cemb")) / (
        F.col("nrm") * F.col("cnrm")
    )
    asg = (
        e.crossJoin(cents)
        .withColumn("ccos", rnd(ccos))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", F.col("cent_id").alias("cluster"), "emb", "nrm")
        # materialize the assignment once: three downstream consumers
        # (both pair sides + the label read-off) would otherwise each
        # re-derive the centroid cross; at corpus scale the assignment
        # is a persisted table (the sink_ann_index pattern)
        .localCheckpoint(eager=True)
    )
    a = asg.select(
        F.col("vec_id").alias("a_id"),
        "cluster",
        F.col("emb").alias("a_emb"),
        F.col("nrm").alias("a_nrm"),
    )
    b = asg.select(
        F.col("vec_id").alias("b_id"),
        F.col("cluster").alias("b_cluster"),
        F.col("emb").alias("b_emb"),
        F.col("nrm").alias("b_nrm"),
    )
    pcos = dot_fold(F.col("a_emb"), F.col("b_emb")) / (
        F.col("a_nrm") * F.col("b_nrm")
    )
    dups = (
        a.join(
            b,
            (F.col("cluster") == F.col("b_cluster"))
            & (F.col("b_id") < F.col("a_id")),
        )
        .withColumn("pcos", rnd(pcos))
        .where(F.col("pcos") >= _SEM_TAU)
        .select(F.col("a_id").alias("vec_id"))
        .distinct()
        .withColumn("dup", F.lit(True))
    )
    return (
        asg.join(dups, "vec_id", "left")
        .select(
            "vec_id",
            F.col("cluster").cast("bigint").alias("cluster"),
            F.coalesce("dup", F.lit(False)).alias("is_dup"),
        )
    )


# ---------------------------------------------------------------------------
# dedup_cluster_keepbest


@register(
    "dedup_cluster_keepbest",
    oracle="""
WITH RECURSIVE
t AS (SELECT doc_id, n_chars,
             list_distinct(string_split(lower(text),' ')) AS toks
      FROM documents WHERE doc_id < 200),
p AS (SELECT a.doc_id AS u, b.doc_id AS v FROM t a JOIN t b
      ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.toks,b.toks)) AS DOUBLE)
            / len(list_distinct(a.toks || b.toks)) >= 0.9),
e AS (SELECT u, v FROM p UNION SELECT v, u FROM p),
reach AS (
  SELECT u, v FROM e
  UNION
  SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u
),
lab AS (
  SELECT d.doc_id, d.n_chars,
         least(d.doc_id, coalesce(min(r.v), d.doc_id)) AS cluster_id
  FROM t d LEFT JOIN reach r ON r.u = d.doc_id
  GROUP BY d.doc_id, d.n_chars
)
SELECT doc_id, cluster_id, (rn = 1) AS keep FROM (
  SELECT doc_id, cluster_id,
         row_number() OVER (PARTITION BY cluster_id
              ORDER BY n_chars DESC, doc_id) AS rn
  FROM lab)
""",
)
def dedup_cluster_keepbest(spark, sf_dir):
    """Near-duplicate clustering with a QUALITY-AWARE keeper: cluster
    by connected components over exact-Jaccard >= 0.9 pairs
    (dedup_cluster's generator, replayable), then keep the LONGEST
    document per cluster (n_chars DESC, doc_id tiebreak) instead of
    the smallest id. Keep-longest is the curation default — near-dup
    clusters usually contain one full document and several truncated
    or boilerplate-stripped copies, and keep-by-id throws away the
    full one whenever a fragment crawled first.

    Plan: reuses dedup_cluster's connected components (star
    alternation over the pair graph), then one per-cluster window for the
    keeper — the only addition to the id-keeper pipeline is that
    window, whose partition is duplicate-cluster-sized (bounded), not
    corpus-sized."""
    labels = dedup_cluster(spark, sf_dir)  # (doc_id, cluster_id), converged
    d = (
        table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 200)
        .select("doc_id", "n_chars")
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return (
        labels.join(d, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .select("doc_id", "cluster_id", (F.col("rn") == 1).alias("keep"))
    )


# ---------------------------------------------------------------------------
# dedup_bloom_ingest

_BI_K = 3
_BI_SPLIT = 300  # standing corpus: doc_id < 300; new batch: the rest


def _bi_pos(md5col, i: int):
    # 3 hex nibbles at digest offset 8*i — 12 independent digest bits,
    # the agg_heavyhitters md5-slice pattern
    return hex_int(md5col, 3, i * 8 + 1)


def _bi_pos_sql(h: str, i: int) -> str:
    return o_hex_int(h, 3, i * 8 + 1)


def _bloom_ingest_oracle() -> str:
    build = ", ".join(_bi_pos_sql("h", i) for i in range(_BI_K))
    probe = ", ".join(_bi_pos_sql("h", i) for i in range(_BI_K))
    return f"""
WITH standing AS (
    SELECT md5(lower(text)) AS h FROM documents WHERE doc_id < {_BI_SPLIT}
),
words AS (
    SELECT (p // 32) AS word, bit_or(CAST(1 AS BIGINT) << (p % 32)) AS bits
    FROM (SELECT unnest([{build}]) AS p FROM standing) GROUP BY 1
),
batch AS (
    SELECT doc_id, md5(lower(text)) AS h FROM documents
    WHERE doc_id >= {_BI_SPLIT}
),
probe AS (SELECT doc_id, unnest([{probe}]) AS p FROM batch),
hits AS (
    SELECT pr.doc_id,
           count(*) FILTER (
               WHERE (w.bits & (CAST(1 AS BIGINT) << (pr.p % 32))) <> 0
           ) AS nbits
    FROM probe pr LEFT JOIN words w ON w.word = pr.p // 32
    GROUP BY pr.doc_id
)
SELECT b.doc_id, (h.nbits < {_BI_K}) AS admitted
FROM batch b JOIN hits h ON h.doc_id = b.doc_id
"""


@register("dedup_bloom_ingest", oracle=_bloom_ingest_oracle())
def dedup_bloom_ingest(spark, sf_dir):
    """Crawl-ingest Bloom gate: the standing corpus (doc_id < 300)
    publishes a 4096-bit Bloom filter over md5(lower(text)) content
    digests (k=3 md5-nibble-slice hashes — the agg_heavyhitters
    portable pattern, so every bit replays in SQL); the new batch
    admits only documents whose digests the filter has NOT seen.

    This is the no-state-lookup admission gate a crawl frontier runs
    before the expensive dedup tiers (dedup_incremental joins the
    standing corpus; this gate costs a broadcast-sized bitmap and
    three hashes per candidate — no shuffle against corpus state at
    all). The price, stated not hidden: false positives are dropped-
    though-new, at a rate set by the load factor; here the FP set is
    a deterministic function of the hashes and the oracle reproduces
    it bit-for-bit, so the gate's exact admission decisions — drops
    included — are what the grade proves. At 100 TB the filter
    shards by digest prefix into a bitmap per shard, still
    broadcastable per executor."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.md5(F.lower("text")).alias("h")
    )
    standing = d.where(F.col("doc_id") < _BI_SPLIT)
    build = standing.select(
        F.explode(
            F.array(*[_bi_pos(F.col("h"), i) for i in range(_BI_K)])
        ).alias("p")
    )
    words = (
        build.select(
            F.shiftright("p", 5).alias("word"),
            F.expr("shiftleft(cast(1 as bigint), cast(p % 32 as int))").alias(
                "mask"
            ),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )
    batch = d.where(F.col("doc_id") >= _BI_SPLIT)
    probe = batch.select(
        "doc_id",
        F.explode(
            F.array(*[_bi_pos(F.col("h"), i) for i in range(_BI_K)])
        ).alias("p"),
    )
    hits = (
        probe.withColumn("word", F.shiftright("p", 5))
        .join(F.broadcast(words), "word", "left")
        .withColumn(
            "bit_set",
            (
                F.col("bits").bitwiseAND(
                    F.expr("shiftleft(cast(1 as bigint), cast(p % 32 as int))")
                )
                != 0
            ).cast("int"),
        )
        .groupBy("doc_id")
        .agg(F.sum("bit_set").alias("nbits"))
    )
    return batch.join(hits, "doc_id").select(
        "doc_id", (F.col("nbits") < _BI_K).alias("admitted")
    )
