"""Corpus-curation operators: BM25 retrieval scoring, inverted-index
tf-idf cosine, asymmetric shingle containment, incremental cross-corpus
dedup, deterministic dataset splitting, weighted sampling without
replacement, and Z-order multi-dimensional data skipping.

These are the shapes a 100 TB pretraining-corpus pipeline runs between
raw crawl and tokenizer: score documents against a query (retrieval /
quality probes), find near-duplicate pairs via the inverted index, drop
documents already present in the existing corpus, carve reproducible
train/val/test splits, and lay data out so multi-dimensional predicates
skip row groups.

Determinism contract (shared with text_bigram_lm / sample_mixture):
per-term real-valued weights are quantized to 6dp int64 BEFORE any sum,
so every aggregate is exact integer arithmetic — identical at any
partition count and across engines; md5-hex string comparison replaces
rand() so sampling decisions are content-addressed and retry-stable.
"""

from __future__ import annotations

import shutil

from pyspark.sql import Window
from pyspark.sql import functions as F

from terasort_spark.catalog import table
from terasort_spark.operators._util import rnd, scratch_dir
from terasort_spark.registry import register

# BM25 free parameters (the Robertson/Sparck-Jones defaults).
BM25_K1 = 1.2
BM25_B = 0.75
# The probe query: mid-frequency terms from the corpus vocabulary.
BM25_TERMS = ("vector", "stream", "hash")

TERMS_SQL = "(" + ", ".join(f"'{t}'" for t in BM25_TERMS) + ")"


def _eq_lit(term: str):
    return lambda x: x == F.lit(term)


def tok_cte() -> str:
    """Shared DuckDB CTE: one row per token occurrence."""
    return """
tok AS (
  SELECT doc_id, t AS term
  FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
    FROM documents WHERE text IS NOT NULL AND length(text) > 0
  ) WHERE length(t) > 0
)"""


def doc_terms(spark, sf_dir, bound=None):
    """One row per token occurrence (doc_id, term); scan-side explode."""
    d = table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    if bound is not None:
        d = d.filter(F.col("doc_id") < bound)
    return d.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
    ).filter(F.length("term") > 0)


@register(
    "text_bm25",
    oracle=f"""
WITH {tok_cte()},
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok
  WHERE term IN {TERMS_SQL} GROUP BY doc_id, term
),
df AS (SELECT term, count(DISTINCT doc_id) AS dfreq FROM tok
       WHERE term IN {TERMS_SQL} GROUP BY term),
contrib AS (
  SELECT tf.doc_id,
         CAST(floor(
           ln(1 + (stats.n_docs - df.dfreq + 0.5) / (df.dfreq + 0.5))
           * (tf.tf * ({BM25_K1} + 1))
           / (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl.dl / stats.avgdl))
           * 1000000 + 0.5) AS BIGINT) AS c_q6
  FROM tf
  JOIN dl USING (doc_id)
  CROSS JOIN stats
  JOIN df ON tf.term = df.term
)
SELECT doc_id,
       floor(sum(c_q6) / 100.0 + 0.5) / 10000 AS score
FROM contrib
GROUP BY doc_id
ORDER BY sum(c_q6) DESC, doc_id
LIMIT 10
""",
)
def text_bm25(spark, sf_dir):
    """BM25 retrieval: score every document against a fixed query-term
    set, return the top 10. Okapi weighting — idf softened by the
    +0.5 Robertson correction, tf saturated by k1 and length-normalized
    by b·dl/avgdl.

    Scale design — the token stream never explodes and never shuffles:
    per-doc length dl and each query term's tf are array-HOF counts
    (size(filter(tokens, ...))) computed in the SCAN stage, one row per
    doc with |q|+1 small ints. Corpus stats (N, avgdl, per-term df) are
    ONE 1-row aggregate over those ints, broadcast back; scoring is
    pure codegen; the top-10 is orderBy+limit = per-partition heaps
    (TakeOrderedAndProject), never a global sort. Per-term
    contributions are quantized to 6dp int64 before the sum, so the doc
    score is exact integer addition — partition-count- and
    engine-invariant; ranking happens on the exact sum. (A multi-query
    batch retrieval generalizes this to the inverted-index equi-join —
    sim_tfidf_cosine demonstrates that pattern.)"""
    d = table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    toks = F.filter(
        F.split(F.lower("text"), " "), lambda t: F.length(t) > 0
    )
    # filter(size > 0) mirrors the oracle's tok CTE, where a doc whose
    # text is all delimiters emits no rows and so never enters N/avgdl
    counted = d.filter(F.size(toks) > 0).select(
        "doc_id",
        F.size(toks).alias("dl"),
        *[
            # NB: a 2-arg lambda would make Spark bind arg 2 to the
            # element INDEX — capture the term via closure instead
            F.size(F.filter(toks, _eq_lit(t))).alias(f"tf_{i}")
            for i, t in enumerate(BM25_TERMS)
        ],
    )
    stats = counted.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(BM25_TERMS))
        ],
    )

    def c_q6(i: int):
        tf, dfreq = F.col(f"tf_{i}"), F.col(f"df_{i}")
        idf = F.log(
            1 + (F.col("n_docs") - dfreq + 0.5) / (dfreq + 0.5)
        )
        tfn = (tf * (BM25_K1 + 1)) / (
            tf + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
        )
        return F.floor(idf * tfn * 1000000 + 0.5).cast("bigint")

    scored = counted.crossJoin(F.broadcast(stats)).select(
        "doc_id",
        sum(
            (c_q6(i) for i in range(1, len(BM25_TERMS))), c_q6(0)
        ).alias("s_q6"),
        # Membership mirrors the oracle's contrib CTE: a doc qualifies
        # by MATCHING a term, not by scoring > 0 — when fewer than 10
        # docs score positive the oracle's top-10 legitimately includes
        # zero-score matching docs (ordered by doc_id).
        sum(
            (F.col(f"tf_{i}") for i in range(1, len(BM25_TERMS))),
            F.col("tf_0"),
        ).alias("n_matched"),
    )
    return (
        scored.filter(F.col("n_matched") > 0)
        .orderBy(F.desc("s_q6"), "doc_id")
        .limit(10)
        .select(
            "doc_id",
            (F.floor(F.col("s_q6") / 100.0 + 0.5) / 10000).alias("score"),
        )
    )


# Only pairs among this doc_id prefix are scored exactly; the unbounded
# corpus path is the prefix-filter equi-join (sim_jaccard) or banded LSH
# (dedup_minhash) — exact all-shared-term pairing is the RE-RANK stage.
TFIDF_DOC_BOUND = 200
TFIDF_TOPK = 3


@register(
    "sim_tfidf_cosine",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, t AS term
  FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
    FROM documents
    WHERE text IS NOT NULL AND length(text) > 0 AND doc_id < {TFIDF_DOC_BOUND}
  ) WHERE length(t) > 0
),
tf AS (SELECT doc_id, term, count(*) AS c FROM tok GROUP BY doc_id, term),
n AS (SELECT count(DISTINCT doc_id) AS nd FROM tf),
df AS (SELECT term, count(*) AS dfreq FROM tf GROUP BY term),
w AS (
  SELECT tf.doc_id, tf.term,
         CAST(floor(ln(1 + tf.c) * ln(1 + n.nd * 1.0 / df.dfreq)
                    * 1000000 + 0.5) AS BIGINT) AS wq
  FROM tf JOIN df USING (term) CROSS JOIN n
),
norms AS (SELECT doc_id, sum(wq * wq) AS s2 FROM w GROUP BY doc_id),
dots AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, sum(a.wq * b.wq) AS dot
  FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
cos AS (
  SELECT d1, d2,
         dot / (sqrt(CAST(na.s2 AS DOUBLE)) * sqrt(CAST(nb.s2 AS DOUBLE)))
             AS cosine
  FROM dots
  JOIN norms na ON na.doc_id = d1
  JOIN norms nb ON nb.doc_id = d2
)
SELECT d1, d2, floor(cosine * 10000 + 0.5) / 10000 AS cosine, rn
FROM (
  SELECT d1, d2, cosine,
         CAST(row_number() OVER (
           PARTITION BY d1 ORDER BY cosine DESC, d2) AS INTEGER) AS rn
  FROM cos
)
WHERE rn <= {TFIDF_TOPK}
""",
)
def sim_tfidf_cosine(spark, sf_dir):
    """Inverted-index sparse cosine: tf-idf weight vectors compared
    term-at-a-time — docs pair ONLY through shared terms (the classic
    information-retrieval dot-product join), never through a dense
    cross product. Top-3 most similar partners per document.

    Scale design: the pair generation is an equi-join on term, so cost
    is sum over terms of df(t)² — bounded in practice by dropping
    ubiquitous terms (idf→0 already down-weights them) and, at corpus
    scale, by running it only as the exact re-rank behind a candidate
    filter (sim_jaccard's prefix filter / dedup_minhash's bands); here
    the exact stage is demonstrated on a bounded doc_id slice, like
    dedup_embcos. Weights quantized to 6dp int64: dot products and
    norms are exact integer sums (≤ ~5e13, no overflow), so cosines are
    bit-identical on both engines and any partitioning; ranking is over
    those exact values."""
    tok = doc_terms(spark, sf_dir, bound=TFIDF_DOC_BOUND)
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("c"))
    n = tf.agg(F.countDistinct("doc_id").alias("nd"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("dfreq"))
    w = (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.floor(
                F.log(1 + F.col("c"))
                * F.log(1 + F.col("nd") * 1.0 / F.col("dfreq"))
                * 1000000
                + 0.5
            )
            .cast("bigint")
            .alias("wq"),
        )
    )
    norms = w.groupBy("doc_id").agg(F.sum(F.col("wq") * F.col("wq")).alias("s2"))
    a, b = w.alias("a"), w.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2")
        )
        .agg(F.sum(F.col("a.wq") * F.col("b.wq")).alias("dot"))
    )
    na, nb = norms.alias("na"), norms.alias("nb")
    cos = (
        dots.join(F.broadcast(na), F.col("d1") == F.col("na.doc_id"))
        .join(F.broadcast(nb), F.col("d2") == F.col("nb.doc_id"))
        .select(
            "d1",
            "d2",
            (
                F.col("dot")
                / (
                    F.sqrt(F.col("na.s2").cast("double"))
                    * F.sqrt(F.col("nb.s2").cast("double"))
                )
            ).alias("cosine"),
        )
    )
    win = Window.partitionBy("d1").orderBy(F.desc("cosine"), F.asc("d2"))
    return (
        cos.withColumn("rn", F.row_number().over(win).cast("integer"))
        .filter(F.col("rn") <= TFIDF_TOPK)
        .select("d1", "d2", rnd(F.col("cosine"), "cosine"), "rn")
    )


@register(
    "dedup_incremental",
    oracle="""
WITH existing AS (
  SELECT DISTINCT md5(text) AS h FROM documents
  WHERE doc_id % 5 = 0 AND text IS NOT NULL
),
batch AS (
  SELECT doc_id, md5(text) AS h FROM documents
  WHERE doc_id % 5 <> 0 AND text IS NOT NULL
)
SELECT min(b.doc_id) AS keep_id, b.h AS h,
       CAST(count(*) AS BIGINT) AS n_copies
FROM batch b
LEFT JOIN existing e ON b.h = e.h
WHERE e.h IS NULL
GROUP BY b.h
""",
)
def dedup_incremental(spark, sf_dir):
    """Incremental (cross-corpus) dedup: a new batch of documents is
    deduplicated AGAINST the already-ingested corpus — the shape every
    recurring crawl ingest runs, where re-hashing the whole historical
    corpus per batch would be quadratic over time. Docs with
    doc_id % 5 = 0 play the existing corpus; the rest are the batch.

    Two steps, both on the 16-byte content hash (never the text):
    (1) anti-join batch hashes against the existing hash set — at
    100 TB the existing side is a hash-only index table; the join
    broadcasts when a day's batch meets a bloom-pruned slice, else
    shuffles hashes; join_bloom demonstrates the runtime-filter
    variant. (2) within-batch exact dedup = groupBy(h) keeping
    min(doc_id) — same single-shuffle pattern as dedup_exact."""
    d = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    existing = (
        d.filter(F.col("doc_id") % 5 == 0)
        .select(F.md5("text").alias("h"))
        .distinct()
    )
    batch = d.filter(F.col("doc_id") % 5 != 0).select(
        "doc_id", F.md5("text").alias("h")
    )
    return (
        batch.join(existing, "h", "left_anti")
        .groupBy("h")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).cast("bigint").alias("n_copies"),
        )
        .select("keep_id", "h", "n_copies")
    )


# Split fractions: 10% val, 10% test, 80% train — thresholds are points
# in the 6-hex-digit md5-prefix space, compared as strings (same-length
# lowercase hex sorts numerically; both engines emit identical md5 hex).
_VAL_HI = format(int(0.10 * 16**6), "06x")
_TEST_HI = format(int(0.20 * 16**6), "06x")


@register(
    "split_dataset",
    oracle=f"""
WITH assigned AS (
  SELECT source,
         CASE WHEN coin < '{_VAL_HI}' THEN 'val'
              WHEN coin < '{_TEST_HI}' THEN 'test'
              ELSE 'train' END AS split,
         doc_id
  FROM (
    SELECT source, doc_id,
           substr(md5(concat('split', CAST(doc_id AS VARCHAR))), 1, 6)
               AS coin
    FROM documents
  )
)
SELECT source, split, CAST(count(*) AS BIGINT) AS n_docs,
       min(doc_id) AS min_id, max(doc_id) AS max_id
FROM assigned
GROUP BY source, split
""",
)
def split_dataset(spark, sf_dir):
    """Deterministic train/val/test split (80/10/10): the split of a
    document is a pure function of its id — first 6 hex chars of
    md5('split' || doc_id) against fixed thresholds — so membership is
    content-addressed: stable under retries, recomputed partitions,
    cluster resizes, and corpus append (new docs don't reshuffle old
    assignments, the property a rand()- or row_number()-based split
    loses). Same coin technique as sample_mixture; summary here is one
    groupBy; the assignment itself is a zero-shuffle scan-stage column
    a writer would partition the sink by."""
    d = table(spark, sf_dir, "documents")
    coin = F.substring(
        F.md5(F.concat(F.lit("split"), F.col("doc_id").cast("string"))), 1, 6
    )
    split = (
        F.when(coin < _VAL_HI, "val")
        .when(coin < _TEST_HI, "test")
        .otherwise("train")
    )
    return (
        d.select("source", split.alias("split"), "doc_id")
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
    )


SAMPLE_K = 20


@register(
    "sample_weighted",
    oracle=f"""
SELECT doc_id, source, n_chars,
       floor(key_es * 10000 + 0.5) / 10000 AS key_es, rank
FROM (
  SELECT doc_id, source, n_chars, key_es,
         CAST(row_number() OVER (ORDER BY key_es DESC, doc_id) AS INTEGER)
             AS rank
  FROM (
    SELECT doc_id, source, n_chars,
           ln(((doc_id * 2654435761) % 4294967296 + 1) / 4294967297.0)
               / n_chars AS key_es
    FROM documents WHERE n_chars > 0
  )
)
WHERE rank <= {SAMPLE_K}
""",
)
def sample_weighted(spark, sf_dir):
    """Weighted sampling without replacement (Efraimidis–Spirakis):
    each doc gets key ln(u)/w — u a DETERMINISTIC content-addressed
    uniform (Knuth multiplicative hash of doc_id, never rand()), w its
    weight (n_chars) — and the sample is the k largest keys. One pass,
    no shuffle beyond the top-k heap merge (TakeOrderedAndProject);
    retry-, partitioning- and resize-stable like sample_mixture, but
    weight-proportional instead of Bernoulli. The +1/2^32+1 offsets
    keep u in (0,1) so ln is finite; integer hash arithmetic and libm
    ln are identical on both engines, so the oracle is exact."""
    d = table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = ((F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296) + 1) / F.lit(
        4294967297.0
    )
    key = F.log(u) / F.col("n_chars")
    ranked = (
        d.select("doc_id", "source", "n_chars", key.alias("key_es"))
        .orderBy(F.desc("key_es"), "doc_id")
        .limit(SAMPLE_K)
    )
    w = Window.orderBy(F.desc("key_es"), "doc_id")
    return ranked.withColumn(
        "rank", F.row_number().over(w).cast("integer")
    ).select("doc_id", "source", "n_chars", rnd(F.col("key_es"), "key_es"), "rank")


_Z_BITS = 8  # 8+8-bit interleave → 16-bit Morton code


def _morton(x, y):
    """Bit-interleave two 8-bit codegen columns into a Morton z-value:
    z = Σᵢ ((x>>i)&1)<<2i | ((y>>i)&1)<<(2i+1). Pure JVM bit ops —
    whole-stage-codegen, no UDF."""
    z = F.lit(0)
    for i in range(_Z_BITS):
        z = (
            z.bitwiseOR(F.shiftleft(F.shiftright(x, i).bitwiseAND(1), 2 * i))
            .bitwiseOR(
                F.shiftleft(F.shiftright(y, i).bitwiseAND(1), 2 * i + 1)
            )
        )
    return z


@register(
    "scan_zorder",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE o_custkey % 256 BETWEEN 16 AND 23
  AND o_orderkey % 256 BETWEEN 96 AND 103
""",
)
def scan_zorder(spark, sf_dir):
    """Z-order (Morton) clustered layout: interleave the bits of two
    filter dimensions into one sort key, range-partition + sort the
    table by it, and sink to parquet — then a conjunctive predicate on
    BOTH dimensions skips most files/row groups via min-max stats,
    which a linear sort can deliver for only ONE dimension. This is the
    multi-dimensional data-skipping layout (Delta/Iceberg OPTIMIZE
    ZORDER BY) expressed with nothing but codegen bit-ops +
    repartitionByRange — each output file covers one contiguous z-range
    = one small (x, y) quadrant, so its stats are tight in x AND y
    (asserted on real footer metadata in tests/test_curation.py).

    At 100 TB the write is the same sampled range exchange terasort
    uses; the read prunes with ordinary parquet stats — no index
    structure to maintain. The returned rows equal a plain filter on
    the source (layout changes cost, never semantics), which is exactly
    what the oracle checks."""
    out = scratch_dir(spark, "zorder")
    shutil.rmtree(out, ignore_errors=True)
    o = table(spark, sf_dir, "orders")
    x = (F.col("o_custkey") % 256).cast("int")
    y = (F.col("o_orderkey") % 256).cast("int")
    (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .withColumn("x", x)
        .withColumn("y", y)
        .withColumn("z", _morton(F.col("x"), F.col("y")))
        .repartitionByRange(16, "z")
        .sortWithinPartitions("z")
        .write.mode("overwrite")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    return back.filter(
        F.col("x").between(16, 23) & F.col("y").between(96, 103)
    ).select("o_orderkey", "o_custkey", "o_totalprice")


CONTAIN_TAU = 0.6
CONTAIN_BOUND = 200


@register(
    "sim_containment",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t
  FROM documents
  WHERE doc_id < {CONTAIN_BOUND} AND text IS NOT NULL AND length(text) > 0
),
sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
  FROM toks, unnest(range(1, len(t) - 1)) AS r(i)
  WHERE len(t) >= 3
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS k
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT a_id, b_id,
       floor(CAST(k AS DOUBLE) / na.n * 10000 + 0.5) / 10000 AS containment
FROM shared JOIN sizes na ON na.doc_id = a_id
WHERE CAST(k AS DOUBLE) / na.n >= {CONTAIN_TAU}
""",
)
def sim_containment(spark, sf_dir):
    """Asymmetric containment C(a→b) = |S(a) ∩ S(b)| / |S(a)| over
    distinct 3-token shingles — the quote/excerpt detector Jaccard
    misses: a short doc fully quoted inside a long one has high
    containment but low Jaccard (the union is dominated by the long
    doc). Pairs form ONLY through shared shingles (equi-join on the
    shingle — the inverted-index pattern, never a doc×doc product);
    shingling itself is a zero-shuffle array transform. The threshold
    compares exact integer ratios, so pair membership is
    engine-invariant. Demonstrated on a bounded slice like
    sim_tfidf_cosine; the unbounded scale path hashes shingles and caps
    hot buckets exactly as dedup_minhash does."""
    d = table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
        & (F.length("text") > 0)
        & (F.col("doc_id") < CONTAIN_BOUND)
    )
    toks = d.select(
        "doc_id", F.split(F.lower("text"), " ").alias("t")
    ).filter(F.size("t") >= 3)
    sh = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(t) - 3),"
                " i -> concat_ws(' ', t[i], t[i+1], t[i+2]))"
            )
        ).alias("s"),
    ).distinct()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id")
        )
        .agg(F.count(F.lit(1)).alias("k"))
    )
    na = sizes.select(F.col("doc_id").alias("a_id"), F.col("n").alias("na"))
    c = F.col("k").cast("double") / F.col("na")
    return (
        shared.join(F.broadcast(na), "a_id")
        .filter(c >= CONTAIN_TAU)
        .select("a_id", "b_id", rnd(c, "containment"))
    )


# --------------------------------------------------------------------------
# sample_reservoir — fixed-SIZE uniform sample via priority hashing.

_RESERVOIR_K = 100


def _reservoir_oracle() -> str:
    from terasort_spark.sources.teragen import mix32_sql

    pri = mix32_sql("doc_id % 2147483648")
    return f"""
WITH pri AS (SELECT doc_id, ({pri}) AS priority FROM documents)
SELECT CAST(row_number() OVER (ORDER BY priority, doc_id) AS BIGINT) AS rank,
       doc_id, priority
FROM pri ORDER BY priority, doc_id LIMIT {_RESERVOIR_K}
"""


@register("sample_reservoir", oracle=_reservoir_oracle())
def sample_reservoir(spark, sf_dir):
    """Fixed-size uniform sample (the distributed reservoir): assign
    each row a content-addressed priority (mix32 of its id) and keep
    the K smallest — exactly the "priority sampling" equivalence that
    makes reservoir sampling mergeable across partitions. Unlike
    scan_sample's Bernoulli fraction (output size varies with n), the
    result is ALWAYS K rows, and unlike rand()-based reservoirs it is
    partition- and retry-invariant: the kept set is a pure function of
    the ids.

    Scale: ORDER BY + LIMIT K compiles to TakeOrderedAndProject — each
    partition keeps a K-row heap, the driver merges #partitions * K
    rows; no global sort, no full shuffle. The id is folded mod 2^31
    before mixing so 64-bit ids at 100 TB stay inside the mixer's
    exact-arithmetic precondition."""
    from terasort_spark.sources.teragen import mix32

    d = table(spark, sf_dir, "documents").select(
        "doc_id", mix32(F.col("doc_id") % F.lit(2147483648)).alias("priority")
    )
    top = d.orderBy("priority", "doc_id").limit(_RESERVOIR_K)
    w = Window.orderBy("priority", "doc_id")
    return top.select(
        F.row_number().over(w).cast("bigint").alias("rank"),
        "doc_id",
        "priority",
    )


@register(
    "sample_pergroup",
    oracle="""
SELECT lang, doc_id, h, rn FROM (
    SELECT lang, doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
           CAST(row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
           ) AS INTEGER) AS rn
    FROM documents
) WHERE rn <= 50
""",
)
def sample_pergroup(spark, sf_dir):
    """Deterministic per-group sample: the 50 lowest-md5(doc_id) docs
    per language. Content-addressed ranking means every rerun, retry,
    and cluster size picks the SAME rows (unlike rand()-based samples),
    and growing the corpus only ever swaps members at the hash boundary
    — the reproducible "k per stratum" subsample a curation pipeline
    pins in a datasheet.

    Scale notes: rank-within-group plans a window with a group-limit
    pushdown (each partition keeps only its local top-50 per lang before
    the shuffle — same mechanism as topk_pergroup), so the exchange
    carries at most 50·|langs| rows per partition regardless of corpus
    size."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents").select(
        "lang", "doc_id", F.md5(F.col("doc_id").cast("string")).alias("h")
    )
    w = Window.partitionBy("lang").orderBy("h", "doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 50)
        .select("lang", "doc_id", "h", "rn")
    )
