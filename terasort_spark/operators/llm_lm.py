"""Statistical language-model scoring: train a word-bigram model per
language on the corpus itself, then score every document by its average
log-probability under that model — the classic perplexity-style quality
signal (docs full of improbable word transitions score low and get
filtered). Declared with a full DuckDB oracle.

Determinism: each bigram's log-probability is quantized to 6dp in the
worker (floor(ln(c12/c1)·1e6 + 0.5)/1e6 — identical IEEE double ops on
both engines), then averaged through an EXACT decimal sum, so the
per-doc score is independent of summation order — the same rule
operators/_util.py applies to money columns, applied to logprobs.

Scale notes: the model is two grouped counts (bigram, unigram) — one
shuffle each with map-side combine; model size is |vocab|² worst case
but Zipf-truncated in practice, and the scoring join is an equi-join on
(lang, w1, w2) that AQE plans as broadcast when the model is small.
Scoring itself adds one groupBy(doc_id). No O(n²) anywhere.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from terasort_spark.catalog import table
from terasort_spark.operators._util import DEC, rnd
from terasort_spark.registry import register

BIGRAMS_SQL = """
    SELECT doc_id, lang,
           w[i] AS w1, w[i + 1] AS w2
    FROM (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
         LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i)
    WHERE len(w) >= 2
"""


@register(
    "text_bigram_lm",
    oracle=f"""
WITH bigrams AS ({BIGRAMS_SQL}),
model AS (
    SELECT lang, w1, w2, count(*) AS c12,
           sum(count(*)) OVER (PARTITION BY lang, w1) AS c1
    FROM bigrams GROUP BY lang, w1, w2
),
scored AS (
    SELECT b.doc_id,
           floor(ln(CAST(m.c12 AS DOUBLE) / m.c1) * 1000000 + 0.5)
               / 1000000 AS lp
    FROM bigrams b
    JOIN model m ON b.lang = m.lang AND b.w1 = m.w1 AND b.w2 = m.w2
)
SELECT doc_id, count(*) AS n_bigrams,
       floor(CAST(sum(CAST(lp AS DECIMAL(25,6))) AS DOUBLE) / count(*)
             * 10000 + 0.5) / 10000 AS avg_logprob
FROM scored GROUP BY doc_id
""",
)
def text_bigram_lm(spark, sf_dir):
    """Per-document average bigram log-probability under a per-language
    model trained on the corpus (self-scoring: the in-distribution
    baseline a quality filter thresholds against). The unigram
    normalizer c1 comes from a window over the bigram counts — one
    aggregation pass builds the whole model."""
    d = table(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    bigrams = (
        d.where(F.size(w) >= 2)
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size(w) - 1),
                    lambda i: F.struct(
                        F.element_at(w, i).alias("w1"),
                        F.element_at(w, i + 1).alias("w2"),
                    ),
                )
            ).alias("bg"),
        )
        .select("doc_id", "lang", "bg.w1", "bg.w2")
    )
    from pyspark.sql import Window

    # Collapse occurrences to per-doc DISTINCT bigrams with counts
    # first: the model is then a second (much smaller) aggregation of
    # the same intermediate, and the scoring join carries one row per
    # distinct (doc, bigram) instead of one per occurrence — measured
    # 1.7x faster, and at 100 TB the shuffle payload drops by the
    # corpus's in-doc repetition factor. The exact-decimal average is
    # preserved because lp·k in DECIMAL equals adding lp k times.
    # occ feeds BOTH the model build and the scoring join. The printed
    # plan shows two scan→explode subtrees, but AQE reuses the
    # identical shuffle stage at runtime — an explicit localCheckpoint
    # pin was A/B-measured at sf0.1 (r8) and bought nothing (medians
    # within noise both ways), so the plan is left checkpoint-free.
    occ = bigrams.groupBy("doc_id", "lang", "w1", "w2").agg(
        F.count(F.lit(1)).alias("k")
    )
    model = (
        occ.groupBy("lang", "w1", "w2")
        .agg(F.sum("k").alias("c12"))
        .withColumn(
            "c1", F.sum("c12").over(Window.partitionBy("lang", "w1"))
        )
    )
    lp = (
        F.floor(
            F.log(F.col("c12").cast("double") / F.col("c1")) * 1000000
            + F.lit(0.5)
        )
        / 1000000
    )
    scored = occ.join(model, ["lang", "w1", "w2"]).select(
        "doc_id", "k", lp.alias("lp")
    )
    return scored.groupBy("doc_id").agg(
        F.sum("k").alias("n_bigrams"),
        rnd(
            F.sum(F.col("lp").cast(DEC) * F.col("k")).cast("double")
            / F.sum("k"),
            "avg_logprob",
        ),
    )
