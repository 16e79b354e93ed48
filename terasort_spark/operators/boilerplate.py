"""Cross-document boilerplate detection (C4/RefinedWeb-style): find
token shingles shared by many DISTINCT documents ("terms of service"
phrases, navigation chrome, licence footers) and score every document
by how much of it is boilerplate — the cleaning pass a pretraining
pipeline runs that per-document repetition stats (text_repetition)
cannot express, because the signal is corpus-wide document frequency,
not within-document structure.

Exact-oracle: shingle extraction, document-frequency counting and the
coverage ratio are pure integer/set operations replayed verbatim in
DuckDB.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from terasort_spark.catalog import table
from terasort_spark.operators._util import rnd
from terasort_spark.registry import register

SHINGLE = 5  # tokens per shingle
DF_MIN = 2  # a shingle in >= DF_MIN distinct docs is boilerplate
KEEP_MAX_RATIO = 0.5  # drop docs that are mostly boilerplate


@register(
    "text_boilerplate",
    oracle=f"""
WITH toks AS (
    SELECT doc_id,
           list_filter(string_split(lower(text), ' '), t -> length(t) > 0)
               AS toks
    FROM documents WHERE text IS NOT NULL AND length(text) > 0
),
shingled AS (
    SELECT doc_id,
           list_distinct(
               CASE WHEN len(toks) >= {SHINGLE}
                    THEN list_transform(
                        generate_series(1, len(toks) - {SHINGLE - 1}),
                        i -> array_to_string(toks[i:i + {SHINGLE - 1}], ' '))
                    ELSE [] END) AS shingles
    FROM toks
),
exploded AS (
    SELECT doc_id, unnest(shingles) AS shingle FROM shingled
),
df AS (
    SELECT shingle, count(*) AS n_docs FROM exploded GROUP BY shingle
)
SELECT e.doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN d.n_docs >= {DF_MIN} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_boiler,
       floor(CAST(sum(CASE WHEN d.n_docs >= {DF_MIN} THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*) * 10000 + 0.5) / 10000 AS boiler_ratio,
       CAST(sum(CASE WHEN d.n_docs >= {DF_MIN} THEN 1 ELSE 0 END) AS DOUBLE)
           / count(*) <= {KEEP_MAX_RATIO} AS keep
FROM exploded e JOIN df d USING (shingle)
GROUP BY e.doc_id
""",
)
def text_boilerplate(spark, sf_dir):
    """Per-document boilerplate coverage: fraction of the document's
    distinct 5-token shingles that appear in >= DF_MIN distinct
    documents corpus-wide, plus the keep/drop verdict (C4 drops pages
    dominated by boilerplate).

    Scale: shingling is a scan-stage array transform (JVM codegen, no
    Python); the document-frequency count is ONE groupBy keyed by the
    shingle string (high-cardinality key — never skewed by
    construction, since a shingle hot enough to skew is exactly the
    boilerplate being counted and still only carries (doc_id) pairs);
    the re-join is an equi-join on the same key, so the whole operator
    is two shuffles keyed by shingle + one keyed by doc_id at any
    corpus size. Per-doc shingles are DISTINCT before the explode, so
    payload is bounded by document length."""
    d = table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    toks = F.filter(F.split(F.lower("text"), " "), lambda t: F.length(t) > 0)
    shingles = F.array_distinct(
        F.when(
            F.size(toks) >= SHINGLE,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (SHINGLE - 1)),
                lambda i: F.concat_ws(" ", F.slice(toks, i, SHINGLE)),
            ),
        ).otherwise(F.array().cast("array<string>"))
    )
    # Both the df-count branch and the re-join consume the exploded
    # shingles; localCheckpoint pins one execution of the tokenize +
    # shingle transform (6.3 s -> 3.3 s at sf0.1). The materialization
    # is shingle-rows-sized — the same data the shuffle would carry.
    exploded = d.select(
        "doc_id", F.explode(shingles).alias("shingle")
    ).localCheckpoint(eager=False)
    # n_boiler = n_shingles - n_unique: with DF_MIN == 2 a non-boiler
    # shingle has df == 1 and belongs to exactly ONE document, whose id
    # IS min(doc_id) — so instead of joining the full exploded stream
    # back against the df table (a shingle-keyed join of the two
    # largest relations), count unique-shingle ownership per doc and
    # join two DOC-sized aggregates (the text_novelty r6 rewrite
    # pattern; 4.8 s -> ~3.9 s at sf0.1, same hash).
    assert DF_MIN == 2, "owner-count shortcut below assumes DF_MIN == 2"
    per_doc = exploded.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shingles")
    )
    uniq = (
        exploded.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("doc_id"))
        .filter(F.col("n_docs") < DF_MIN)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_unique"))
    )
    n_boiler = F.col("n_shingles") - F.coalesce(
        F.col("n_unique"), F.lit(0).cast("bigint")
    )
    ratio = n_boiler.cast("double") / F.col("n_shingles")
    return per_doc.join(uniq, "doc_id", "left").select(
        "doc_id",
        "n_shingles",
        n_boiler.alias("n_boiler"),
        rnd(ratio, "boiler_ratio"),
        (ratio <= F.lit(KEEP_MAX_RATIO)).alias("keep"),
    )


@register(
    "text_novelty",
    oracle=f"""
WITH toks AS (
    SELECT doc_id,
           list_filter(string_split(lower(text), ' '), t -> length(t) > 0)
               AS toks
    FROM documents WHERE text IS NOT NULL AND length(text) > 0
),
shingled AS (
    SELECT doc_id,
           list_distinct(
               CASE WHEN len(toks) >= {SHINGLE}
                    THEN list_transform(
                        generate_series(1, len(toks) - {SHINGLE - 1}),
                        i -> array_to_string(toks[i:i + {SHINGLE - 1}], ' '))
                    ELSE [] END) AS shingles
    FROM toks
),
exploded AS (
    SELECT doc_id, unnest(shingles) AS shingle FROM shingled
),
firsts AS (
    SELECT shingle, min(doc_id) AS first_doc FROM exploded GROUP BY shingle
)
SELECT e.doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN f.first_doc = e.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
       floor(CAST(sum(CASE WHEN f.first_doc = e.doc_id THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*) * 10000 + 0.5) / 10000 AS novelty
FROM exploded e JOIN firsts f USING (shingle)
GROUP BY e.doc_id
""",
)
def text_novelty(spark, sf_dir):
    """Content-novelty curve: for each document (in doc_id ingestion
    order), the share of its distinct 5-token shingles whose FIRST
    corpus occurrence is this document — the running-originality signal
    a streaming-ingest pipeline tracks to detect when a crawl source
    has gone stale (novelty collapsing toward 0 means everything
    arriving was already seen). The dual of text_boilerplate: that one
    scores corpus-wide repetition, this one attributes each shingle to
    its earliest document.

    Scale: min(doc_id) is order-insensitive, so no sort and no
    sequential dependency despite the 'in ingestion order' semantics.
    Unlike text_boilerplate (whose per-shingle df must rejoin every
    occurrence), novelty only needs each doc's NOVEL-shingle count —
    so instead of joining the full exploded stream back against firsts
    (a shingle-keyed join of the two largest relations), count
    firsts-per-winner (groupBy first_doc) and shingles-per-doc
    (groupBy doc_id) and join the two DOC-sized aggregates. Same
    output, the heavy join drops to |docs| rows a side (r6 rewrite:
    4.5 s -> ~2 s at sf0.1)."""
    d = table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    toks = F.filter(F.split(F.lower("text"), " "), lambda t: F.length(t) > 0)
    shingles = F.array_distinct(
        F.when(
            F.size(toks) >= SHINGLE,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (SHINGLE - 1)),
                lambda i: F.concat_ws(" ", F.slice(toks, i, SHINGLE)),
            ),
        ).otherwise(F.array().cast("array<string>"))
    )
    exploded = d.select(
        "doc_id", F.explode(shingles).alias("shingle")
    ).localCheckpoint(eager=False)
    per_doc = exploded.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shingles")
    )
    novel = (
        exploded.groupBy("shingle")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_novel"))
    )
    n_novel = F.coalesce(F.col("n_novel"), F.lit(0).cast("bigint"))
    return per_doc.join(novel, "doc_id", "left").select(
        "doc_id",
        "n_shingles",
        n_novel.alias("n_novel"),
        rnd(n_novel.cast("double") / F.col("n_shingles"), "novelty"),
    )


@register("text_compression_ratio")  # zlib has no SQL twin → rows-only
def text_compression_ratio(spark, sf_dir):
    """Gopher-style compressibility quality signal: per document, the
    zlib-compressed size over the raw UTF-8 size. Near-zero ratios mean
    degenerate repetition (a keep/drop input alongside text_repetition
    and text_boilerplate); ratios near 1 mean high-entropy noise —
    both tails get filtered in a Gopher/RefinedWeb-style pipeline.

    Rows-only by declared design: DuckDB has no zlib scalar, so there
    is no SQL oracle — determinism is pinned instead by
    test_compression_ratio_is_deterministic_and_sane (zlib level 6
    output is a pure function of the bytes, so ratios are identical
    across reruns and partitionings).

    Scale: an Arrow-batched pandas UDF (the sanctioned Python path) in
    the scan stage — no shuffle at all; the UDF is CPU-bound per byte,
    exactly the work profile that scales linearly with executors."""
    from pyspark.sql.functions import pandas_udf

    def _ratios(texts):
        import zlib

        def ratio(t):
            if t is None:
                return None
            raw = t.encode("utf-8")
            if not raw:
                return None
            return round(len(zlib.compress(raw, 6)) / len(raw), 4)

        return texts.map(ratio)

    comp_ratio = pandas_udf(_ratios, "double")

    d = table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    out = d.select(
        "doc_id",
        F.col("n_chars"),
        comp_ratio(F.col("text")).alias("comp_ratio"),
    )
    return out.withColumn(
        "keep",
        (F.col("comp_ratio") > 0.08) & (F.col("comp_ratio") < 1.05),
    )
