"""Round-7 wave: record-file round trip, retrieval evaluation,
fixed-size reservoir sampling, video scene-cut detection, and
preference-pair assembly — five operators the SURVEY.md §2b inventory
and the LLM-pipeline north star still lacked (each concept grepped
against the 272-query registry before adding; no overlaps).

Scale notes live on each operator; every query carries an exact DuckDB
oracle (determinism rules D1–D6, registry.py).
"""

from __future__ import annotations

import shutil

from pyspark.sql import Window
from pyspark.sql import functions as F

from terasort_spark.catalog import table
from terasort_spark.operators._util import o_rnd, rnd, scratch_dir
from terasort_spark.registry import register

# --------------------------------------------------------------------------
# source_fixedwidth — the 100-byte record files' round trip through the
# format's one home, sources/teragen.py: write_tera_files out,
# read_tera_files back.

_FW_ROWS = 20_000
_FW_PARTS = 8


def _fw_oracle() -> str:
    # built from the SAME constants as tera_queries._gen_df/_GEN_SQL so
    # a future VALUE_LEN change cannot silently desync this oracle
    from terasort_spark.sources.tera_queries import _KEY_SQL
    from terasort_spark.sources.teragen import VALUE_LEN

    return f"""
SELECT id,
       {_KEY_SQL} AS key,
       rpad(lpad(CAST(id AS VARCHAR), 32, '0'), {VALUE_LEN}, 'X') AS value
FROM range(0, {_FW_ROWS}) t(id)
"""


@register("source_fixedwidth", oracle=_fw_oracle())
def source_fixedwidth(spark, sf_dir):
    """Round trip through the record files: generate the registered
    teragen rows, sink them as raw 100-byte records with
    ``write_tera_files`` (the R5 sink), read them back with
    ``read_tera_files`` (the R1 source) and parse id out of the value
    payload. The oracle regenerates the rows from ``range()``, so a
    hash match proves the write → read → key/value slicing round trip
    is byte-faithful.

    Scale: each task writes its own part file from Arrow buffers (no
    driver hop); the read is a JVM ``binaryRecords`` scan split on
    record boundaries, with no record passing through Python. The
    scratch directory is cleared first, since the writer refuses a
    directory that already holds part files."""
    from terasort_spark.sources.tera_queries import _gen_df
    from terasort_spark.sources.teragen import read_tera_files, write_tera_files

    out = scratch_dir(spark, "fixedwidth")
    shutil.rmtree(out, ignore_errors=True)
    gen = _gen_df(spark, _FW_ROWS, _FW_PARTS).select(
        F.encode("key", "utf-8").alias("key"),
        F.encode("value", "utf-8").alias("value"),
    )
    write_tera_files(gen, out)
    val = F.decode("value", "utf-8")
    return read_tera_files(spark, out).select(
        F.substring(val, 1, 32).cast("bigint").alias("id"),
        F.decode("key", "utf-8").alias("key"),
        val.alias("value"),
    )


# --------------------------------------------------------------------------
# ml_mrr — retrieval evaluation: MRR / hit@5 of the IVF index against
# exact-cosine ground truth.


def _mrr_oracle() -> str:
    # composed from the SAME constants sim_cosine_ivf's oracle uses
    # (llm_similarity.IVF_BUCKET_CTES / IVF_TOPK_INNER), so the index
    # and its evaluation metric cannot drift apart silently.
    from terasort_spark.operators.llm_similarity import (
        _COSINE_SQL,
        IVF_BUCKET_CTES,
        IVF_TOPK_INNER,
    )

    return f"""
WITH {IVF_BUCKET_CTES},
ivf AS MATERIALIZED (
  SELECT q_id, c_id, rn FROM (
    {IVF_TOPK_INNER}
  ) WHERE rn <= 5
),
exact AS MATERIALIZED (
  SELECT q_id, c_id AS true_c FROM (
    SELECT q.vec_id AS q_id, c.vec_id AS c_id,
           row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY {o_rnd(_COSINE_SQL)} DESC, c.vec_id) AS rn
    FROM b q JOIN b c ON c.vec_id != q.vec_id
    WHERE q.vec_id < 10
  ) WHERE rn = 1
)
SELECT e.q_id, e.true_c,
       floor(coalesce(1.0 / i.rn, 0.0) * 10000 + 0.5) / 10000 AS rr,
       CAST(CASE WHEN i.rn IS NOT NULL THEN 1 ELSE 0 END AS INTEGER) AS hit5
FROM exact e LEFT JOIN ivf i ON i.q_id = e.q_id AND i.c_id = e.true_c
"""


@register("ml_mrr", oracle=_mrr_oracle())
def ml_mrr(spark, sf_dir):
    """ANN index evaluation — the metric every retrieval system ships
    with: for each query, find the TRUE nearest neighbor by exact
    cosine over all candidates, then score where the deployed index
    (sim_cosine_ivf's multi-probe top-5) ranks it. Reports reciprocal
    rank (0 when missed) and hit@5 per query; MRR/recall@5 are the
    averages of these columns.

    Scale: the ground-truth side is deliberately brute-force — an
    EVALUATION runs over a bounded query sample (10 here; thousands in
    production), so the non-equi join is |Q| x n with a broadcast-able
    Q, not n². The system side reuses the bucketed IVF plan unchanged.
    The final scoring joins are |Q|-sized."""
    from terasort_spark.operators.llm_similarity import sim_cosine_ivf

    sys_topk = sim_cosine_ivf(spark, sf_dir).select("q_id", "c_id", "rn")

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("emb")
    )
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("emb").alias("q_emb")
    )
    c = e.select(F.col("vec_id").alias("c_id"), F.col("emb").alias("c_emb"))

    from terasort_spark.operators.llm_similarity import dot_fold as dot

    cosine = dot(F.col("q_emb"), F.col("c_emb")) / (
        F.sqrt(dot(F.col("q_emb"), F.col("q_emb")))
        * F.sqrt(dot(F.col("c_emb"), F.col("c_emb")))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))
    # broadcast the BOUNDED query sample (10 rows) so the non-equi join
    # streams the candidate side — at 100 TB the candidates must never
    # be the build side
    exact = (
        F.broadcast(q).join(c, F.col("c_id") != F.col("q_id"))
        .withColumn("cosine", rnd(cosine))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 1)
        .select("q_id", F.col("c_id").alias("true_c"))
    )
    hit = sys_topk.withColumnRenamed("c_id", "true_c")
    return exact.join(hit, ["q_id", "true_c"], "left").select(
        "q_id",
        "true_c",
        rnd(F.coalesce(1.0 / F.col("rn"), F.lit(0.0)), "rr"),
        F.when(F.col("rn").isNotNull(), F.lit(1)).otherwise(F.lit(0)).alias("hit5"),
    )


# --------------------------------------------------------------------------
# sample_reservoir — fixed-SIZE uniform sample via priority hashing.

_RESERVOIR_K = 100


def _reservoir_oracle() -> str:
    from terasort_spark.sources.tera_queries import mix32_sql

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
    from terasort_spark.sources.tera_queries import mix32

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


# --------------------------------------------------------------------------
# multimodal_scenecut — adjacent-frame perceptual-hash deltas.

_CUT_HAMMING = 8  # 12-bit frame hashes: unrelated frames average 6
_FRAME_BYTES = 64


def _frame_bits_sql(h: str) -> str:
    # bit k set iff md5-digest byte k < byte k+1, weighted 2^k — the
    # exact comparison the Python frame hash makes (12 bits from the
    # first 13 digest bytes).
    def byte(i: int) -> str:
        return f"CAST('0x'||substr({h}, {2 * i + 1}, 2) AS INT)"

    terms = [
        f"CASE WHEN {byte(k)} < {byte(k + 1)} THEN {1 << k} ELSE 0 END"
        for k in range(12)
    ]
    return "(" + " + ".join(terms) + ")"


@register(
    "multimodal_scenecut",
    # text is ASCII in this corpus (pinned by test), so DuckDB's
    # character-indexed substr slices the same bytes Python slices from
    # the utf-8 payload; md5 then hashes identical frame bytes.
    oracle=f"""
WITH f AS (
    SELECT doc_id, text,
           greatest(1, octet_length(encode(text)) // {_FRAME_BYTES}) AS nf
    FROM documents WHERE text IS NOT NULL
),
fr AS (
    SELECT doc_id, CAST(i AS INT) AS frame_idx,
           md5(substr(text, CAST(i * {_FRAME_BYTES} + 1 AS BIGINT),
               {_FRAME_BYTES})) AS h
    FROM f, unnest(generate_series(0, CAST(nf - 1 AS BIGINT))) AS t(i)
),
ph AS (SELECT doc_id, frame_idx,
              CAST({_frame_bits_sql('h')} AS BIGINT) AS fhash FROM fr),
lagged AS (
    SELECT doc_id, frame_idx, fhash,
           lag(fhash) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS prev
    FROM ph
)
SELECT doc_id, frame_idx,
       CAST(bit_count(xor(fhash, prev)) AS INTEGER) AS hamming
FROM lagged
WHERE prev IS NOT NULL AND bit_count(xor(fhash, prev)) >= {_CUT_HAMMING}
""",
)
def multimodal_scenecut(spark, sf_dir):
    """Scene-cut detection: decode each video payload into fixed-width
    frames (the multimodal_framesample container stub), perceptual-hash
    every frame (12-bit gradient signs over the frame's md5 digest —
    the deterministic stand-in for a dHash of decoded pixels), then
    flag frame transitions whose Hamming distance clears the cut
    threshold. The standard shot-boundary primitive for video curation
    (sampling one keyframe per scene instead of one per N frames).

    Scale: frame hashing is ONE stateless Arrow-batched mapInPandas
    pass (scan-stage, no shuffle); the transition test is a lag window
    partitioned by doc_id — high-cardinality key, state = one frame
    hash. Output is bounded by the number of cuts, never frames²."""
    import hashlib

    def frame_hashes(batches):
        import pandas as pd

        for pdf in batches:
            out_doc, out_idx, out_hash = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n_frames = max(1, len(payload) // _FRAME_BYTES)
                for i in range(n_frames):
                    chunk = bytes(
                        payload[i * _FRAME_BYTES : (i + 1) * _FRAME_BYTES]
                    )
                    dg = hashlib.md5(chunk).digest()
                    bits = 0
                    for k in range(12):
                        if dg[k] < dg[k + 1]:
                            bits |= 1 << k
                    out_doc.append(doc_id)
                    out_idx.append(i)
                    out_hash.append(bits)
            yield pd.DataFrame(
                {"doc_id": out_doc, "frame_idx": out_idx, "fhash": out_hash}
            )

    d = (
        table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", F.encode(F.col("text"), "utf-8").alias("payload"))
    )
    ph = d.mapInPandas(
        frame_hashes, schema="doc_id bigint, frame_idx int, fhash bigint"
    )
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    lagged = ph.withColumn("prev", F.lag("fhash").over(w))
    hamming = F.bit_count(F.col("fhash").bitwiseXOR(F.col("prev")))
    return lagged.filter(
        F.col("prev").isNotNull() & (hamming >= _CUT_HAMMING)
    ).select("doc_id", "frame_idx", hamming.cast("int").alias("hamming"))


# --------------------------------------------------------------------------
# pipeline_preference_pairs — DPO/RLHF pair assembly.


@register(
    "pipeline_preference_pairs",
    oracle="""
WITH s AS (
    SELECT lang, source, doc_id,
           CAST(len(list_distinct(string_split(lower(text), ' '))) AS BIGINT)
               AS score
    FROM documents WHERE text IS NOT NULL
),
ch AS (
    SELECT lang, source, doc_id AS chosen_id, score AS chosen_score,
           row_number() OVER (PARTITION BY lang, source
                              ORDER BY score DESC, doc_id) AS rn
    FROM s
),
rj AS (
    SELECT lang, source, doc_id AS rejected_id, score AS rejected_score,
           row_number() OVER (PARTITION BY lang, source
                              ORDER BY score ASC, doc_id DESC) AS rn
    FROM s
)
SELECT c.lang, c.source, c.chosen_id, r.rejected_id,
       c.chosen_score - r.rejected_score AS margin
FROM (SELECT * FROM ch WHERE rn = 1) c
JOIN (SELECT * FROM rj WHERE rn = 1) r USING (lang, source)
WHERE c.chosen_id != r.rejected_id
""",
)
def pipeline_preference_pairs(spark, sf_dir):
    """Preference-pair assembly (DPO/RLHF dataset construction): within
    each prompt group — (lang, source) stands in for the prompt key —
    pick the highest-scoring document as `chosen` and the lowest as
    `rejected`, with the margin as the pair's training weight. The
    score is distinct-token count (a stand-in for a reward model; the
    plan is score-function-agnostic). Ties break on doc_id from
    opposite ends so a constant-score group still yields a
    deterministic (min-id, max-id) pair; single-doc groups emit
    nothing.

    Scale: two rank-1 windows over the same (lang, source) exchange.
    Both carry constant rn <= 1 filters, so WindowGroupLimit keeps
    per-group state at ONE row map-side — the low-cardinality group
    key never concentrates a partition's rows into memory. Output is
    one row per group."""
    d = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    score = F.size(F.array_distinct(F.split(F.lower("text"), " "))).cast("bigint")
    s = d.select("lang", "source", "doc_id", score.alias("score"))
    w_ch = Window.partitionBy("lang", "source").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    w_rj = Window.partitionBy("lang", "source").orderBy(
        F.asc("score"), F.desc("doc_id")
    )
    ch = (
        s.withColumn("rn", F.row_number().over(w_ch))
        .filter(F.col("rn") <= 1)
        .select(
            "lang",
            "source",
            F.col("doc_id").alias("chosen_id"),
            F.col("score").alias("chosen_score"),
        )
    )
    rj = (
        s.withColumn("rn", F.row_number().over(w_rj))
        .filter(F.col("rn") <= 1)
        .select(
            "lang",
            "source",
            F.col("doc_id").alias("rejected_id"),
            F.col("score").alias("rejected_score"),
        )
    )
    return (
        ch.join(rj, ["lang", "source"])
        .filter(F.col("chosen_id") != F.col("rejected_id"))
        .select(
            "lang",
            "source",
            "chosen_id",
            "rejected_id",
            (F.col("chosen_score") - F.col("rejected_score")).alias("margin"),
        )
    )


# --------------------------------------------------------------------------
# text_markup_extract — HTML -> visible text (the WET-extraction step).

# Deterministic markup wrapper: the corpus has no raw HTML, so the query
# MANUFACTURES a realistic page around each document (head with script,
# heading, paragraph, per-doc links) — the _with_dups convention from
# llm_dedup. Extraction must get exactly the visible text back out.
_SCRIPT = "<script>var x = 1;</script>"


@register(
    "text_markup_extract",
    oracle=f"""
WITH page AS (
    SELECT doc_id,
           '<html><head>{_SCRIPT}</head><body><h1>' || lang ||
           '</h1><p>' || text || '</p><a href="u' || doc_id ||
           '">more</a>' ||
           CASE WHEN doc_id % 3 = 0 THEN '<a href="v">x</a>' ELSE '' END ||
           '</body></html>' AS html
    FROM documents WHERE text IS NOT NULL
),
stripped AS (
    SELECT doc_id, html,
           trim(regexp_replace(regexp_replace(regexp_replace(html,
               '<script>.*?</script>', ' ', 'g'),
               '<[^>]*>', ' ', 'g'),
               ' +', ' ', 'g')) AS clean_text
    FROM page
)
SELECT doc_id, clean_text,
       CAST(length(clean_text) AS BIGINT) AS n_chars_clean,
       CAST(len(regexp_extract_all(html, '<a href=')) AS INTEGER) AS n_links
FROM stripped
""",
)
def text_markup_extract(spark, sf_dir):
    """Markup-to-text extraction — the first step of every web-corpus
    pipeline (WET extraction): drop non-content blocks (<script> here;
    style/nav in production), strip tags, collapse whitespace, and keep
    link counts as a quality signal (link-farm pages have high
    links-per-char). The page is manufactured deterministically around
    each document so the oracle can verify the extraction recovers the
    visible text EXACTLY (heading + body), not approximately.

    Scale: three regexp_replace passes and one regexp count, all
    whole-stage codegen over the scan — no shuffle at all; the output
    is one row per page. Java and RE2 both support the non-greedy
    block pattern; production would swap the regex chain for a real
    HTML parser behind the same projection."""
    d = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    html = F.concat(
        F.lit(f"<html><head>{_SCRIPT}</head><body><h1>"),
        F.col("lang"),
        F.lit("</h1><p>"),
        F.col("text"),
        F.lit('</p><a href="u'),
        F.col("doc_id").cast("string"),
        F.lit('">more</a>'),
        F.when(F.col("doc_id") % 3 == 0, F.lit('<a href="v">x</a>')).otherwise(
            F.lit("")
        ),
        F.lit("</body></html>"),
    )
    page = d.select("doc_id", html.alias("html"))
    clean = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.col("html"), "<script>.*?</script>", " "),
                "<[^>]*>",
                " ",
            ),
            " +",
            " ",
        )
    )
    return page.select(
        "doc_id",
        clean.alias("clean_text"),
        F.length(clean).cast("bigint").alias("n_chars_clean"),
        F.size(F.regexp_extract_all(F.col("html"), F.lit("<a href="), 0))
        .cast("int")
        .alias("n_links"),
    )
