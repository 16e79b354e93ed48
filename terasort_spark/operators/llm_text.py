"""Text-analysis operators for LLM data pipelines (SURVEY.md §2b +
north-star extension): wordcount, per-language stats, quality scoring,
language-ID heuristic, and content fingerprinting.

Everything is built-in-function composition (split/explode/regexp/md5) —
JVM-side, no Python UDFs — so the same pipeline runs at corpus scale
with only scan + one shuffle per aggregation.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from terasort_spark.catalog import table
from terasort_spark.operators._util import o_rnd, ravg, rnd
from terasort_spark.registry import register

# tiny per-language stopword lists for the language-ID heuristic
_LANG_MARKERS = {
    "en": ("the", "and", "of", "to", "data"),
    "de": ("der", "und", "die", "das", "mit"),
    "es": ("el", "la", "de", "que", "los"),
    "fr": ("le", "la", "et", "les", "des"),
    "zh": ("的", "是", "在", "了", "和"),
}


@register(
    "text_wordcount",
    oracle="""
SELECT word, count(*) AS n
FROM (
  SELECT unnest(string_split(lower(text), ' ')) AS word
  FROM documents
)
WHERE length(word) > 0
GROUP BY word
""",
)
def text_wordcount(spark, sf_dir):
    # The canonical explode → groupBy pipeline: fan-out stays pipelined
    # in codegen; only (word, partial count) pairs shuffle.
    d = table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split(F.lower("text"), " ")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "text_stats",
    oracle=f"""
SELECT lang,
       count(*) AS n_docs,
       {o_rnd("avg(len(string_split(text, ' ')))", "avg_words")},
       {o_rnd("avg(n_chars)", "avg_chars")},
       CAST(min(n_chars) AS BIGINT) AS min_chars,
       CAST(max(n_chars) AS BIGINT) AS max_chars
FROM documents
GROUP BY lang
""",
)
def text_stats(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    return (
        d.withColumn("n_words", F.size(F.split(F.col("text"), " ")))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            ravg(F.col("n_words"), "avg_words"),
            ravg(F.col("n_chars"), "avg_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


@register(
    "text_quality",
    oracle=f"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_bytes,
       CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS INTEGER) AS n_tokens_re,
       {o_rnd("CAST(length(text) AS DOUBLE) / greatest(len(string_split(text, ' ')), 1)", "avg_token_len")},
       {o_rnd("CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE) / greatest(length(text), 1)", "punct_ratio")},
       {o_rnd("CAST(len(list_filter(string_split(lower(text), ' '), w -> list_contains(['the','and','of','to','a','in','is','it'], w))) AS DOUBLE) / greatest(len(string_split(text, ' ')), 1)", "stopword_ratio")}
FROM documents
WHERE doc_id < 300
""",
)
def text_quality(spark, sf_dir):
    """Heuristic quality scores (pretraining-filter style): byte length,
    regex token count (BPE-ish word/number runs), mean token length,
    punctuation ratio, stopword ratio."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    toks = F.split(F.col("text"), " ")
    n_toks = F.greatest(F.size(toks), F.lit(1))
    stop = F.array([F.lit(w) for w in ("the", "and", "of", "to", "a", "in", "is", "it")])
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_bytes"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[a-z0-9]+"), 0)).alias(
            "n_tokens_re"
        ),
        rnd(F.length("text").cast("double") / n_toks, "avg_token_len"),
        rnd(
            F.length(F.regexp_replace(F.col("text"), "[a-z0-9 ]", "")).cast("double")
            / F.greatest(F.length("text"), F.lit(1)),
            "punct_ratio",
        ),
        rnd(
            F.size(
                F.filter(
                    F.split(F.lower("text"), " "),
                    lambda w: F.array_contains(stop, w),
                )
            ).cast("double")
            / n_toks,
            "stopword_ratio",
        ),
    )


def _marker_hits_spark(col, words):
    arr = F.array([F.lit(w) for w in words])
    return F.size(F.filter(col, lambda w: F.array_contains(arr, w)))


def _marker_hits_sql(words):
    lst = ", ".join(f"'{w}'" for w in words)
    return (
        f"CAST(len(list_filter(string_split(lower(text), ' '), "
        f"w -> list_contains([{lst}], w))) AS INTEGER)"
    )



def langid_pred_spark(toks):
    """Deterministic langid argmax ladder (de > es > fr > en with
    ties-to-English) — shared by text_langid and text_langid_confusion."""
    hits = {k: _marker_hits_spark(toks, v) for k, v in _LANG_MARKERS.items()}
    return (
        F.when(
            (hits["de"] > hits["en"])
            & (hits["de"] >= hits["es"])
            & (hits["de"] >= hits["fr"]),
            "de",
        )
        .when((hits["es"] > hits["en"]) & (hits["es"] >= hits["fr"]), "es")
        .when(hits["fr"] > hits["en"], "fr")
        .otherwise("en")
    ), hits


def langid_pred_sql() -> str:
    h = {k: _marker_hits_sql(v) for k, v in _LANG_MARKERS.items()}
    return f"""CASE
         WHEN {h["de"]} > {h["en"]}
          AND {h["de"]} >= {h["es"]}
          AND {h["de"]} >= {h["fr"]}
           THEN 'de'
         WHEN {h["es"]} > {h["en"]}
          AND {h["es"]} >= {h["fr"]}
           THEN 'es'
         WHEN {h["fr"]} > {h["en"]}
           THEN 'fr'
         ELSE 'en'
       END"""


@register(
    "text_langid",
    oracle=f"""
SELECT doc_id, lang,
       {_marker_hits_sql(_LANG_MARKERS["en"])} AS hits_en,
       {_marker_hits_sql(_LANG_MARKERS["de"])} AS hits_de,
       {_marker_hits_sql(_LANG_MARKERS["es"])} AS hits_es,
       {_marker_hits_sql(_LANG_MARKERS["fr"])} AS hits_fr,
       CASE
         WHEN {_marker_hits_sql(_LANG_MARKERS["de"])} > {_marker_hits_sql(_LANG_MARKERS["en"])}
          AND {_marker_hits_sql(_LANG_MARKERS["de"])} >= {_marker_hits_sql(_LANG_MARKERS["es"])}
          AND {_marker_hits_sql(_LANG_MARKERS["de"])} >= {_marker_hits_sql(_LANG_MARKERS["fr"])}
           THEN 'de'
         WHEN {_marker_hits_sql(_LANG_MARKERS["es"])} > {_marker_hits_sql(_LANG_MARKERS["en"])}
          AND {_marker_hits_sql(_LANG_MARKERS["es"])} >= {_marker_hits_sql(_LANG_MARKERS["fr"])}
           THEN 'es'
         WHEN {_marker_hits_sql(_LANG_MARKERS["fr"])} > {_marker_hits_sql(_LANG_MARKERS["en"])}
           THEN 'fr'
         ELSE 'en'
       END AS predicted_lang
FROM documents
WHERE doc_id < 300
""",
)
def text_langid(spark, sf_dir):
    """Stopword-hit language-ID heuristic. The prediction rule is a fixed
    deterministic argmax ladder (de > es > fr > en on ties-to-English),
    identical in both engines; accuracy on synthetic word-soup text is
    not the point — the operator shape is."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    toks = F.split(F.lower("text"), " ")
    hits = {k: _marker_hits_spark(toks, v) for k, v in _LANG_MARKERS.items()}
    pred = (
        F.when(
            (hits["de"] > hits["en"])
            & (hits["de"] >= hits["es"])
            & (hits["de"] >= hits["fr"]),
            "de",
        )
        .when((hits["es"] > hits["en"]) & (hits["es"] >= hits["fr"]), "es")
        .when(hits["fr"] > hits["en"], "fr")
        .otherwise("en")
    )
    return d.select(
        "doc_id",
        "lang",
        hits["en"].alias("hits_en"),
        hits["de"].alias("hits_de"),
        hits["es"].alias("hits_es"),
        hits["fr"].alias("hits_fr"),
        pred.alias("predicted_lang"),
    )


@register(
    "text_fingerprint",
    oracle="""
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' '))
           AS content_fp,
       md5(substring(text, 1, 64)) AS prefix_fp
FROM documents
""",
)
def text_fingerprint(spark, sf_dir):
    """Document fingerprints: an order-insensitive content hash (sorted
    distinct token set → md5) for exact-content dedup modulo word order,
    and a prefix hash for fast candidate blocking. Both are md5, so
    DuckDB replays them."""
    d = table(spark, sf_dir, "documents")
    canon = F.concat_ws(
        " ", F.sort_array(F.array_distinct(F.split(F.lower("text"), " ")))
    )
    return d.select(
        "doc_id",
        F.md5(canon).alias("content_fp"),
        F.md5(F.substring("text", 1, 64)).alias("prefix_fp"),
    )


@register(
    "text_pii_scrub",
    oracle=r"""
SELECT doc_id,
       regexp_replace(
         regexp_replace(dirty, '[a-z0-9.]+@[a-z]+\.[a-z]+', '<EMAIL>', 'g'),
         '\+1-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS clean,
       length(dirty) - length(regexp_replace(dirty, '[a-z0-9.]+@[a-z]+\.[a-z]+', '', 'g')) > 0 AS had_email
FROM (
  SELECT doc_id,
         'contact user' || CAST(doc_id AS VARCHAR) || '@mail.com or +1-555-' ||
         lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' re: ' || substring(text, 1, 40) AS dirty
  FROM documents
  WHERE doc_id < 300
)
""",
)
def text_pii_scrub(spark, sf_dir):
    """PII redaction: email and phone patterns replaced with typed
    placeholder tokens — the pre-training scrub pass. PII is injected
    deterministically (the corpus has none), then removed; the oracle
    runs the same regexes in DuckDB. Pure scan-side regexp_replace —
    no shuffle, fully pushdown-compatible at any scale."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    dirty = F.concat(
        F.lit("contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" re: "),
        F.substring("text", 1, 40),
    )
    email = r"[a-z0-9.]+@[a-z]+\.[a-z]+"
    phone = r"\+1-[0-9]{3}-[0-9]{4}"
    u = d.withColumn("dirty", dirty)
    return u.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace("dirty", email, "<EMAIL>"), phone, "<PHONE>"
        ).alias("clean"),
        (
            F.length("dirty")
            - F.length(F.regexp_replace("dirty", email, ""))
            > 0
        ).alias("had_email"),
    )


@register(
    "dedup_substring",
    oracle="""
WITH shingles AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           array_to_string(words[i : i + 4], ' ') AS shingle
    FROM (
      SELECT doc_id, string_split(lower(text), ' ') AS words
      FROM documents
    ), LATERAL (SELECT unnest(generate_series(1, len(words) - 4)) AS i)
  )
), rep AS (
  SELECT shingle, count(*) AS n_docs FROM shingles GROUP BY shingle
)
SELECT doc_id,
       count(*) AS n_shingles,
       count(CASE WHEN n_docs > 1 THEN 1 END) AS n_shared,
       floor(count(CASE WHEN n_docs > 1 THEN 1 END) * 1.0 / count(*) * 10000 + 0.5) / 10000 AS shared_frac
FROM shingles JOIN rep USING (shingle)
WHERE doc_id < 100
GROUP BY doc_id
""",
)
def dedup_substring(spark, sf_dir):
    """Cross-document substring duplication (the pretraining "repeated
    n-gram passage" pass): 5-token shingles per doc, shared-shingle
    fraction per doc = how much of the document is boilerplate repeated
    elsewhere in the corpus. Distinct (doc, shingle) explode → shingle
    document-frequency → per-doc shared fraction. The shingle DF table
    shuffles on the shingle hash (uniform — no hot keys by
    construction); at 100 TB the DF side would be min-count filtered
    before the join-back to stay broadcastable."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.lower("text"), " ").alias("words")
    )
    n = F.size("words")
    idx = F.sequence(F.lit(1), n - 4)
    shingles = (
        d.filter(n >= 5)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    idx, lambda i: F.array_join(F.slice("words", i, 5), " ")
                )
            ).alias("shingle"),
        )
        .distinct()
    )
    rep = shingles.groupBy("shingle").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        shingles.join(rep, "shingle")
        .filter(F.col("doc_id") < 100)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count(F.when(F.col("n_docs") > 1, 1)).alias("n_shared"),
            rnd(
                F.count(F.when(F.col("n_docs") > 1, 1)) * 1.0 / F.count(F.lit(1)),
                "shared_frac",
            ),
        )
    )


@register(
    "text_gopher_rules",
    oracle="""
SELECT doc_id, CAST(n_words AS INTEGER) AS n_words, mean_word_len,
       rule_wc, rule_mwl, rule_sym,
       CAST(rule_wc AND rule_mwl AND rule_sym AS BOOLEAN) AS pass_all
FROM (
  SELECT doc_id,
         len(words) AS n_words,
         floor((length(replace(text, ' ', '')) * 1.0 / len(words)) * 10000 + 0.5) / 10000 AS mean_word_len,
         len(words) BETWEEN 50 AND 100000 AS rule_wc,
         (length(replace(text, ' ', '')) * 1.0 / len(words)) BETWEEN 3 AND 10 AS rule_mwl,
         (length(text) - length(regexp_replace(text, '[^a-z ]', '', 'g'))) * 1.0 / length(text) < 0.1 AS rule_sym
  FROM (
    SELECT doc_id, text, string_split(lower(text), ' ') AS words
    FROM documents WHERE length(text) > 0
  )
)
WHERE doc_id < 200
""",
)
def text_gopher_rules(spark, sf_dir):
    """Gopher-style quality gating: word-count bounds, mean-word-length
    bounds, and symbol-ratio cap as individual boolean rule columns plus
    the conjunction — the filter stack run before pretraining. All
    scan-side scalar expressions; at 100 TB this runs inside the first
    projection with zero shuffles, and the booleans partition-prune
    downstream passes."""
    d = (
        table(spark, sf_dir, "documents")
        .filter((F.length("text") > 0) & (F.col("doc_id") < 200))
        .select("doc_id", "text", F.split(F.lower("text"), " ").alias("words"))
    )
    n_words = F.size("words")
    chars = F.length(F.regexp_replace("text", " ", ""))
    mwl = chars * 1.0 / n_words
    sym_ratio = (
        F.length("text") - F.length(F.regexp_replace("text", "[^a-z ]", ""))
    ) * 1.0 / F.length("text")
    rule_wc = n_words.between(50, 100000)
    rule_mwl = mwl.between(3, 10)
    rule_sym = sym_ratio < 0.1
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        rnd(mwl, "mean_word_len"),
        rule_wc.alias("rule_wc"),
        rule_mwl.alias("rule_mwl"),
        rule_sym.alias("rule_sym"),
        (rule_wc & rule_mwl & rule_sym).alias("pass_all"),
    )


@register(
    "text_repetition",
    oracle="""
WITH t AS (
    SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
),
g AS (
    SELECT doc_id,
           list_transform(range(1, len(toks) - 1),
                          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
               AS tris
    FROM t WHERE len(toks) >= 3
)
SELECT doc_id,
       len(tris) AS n_trigrams,
       len(list_distinct(tris)) AS n_unique,
       floor((1.0 - CAST(len(list_distinct(tris)) AS DOUBLE) / len(tris))
             * 10000 + 0.5) / 10000 AS dup_frac
FROM g
""",
)
def text_repetition(spark, sf_dir):
    """Within-document repetition score: fraction of duplicated word
    trigrams (1 - unique/total) — the Gopher/C4 "repetitive content"
    signal that catches boilerplate, keyword stuffing, and decoding
    loops in generated text. Reference scope: the engine's text-quality
    family (SURVEY.md §2b north-star extension).

    Scale notes: trigrams are built with array HOFs (sequence +
    transform over the token array) entirely inside whole-stage
    codegen — no explode, so the row count never multiplies; the
    dedup happens per-row via array_distinct. Embarrassingly parallel
    scan → zero shuffles at any corpus size."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.lower("text"), " ").alias("toks")
    )
    d = d.where(F.size("toks") >= 3)
    tris = F.transform(
        F.sequence(F.lit(0), F.size("toks") - 3),
        lambda i: F.concat_ws(
            " ",
            F.get("toks", i),
            F.get("toks", i + 1),
            F.get("toks", i + 2),
        ),
    )
    d = d.select("doc_id", tris.alias("tris"))
    n_tri = F.size("tris")
    n_uniq = F.size(F.array_distinct("tris"))
    return d.select(
        "doc_id",
        n_tri.cast("long").alias("n_trigrams"),
        n_uniq.cast("long").alias("n_unique"),
        rnd(F.lit(1.0) - n_uniq.cast("double") / n_tri, "dup_frac"),
    )


_WINNOW_K = 3  # token k-gram size
_WINNOW_W = 4  # winnowing window (guarantee threshold t = W + K - 1)


@register(
    "text_winnowing",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, string_split(lower(text), ' ') AS t,
           len(string_split(lower(text), ' ')) AS n
    FROM documents
),
kg AS (
    SELECT doc_id, n - {_WINNOW_K} + 1 AS nk,
           unnest(list_transform(
               generate_series(1, n - {_WINNOW_K} + 1),
               i -> struct_pack(
                   pos := i,
                   h := md5(array_to_string(
                       list_slice(t, i, i + {_WINNOW_K} - 1), ' ')))))
               AS u
    FROM toks WHERE n >= {_WINNOW_K} + {_WINNOW_W} - 1
),
win AS (
    SELECT doc_id, nk, u.pos AS pos,
           min(u.h) OVER (PARTITION BY doc_id ORDER BY u.pos
                          ROWS BETWEEN CURRENT ROW
                          AND {_WINNOW_W - 1} FOLLOWING) AS wmin
    FROM kg
)
SELECT doc_id,
       count(DISTINCT wmin) AS n_fp,
       min(wmin) AS fp_min
FROM win WHERE pos <= nk - {_WINNOW_W} + 1
GROUP BY doc_id
""",
)
def text_winnowing(spark, sf_dir):
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every token k-gram (k=3),
    slide a w-hash window (w=4) over the sequence, keep each window's
    minimum hash; the selected set is a position-robust fingerprint
    guaranteeing any shared run of w + k - 1 = 6 tokens leaves at
    least one common selected hash. Emits per-document fingerprint cardinality
    and the smallest selected hash (the set itself stays distributed —
    a downstream near-dup join would bucket on selected hashes exactly
    like dedup_minhash's bands).

    Scale notes: k-gram construction is an array transform inside the
    scan stage (no join, no self-shuffle); the only shuffle is the
    per-document window on (doc_id, pos), linear in corpus token count,
    and fingerprints are md5 STRINGS so the min-window semantics are
    byte-identical across engines. Window minima over a W-row frame
    are O(n·W) worst case but W is a small constant — Spark's
    sliding-frame evaluator never rescans the document."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.lower("text"), " ").alias("toks")
    )
    d = d.withColumn("n", F.size("toks")).where(
        F.col("n") >= _WINNOW_K + _WINNOW_W - 1
    )
    hash_expr = f"md5(concat_ws(' ', slice(toks, i, {_WINNOW_K})))"
    kg = d.select(
        "doc_id",
        (F.col("n") - _WINNOW_K + 1).alias("nk"),
        F.posexplode(
            F.expr(
                f"transform(sequence(1, n - {_WINNOW_K} + 1), i -> {hash_expr})"
            )
        ).alias("pos", "h"),
    )
    win = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(0, _WINNOW_W - 1)
    )
    sel = kg.withColumn("wmin", F.min("h").over(win)).where(
        # posexplode is 0-based; full windows only (0-based pos <= nk - W)
        F.col("pos") <= F.col("nk") - _WINNOW_W
    )
    return sel.groupBy("doc_id").agg(
        F.countDistinct("wmin").alias("n_fp"),
        F.min("wmin").alias("fp_min"),
    )


_LONG_WORD = 6  # LIX counts words of > 6 chars as "long"


@register(
    "text_readability",
    oracle=f"""
WITH toks AS (
    SELECT doc_id,
           list_filter(string_split(lower(text), ' '), t -> length(t) > 0)
               AS toks
    FROM documents WHERE text IS NOT NULL AND length(text) > 0
)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_words,
       floor(CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
             / len(toks) * 10000 + 0.5) / 10000 AS avg_word_len,
       floor((CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
              / len(toks)
              + 100.0 * len(list_filter(toks, t -> length(t) > {_LONG_WORD}))
                / len(toks)) * 10000 + 0.5) / 10000 AS lix
FROM toks
WHERE len(toks) > 0
""",
)
def text_readability(spark, sf_dir):
    """Readability/complexity scoring (simplified LIX: mean word length
    plus 100x the long-word ratio — the sentence term is dropped
    because the synthetic corpus has no sentence delimiters; the real
    formula is the same shape with words-per-sentence added). Complexity
    scores drive curriculum ordering and filtering of degenerate
    token-soup documents.

    Scale: pure scan-stage array arithmetic — the token array is never
    exploded; aggregate/filter/transform are JVM higher-order functions
    inside whole-stage codegen, zero shuffles."""
    d = table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    toks = F.filter(F.split(F.lower("text"), " "), lambda t: F.length(t) > 0)
    base = d.select("doc_id", toks.alias("toks")).filter(F.size("toks") > 0)
    char_sum = F.aggregate(
        "toks", F.lit(0), lambda acc, t: acc + F.length(t)
    ).cast("double")
    n_words = F.size("toks")
    long_ratio = (
        F.size(F.filter("toks", lambda t: F.length(t) > _LONG_WORD)).cast(
            "double"
        )
        / n_words
    )
    awl = char_sum / n_words
    return base.select(
        "doc_id",
        n_words.cast("bigint").alias("n_words"),
        rnd(awl, "avg_word_len"),
        rnd(awl + 100.0 * long_ratio, "lix"),
    )


_KEYWORDS_K = 3


@register(
    "text_keywords",
    oracle=f"""
WITH tok AS (
    SELECT doc_id, t AS term FROM (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
        FROM documents WHERE text IS NOT NULL AND length(text) > 0
    ) WHERE length(t) > 0
),
tf AS (
    SELECT doc_id, term, count(*) AS c FROM tok GROUP BY doc_id, term
),
df AS (
    SELECT term, count(DISTINCT doc_id) AS n_docs FROM tok GROUP BY term
),
n AS (SELECT count(DISTINCT doc_id) AS total FROM tok),
scored AS (
    SELECT tf.doc_id, tf.term,
           tf.c * CAST(floor(ln(CAST(n.total AS DOUBLE) / df.n_docs)
                             * 1000000 + 0.5) AS BIGINT) AS score
    FROM tf JOIN df USING (term) CROSS JOIN n
),
ranked AS (
    SELECT doc_id, term, score,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY score DESC, term) AS rank
    FROM scored
)
SELECT doc_id, term, CAST(rank AS BIGINT) AS rank,
       floor(CAST(score AS DOUBLE) / 1000000 * 10000 + 0.5) / 10000
           AS tfidf
FROM ranked WHERE rank <= {_KEYWORDS_K}
""",
)
def text_keywords(spark, sf_dir):
    """Per-document keyword extraction: top-{_KEYWORDS_K} terms by
    TF-IDF (idf quantized to 6dp int64, so score = tf x idf_q6 is an
    exact integer and the per-doc ranking is engine-invariant with a
    term tie-break) — the tagging pass that gives a corpus browsable
    topic handles.

    Scale: tf is one groupBy keyed by (doc_id, term); df one groupBy
    keyed by term; the constant-k rank filter activates
    WindowGroupLimit so per-doc window state is k-bounded on the map
    side. The corpus-size scalar joins in as a broadcast literal."""
    d = table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    tok = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
    ).filter(F.length("term") > 0)
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("c"))
    df_counts = tok.groupBy("term").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    n = tok.agg(F.countDistinct("doc_id").alias("total"))
    idf_q6 = F.floor(
        F.log(F.col("total").cast("double") / F.col("n_docs")) * 1000000
        + F.lit(0.5)
    ).cast("bigint")
    scored = (
        tf.join(df_counts, "term")
        .crossJoin(F.broadcast(n))
        .select("doc_id", "term", (F.col("c") * idf_q6).alias("score"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _KEYWORDS_K)
        .select(
            "doc_id",
            "term",
            F.col("rank").cast("bigint").alias("rank"),
            rnd(F.col("score").cast("double") / 1000000, "tfidf"),
        )
    )


@register(
    "text_langid_confusion",
    oracle=f"""
WITH pred AS (
  SELECT lang AS true_lang, {langid_pred_sql()} AS predicted_lang
  FROM documents WHERE text IS NOT NULL
),
sized AS (
  SELECT true_lang, count(*) AS n_true FROM pred GROUP BY true_lang
)
SELECT p.true_lang, p.predicted_lang,
       CAST(count(*) AS BIGINT) AS n,
       floor(CAST(count(*) AS DOUBLE) / max(s.n_true) * 10000 + 0.5) / 10000
           AS row_frac
FROM pred p JOIN sized s USING (true_lang)
GROUP BY p.true_lang, p.predicted_lang
""",
)
def text_langid_confusion(spark, sf_dir):
    """Multiclass confusion matrix for the langid heuristic over the
    WHOLE corpus: per (true_lang, predicted_lang) cell count and the
    row-normalized fraction (per-class recall on the diagonal) — the
    corpus-level evaluation that decides whether a langid filter is
    safe to gate a pretraining mix with (ml_confusion's binary twin,
    one axis up).

    Scale: the prediction is pure codegen (array marker hits + CASE
    ladder, shared with text_langid); the corpus collapses in ONE
    map-combined groupBy onto <= |langs|^2 cells, and the per-class
    sizes join back from a langs-sized broadcast. No windows, no
    skewed keys, nothing per-doc survives the aggregation."""
    d = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = F.split(F.lower("text"), " ")
    pred_col, _ = langid_pred_spark(toks)
    pred = d.select(
        F.col("lang").alias("true_lang"), pred_col.alias("predicted_lang")
    )
    sized = pred.groupBy("true_lang").agg(F.count(F.lit(1)).alias("n_true"))
    return (
        pred.join(F.broadcast(sized), "true_lang")
        .groupBy("true_lang", "predicted_lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            rnd(F.count(F.lit(1)).cast("double") / F.max("n_true"), "row_frac"),
        )
    )
