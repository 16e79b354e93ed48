"""Corpus-quality and data-mixing operators (north-star extension):
CCNet-style perplexity bucketing, SoftDeDup duplicate weighting,
temperature-scaled multilingual mixing, and versioned-table time travel
— the selection/weighting layer a pretraining pipeline runs between raw
curation and packing.

All four are exact-oracle: the LM scores reuse text_bigram_lm's
6dp-quantized logprob discipline, the sampling coin is the bit-exact
splitmix mixer from sources/tera_queries.py (no rand(), no engine RNG),
and the time-travel read replays relationally.
"""

from __future__ import annotations

import shutil

from pyspark.sql import Window
from pyspark.sql import functions as F

from terasort_spark.catalog import table
from terasort_spark.operators._util import DEC, rnd, scratch_dir
from terasort_spark.operators.llm_lm import BIGRAMS_SQL, text_bigram_lm
from terasort_spark.registry import register
from terasort_spark.sources.snapshots import read_snapshot, write_version
from terasort_spark.sources.tera_queries import mix32, mix32_sql

# One isolated child session per outer session (keyed by id; the value
# keeps the outer alive so ids can't be recycled underneath us). A
# child SparkSession is a JVM SessionState that is never GC'd while the
# context lives — creating one per text_ccnet_bucket call leaked state
# across bench's repeated invocations (r9 ADVICE).
_CCNET_CHILDREN: dict[int, tuple] = {}


def _ccnet_child_session(outer):
    """Cached isolated session for text_ccnet_bucket's AQE-scoped
    checkpoint compile, with the outer session's FULL explicitly-set
    runtime conf mirrored in on every call. ``SET`` (no -v) lists
    exactly the session's explicitly-set runtime confs; non-modifiable
    keys (static/context confs) are skipped. Keys unset on the outer
    since a previous call keep their last mirrored value — the child
    converges to the caller's SET state, never diverges from it."""
    ent = _CCNET_CHILDREN.get(id(outer))
    if ent is None or ent[0] is not outer:
        _CCNET_CHILDREN[id(outer)] = ent = (outer, outer.newSession())
    child = ent[1]
    for row in outer.sql("SET").collect():
        if "(redacted)" in row["value"]:
            continue  # SET masks secret-like values; never copy the mask
        try:
            child.conf.set(row["key"], row["value"])
        except Exception:
            pass  # static or non-modifiable conf — not session state
    return child


@register(
    "text_ccnet_bucket",
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
),
doc_scores AS (
    SELECT doc_id,
           floor(CAST(sum(CAST(lp AS DECIMAL(25,6))) AS DOUBLE) / count(*)
                 * 10000 + 0.5) / 10000 AS avg_logprob
    FROM scored GROUP BY doc_id
)
SELECT s.doc_id, d.lang,
       s.avg_logprob,
       CASE ntile(3) OVER (PARTITION BY d.lang
                           ORDER BY s.avg_logprob DESC, s.doc_id)
            WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
           AS bucket
FROM doc_scores s JOIN documents d USING (doc_id)
""",
)
def text_ccnet_bucket(spark, sf_dir):
    """CCNet-style quality bucketing: score every document by its
    average bigram log-probability under the per-language corpus model
    (text_bigram_lm's exact-decimal score), then split each language
    into head/middle/tail terciles — the buckets CCNet feeds to
    downstream filtering (keep head+middle, sample tail).

    Scale (de-skewed, round 6): a per-lang ntile over raw docs would
    sort ~1/|langs| of the 100 TB corpus on ONE task. Instead the 4dp-
    quantized scores are aggregated to a per-(lang, score) HISTOGRAM
    (bounded distinct values), the per-lang windows run over histogram
    rows only, and each doc's global rank is reconstructed as
    (rows with a higher score) + (row_number within its exact-score tie
    group) — the only window over raw docs is keyed by
    (lang, avg_logprob), a high-cardinality key with bounded tie-group
    state. Bit-identical to ntile(3) ORDER BY score DESC, doc_id: with
    n docs, q = n div 3, r = n mod 3, the tercile boundaries are
    t1 = q + min(r,1) and t2 = 2q + min(r,2)."""
    # The exchange-reuse trick below needs AQE off while the checkpoint
    # subtree is COMPILED (a lazy checkpoint under AQE records
    # UnknownPartitioning). Flipping the session-global conf would
    # silently de-AQE any query compiled concurrently on the same
    # session (streaming, parallel tests), so the whole query plans in
    # an ISOLATED child session sharing the SparkContext: AQE is off
    # only there, and the caller's session conf is never touched
    # (r8 ADVICE item 1). r9 ADVICE: the child is CACHED per outer
    # session (bench re-invokes this query; a fresh newSession() each
    # call leaked one JVM SessionState per run), and the caller's FULL
    # explicitly-set runtime conf map is mirrored each call via SET —
    # not a 3-key allowlist — so behavior dials (ANSI, time zone,
    # partitioning sweeps) all propagate. Static/non-modifiable
    # confs are skipped; a key the caller UNSET since the last call is
    # not un-mirrored (document: the child only ever converges toward
    # the caller's current SET state).
    outer = spark
    spark = _ccnet_child_session(outer)
    scores = text_bigram_lm(spark, sf_dir).select("doc_id", "avg_logprob")
    langs = table(spark, sf_dir, "documents").select("doc_id", "lang")
    # Both the histogram branch and the final join consume `rows`;
    # localCheckpoint pins ONE execution of the bigram-LM scoring
    # instead of recomputing the whole model per branch. Repartitioning
    # on (lang, avg_logprob) BEFORE the checkpoint lets both consumers
    # reuse that single exchange: LogicalRDD preserves the materialized
    # HashPartitioning, so the histogram groupBy and the tie-group
    # window below both plan with NO further shuffle of the doc-level
    # rows (r7 VERDICT task 3 — was two separate full shuffles).
    # The histogram key is the INTEGER 4dp score (bijective with
    # avg_logprob = score_i / 1e4): a raw-double shuffle key gets
    # wrapped in knownfloatingpointnormalized(...) by the planner, which
    # never matches a preserved HashPartitioning — with a long key both
    # consumers really do reuse the one exchange (plan-asserted in
    # tests/test_plans.py).
    score_i = F.floor(F.col("avg_logprob") * 10000 + F.lit(0.5)).cast("long")
    scored = (
        scores.join(langs, "doc_id")
        .withColumn("score_i", score_i)
        .localCheckpoint(eager=False)
    )
    # Second pin, partitioned AND sorted on the downstream key: under
    # AQE a lazy checkpoint records UnknownPartitioning (the adaptive
    # plan has no final partitioning at planning time), so this tiny
    # scan→shuffle→sort subtree is compiled with AQE off — the flip is
    # confined to the query's own isolated session, so nothing compiled
    # concurrently elsewhere can observe it — and the LogicalRDD then
    # carries HashPartitioning(lang, score_i) + the sort order: BOTH
    # downstream consumers plan with zero further exchanges or sorts
    # over doc-level rows.
    aqe_was = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        rows = (
            scored.repartition("lang", "score_i")
            .sortWithinPartitions("lang", "score_i", "doc_id")
            .localCheckpoint(eager=False)
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe_was)
    hist = rows.groupBy("lang", "score_i").agg(F.count(F.lit(1)).alias("cnt"))
    # Windows below are per-lang but run over HISTOGRAM rows (above the
    # aggregate) — state is #distinct scores, not #docs.
    w_cum = (
        Window.partitionBy("lang")
        .orderBy(F.desc("score_i"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("lang")
    q = F.floor(F.col("n") / 3)
    r = F.col("n") % 3
    bounds = (
        hist.withColumn("cum_end", F.sum("cnt").over(w_cum))
        .withColumn("n", F.sum("cnt").over(w_all))
        .select(
            "lang",
            "score_i",
            (F.col("cum_end") - F.col("cnt")).alias("n_before"),
            (q + F.least(r, F.lit(1))).alias("t1"),
            (q * 2 + F.least(r, F.lit(2))).alias("t2"),
        )
    )
    w_tie = Window.partitionBy("lang", "score_i").orderBy("doc_id")
    rn = F.col("n_before") + F.row_number().over(w_tie)
    return (
        rows.join(F.broadcast(bounds), ["lang", "score_i"])
        .withColumn(
            "bucket",
            F.when(rn <= F.col("t1"), "head")
            .when(rn <= F.col("t2"), "middle")
            .otherwise("tail"),
        )
        .select("doc_id", "lang", "avg_logprob", "bucket")
    )


@register(
    "dedup_soft",
    oracle="""
WITH copies AS (
    SELECT doc_id, md5(text) AS h FROM documents
    WHERE text IS NOT NULL AND length(text) > 0
),
sized AS (
    SELECT doc_id, h, count(*) OVER (PARTITION BY h) AS n_copies
    FROM copies
)
SELECT doc_id, CAST(n_copies AS BIGINT) AS n_copies,
       floor(1.0 / n_copies * 10000 + 0.5) / 10000 AS weight
FROM sized
""",
)
def dedup_soft(spark, sf_dir):
    """SoftDeDup: instead of DROPPING exact duplicates, every document
    keeps a training weight 1/n_copies of its content-hash group — the
    duplicate cluster contributes one document's worth of gradient in
    expectation while preserving every copy's context. Hard dedup is
    the weight==1-only filter of this output.

    Scale: one window count over the 16-byte content hash — the same
    single-shuffle bound as dedup_exact, but no survivor election is
    needed at all. Weights sum to the deduplicated corpus size, an
    invariant pinned in tests/test_quality.py."""
    d = table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    w = Window.partitionBy("h")
    return (
        d.select("doc_id", F.md5("text").alias("h"))
        .withColumn("n_copies", F.count(F.lit(1)).over(w))
        .select(
            "doc_id",
            F.col("n_copies").cast("bigint").alias("n_copies"),
            rnd(F.lit(1.0) / F.col("n_copies"), "weight"),
        )
    )


TEMP_ALPHA = 0.5  # temperature: q_i ∝ p_i^α — upweights rare languages
_COIN_SALT = 7919


@register(
    "sample_temperature",
    oracle=f"""
WITH counts AS (
    SELECT lang, count(*) AS n, sum(count(*)) OVER () AS total
    FROM documents GROUP BY lang
),
rates AS (
    SELECT lang,
           sqrt((SELECT min(CAST(n AS DOUBLE) / total) FROM counts)
                / (CAST(n AS DOUBLE) / total)) AS rate
    FROM counts
)
SELECT d.doc_id, d.lang
FROM documents d JOIN rates r USING (lang)
WHERE {mix32_sql(f"d.doc_id + {_COIN_SALT}")}
      < CAST(floor(r.rate * 4294967296) AS BIGINT)
""",
)
def sample_temperature(spark, sf_dir):
    """Temperature-scaled multilingual mixing: subsample each language
    at rate sqrt(p_min / p_lang) so the effective language distribution
    follows p^α (α=0.5) up to normalization, with the rarest language
    kept whole (rate 1) — the standard multilingual pretraining recipe
    for keeping low-resource languages from drowning.

    Determinism at 100 TB: the keep/drop coin is the bit-exact splitmix
    mixer on doc_id (content-addressed like sample_mixture — retries,
    repartitions and cluster resizes keep the SAME rows); the per-lang
    rates are one langs-sized aggregate broadcast back into the scan
    stage; the filter itself is stateless and shuffle-free."""
    return temperature_sample(table(spark, sf_dir, "documents"))


def temperature_sample(d):
    """Core sampling logic over any (doc_id, lang, ...) DataFrame —
    factored out so tests can prove partitioning-invariance by feeding
    a repartitioned input."""
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    counts = counts.withColumn(
        "share", F.col("n").cast("double") / F.sum("n").over(Window.partitionBy())
    )
    rates = counts.withColumn(
        "rate",
        F.sqrt(F.min("share").over(Window.partitionBy()) / F.col("share")),
    ).select("lang", "rate")
    coin = mix32(F.col("doc_id") + F.lit(_COIN_SALT))
    return (
        d.join(F.broadcast(rates), "lang")
        .filter(coin < F.floor(F.col("rate") * F.lit(4294967296)).cast("bigint"))
        .select("doc_id", "lang")
    )


@register(
    "scan_timetravel",
    oracle="""
WITH base AS (
  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 3 <> 2
),
v1 AS (
  SELECT o_orderkey, o_totalprice * 2 AS o_totalprice FROM orders
  WHERE o_orderkey % 7 = 0
)
SELECT coalesce(u.o_orderkey, b.o_orderkey) AS o_orderkey,
       floor(coalesce(u.o_totalprice, b.o_totalprice) * 10000 + 0.5) / 10000
           AS price
FROM base b FULL JOIN v1 u ON b.o_orderkey = u.o_orderkey
""",
)
def scan_timetravel(spark, sf_dir):
    """Time travel: build a three-version table (base, v1 upserts, v2
    upserts + tombstones) through the snapshots API, then read the
    state AS OF version 1 — proving later segments are invisible to an
    earlier snapshot. The oracle replays versions 0..1 relationally;
    a v2 row leaking into the result is a hash mismatch.

    Scale: the `_v <= 1` filter lands on the hive partition column, so
    v2's files are pruned at directory-listing time — the read costs
    the same whether 2 or 2000 later versions exist."""
    root = scratch_dir(spark, "timetravel")
    shutil.rmtree(root, ignore_errors=True)
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    write_version(o.filter(F.col("o_orderkey") % 3 != 2), root, 0)
    write_version(
        o.filter(F.col("o_orderkey") % 7 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") * 2
        ),
        root,
        1,
    )
    v2_ups = o.filter(F.col("o_orderkey") % 5 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") * 3
    )
    v2_dels = (
        o.filter(F.col("o_orderkey") % 11 == 0)
        .select("o_orderkey")
        .withColumn("o_totalprice", F.lit(None).cast("double"))
        .withColumn("_deleted", F.lit(True))
    )
    write_version(
        v2_ups.withColumn("_deleted", F.lit(False)).unionByName(v2_dels), root, 2
    )
    asof1 = read_snapshot(spark, root, ["o_orderkey"], version=1)
    return asof1.select("o_orderkey", rnd(F.col("o_totalprice"), "price"))


_KFOLD_K = 5
_KFOLD_SALT = 104729


@register(
    "ml_kfold",
    oracle=f"""
WITH assigned AS (
    SELECT doc_id, lang, n_chars,
           ({mix32_sql(f"doc_id + {_KFOLD_SALT}")}) % {_KFOLD_K} AS fold
    FROM documents
)
SELECT fold, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
FROM assigned GROUP BY fold
""",
)
def ml_kfold(spark, sf_dir):
    """Deterministic k-fold assignment for cross-validation at corpus
    scale: fold = mix32(doc_id + salt) mod k — a pure function of the
    row identity, so folds are reproducible across runs, partitionings
    and cluster sizes, and any fold's complement is recoverable as the
    training set without storing assignments. Emits per-fold summary
    stats (the balance check a CV harness runs before training).

    Scale: assignment is stateless scan-stage codegen; the summary is
    one k-row groupBy. Joining fold assignments to any other table is
    recomputation, not a join — the property that makes hash-based
    splits free at 100 TB."""
    d = table(spark, sf_dir, "documents")
    fold = (mix32(F.col("doc_id") + F.lit(_KFOLD_SALT)) % _KFOLD_K).alias("fold")
    return (
        d.select(fold, "lang", "n_chars")
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.countDistinct("lang").cast("bigint").alias("n_langs"),
        )
    )


_STRAT_TARGET = 100
_STRAT_SALT = 65537


@register(
    "sample_stratified_alloc",
    oracle=f"""
WITH counts AS (
    SELECT lang, count(*) AS n FROM documents GROUP BY lang
),
quota AS (
    SELECT lang, n,
           {_STRAT_TARGET}.0 * n / sum(n) OVER () AS q
    FROM counts
),
base AS (
    SELECT lang, n, CAST(floor(q) AS BIGINT) AS b, q - floor(q) AS r
    FROM quota
),
ranked AS (
    SELECT lang, b, r,
           row_number() OVER (ORDER BY r DESC, lang) AS rk,
           {_STRAT_TARGET} - sum(b) OVER () AS leftover
    FROM base
),
alloc AS (
    SELECT lang,
           b + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS k
    FROM ranked
),
picked AS (
    SELECT d.doc_id, d.lang,
           row_number() OVER (
               PARTITION BY d.lang
               ORDER BY {mix32_sql(f"d.doc_id + {_STRAT_SALT}")}, d.doc_id
           ) AS rn
    FROM documents d
)
SELECT p.doc_id, p.lang
FROM picked p JOIN alloc a USING (lang)
WHERE p.rn <= a.k
""",
)
def sample_stratified_alloc(spark, sf_dir):
    """Exact stratified sampling with largest-remainder (Hamilton)
    apportionment: allocate a fixed total sample of TARGET documents
    across languages proportionally — floor the per-language quota,
    then hand the leftover seats to the largest fractional remainders
    (ties broken by lang) — and pick each language's allocation as the
    docs with the smallest content-addressed coin (mix32), so the
    sample is reproducible on any cluster/partitioning and exactly
    TARGET-sized whenever every stratum is large enough.

    Scale: the apportionment runs over the langs-sized count table
    (bounded state); the per-lang pick is a rank window whose filter
    is bounded by the constant TARGET, so Spark's WindowGroupLimit
    keeps at most TARGET rows per language per map task before the
    shuffle — per-group state is sample-sized, not corpus-sized."""
    d = table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    w_all = Window.partitionBy()
    quota = counts.withColumn(
        "q", F.lit(float(_STRAT_TARGET)) * F.col("n") / F.sum("n").over(w_all)
    )
    base = quota.select(
        "lang",
        F.floor("q").cast("bigint").alias("b"),
        (F.col("q") - F.floor("q")).alias("r"),
    )
    ranked = base.select(
        "lang",
        "b",
        F.row_number()
        .over(Window.orderBy(F.desc("r"), "lang"))
        .alias("rk"),
        (F.lit(_STRAT_TARGET) - F.sum("b").over(w_all)).alias("leftover"),
    )
    alloc = ranked.select(
        "lang",
        (
            F.col("b")
            + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
        ).alias("k"),
    )
    coin = mix32(F.col("doc_id") + F.lit(_STRAT_SALT))
    w_pick = Window.partitionBy("lang").orderBy(coin.asc(), "doc_id")
    picked = d.select(
        "doc_id", "lang", F.row_number().over(w_pick).alias("rn")
    ).filter(F.col("rn") <= _STRAT_TARGET)  # constant bound → WindowGroupLimit
    return (
        picked.join(F.broadcast(alloc), "lang")
        .filter(F.col("rn") <= F.col("k"))
        .select("doc_id", "lang")
    )


_DSIR_B = 256  # feature buckets: 2 hex chars of md5(token)


@register(
    "text_dsir_weights",
    oracle=f"""
WITH occ AS (
    SELECT doc_id, lang, substr(md5(w), 1, 2) AS b
    FROM (SELECT doc_id, lang,
                 unnest(list_filter(string_split(lower(text), ' '),
                                    w -> w <> '')) AS w
          FROM documents
          WHERE text IS NOT NULL AND length(text) > 0)
),
buckets AS (
    SELECT b, count(*) AS raw_c,
           sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS tgt_c,
           sum(count(*)) OVER () AS raw_total,
           sum(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)) OVER ()
               AS tgt_total
    FROM occ GROUP BY b
),
lr AS (
    SELECT b,
           floor((ln(CAST(tgt_c + 1 AS DOUBLE) / (tgt_total + {_DSIR_B}))
                  - ln(CAST(raw_c + 1 AS DOUBLE) / (raw_total + {_DSIR_B})))
                 * 1000000 + 0.5) / 1000000 AS logratio
    FROM buckets
),
docb AS (
    SELECT doc_id, b, count(*) AS c FROM occ GROUP BY doc_id, b
)
SELECT d.doc_id,
       CAST(sum(d.c) AS BIGINT) AS n_toks,
       floor(CAST(sum(CAST(d.c * l.logratio AS DECIMAL(25,6))) AS DOUBLE)
             * 10000 + 0.5) / 10000 AS logweight
FROM docb d JOIN lr l USING (b)
GROUP BY d.doc_id
""",
)
def text_dsir_weights(spark, sf_dir):
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every
    document by how much more likely its hashed unigram features are
    under the TARGET distribution (here: the English subcorpus) than
    under the RAW corpus — logweight = sum over token occurrences of
    ln(p_target(b) / p_raw(b)) with Laplace-smoothed bucket
    probabilities. Downstream selection keeps the highest-weight docs
    (importance resampling); this operator emits the weights.

    Scale: features are hashed into 256 buckets (2 hex chars of
    md5), so BOTH distributions are one map-combined groupBy with
    bounded (256-row) state, broadcast back as a bucket->logratio
    join; the per-doc reduce keys on doc_id (high-cardinality). No
    vocabulary-sized shuffle ever forms — the hashing trick is exactly
    what makes DSIR run on a 100 TB raw corpus.

    Determinism: bucket log-ratios are 6dp-quantized BEFORE the per-doc
    sum, which runs through exact DECIMAL (the text_bigram_lm
    discipline), so weights are bit-stable at any partitioning."""
    d = table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    toks = F.filter(F.split(F.lower("text"), " "), lambda t: F.length(t) > 0)
    # bucket id: 2 md5 hex chars, DuckDB-replayable
    bucket = F.substring(F.md5("w"), 1, 2)
    occ = d.select(
        "doc_id", "lang", F.explode(toks).alias("w")
    ).select("doc_id", "lang", bucket.alias("b"))
    w_all = Window.partitionBy()
    buckets = (
        occ.groupBy("b")
        .agg(
            F.count(F.lit(1)).alias("raw_c"),
            F.sum((F.col("lang") == "en").cast("int")).alias("tgt_c"),
        )
        .withColumn("raw_total", F.sum("raw_c").over(w_all))
        .withColumn("tgt_total", F.sum("tgt_c").over(w_all))
    )
    logratio = F.log(
        (F.col("tgt_c") + 1).cast("double") / (F.col("tgt_total") + _DSIR_B)
    ) - F.log(
        (F.col("raw_c") + 1).cast("double") / (F.col("raw_total") + _DSIR_B)
    )
    lr = buckets.select(
        "b",
        (F.floor(logratio * 1000000 + F.lit(0.5)) / 1000000).alias("logratio"),
    )
    docb = occ.groupBy("doc_id", "b").agg(F.count(F.lit(1)).alias("c"))
    return (
        docb.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_toks"),
            rnd(
                F.sum((F.col("c") * F.col("logratio")).cast(DEC)).cast("double"),
                "logweight",
            ),
        )
    )
