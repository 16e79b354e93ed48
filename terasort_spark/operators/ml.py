"""Model training and evaluation: logistic regression by batch gradient
descent (`ml_logreg`) — the quality-classifier shape (fastText-style
linear scorer) every corpus-curation pipeline trains to filter
documents — plus stumps, a depth-2 tree, boosting, naive Bayes, linear
regression, and the evaluation metrics (AUC, calibration, confusion,
MRR, nDCG, ROUGE).

Same data/model split as emb_kmeans and text_bpe_train: the corpus
contributes ONE aggregation per iteration (the gradient — a handful of
sums with map-side combine), the model (a dims-sized weight vector)
lives driver-side and is broadcast back as codegen literals. A
standardization pass (feature means/stds from exact DECIMAL sums)
conditions the problem so 10 fixed iterations converge. Per-row
gradient contributions are quantized to 6dp int64 BEFORE the sum, so
the training trajectory is bit-identical at any partition count — the
determinism contract every iterative operator here follows
(tests/test_ml.py replays the identical recipe in numpy and must match
weights exactly).
"""

from __future__ import annotations

import math
import math as _math

from pyspark.sql import Window
from pyspark.sql import functions as F

from terasort_spark.catalog import table
from terasort_spark.operators._util import o_rnd, rnd
from terasort_spark.operators.llm_similarity import (
    SQ8_CTES,
    SQ8_QCUT,
    SQ8_TOPK,
    dot_fold,
    dot_sql,
    sim_cosine_sq8,
)
from terasort_spark.registry import register

LR = 2.0
N_ITER = 10
Q = 1_000_000  # 6dp gradient quantization

RAW = ("r1", "r2", "r3")
FEATS = ("x0", "x1", "x2", "x3")


def _raw_features(spark, sf_dir):
    """Codegen feature row per doc: chars (thousands), word count
    (hundreds), definite-article rate. Label: long-document flag."""
    d = table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    toks = F.filter(F.split(F.lower("text"), " "), lambda t: F.length(t) > 0)
    n_words = F.size(toks)
    the_rate = F.size(F.filter(toks, lambda t: t == F.lit("the"))) / n_words
    return d.select(
        (F.col("n_chars") / 1000.0).alias("r1"),
        (n_words / 100.0).alias("r2"),
        the_rate.alias("r3"),
        (F.col("n_chars") > 300).cast("double").alias("y"),
    )


def standardized_features(spark, sf_dir):
    """Standardize each raw feature to zero mean / unit variance. The
    moments come from ONE aggregation through exact DECIMAL sums (the
    ml_linreg sufficient-statistics pattern), so mu/sd are identical
    doubles at any partitioning; the standardization itself is codegen
    with mu/sd as broadcast literals. Returns (df, n)."""
    raw = _raw_features(spark, sf_dir)
    aggs = [F.count(F.lit(1)).cast("double").alias("n")]
    for c in RAW:
        aggs.append(
            F.sum(F.col(c).cast("decimal(25,6)")).cast("double").alias(f"s_{c}")
        )
        aggs.append(
            F.sum((F.col(c) * F.col(c)).cast("decimal(25,6)"))
            .cast("double")
            .alias(f"ss_{c}")
        )
    m = raw.agg(*aggs).first()
    n = m["n"]
    if not n:  # empty corpus → no model, not a crash
        empty = spark.createDataFrame(
            [], "x0 double, x1 double, x2 double, x3 double, y double"
        )
        return empty, 0
    mu = {c: m[f"s_{c}"] / n for c in RAW}
    sd = {
        c: math.sqrt(max(m[f"ss_{c}"] / n - mu[c] * mu[c], 1e-12))
        for c in RAW
    }
    X = raw.select(
        F.lit(1.0).alias("x0"),
        *[
            ((F.col(c) - F.lit(mu[c])) / F.lit(sd[c])).alias(f"x{j}")
            for j, c in enumerate(RAW, start=1)
        ],
        "y",
    )
    return X.localCheckpoint(eager=True), int(n)  # reused every iteration


def _margin(w):
    m = F.lit(float(w[0])) * F.col("x0")
    for j in range(1, len(FEATS)):
        m = m + F.lit(float(w[j])) * F.col(FEATS[j])
    return m


def _logreg_oracle() -> str:
    """Unrolled exact-SQL replay of the 10-iteration training loop
    (the ts_holt_forecast pattern): every per-row gradient contribution
    is 6dp-quantized to int64 BEFORE summation in BOTH engines, so the
    whole trajectory is a chain of exact-integer aggregates plus fixed
    IEEE double expressions — one CTE pair (gradient, weight update)
    per iteration, no expression blow-up. The only cross-engine risk is
    a 1-ulp exp() difference landing exactly on a floor boundary
    (probability ~1e-10 per row-term; absorbed by the quantization)."""
    toks = "list_filter(string_split(lower(text), ' '), t -> length(t) > 0)"
    parts = [
        f"""raw AS (
    SELECT CAST(n_chars AS DOUBLE) / 1000.0 AS r1,
           CAST(len({toks}) AS DOUBLE) / 100.0 AS r2,
           CAST(len(list_filter({toks}, t -> t = 'the')) AS DOUBLE)
               / len({toks}) AS r3,
           CASE WHEN n_chars > 300 THEN 1.0 ELSE 0.0 END AS y
    FROM documents WHERE text IS NOT NULL AND length(text) > 0
)"""
    ]
    moment_cols = ["CAST(count(*) AS DOUBLE) AS n"]
    for c in RAW:
        moment_cols.append(
            f"CAST(sum(CAST({c} AS DECIMAL(25,6))) AS DOUBLE) AS s_{c}"
        )
        moment_cols.append(
            f"CAST(sum(CAST({c} * {c} AS DECIMAL(25,6))) AS DOUBLE) AS ss_{c}"
        )
    parts.append(
        "moments AS MATERIALIZED (\n    SELECT " + ",\n           ".join(moment_cols) + "\n    FROM raw\n)"
    )
    x_cols = ["1.0 AS x0"]
    for j, c in enumerate(RAW, start=1):
        mu = f"s_{c} / n"
        sd = f"sqrt(greatest(ss_{c} / n - ({mu}) * ({mu}), 1e-12))"
        x_cols.append(f"({c} - {mu}) / {sd} AS x{j}")
    parts.append(
        "X AS MATERIALIZED (\n    SELECT "
        + ",\n           ".join(x_cols)
        + ",\n           y\n    FROM raw, moments\n)"
    )
    parts.append(
        "w0 AS (SELECT "
        + ", ".join(f"0.0 AS w{j}" for j in range(len(FEATS)))
        + ")"
    )
    margin = " + ".join(f"w{j} * x{j}" for j in range(len(FEATS)))
    err = f"1.0 / (1.0 + exp(-({margin}))) - y"
    for t in range(1, N_ITER + 1):
        g_cols = ", ".join(
            f"CAST(sum(CAST(floor(x{j} * ({err}) * {Q} + 0.5) AS BIGINT)) AS BIGINT) AS g{j}"
            for j in range(len(FEATS))
        )
        parts.append(f"g{t} AS MATERIALIZED (SELECT {g_cols} FROM X, w{t - 1})")
        w_cols = ", ".join(
            f"w{j} - {LR} * (g{j} / {Q}.0) / n AS w{j}"
            for j in range(len(FEATS))
        )
        parts.append(f"w{t} AS MATERIALIZED (SELECT {w_cols} FROM w{t - 1}, g{t}, moments)")
    sign = f"CASE WHEN ({margin}) > 0.0 THEN 1.0 ELSE 0.0 END"
    parts.append(
        f"""acc AS (
    SELECT CAST(sum(CASE WHEN ({sign}) = y THEN 1 ELSE 0 END) AS DOUBLE) / max(n) AS a
    FROM X, w{N_ITER}, moments
)"""
    )
    finals = [
        f"SELECT 'w_x{j}' AS name, floor(w{j} * {Q} + 0.5) / {Q} AS value FROM w{N_ITER}"
        for j in range(len(FEATS))
    ]
    finals.append(
        f"SELECT 'train_accuracy' AS name, floor(a * {Q} + 0.5) / {Q} AS value FROM acc"
    )
    return "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL ".join(finals)


@register("ml_logreg", oracle=_logreg_oracle())
def ml_logreg(spark, sf_dir):
    """Batch-GD logistic regression. Each iteration: broadcast the
    4-weight model as literals, one aggregation computes the gradient
    (per-row contributions x_j*(sigmoid(w.x) - y) quantized to 6dp
    int64, summed exactly), driver updates w. 10 fixed iterations over
    standardized features (known stage count), base matrix
    localCheckpoint'ed ONCE. Output: the learned weights plus training
    accuracy — EXACT-oracle since r6: the 6dp int64 gradient
    quantization makes the whole trajectory a chain of exact-integer
    aggregates, so the 10 iterations unroll into SQL CTEs
    (_logreg_oracle) the same way ts_holt_forecast's recursion does;
    also numpy-replay-pinned in tests/test_ml.py."""
    X, n = standardized_features(spark, sf_dir)
    if n == 0:
        return spark.createDataFrame([], "name string, value double")
    w = [0.0] * len(FEATS)
    for _ in range(N_ITER):
        err = F.lit(1.0) / (F.lit(1.0) + F.exp(-_margin(w))) - F.col("y")
        row = X.agg(
            *[
                F.sum(
                    F.floor(F.col(c) * err * Q + 0.5).cast("bigint")
                ).alias(c)
                for c in FEATS
            ]
        ).first()
        w = [w[j] - LR * (row[c] / Q) / n for j, c in enumerate(FEATS)]
    acc_expr = F.sum(
        ((_margin(w) > 0).cast("double") == F.col("y")).cast("bigint")
    )
    acc = X.agg(acc_expr.alias("k")).first()["k"] / n
    q6 = lambda v: math.floor(v * Q + 0.5) / Q  # noqa: E731 — half-up, both engines
    rows = [(f"w_{c}", q6(w[j])) for j, c in enumerate(FEATS)]
    rows.append(("train_accuracy", q6(acc)))
    return spark.createDataFrame(rows, "name string, value double")


NB_SALT_PRIOR = 1  # Laplace +1 smoothing


@register(
    "ml_naivebayes",
    oracle="""
WITH tok AS (
    SELECT doc_id, lang, t AS term FROM (
        SELECT doc_id, lang,
               unnest(string_split(lower(text), ' ')) AS t
        FROM documents WHERE text IS NOT NULL AND length(text) > 0
    ) WHERE length(t) > 0
),
doc_tf AS (
    SELECT doc_id, term, count(*) AS c_dt FROM tok GROUP BY doc_id, term
),
model AS (
    SELECT lang, term, count(*) AS c FROM tok GROUP BY lang, term
),
vocab AS (SELECT count(DISTINCT term) AS v FROM tok),
totals AS (SELECT lang, count(*) AS n_tok FROM tok GROUP BY lang),
priors AS (
    SELECT lang, count(DISTINCT doc_id) AS n_docs,
           sum(count(DISTINCT doc_id)) OVER () AS total_docs
    FROM tok GROUP BY lang
),
scored AS (
    SELECT d.doc_id, t.lang AS cand,
           sum(d.c_dt * CAST(floor(ln((coalesce(m.c, 0) + 1.0)
                                      / (t.n_tok + vocab.v))
                                   * 1000000 + 0.5) AS BIGINT)) AS ll
    FROM doc_tf d
    CROSS JOIN totals t
    CROSS JOIN vocab
    LEFT JOIN model m ON m.lang = t.lang AND m.term = d.term
    GROUP BY d.doc_id, t.lang, t.n_tok, vocab.v
),
with_prior AS (
    SELECT s.doc_id, s.cand,
           s.ll + CAST(floor(ln(CAST(p.n_docs AS DOUBLE) / p.total_docs)
                             * 1000000 + 0.5) AS BIGINT) AS score
    FROM scored s JOIN priors p ON p.lang = s.cand
),
pred AS (
    SELECT doc_id, cand AS pred_lang,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY score DESC, cand) AS rk
    FROM with_prior
)
SELECT d.lang, p.pred_lang, CAST(count(*) AS BIGINT) AS n
FROM pred p JOIN documents d USING (doc_id)
WHERE p.rk = 1
GROUP BY d.lang, p.pred_lang
""",
)
def ml_naivebayes(spark, sf_dir):
    """Multinomial naive Bayes language classifier, trained AND applied
    in one relational plan: per-(lang, term) Laplace-smoothed
    log-likelihoods (quantized to 6dp int64 — so per-doc scores are
    exact integer sums, argmax is engine-invariant with a lang
    tie-break), log priors from document counts, prediction = argmax
    over the 5 candidate languages. Output is the confusion matrix —
    the fastText-style lang-id quality gate a curation pipeline trains
    on its own corpus.

    Scale: the model is one (lang, term)-keyed groupBy; scoring
    multiplies per-doc term counts (doc_tf, one groupBy keyed by
    (doc_id, term)) against the model via an equi-join on term after a
    5-way candidate expansion (|langs| is a constant, so the expansion
    is a bounded fan-out, not a cartesian risk); argmax is a window
    keyed by doc_id. Everything is keyed by high-cardinality
    (doc_id/term) composites."""
    d = table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    tok = d.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), " ")).alias("term"),
    ).filter(F.length("term") > 0)
    # ONE tokenization pass: doc_tf is checkpointed and every other
    # model statistic (per-lang term counts, totals, vocab size, doc
    # priors) derives from it plus the narrow (doc_id, lang) scan —
    # instead of five independent re-tokenizations of the corpus
    # (16 exchanges -> 10, one corpus pass at 100 TB).
    doc_tf = (
        tok.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("c_dt"))
        .localCheckpoint(eager=False)
    )
    dl = d.select("doc_id", "lang")
    model = (
        doc_tf.join(dl, "doc_id")
        .groupBy("lang", "term")
        .agg(F.sum("c_dt").alias("c"))
        .localCheckpoint(eager=False)
    )
    vocab = model.agg(F.countDistinct("term").alias("v"))
    totals = model.groupBy("lang").agg(F.sum("c").alias("n_tok"))
    priors = (
        doc_tf.select("doc_id")
        .distinct()
        .join(dl, "doc_id")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    ).withColumn("total_docs", F.sum("n_docs").over(Window.partitionBy()))
    cand = totals.crossJoin(vocab)  # 5 rows x 1 row — bounded
    ll_q6 = F.floor(
        F.log(
            (F.coalesce(F.col("c"), F.lit(0)) + 1.0)
            / (F.col("n_tok") + F.col("v"))
        )
        * 1000000
        + F.lit(0.5)
    ).cast("bigint")
    scored = (
        doc_tf.crossJoin(F.broadcast(cand.withColumnRenamed("lang", "cand")))
        .join(
            model,
            (F.col("cand") == model.lang) & (doc_tf.term == model.term),
            "left",
        )
        .groupBy("doc_id", "cand", "n_tok", "v")
        .agg(F.sum(F.col("c_dt") * ll_q6).alias("ll"))
    )
    prior_q6 = F.floor(
        F.log(F.col("n_docs").cast("double") / F.col("total_docs"))
        * 1000000
        + F.lit(0.5)
    ).cast("bigint")
    with_prior = scored.join(
        F.broadcast(priors.select(F.col("lang").alias("cand"), prior_q6.alias("pq"))),
        "cand",
    ).select("doc_id", "cand", (F.col("ll") + F.col("pq")).alias("score"))
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "cand")
    pred = (
        with_prior.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("doc_id", F.col("cand").alias("pred_lang"))
    )
    return (
        pred.join(d.select("doc_id", "lang"), "doc_id")
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


@register(
    "ml_stump",
    oracle="""
WITH hist AS (
    SELECT n_chars AS x,
           count(*) AS cnt,
           sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS pos
    FROM documents GROUP BY n_chars
),
cum AS (
    SELECT x,
           sum(cnt) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS ln_,
           sum(pos) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS lp,
           sum(cnt) OVER () AS n,
           sum(pos) OVER () AS p
    FROM hist
),
splits AS (
    SELECT x AS threshold, ln_, lp, n - ln_ AS rn_, p - lp AS rp, n
    FROM cum WHERE ln_ < n
),
scored AS (
    SELECT threshold,
           (ln_ * (1.0 - (CAST(lp AS DOUBLE) / ln_) * (CAST(lp AS DOUBLE) / ln_)
                       - (CAST(ln_ - lp AS DOUBLE) / ln_)
                         * (CAST(ln_ - lp AS DOUBLE) / ln_))
            + rn_ * (1.0 - (CAST(rp AS DOUBLE) / rn_) * (CAST(rp AS DOUBLE) / rn_)
                         - (CAST(rn_ - rp AS DOUBLE) / rn_)
                           * (CAST(rn_ - rp AS DOUBLE) / rn_))) / n AS wgini,
           ln_, rn_
    FROM splits
)
SELECT CAST(threshold AS BIGINT) AS threshold,
       floor(wgini * 1000000 + 0.5) / 1000000 AS wgini,
       CAST(ln_ AS BIGINT) AS n_left, CAST(rn_ AS BIGINT) AS n_right
FROM scored
ORDER BY wgini, threshold
LIMIT 1
""",
)
def ml_stump(spark, sf_dir):
    """Decision stump (depth-1 tree) on document length predicting
    lang == 'en', trained ENTIRELY on the feature histogram: candidate
    thresholds are the distinct n_chars values, per-split class counts
    come from two running sums over histogram rows, and the best split
    minimizes weighted Gini (threshold tie-break). This is the
    histogram-based split search every distributed GBDT implementation
    (LightGBM/XGBoost-style) uses — the raw corpus contributes ONE
    map-combined groupBy; the split scan touches #distinct-values rows,
    never documents.

    Determinism: class counts are exact integers; the Gini expression
    is one fixed IEEE formula over them, identical in both engines;
    the global argmin is an ORDER BY ... LIMIT 1 (TakeOrdered) with a
    total tie-break."""
    d = table(spark, sf_dir, "documents")
    hist = d.groupBy(F.col("n_chars").alias("x")).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum((F.col("lang") == "en").cast("int")).alias("pos"),
    )
    w_cum = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    cum = hist.select(
        "x",
        F.sum("cnt").over(w_cum).alias("ln_"),
        F.sum("pos").over(w_cum).alias("lp"),
        F.sum("cnt").over(w_all).alias("n"),
        F.sum("pos").over(w_all).alias("p"),
    )
    splits = cum.filter(F.col("ln_") < F.col("n")).select(
        F.col("x").alias("threshold"),
        "ln_",
        "lp",
        (F.col("n") - F.col("ln_")).alias("rn_"),
        (F.col("p") - F.col("lp")).alias("rp"),
        "n",
    )

    def gini(nn, pp):
        pr = pp.cast("double") / nn
        qr = (nn - pp).cast("double") / nn
        return 1.0 - pr * pr - qr * qr

    wgini = (
        F.col("ln_") * gini(F.col("ln_"), F.col("lp"))
        + F.col("rn_") * gini(F.col("rn_"), F.col("rp"))
    ) / F.col("n")
    return (
        splits.select(
            F.col("threshold").cast("bigint").alias("threshold"),
            (F.floor(wgini * 1000000 + F.lit(0.5)) / 1000000).alias("wgini"),
            F.col("ln_").cast("bigint").alias("n_left"),
            F.col("rn_").cast("bigint").alias("n_right"),
        )
        .orderBy("wgini", "threshold")
        .limit(1)
    )


_AUC_STOPS = ("the", "and", "of", "to", "a", "in", "is", "it")
_AUC_STOPS_SQL = "['" + "','".join(_AUC_STOPS) + "']"

# shared 4dp stopword-ratio score + lang=='en' label — the classifier
# both ml_auc (discrimination) and ml_calibration (calibration) evaluate
_SCORED_SQL = f"""scored AS (
    SELECT CAST(floor(
               CAST(len(list_filter(string_split(lower(text), ' '),
                        w -> list_contains({_AUC_STOPS_SQL}, w))) AS DOUBLE)
               / len(list_filter(string_split(lower(text), ' '), w -> w <> ''))
               * 10000 + 0.5) AS BIGINT) AS s,
           CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
    FROM documents
    WHERE text IS NOT NULL AND length(text) > 0
      AND len(list_filter(string_split(lower(text), ' '), w -> w <> '')) > 0
)"""


def _stopword_scored(spark, sf_dir):
    """(s, y) per document: 4dp-quantized stopword-ratio score and the
    lang == 'en' label — Spark twin of _SCORED_SQL."""
    d = table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    toks = F.filter(F.split(F.lower("text"), " "), lambda t: F.length(t) > 0)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*_AUC_STOPS)))
    n_toks = F.size(toks)
    return d.select(
        F.floor(n_stop / n_toks * 10000 + F.lit(0.5)).cast("bigint").alias("s"),
        (F.col("lang") == "en").cast("int").alias("y"),
    ).filter(n_toks > 0)


@register(
    "ml_auc",
    oracle=f"""
WITH {_SCORED_SQL},
hist AS (
    SELECT s, sum(y) AS n1, count(*) - sum(y) AS n0
    FROM scored GROUP BY s
),
cum AS (
    SELECT n1, n0,
           coalesce(sum(n0) OVER (ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c0
    FROM hist
)
SELECT CAST(sum(n1) AS BIGINT) AS n_pos,
       CAST(sum(n0) AS BIGINT) AS n_neg,
       floor(CAST(sum(n1 * (2 * c0 + n0)) AS DOUBLE)
             / (2.0 * sum(n1) * sum(n0)) * 10000 + 0.5) / 10000 AS auc
FROM cum
""",
)
def ml_auc(spark, sf_dir):
    """Exact ROC-AUC of the stopword-ratio classifier (text_stats'
    English-stopword signal) against the lang == 'en' label, via the
    rank-sum identity: AUC = U / (n_pos * n_neg) with the Mann-Whitney
    U accumulated over the SCORE HISTOGRAM using midranks for ties —
    2U = sum_s n1(s) * (2 * negatives_below(s) + n0(s)). The evaluation
    loop every trained quality/langid classifier goes through before
    its threshold is picked.

    Scale: scores are quantized to 4dp (<= 10001 distinct values), so
    the corpus contributes ONE map-combined groupBy; the running sum
    and the final reduction run over histogram rows only — no global
    sort of raw documents, the same de-skew discipline as ml_stump.
    All rank arithmetic is exact integers; the single division happens
    once at the end."""
    return auc_from_scored(_stopword_scored(spark, sf_dir))


def auc_from_scored(scored):
    """Rank-sum AUC of any (s, y) frame (integer score, 0/1 label) —
    factored so tests can feed arbitrary randomized frames."""
    hist = scored.groupBy("s").agg(
        F.sum("y").alias("n1"),
        (F.count(F.lit(1)) - F.sum("y")).alias("n0"),
    )
    # Running negative count over HISTOGRAM rows (bounded input — the
    # approved de-skew form for a global rank).
    w_below = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    cum = hist.select(
        "n1", "n0", F.coalesce(F.sum("n0").over(w_below), F.lit(0)).alias("c0")
    )
    two_u = F.sum(F.col("n1") * (2 * F.col("c0") + F.col("n0")))
    return cum.agg(
        F.sum("n1").cast("bigint").alias("n_pos"),
        F.sum("n0").cast("bigint").alias("n_neg"),
        rnd(two_u.cast("double") / (2.0 * F.sum("n1") * F.sum("n0")), "auc"),
    )


@register(
    "ml_calibration",
    oracle=f"""
WITH {_SCORED_SQL}
SELECT CAST(least(s // 1000, 9) AS INTEGER) AS bin,
       CAST(count(*) AS BIGINT) AS n,
       floor(CAST(sum(s) AS DOUBLE) / (count(*) * 10000) * 10000 + 0.5)
           / 10000 AS avg_pred,
       floor(CAST(sum(y) AS DOUBLE) / count(*) * 10000 + 0.5) / 10000
           AS frac_pos
FROM scored GROUP BY least(s // 1000, 9)
""",
)
def ml_calibration(spark, sf_dir):
    """Reliability diagram for the stopword-ratio classifier (ml_auc's
    discrimination twin): bucket the 4dp score into 10 equal-width
    probability bins and report each bin's mean predicted probability
    vs its empirical positive rate — the calibration curve every
    deployed quality/langid classifier is audited with before its
    keep/drop threshold is trusted (ECE is the n-weighted |gap| sum,
    asserted by test_calibration_bins_replay_and_ece).

    Scale: ONE map-combined groupBy onto a 10-key space; bin stats are
    exact integer sums (scores are already integers), divided once at
    the end. Nothing ever sorts or windows raw documents."""
    scored = _stopword_scored(spark, sf_dir)
    return (
        scored.groupBy(
            F.least(F.floor(F.col("s") / 1000), F.lit(9))
            .cast("int")
            .alias("bin")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            rnd(
                F.sum("s").cast("double") / (F.count(F.lit(1)) * 10000),
                "avg_pred",
            ),
            rnd(F.sum("y").cast("double") / F.count(F.lit(1)), "frac_pos"),
        )
    )


_CONF_THRESHOLDS = (250, 500, 750)


@register(
    "ml_confusion",
    oracle=f"""
WITH {_SCORED_SQL},
hist AS (
    SELECT s, CAST(sum(y) AS BIGINT) AS n1,
           CAST(count(*) - sum(y) AS BIGINT) AS n0
    FROM scored GROUP BY s
),
conf AS (
    SELECT t.threshold,
           sum(CASE WHEN s >= t.threshold THEN n1 ELSE 0 END) AS tp,
           sum(CASE WHEN s >= t.threshold THEN n0 ELSE 0 END) AS fp,
           sum(CASE WHEN s <  t.threshold THEN n1 ELSE 0 END) AS fn,
           sum(CASE WHEN s <  t.threshold THEN n0 ELSE 0 END) AS tn
    FROM hist
    CROSS JOIN (SELECT unnest([{", ".join(map(str, _CONF_THRESHOLDS))}])
                AS threshold) t
    GROUP BY t.threshold
)
SELECT CAST(threshold AS BIGINT) AS threshold,
       CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
       CASE WHEN tp + fp = 0 THEN 0.0 ELSE
            floor(CAST(tp AS DOUBLE) / (tp + fp) * 10000 + 0.5) / 10000
       END AS precision_,
       CASE WHEN tp + fn = 0 THEN 0.0 ELSE
            floor(CAST(tp AS DOUBLE) / (tp + fn) * 10000 + 0.5) / 10000
       END AS recall_,
       CASE WHEN 2 * tp + fp + fn = 0 THEN 0.0 ELSE
            floor(2.0 * tp / (2 * tp + fp + fn) * 10000 + 0.5) / 10000
       END AS f1
FROM conf
""",
)
def ml_confusion(spark, sf_dir):
    """Thresholded confusion matrices for the stopword-ratio classifier
    (completing ml_auc's threshold-free discrimination and
    ml_calibration's reliability curve): at each operating point the
    exact tp/fp/fn/tn plus floor-4dp precision/recall/F1 — the numbers
    a corpus-filter threshold is actually chosen from.

    Scale: documents collapse to the score HISTOGRAM first (one
    map-combined groupBy, <=10001 integer keys); the 3 operating points
    evaluate over histogram rows via a broadcast cross join — per-doc
    work never grows with the threshold grid. The dq_benford/ml_auc
    aggregate-before-window discipline applied to model evaluation."""
    hist = (
        _stopword_scored(spark, sf_dir)
        .groupBy("s")
        .agg(
            F.sum("y").cast("bigint").alias("n1"),
            (F.count(F.lit(1)) - F.sum("y")).cast("bigint").alias("n0"),
        )
    )
    th = spark.range(len(_CONF_THRESHOLDS)).select(
        F.element_at(
            F.array(*[F.lit(t) for t in _CONF_THRESHOLDS]),
            (F.col("id") + 1).cast("int"),
        )
        .cast("bigint")
        .alias("threshold")
    )
    pos = F.col("s") >= F.col("threshold")
    conf = (
        hist.crossJoin(F.broadcast(th))
        .groupBy("threshold")
        .agg(
            F.sum(F.when(pos, F.col("n1")).otherwise(0)).alias("tp"),
            F.sum(F.when(pos, F.col("n0")).otherwise(0)).alias("fp"),
            F.sum(F.when(~pos, F.col("n1")).otherwise(0)).alias("fn"),
            F.sum(F.when(~pos, F.col("n0")).otherwise(0)).alias("tn"),
        )
    )

    def ratio(num, den, alias):
        return (
            F.when(den == 0, F.lit(0.0)).otherwise(
                F.floor(num.cast("double") / den * 10000 + F.lit(0.5)) / 10000
            )
        ).alias(alias)

    tp, fp, fn, tn = (F.col(c) for c in ("tp", "fp", "fn", "tn"))
    return conf.select(
        "threshold",
        tp.cast("bigint").alias("tp"),
        fp.cast("bigint").alias("fp"),
        fn.cast("bigint").alias("fn"),
        tn.cast("bigint").alias("tn"),
        ratio(tp, tp + fp, "precision_"),
        ratio(tp, tp + fn, "recall_"),
        ratio(2 * tp, 2 * tp + fp + fn, "f1"),
    )


# --------------------------------------------------------------------------
# ml_mrr — retrieval evaluation: MRR / hit@5 of the IVF index against
# exact-cosine ground truth.


def _mrr_oracle() -> str:
    # composed from the SAME constants sim_cosine_ivf's oracle uses
    # (llm_similarity.IVF_BUCKET_CTES / IVF_TOPK_INNER), so the index
    # and its evaluation metric cannot drift apart silently.
    from terasort_spark.operators.llm_similarity import (
        COSINE_SQL,
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
               ORDER BY {o_rnd(COSINE_SQL)} DESC, c.vec_id) AS rn
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


# IDCG@5 for the full relevance ladder 5..1, quantized exactly like the
# per-term DCG contributions; a Python-side constant inlined into BOTH
# engines so no cross-engine log/rounding divergence is possible.
_IDCG6 = sum(
    _math.floor((6 - i) / _math.log2(i + 1) * 1000000 + 0.5)
    for i in range(1, SQ8_TOPK + 1)
)


def _ndcg_oracle() -> str:
    exact_cos = o_rnd(f"{dot_sql('a.v', 'b.v')} / (a.nrm * b.nrm)")
    return f"""
WITH {SQ8_CTES},
exact AS (
  SELECT q_id, c_id, 6 - rn AS rel FROM (
    SELECT a.vec_id AS q_id, b.vec_id AS c_id,
           row_number() OVER (PARTITION BY a.vec_id
               ORDER BY {exact_cos} DESC, b.vec_id) AS rn
    FROM sq a JOIN sq b ON b.vec_id != a.vec_id
    WHERE a.vec_id < {SQ8_QCUT}
  ) WHERE rn <= {SQ8_TOPK}
),
terms AS (
  SELECT s.q_id,
         CAST(floor(coalesce(e.rel, 0) / log2(s.rn + 1) * 1000000 + 0.5)
              AS BIGINT) AS t6,
         CASE WHEN e.rel IS NOT NULL THEN 1 ELSE 0 END AS hit
  FROM sq8_topk s
  LEFT JOIN exact e ON e.q_id = s.q_id AND e.c_id = s.c_id
)
SELECT q_id,
       CAST(sum(hit) AS BIGINT) AS hits,
       floor(sum(t6) / 100.0 + 0.5) / 10000 AS dcg,
       floor(sum(t6) / {_IDCG6} * 10000 + 0.5) / 10000 AS ndcg
FROM terms GROUP BY q_id
"""


@register("ml_ndcg", oracle=_ndcg_oracle())
def ml_ndcg(spark, sf_dir):
    """NDCG@5 of the deployed SQ8 index against graded exact-cosine
    relevance — the second standard retrieval metric next to ml_mrr's
    MRR/hit@5 (binary relevance): graded NDCG distinguishes "found the
    3rd-best at rank 1" from "found the best at rank 1", which is what
    a ranking regression actually looks like in production.

    Ground truth: exact top-{SQ8_TOPK} per query, rel = 6 - rank. Per
    system position i: DCG term rel_i / log2(i+1), quantized to 6dp
    int64 BEFORE the per-query sum so the aggregate is exact integer
    addition (engine- and partition-invariant); NDCG divides by the
    IDCG constant of the full 5..1 ladder, inlined identically into
    both engines. Scale: the evaluation joins are |Q|-bounded (the
    query sample is broadcast, candidates stream — same discipline as
    ml_mrr); the system side reuses sim_cosine_sq8's plan unchanged
    via the shared CTE/function, so index and metric cannot drift."""
    sys_topk = sim_cosine_sq8(spark, sf_dir).select("q_id", "c_id", "rn")

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
    )
    q = F.broadcast(
        e.filter(F.col("vec_id") < SQ8_QCUT).select(
            F.col("vec_id").alias("q_id"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("nq"),
        )
    )
    c = e.select(
        F.col("vec_id").alias("c_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("nc"),
    )
    cosine = dot_fold(F.col("qv"), F.col("cv")) / (F.col("nq") * F.col("nc"))
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))
    exact = (
        q.join(c, F.col("c_id") != F.col("q_id"))
        .withColumn("cosine", rnd(cosine))
        .withColumn("rn_x", F.row_number().over(w))
        .filter(F.col("rn_x") <= SQ8_TOPK)
        .select("q_id", "c_id", (F.lit(6) - F.col("rn_x")).alias("rel"))
    )
    t6 = F.floor(
        F.coalesce(F.col("rel"), F.lit(0)) / F.log2(F.col("rn") + 1) * 1000000
        + 0.5
    ).cast("bigint")
    return (
        sys_topk.join(exact, ["q_id", "c_id"], "left")
        .select(
            "q_id",
            t6.alias("t6"),
            F.when(F.col("rel").isNotNull(), 1).otherwise(0).alias("hit"),
        )
        .groupBy("q_id")
        .agg(F.sum("t6").alias("dcg6"), F.sum("hit").cast("bigint").alias("hits"))
        .select(
            "q_id",
            "hits",
            (F.floor(F.col("dcg6") / 100.0 + 0.5) / 10000).alias("dcg"),
            (
                F.floor(F.col("dcg6") / F.lit(_IDCG6) * 10000 + 0.5) / 10000
            ).alias("ndcg"),
        )
    )


# ---------------------------------------------------------------------------
# ml_adaboost — integer-weighted boosting over histogram stumps

ADA_ROUNDS = 3


def _ada_round_sql(t: int) -> str:
    """One unrolled boosting round over the weighted class histogram.

    c{t}: running + total class weights by feature value (the stump
          search scans #distinct-values rows, never documents).
    e{t}: weighted error of every (threshold, polarity) stump;
          polarity +1 predicts positive on x <= thr, -1 on x > thr.
    b{t}: argmin by (err, thr, polarity) — all integers, total order.
    h{t}: weight update — misclassified examples DOUBLE (the declared
          unit-alpha integer variant of discrete AdaBoost; weights stay
          exact int64, bounded by 2^rounds) — and the ensemble vote
          advances by the stump's +-1 prediction.
    a{t}: training accuracy of the vote-so-far against the ORIGINAL
          unweighted counts (vote > 0 predicts positive)."""
    p = t - 1
    return f"""
c{t} AS MATERIALIZED (
  SELECT x, sum(wp) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS cwp,
         sum(wn) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS cwn,
         sum(wp) OVER () AS twp, sum(wn) OVER () AS twn,
         sum(cnt) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS ccnt,
         sum(cnt) OVER () AS tcnt
  FROM h{p}
),
e{t} AS MATERIALIZED (
  SELECT x AS thr, 1 AS pol, cwn + (twp - cwp) AS err, twp + twn AS tot
  FROM c{t} WHERE ccnt < tcnt
  UNION ALL
  SELECT x AS thr, -1 AS pol, cwp + (twn - cwn) AS err, twp + twn AS tot
  FROM c{t} WHERE ccnt < tcnt
),
b{t} AS MATERIALIZED (
  SELECT thr, pol, err, tot FROM e{t} ORDER BY err, thr, pol LIMIT 1
),
h{t} AS MATERIALIZED (
  SELECT h.x, h.cnt, h.pos,
         h.wp * CASE WHEN (b.pol = 1 AND h.x > b.thr)
                       OR (b.pol = -1 AND h.x <= b.thr)
                     THEN 2 ELSE 1 END AS wp,
         h.wn * CASE WHEN (b.pol = 1 AND h.x <= b.thr)
                       OR (b.pol = -1 AND h.x > b.thr)
                     THEN 2 ELSE 1 END AS wn,
         h.vote + CASE WHEN (b.pol = 1 AND h.x <= b.thr)
                         OR (b.pol = -1 AND h.x > b.thr)
                       THEN 1 ELSE -1 END AS vote
  FROM h{p} h CROSS JOIN b{t} b
),
a{t} AS MATERIALIZED (
  SELECT SUM(CASE WHEN vote > 0 THEN pos ELSE cnt - pos END) AS correct,
         SUM(cnt) AS n
  FROM h{t}
)"""


def _ada_oracle() -> str:
    parts = [
        """
hist AS MATERIALIZED (
  SELECT n_chars AS x, CAST(count(*) AS BIGINT) AS cnt,
         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS pos
  FROM documents WHERE n_chars IS NOT NULL GROUP BY n_chars
),
h0 AS MATERIALIZED (
  SELECT x, cnt, pos, pos AS wp, cnt - pos AS wn, CAST(0 AS BIGINT) AS vote
  FROM hist
)"""
    ] + [_ada_round_sql(t) for t in range(1, ADA_ROUNDS + 1)]
    finals = "\nUNION ALL ".join(
        f"""SELECT {t} AS round, CAST(b{t}.thr AS BIGINT) AS threshold,
       CAST(b{t}.pol AS INT) AS polarity, CAST(b{t}.err AS BIGINT) AS err_w,
       CAST(b{t}.tot AS BIGINT) AS total_w,
       floor(CAST(a{t}.correct AS DOUBLE) / a{t}.n * 1000000 + 0.5) / 1000000 AS acc
FROM b{t} CROSS JOIN a{t}"""
        for t in range(1, ADA_ROUNDS + 1)
    )
    return "WITH " + ",".join(parts) + f"\nSELECT * FROM (\n{finals}\n) ORDER BY round"


@register("ml_adaboost", oracle=_ada_oracle())
def ml_adaboost(spark, sf_dir):
    """Boosted decision stumps on the feature histogram — ml_stump
    carried to an ensemble with the AdaBoost reweighting loop in a
    DECLARED INTEGER VARIANT: unit alpha, misclassified example weights
    double each round (exact int64, bounded by 2^rounds), final
    classifier is the majority vote of the per-round stumps. Stump t
    minimizes weighted error over (threshold, polarity) with a total
    integer tie-break, so retraining is bit-identical.

    The distributed split is the histogram-GBDT contract: the corpus
    contributes ONE map-combined groupBy (feature value -> class
    counts); every boosting round then scans #distinct-values rows of
    driver model state, never documents — at 100 TB round cost is
    independent of corpus size. Emits per round: the stump, its
    weighted error over the round's total weight, and the ensemble's
    training accuracy so far (the boosting curve). Exact oracle:
    ADA_ROUNDS unrolled CTE rounds over the same histogram."""
    # a NULL feature value cannot be thresholded — excluded in BOTH
    # engines (semantic, not defensive; the null-corpus sweep's rule)
    d = table(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull()
    )
    hist = sorted(
        (int(r["x"]), int(r["cnt"]), int(r["pos"]))
        for r in d.groupBy(F.col("n_chars").alias("x"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(
                F.when(F.col("lang") == "en", 1).otherwise(0)
            ).alias("pos"),
        )
        .collect()
    )
    xs = [x for x, _, _ in hist]
    cnt = {x: c for x, c, _ in hist}
    pos = {x: p for x, _, p in hist}
    wp = {x: pos[x] for x in xs}
    wn = {x: cnt[x] - pos[x] for x in xs}
    vote = {x: 0 for x in xs}
    n_total = sum(cnt.values())
    rows = []
    for t in range(1, ADA_ROUNDS + 1):
        if n_total == 0 or len(xs) < 2:
            break  # no splittable histogram (empty corpus)
        twp, twn = sum(wp.values()), sum(wn.values())
        best = None
        cwp = cwn = ccnt = 0
        for x in xs:
            cwp += wp[x]
            cwn += wn[x]
            ccnt += cnt[x]
            if ccnt >= n_total:
                break
            for pol, err in (
                (1, cwn + (twp - cwp)),
                (-1, cwp + (twn - cwn)),
            ):
                key = (err, x, pol)
                if best is None or key < best:
                    best = key
        err, thr, pol = best
        for x in xs:
            pred_pos = (pol == 1 and x <= thr) or (pol == -1 and x > thr)
            if pred_pos:
                wn[x] *= 2
                vote[x] += 1
            else:
                wp[x] *= 2
                vote[x] -= 1
        correct = sum(
            pos[x] if vote[x] > 0 else cnt[x] - pos[x] for x in xs
        )
        import math

        acc = math.floor(correct / n_total * 1000000 + 0.5) / 1000000
        rows.append((t, thr, pol, err, twp + twn, acc))
    return spark.createDataFrame(
        rows,
        "round int, threshold bigint, polarity int, err_w bigint, "
        "total_w bigint, acc double",
    ).orderBy("round")


# ---------------------------------------------------------------------------
# ml_tree_depth2 — histogram decision tree grown one level past the stump

_GINI_SQL = """(ln_ * (1.0 - (CAST(lp AS DOUBLE) / ln_) * (CAST(lp AS DOUBLE) / ln_)
                    - (CAST(ln_ - lp AS DOUBLE) / ln_)
                      * (CAST(ln_ - lp AS DOUBLE) / ln_))
         + rn_ * (1.0 - (CAST(rp AS DOUBLE) / rn_) * (CAST(rp AS DOUBLE) / rn_)
                      - (CAST(rn_ - rp AS DOUBLE) / rn_)
                        * (CAST(rn_ - rp AS DOUBLE) / rn_))) / n"""


def _tree_node_sql(src: str, out: str) -> str:
    """Best gini split over one node's histogram CTE ``src`` —
    ml_stump's search, reused per node."""
    return f"""
{out}_cum AS (
  SELECT node, x,
         sum(cnt) OVER (PARTITION BY node ORDER BY x ROWS UNBOUNDED PRECEDING) AS ln_,
         sum(pos) OVER (PARTITION BY node ORDER BY x ROWS UNBOUNDED PRECEDING) AS lp,
         sum(cnt) OVER (PARTITION BY node) AS n,
         sum(pos) OVER (PARTITION BY node) AS p
  FROM {src}
),
{out} AS MATERIALIZED (
  SELECT node, threshold, wgini, ln_ AS n_left, rn_ AS n_right FROM (
    SELECT node, x AS threshold, ln_, n - ln_ AS rn_,
           {_GINI_SQL} AS wgini,
           row_number() OVER (PARTITION BY node ORDER BY {_GINI_SQL}, x) AS rk
    FROM (SELECT node, x, ln_, lp, n, p, n - ln_ AS rn_, p - lp AS rp
          FROM {out}_cum WHERE ln_ < n)
  ) WHERE rk = 1
)"""


_TREE_ORACLE = f"""
WITH hist AS MATERIALIZED (
  SELECT n_chars AS x, CAST(count(*) AS BIGINT) AS cnt,
         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS pos
  FROM documents WHERE n_chars IS NOT NULL GROUP BY n_chars
),
root_h AS (SELECT 'root' AS node, x, cnt, pos FROM hist),
{_tree_node_sql('root_h', 'root_b')},
leaf_h AS (
  SELECT CASE WHEN h.x <= b.threshold THEN 'left' ELSE 'right' END AS node,
         h.x, h.cnt, h.pos
  FROM hist h CROSS JOIN root_b b
),
{_tree_node_sql('leaf_h', 'leaf_b')}
SELECT node, CAST(threshold AS BIGINT) AS threshold,
       floor(wgini * 1000000 + 0.5) / 1000000 AS wgini,
       CAST(n_left AS BIGINT) AS n_left, CAST(n_right AS BIGINT) AS n_right
FROM (SELECT * FROM root_b UNION ALL SELECT * FROM leaf_b)
"""


@register("ml_tree_depth2", oracle=_TREE_ORACLE)
def ml_tree_depth2(spark, sf_dir):
    """Depth-2 decision tree on the feature histogram: ml_stump's
    histogram split search applied at the root, then AGAIN inside each
    child — the recursive step every histogram GBDT takes, still
    touching only #distinct-values rows per node (the corpus
    contributes its ONE groupBy). Node assignment is a broadcast of
    the 1-row root split, so growing a level adds no corpus scan.
    Fully distributed (no driver model state, unlike ml_adaboost's
    declared driver loop) — the window's PARTITION BY node runs both
    child searches in one pass. Emits root/left/right splits with
    6dp-floored weighted gini; the gini expression is one fixed IEEE
    formula over exact integer counts, identical in both engines.
    NULL feature values are excluded in both engines (a null cannot be
    thresholded, and the engines disagree on null sort placement)."""
    d = table(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull()
    )
    hist = d.groupBy(F.col("n_chars").alias("x")).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(
                F.when(F.col("lang") == "en", 1).otherwise(0)
            ).alias("pos"),
    )

    def gini(nn, pp):
        pr = pp.cast("double") / nn
        qr = (nn - pp).cast("double") / nn
        return 1.0 - pr * pr - qr * qr

    def best_split(h):
        w_cum = (
            Window.partitionBy("node")
            .orderBy("x")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        w_all = Window.partitionBy("node")
        cum = h.select(
            "node",
            "x",
            F.sum("cnt").over(w_cum).alias("ln_"),
            F.sum("pos").over(w_cum).alias("lp"),
            F.sum("cnt").over(w_all).alias("n"),
            F.sum("pos").over(w_all).alias("p"),
        ).filter(F.col("ln_") < F.col("n"))
        wgini = (
            F.col("ln_") * gini(F.col("ln_"), F.col("lp"))
            + (F.col("n") - F.col("ln_"))
            * gini(F.col("n") - F.col("ln_"), F.col("p") - F.col("lp"))
        ) / F.col("n")
        wr = Window.partitionBy("node").orderBy(wgini, "x")
        return (
            cum.withColumn("wgini_raw", wgini)
            .withColumn("rk", F.row_number().over(wr))
            .filter(F.col("rk") == 1)
            .select(
                "node",
                F.col("x").cast("bigint").alias("threshold"),
                (
                    F.floor(F.col("wgini_raw") * 1000000 + F.lit(0.5))
                    / 1000000
                ).alias("wgini"),
                F.col("ln_").cast("bigint").alias("n_left"),
                (F.col("n") - F.col("ln_")).cast("bigint").alias("n_right"),
            )
        )

    root = best_split(hist.withColumn("node", F.lit("root")))
    leaf_h = hist.join(
        F.broadcast(root.select(F.col("threshold").alias("thr"))), how="cross"
    ).withColumn(
        "node",
        F.when(F.col("x") <= F.col("thr"), F.lit("left")).otherwise(
            F.lit("right")
        ),
    )
    leaves = best_split(leaf_h)
    return root.unionByName(leaves)


# ---------------------------------------------------------------------------
# ml_rouge — clipped n-gram overlap (ROUGE-1 P/R/F1 + ROUGE-2 F1)

ROUGE_PAIRS = 400  # candidate doc_ids < this (odd ids; ref = id - 1)


def _rouge_oracle() -> str:
    return f"""
WITH d AS MATERIALIZED (
  SELECT doc_id, toks FROM (
    SELECT doc_id,
           list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
    FROM documents WHERE text IS NOT NULL AND doc_id < {ROUGE_PAIRS}
  ) WHERE len(toks) > 0
),
uni AS MATERIALIZED (
  SELECT doc_id, t, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT doc_id, unnest(toks) AS t FROM d) GROUP BY doc_id, t
),
bi AS MATERIALIZED (
  SELECT doc_id, t, CAST(count(*) AS BIGINT) AS c FROM (
    SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS t
    FROM d, LATERAL (SELECT unnest(generate_series(1, len(toks) - 1)) AS i) g
  ) GROUP BY doc_id, t
),
tot AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n1,
         CAST(greatest(len(toks) - 1, 0) AS BIGINT) AS n2
  FROM d
),
clip1 AS (
  SELECT c.doc_id AS cand_id, SUM(least(c.c, r.c)) AS m
  FROM uni c JOIN uni r ON r.t = c.t AND r.doc_id = c.doc_id - 1
  WHERE c.doc_id % 2 = 1 GROUP BY c.doc_id
),
clip2 AS (
  SELECT c.doc_id AS cand_id, SUM(least(c.c, r.c)) AS m
  FROM bi c JOIN bi r ON r.t = c.t AND r.doc_id = c.doc_id - 1
  WHERE c.doc_id % 2 = 1 GROUP BY c.doc_id
),
pairs AS (
  SELECT tc.doc_id AS cand_id,
         coalesce(c1.m, 0) AS m1, coalesce(c2.m, 0) AS m2,
         tc.n1 AS cn1, tc.n2 AS cn2, tr.n1 AS rn1, tr.n2 AS rn2
  FROM tot tc JOIN tot tr ON tr.doc_id = tc.doc_id - 1
  LEFT JOIN clip1 c1 ON c1.cand_id = tc.doc_id
  LEFT JOIN clip2 c2 ON c2.cand_id = tc.doc_id
  WHERE tc.doc_id % 2 = 1
)
SELECT cand_id,
  floor(CAST(m1 AS DOUBLE) / cn1 * 10000 + 0.5) / 10000 AS rouge1_p,
  floor(CAST(m1 AS DOUBLE) / rn1 * 10000 + 0.5) / 10000 AS rouge1_r,
  floor(CASE WHEN m1 = 0 THEN 0.0 ELSE
    2 * (CAST(m1 AS DOUBLE) / cn1) * (CAST(m1 AS DOUBLE) / rn1)
      / (CAST(m1 AS DOUBLE) / cn1 + CAST(m1 AS DOUBLE) / rn1)
  END * 10000 + 0.5) / 10000 AS rouge1_f,
  floor(CASE WHEN m2 = 0 OR cn2 = 0 OR rn2 = 0 THEN 0.0 ELSE
    2 * (CAST(m2 AS DOUBLE) / cn2) * (CAST(m2 AS DOUBLE) / rn2)
      / (CAST(m2 AS DOUBLE) / cn2 + CAST(m2 AS DOUBLE) / rn2)
  END * 10000 + 0.5) / 10000 AS rouge2_f
FROM pairs
"""


@register("ml_rouge", oracle=_rouge_oracle())
def ml_rouge(spark, sf_dir):
    """ROUGE-1 precision/recall/F1 and ROUGE-2 F1 with CLIPPED n-gram
    counts (the standard ROUGE definition: each candidate n-gram
    credits at most its count in the reference) over synthetic
    candidate/reference pairs (odd doc_id vs its predecessor). This is
    the summary/decontamination eval shape: per-doc n-gram count
    tables joined per pair, one aggregation per n — no all-pairs, the
    join is keyed by (pair, n-gram). The eval set is the bounded side
    (doc_id < ROUGE_PAIRS); at 100 TB the candidate table broadcasts
    and the corpus is scanned once per n-gram order. F1 is one fixed
    IEEE expression over exact integer ratios, 4dp-floored in both
    engines."""
    d = (
        table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull() & (F.col("doc_id") < ROUGE_PAIRS))
        .select(
            "doc_id",
            F.filter(F.split(F.lower("text"), " "), lambda t: t != "").alias(
                "toks"
            ),
        )
        # Zero-token docs would make cn1 = 0 and (under ANSI mode) turn
        # m1/cn1 into DIVIDE_BY_ZERO on one executor while the oracle
        # returns NULL; drop them in BOTH engines (oracle d CTE mirrors).
        .filter(F.size("toks") > 0)
    )
    uni = (
        d.select("doc_id", F.explode("toks").alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bi = (
        d.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(slice(toks, 1, greatest(size(toks) - 1, 0)),"
                    " (t, i) -> concat(t, ' ', toks[i + 1]))"
                )
            ).alias("t"),
        )
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = d.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n1"),
        F.greatest(F.size("toks") - 1, F.lit(0)).cast("bigint").alias("n2"),
    )

    def clip(cnt):
        c = cnt.alias("c")
        r = cnt.alias("r")
        return (
            c.join(
                r,
                (F.col("r.t") == F.col("c.t"))
                & (F.col("r.doc_id") == F.col("c.doc_id") - 1),
            )
            .filter(F.col("c.doc_id") % 2 == 1)
            .groupBy(F.col("c.doc_id").alias("cand_id"))
            .agg(F.sum(F.least(F.col("c.c"), F.col("r.c"))).alias("m"))
        )

    tc = tot.alias("tc")
    tr = tot.alias("tr")
    pairs = (
        tc.join(tr, F.col("tr.doc_id") == F.col("tc.doc_id") - 1)
        .filter(F.col("tc.doc_id") % 2 == 1)
        .select(
            F.col("tc.doc_id").alias("cand_id"),
            F.col("tc.n1").alias("cn1"),
            F.col("tc.n2").alias("cn2"),
            F.col("tr.n1").alias("rn1"),
            F.col("tr.n2").alias("rn2"),
        )
        .join(clip(uni).withColumnRenamed("m", "m1"), "cand_id", "left")
        .join(clip(bi).withColumnRenamed("m", "m2"), "cand_id", "left")
        .na.fill({"m1": 0, "m2": 0})
    )
    m1 = F.col("m1").cast("double")
    m2 = F.col("m2").cast("double")
    p1, r1 = m1 / F.col("cn1"), m1 / F.col("rn1")
    p2, r2 = m2 / F.col("cn2"), m2 / F.col("rn2")

    def fl(c):
        return F.floor(c * 10000 + F.lit(0.5)) / 10000

    f1 = F.when(F.col("m1") == 0, F.lit(0.0)).otherwise(
        2 * p1 * r1 / (p1 + r1)
    )
    f2 = F.when(
        (F.col("m2") == 0) | (F.col("cn2") == 0) | (F.col("rn2") == 0),
        F.lit(0.0),
    ).otherwise(2 * p2 * r2 / (p2 + r2))
    return pairs.select(
        "cand_id",
        fl(p1).alias("rouge1_p"),
        fl(r1).alias("rouge1_r"),
        fl(f1).alias("rouge1_f"),
        fl(f2).alias("rouge2_f"),
    )


@register(
    "ml_linreg",
    oracle="""
WITH t AS (
  SELECT event_type,
         CAST(epoch(ts) - 1700000000 AS DOUBLE) AS x,
         value AS y
  FROM events
),
s AS (
  SELECT event_type,
         CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(CAST(x AS DECIMAL(25,6))) AS DOUBLE) AS sx,
         CAST(sum(CAST(y AS DECIMAL(25,6))) AS DOUBLE) AS sy,
         CAST(sum(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
         CAST(sum(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx
  FROM t GROUP BY event_type
)
SELECT event_type,
       floor((n * sxy - sx * sy) / (n * sxx - sx * sx) * 1e10 + 0.5) / 1e10 AS slope,
       floor((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n * 10000 + 0.5) / 10000 AS intercept
FROM s
""",
)
def ml_linreg(spark, sf_dir):
    """Per-group ordinary least squares (value ~ time), closed form from
    sufficient statistics: slope = (nΣxy − ΣxΣy)/(nΣxx − Σx²). The five
    sums are one map-side-combined groupBy — the whole regression is a
    single shuffle of 5 numbers per group at any data size, the same
    sufficient-statistics shape MLlib's linear models aggregate. Each
    sum runs through an exact DECIMAL cast (x is integer seconds,
    centered to keep x² inside DECIMAL(38,6); y is 6dp), so the final
    arithmetic is one fixed IEEE expression — reproducible on any
    partitioning. Slope is rounded at 1e-10 (its natural scale:
    value-units per second over a multi-month span)."""
    ev = table(spark, sf_dir, "events").select(
        "event_type",
        (F.unix_timestamp("ts") - F.lit(1_700_000_000)).cast("double").alias("x"),
        F.col("value").alias("y"),
    )
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("x").cast("decimal(25,6)")).cast("double").alias("sx"),
        F.sum(F.col("y").cast("decimal(25,6)")).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,6)")).cast("double").alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,6)")).cast("double").alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("n")
    return s.select(
        "event_type",
        (F.floor(slope * 1e10 + F.lit(0.5)) / 1e10).alias("slope"),
        rnd(intercept, "intercept"),
    )
