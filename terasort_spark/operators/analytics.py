"""Product/corpus analytics composites: cohort retention, RFM
segmentation, tokenizer vocabulary coverage, event transitions, and the
data-quality checks (outliers, drift, expectations, volume anomalies,
table profiles). Standard warehouse
analyses (absent from the reference's sort pipeline, SURVEY.md §2a),
declared with full DuckDB oracles.
"""

from __future__ import annotations

import math as _math

from pyspark.sql import Window
from pyspark.sql import functions as F

from terasort_spark.catalog import table
from terasort_spark.operators._util import DEC, o_rnd, rnd
from terasort_spark.registry import register


@register(
    "events_retention",
    oracle="""
WITH firsts AS (
    SELECT user_id, min(CAST(date_trunc('week', ts) AS DATE)) AS cohort
    FROM events GROUP BY user_id
),
activity AS (
    SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
    FROM events
)
SELECT f.cohort,
       date_diff('week', f.cohort, a.wk) AS week_n,
       count(*) AS n_active,
       floor(CAST(count(*) AS DOUBLE)
             / max(cs.cohort_size) * 10000 + 0.5) / 10000 AS retention
FROM firsts f
JOIN activity a USING (user_id)
JOIN (SELECT cohort, count(*) AS cohort_size FROM firsts GROUP BY cohort) cs
  ON cs.cohort = f.cohort
GROUP BY f.cohort, date_diff('week', f.cohort, a.wk)
""",
)
def events_retention(spark, sf_dir):
    """Cohort retention: bucket users by first-seen week, then for each
    (cohort, weeks-since-signup) report how many came back and the
    retained fraction of the cohort — the canonical product-analytics
    triangle.

    Scale notes: three aggregations, all keyed by user_id or cohort —
    the user-level pieces shuffle once on user_id (first-seen and
    distinct-activity can share the exchange), cohort sizes are a tiny
    dim joined broadcast. No event-x-event self-join anywhere."""
    ev = table(spark, sf_dir, "events")
    wk = F.date_trunc("week", "ts").cast("date")
    firsts = ev.groupBy("user_id").agg(F.min(wk).alias("cohort"))
    activity = ev.select("user_id", wk.alias("wk")).distinct()
    sizes = firsts.groupBy("cohort").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    week_n = (F.datediff("wk", "cohort") / 7).cast("long")
    return (
        firsts.join(activity, "user_id")
        .join(F.broadcast(sizes), "cohort")
        .groupBy("cohort", week_n.alias("week_n"))
        .agg(
            F.count(F.lit(1)).alias("n_active"),
            rnd(
                F.count(F.lit(1)).cast("double") / F.max("cohort_size"),
                "retention",
            ),
        )
    )


def _q4_bounds(per_user, metric, ascending, sfx):
    """Quartile boundary table for `metric` from its HISTOGRAM — the
    text_ccnet_bucket de-skew discipline: boundary positions
    t_k = k·(n div 4) + min(n mod 4, k) from running sums over
    histogram rows (bounded distinct values), broadcast back. Columns
    are suffixed so three metrics' bounds can chain-join onto one
    frame."""
    order = F.asc(metric) if ascending else F.desc(metric)
    hist = per_user.groupBy(metric).agg(F.count(F.lit(1)).alias("cnt"))
    w_cum = Window.orderBy(order).rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    q = F.floor(F.col("n") / 4)
    r = F.col("n") % 4
    return (
        hist.withColumn("cum_end", F.sum("cnt").over(w_cum))
        .withColumn("n", F.sum("cnt").over(w_all))
        .select(
            metric,
            (F.col("cum_end") - F.col("cnt")).alias(f"nb_{sfx}"),
            F.col("cum_end").alias(f"ce_{sfx}"),
            *[
                (q * k + F.least(r, F.lit(k))).alias(f"t{k}_{sfx}")
                for k in (1, 2, 3)
            ],
        )
    )


def _q4_straddle(sfx):
    """True iff the row's tie group crosses a quartile boundary."""
    c = None
    for k in (1, 2, 3):
        x = (F.col(f"nb_{sfx}") < F.col(f"t{k}_{sfx}")) & (
            F.col(f"t{k}_{sfx}") < F.col(f"ce_{sfx}")
        )
        c = x if c is None else (c | x)
    return c


def _q4_stateless(sfx):
    """Quartile for a tie group fully inside one quartile: every member
    outranks exactly the boundaries at or below n_before."""
    return 1 + sum(
        (F.col(f"t{k}_{sfx}") <= F.col(f"nb_{sfx}")).cast("long")
        for k in (1, 2, 3)
    )


def _q4_ranked(metric, sfx):
    """Quartile via the exact global rank nb + row_number within the
    tie group — used ONLY on boundary-straddling groups (window state =
    one tie group, partitioned by the metric value itself)."""
    w_tie = Window.partitionBy(metric).orderBy("user_id")
    rn = F.col(f"nb_{sfx}") + F.row_number().over(w_tie)
    return 1 + sum(
        (rn > F.col(f"t{k}_{sfx}")).cast("long") for k in (1, 2, 3)
    )


def quartile_columns(per_user, metrics):
    """Attach `{sfx}_quartile` columns to a (user_id, *metrics) frame —
    the de-skewed exact-ntile machinery, factored so tests can feed
    arbitrary (randomized, repartitioned) frames. `metrics` is a tuple
    of (column, ascending, suffix)."""
    df = per_user
    for metric, asc, sfx in metrics:
        df = df.join(
            F.broadcast(_q4_bounds(per_user, metric, asc, sfx)), metric
        )
    # The clean/straddle branches below both consume df; pin ONE
    # execution of the aggregate + bounds joins (else each branch
    # re-runs the whole upstream pipeline).
    df = df.localCheckpoint(eager=False)
    any_straddle = None
    for _, _, sfx in metrics:
        c = _q4_straddle(sfx)
        any_straddle = c if any_straddle is None else (any_straddle | c)
    out = ["user_id"] + [m for m, _, _ in metrics]
    clean = df.filter(~any_straddle).select(
        *out,
        *[
            _q4_stateless(sfx).alias(f"{sfx}_quartile")
            for _, _, sfx in metrics
        ],
    )
    rest = df.filter(any_straddle).select(
        *out,
        *[
            F.when(_q4_straddle(sfx), _q4_ranked(metric, sfx))
            .otherwise(_q4_stateless(sfx))
            .alias(f"{sfx}_quartile")
            for metric, _, sfx in metrics
        ],
    )
    return clean.unionByName(rest)


@register(
    "events_rfm",
    oracle="""
WITH per_user AS (
    SELECT user_id,
           date_diff('day', max(ts), TIMESTAMP '2024-02-01') AS recency_days,
           count(*) AS frequency,
           floor(CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE)
                 * 10000 + 0.5) / 10000 AS monetary
    FROM events WHERE event_type = 'purchase'
    GROUP BY user_id
)
SELECT user_id, recency_days, frequency, monetary,
       ntile(4) OVER (ORDER BY recency_days, user_id) AS r_quartile,
       ntile(4) OVER (ORDER BY frequency DESC, user_id) AS f_quartile,
       ntile(4) OVER (ORDER BY monetary DESC, user_id) AS m_quartile
FROM per_user
""",
)
def events_rfm(spark, sf_dir):
    """RFM segmentation: per purchasing user, days since last purchase
    (vs a fixed anchor), purchase count, and total spend, each cut into
    quartiles — the classic customer-value grid. Quartile windows order
    with a user_id tie-break (D3: ntile on ties is engine-arbitrary).

    Scale (de-skewed, round 6): a global ntile(4) over user-level rows
    would range-sort EVERY user on one task per metric at 100 TB — the
    same skew the round-6 ccnet/percentile rewrites removed. Instead
    the three boundary tables (_q4_bounds, histogram-sized) chain onto
    the per-user frame as BROADCAST joins — no re-shuffle — and rows
    whose tie groups sit fully inside a quartile (virtually all of
    them) are assigned statelessly; only the ≤3 boundary-straddling tie
    groups per metric see a row_number, partitioned by the metric value
    itself (_q4_ranked). Bit-identical to the three ntiles; one shuffle
    total (the per-user reduction)."""
    ev = table(spark, sf_dir, "events")
    per_user = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.datediff(
                F.lit("2024-02-01").cast("timestamp"), F.max("ts")
            ).cast("long").alias("recency_days"),
            F.count(F.lit(1)).alias("frequency"),
            rnd(
                F.sum(F.col("value").cast("decimal(25,6)")).cast("double"),
                "monetary",
            ),
        )
    )  # 4 consumers below share ONE physical aggregate via ReusedExchange
    return quartile_columns(
        per_user,
        (
            ("recency_days", True, "r"),
            ("frequency", False, "f"),
            ("monetary", False, "m"),
        ),
    )


@register(
    "text_vocab_coverage",
    oracle="""
WITH words AS (
    SELECT unnest(string_split(text, ' ')) AS word FROM documents
),
counts AS (
    SELECT word, count(*) AS n FROM words WHERE word <> '' GROUP BY word
),
ranked AS (
    SELECT word, n,
           row_number() OVER (ORDER BY n DESC, word) AS rank,
           sum(n) OVER (ORDER BY n DESC, word
                        ROWS UNBOUNDED PRECEDING) AS cum,
           sum(n) OVER () AS total
    FROM counts
)
SELECT word, n, rank,
       floor(CAST(cum AS DOUBLE) / total * 10000 + 0.5) / 10000 AS cum_share
FROM ranked
WHERE cum - n < total * 0.9
""",
)
def text_vocab_coverage(spark, sf_dir):
    """Tokenizer vocabulary sizing: frequency-ranked vocabulary with
    cumulative token share, truncated to the smallest prefix covering
    90% of all tokens — the analysis behind "how big must the vocab be"
    (and the Zipf sanity check: cum_share should grow ~log-linearly).

    Scale notes: word counts are one shuffle with map-side combine;
    ranking runs over the (tiny) distinct-vocab table, not the corpus.
    The 90% cutoff uses each word's EXCLUSIVE prefix sum, so the
    boundary word itself is kept (filter is rank-monotone — no second
    pass needed)."""
    d = table(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_rank = Window.orderBy(F.col("n").desc(), "word")
    w_cum = w_rank.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy()
    ranked = counts.select(
        "word",
        "n",
        F.row_number().over(w_rank).cast("long").alias("rank"),
        F.sum("n").over(w_cum).alias("cum"),
        F.sum("n").over(w_all).alias("total"),
    )
    return ranked.where(
        (F.col("cum") - F.col("n")) < F.col("total") * 0.9
    ).select(
        "word",
        "n",
        "rank",
        rnd(F.col("cum").cast("double") / F.col("total"), "cum_share"),
    )


@register(
    "events_anomaly",
    oracle="""
WITH daily AS (
    SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
           count(*) AS n
    FROM events GROUP BY 1, 2
),
scored AS (
    SELECT event_type, day, n,
           avg(CAST(n AS DOUBLE)) OVER (PARTITION BY event_type) AS mu,
           stddev_samp(CAST(n AS DOUBLE)) OVER (PARTITION BY event_type)
               AS sigma
    FROM daily
)
SELECT event_type, day, n,
       floor((n - mu) / sigma * 10000 + 0.5) / 10000 AS z,
       abs((n - mu) / sigma) > 2.0 AS is_anomaly
FROM scored WHERE sigma > 0
""",
)
def events_anomaly(spark, sf_dir):
    """Volume anomaly detection: z-score each (event_type, day) count
    against that type's own mean/stddev, flag |z| > 2 — the monitoring
    query behind traffic-drop and bot-spike alerts.

    Scale notes: the daily reduction is the only event-scale shuffle;
    the z-window runs over |types|x|days| rows (tiny). 100 TB of events
    reduce map-side before anything is ranked. For a streaming twin,
    mean/std come from a slowly-updated reference table instead of the
    same window."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type")
    mu = F.avg(F.col("n").cast("double")).over(w)
    sigma = F.stddev_samp(F.col("n").cast("double")).over(w)
    z = (F.col("n") - mu) / sigma
    return (
        daily.withColumn("mu", mu)
        .withColumn("sigma", sigma)
        .where(F.col("sigma") > 0)
        .select(
            "event_type",
            "day",
            "n",
            rnd((F.col("n") - F.col("mu")) / F.col("sigma"), "z"),
            (
                F.abs((F.col("n") - F.col("mu")) / F.col("sigma")) > 2.0
            ).alias("is_anomaly"),
        )
    )


@register(
    "emb_norm_stats",
    oracle="""
WITH norms AS (
    SELECT label,
           floor(sqrt(list_sum(list_transform(embedding,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                 * 1000000 + 0.5) / 1000000 AS nrm
    FROM embeddings
)
SELECT label, count(*) AS n_vecs,
       floor(CAST(sum(CAST(nrm AS DECIMAL(25,6))) AS DOUBLE) / count(*)
             * 10000 + 0.5) / 10000 AS avg_norm,
       floor(min(nrm) * 10000 + 0.5) / 10000 AS min_norm,
       floor(max(nrm) * 10000 + 0.5) / 10000 AS max_norm
FROM norms GROUP BY label
""",
)
def emb_norm_stats(spark, sf_dir):
    """Embedding health check: L2-norm distribution per label (count,
    mean, min, max) — the first diagnostic on any new embedding table
    (collapsed or exploded norms signal a broken encoder run).

    Determinism: the norm's squared-sum folds sequentially (same order
    as DuckDB's list_sum), is quantized to 6dp per row, then averaged
    through an exact decimal sum — the operators/_util.py money rule
    applied to vector math. One shuffle (groupBy label); vectors never
    leave their scan partition."""
    e = table(spark, sf_dir, "embeddings")
    sq = F.aggregate(
        F.transform(
            "embedding", lambda x: x.cast("double") * x.cast("double")
        ),
        F.lit(0.0),
        lambda a, v: a + v,
    )
    nrm = F.floor(F.sqrt(sq) * 1000000 + F.lit(0.5)) / 1000000
    norms = e.select("label", nrm.alias("nrm"))
    return norms.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        rnd(
            F.sum(F.col("nrm").cast(DEC)).cast("double") / F.count(F.lit(1)),
            "avg_norm",
        ),
        rnd(F.min("nrm"), "min_norm"),
        rnd(F.max("nrm"), "max_norm"),
    )


@register(
    "events_attribution",
    oracle="""
WITH seq AS (
    SELECT event_type, value,
           last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                      IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS channel
    FROM events
)
SELECT coalesce(channel, 'direct') AS channel,
       count(*) AS n_purchases,
       floor(CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE) * 10000 + 0.5)
           / 10000 AS attributed_value
FROM seq WHERE event_type = 'purchase'
GROUP BY 1
""",
)
def events_attribution(spark, sf_dir):
    """Last-touch attribution: each purchase's value is credited to the
    user's most recent non-purchase event type before it ('direct' if
    none) — the standard marketing-attribution query, expressed as
    last(..., ignorenulls) over an UNBOUNDED PRECEDING .. 1 PRECEDING
    frame rather than a self-join.

    Scale notes: one shuffle on user_id for the window (per-user
    history is small and bounded by session behaviour, so no skew),
    then a map-side-combining sum over a |event_types|-bounded key
    space. The naive formulation — as-of self-join of purchases
    against all prior events — shuffles events twice and risks a range
    join; the window form scans once. Exact DECIMAL sum keeps the
    4dp-rounded totals partition-order-independent (D1)."""
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    channel = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    return (
        ev.withColumn("channel", channel)
        .where(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("channel", F.lit("direct")).alias("channel"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            rnd(
                F.sum(F.col("value").cast(DEC)).cast("double"),
                "attributed_value",
            ),
        )
    )


@register(
    "agg_weighted_percentile",
    # weighted median/quartiles per source with SoftDeDup-style weights:
    # the smallest value whose running weight share reaches the quantile
    oracle="""
WITH weighted AS (
    SELECT source, n_chars,
           CAST(floor(1000000.0 / count(*) OVER (PARTITION BY md5(text))
                      + 0.5) AS BIGINT) AS w6
    FROM documents WHERE text IS NOT NULL AND length(text) > 0
),
cum AS (
    SELECT source, n_chars,
           sum(w6) OVER (PARTITION BY source
                         ORDER BY n_chars
                         ROWS UNBOUNDED PRECEDING) AS cw,
           sum(w6) OVER (PARTITION BY source) AS tw
    FROM weighted
)
SELECT source,
       CAST(min(CASE WHEN 4 * cw >= tw THEN n_chars END) AS BIGINT) AS p25,
       CAST(min(CASE WHEN 2 * cw >= tw THEN n_chars END) AS BIGINT) AS p50,
       CAST(min(CASE WHEN 4 * cw >= 3 * tw THEN n_chars END) AS BIGINT) AS p75
FROM cum GROUP BY source
""",
)
def agg_weighted_percentile(spark, sf_dir):
    """Weighted percentiles (p25/p50/p75 of document length per source,
    weighted by SoftDeDup 1/n_copies weights) — corpus statistics that
    reflect the deduplicated distribution without materializing the
    dedup. The quantile is the smallest value whose cumulative weight
    reaches the target share (the standard left-continuous weighted
    quantile), computed with one running-sum window per source.

    Determinism: weights are quantized to 6dp INTEGERS
    (floor(1e6/n + 0.5)) and the running sum is exact int64, so the
    4*cw >= k*tw threshold tests are pure integer comparisons --
    partition-order- and engine-invariant even among rows tied on the
    ordering value. Scale (de-skewed, round 6): the weights are first
    aggregated to a per-(source, n_chars) HISTOGRAM — n_chars has a
    bounded domain — so the per-source running-sum window sees
    histogram rows, not raw documents (a per-source window over raw
    rows would serialize ~1/|sources| of a 100 TB corpus onto one
    task). Exactness is preserved: within an n_chars tie group the
    threshold 4*cw >= k*tw first holds at some row iff it holds at the
    group-end cumulative weight, and CASE yields the same n_chars for
    every row of the group. The md5 weight window is the dedup_soft
    shuffle reused (16-byte high-cardinality key, scale-safe)."""
    d = table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    w_h = Window.partitionBy(F.md5("text"))
    weighted = d.select(
        "source",
        "n_chars",
        F.floor(F.lit(1000000.0) / F.count(F.lit(1)).over(w_h) + F.lit(0.5))
        .cast("bigint")
        .alias("w6"),
    )
    hist = weighted.groupBy("source", "n_chars").agg(F.sum("w6").alias("sw"))
    w_cum = (
        Window.partitionBy("source")
        .orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_tot = Window.partitionBy("source")
    cum = hist.select(
        "source",
        "n_chars",
        F.sum("sw").over(w_cum).alias("cw"),
        F.sum("sw").over(w_tot).alias("tw"),
    )

    def pct(mul, k, name):
        return (
            F.min(
                F.when(mul * F.col("cw") >= k * F.col("tw"), F.col("n_chars"))
            )
            .cast("bigint")
            .alias(name)
        )

    return cum.groupBy("source").agg(
        pct(4, 1, "p25"), pct(2, 1, "p50"), pct(4, 3, "p75")
    )


@register(
    "agg_entropy",
    # Shannon entropy of each language's unigram distribution, exact:
    # per-term plogp quantized to 6dp, summed as DECIMAL
    oracle="""
WITH tok AS (
    SELECT lang, t AS term FROM (
        SELECT lang, unnest(string_split(lower(text), ' ')) AS t
        FROM documents WHERE text IS NOT NULL AND length(text) > 0
    ) WHERE length(t) > 0
),
tf AS (
    SELECT lang, term, count(*) AS c,
           sum(count(*)) OVER (PARTITION BY lang) AS n
    FROM tok GROUP BY lang, term
)
SELECT lang, CAST(max(n) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_terms,
       floor(CAST(sum(CAST(
           floor(-(CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n)
                 * 1000000 + 0.5) / 1000000
           AS DECIMAL(25,6))) AS DOUBLE) * 10000 + 0.5) / 10000 AS entropy
FROM tf GROUP BY lang
""",
)
def agg_entropy(spark, sf_dir):
    """Shannon entropy of each language's unigram distribution — the
    lexical-diversity diagnostic a corpus dashboard tracks (entropy
    collapse flags template spam or a scraping bug). Per-term
    -p·ln(p) is quantized to 6dp then summed as exact DECIMAL, so the
    per-language entropy is independent of partitioning and engine.

    Scale: ONE grouped count over the token stream (map-side combined)
    + a per-lang window for the normalizer + one final groupBy —
    everything keyed by (lang, term), no global state."""
    d = table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    tok = d.select(
        "lang", F.explode(F.split(F.lower("text"), " ")).alias("term")
    ).filter(F.length("term") > 0)
    tf = (
        tok.groupBy("lang", "term")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("n", F.sum("c").over(Window.partitionBy("lang")))
    )
    p = F.col("c").cast("double") / F.col("n")
    plogp_q6 = F.floor(-p * F.log(p) * 1000000 + F.lit(0.5)) / 1000000
    return tf.groupBy("lang").agg(
        F.max("n").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        rnd(F.sum(plogp_q6.cast(DEC)).cast("double"), "entropy"),
    )


@register(
    "dq_outliers",
    oracle="""
WITH stats AS (
    SELECT source,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(n_chars) AS BIGINT) AS s,
           CAST(sum(n_chars * n_chars) AS BIGINT) AS ss
    FROM documents GROUP BY source
)
SELECT d.doc_id, d.source, d.n_chars,
       floor((d.n_chars - CAST(t.s AS DOUBLE) / t.n)
             / sqrt(greatest(CAST(t.ss AS DOUBLE) / t.n
                             - (CAST(t.s AS DOUBLE) / t.n)
                               * (CAST(t.s AS DOUBLE) / t.n), 1e-12))
             * 10000 + 0.5) / 10000 AS z
FROM documents d JOIN stats t USING (source)
WHERE abs((d.n_chars - CAST(t.s AS DOUBLE) / t.n)
          / sqrt(greatest(CAST(t.ss AS DOUBLE) / t.n
                          - (CAST(t.s AS DOUBLE) / t.n)
                            * (CAST(t.s AS DOUBLE) / t.n), 1e-12))) > 2.0
""",
)
def dq_outliers(spark, sf_dir):
    """Data-quality anomaly flagging: per-source z-score of document
    length from EXACT integer sufficient statistics (n, Σx, Σx² as
    int64 — n_chars is integer, so the moments are exact at any
    partitioning), surfacing |z| > 2 outliers — the scan a pipeline
    dashboard runs to catch a crawler that started emitting truncated
    or concatenated pages into one source.

    Scale: one map-combined groupBy producing a sources-sized stats
    table, broadcast back into the scan stage; the z filter is
    stateless codegen. No windows, no sort."""
    d = table(spark, sf_dir, "documents")
    stats = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("n_chars").cast("bigint").alias("s"),
        F.sum(F.col("n_chars") * F.col("n_chars")).cast("bigint").alias("ss"),
    )
    mu = F.col("s").cast("double") / F.col("n")
    sd = F.sqrt(
        F.greatest(
            F.col("ss").cast("double") / F.col("n") - mu * mu, F.lit(1e-12)
        )
    )
    z = (F.col("n_chars") - mu) / sd
    return (
        d.join(F.broadcast(stats), "source")
        .filter(F.abs(z) > 2.0)
        .select("doc_id", "source", "n_chars", rnd(z, "z"))
    )


@register(
    "events_ab_test",
    oracle="""
WITH assigned AS (
    SELECT event_type, user_id % 2 AS variant, value
    FROM events WHERE value IS NOT NULL
),
moments AS (
    SELECT event_type, variant,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS s,
           CAST(sum(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE) AS ss
    FROM assigned GROUP BY event_type, variant
),
pivoted AS (
    SELECT a.event_type,
           a.n AS n_a, b.n AS n_b,
           a.s / a.n AS mean_a, b.s / b.n AS mean_b,
           (a.ss - a.n * (a.s / a.n) * (a.s / a.n)) / (a.n - 1) AS var_a,
           (b.ss - b.n * (b.s / b.n) * (b.s / b.n)) / (b.n - 1) AS var_b
    FROM moments a JOIN moments b USING (event_type)
    WHERE a.variant = 0 AND b.variant = 1 AND a.n > 1 AND b.n > 1
)
SELECT event_type, n_a, n_b,
       floor(mean_a * 10000 + 0.5) / 10000 AS mean_a,
       floor(mean_b * 10000 + 0.5) / 10000 AS mean_b,
       floor((mean_a - mean_b) / sqrt(var_a / n_a + var_b / n_b)
             * 10000 + 0.5) / 10000 AS t_welch
FROM pivoted
""",
)
def events_ab_test(spark, sf_dir):
    """A/B experiment readout: assign users to variants by a pure
    function of user_id (the deterministic hash split every experiment
    platform uses), then per event_type compute each variant's exact
    moments and the Welch t-statistic. Sums run through exact DECIMAL
    (value is 6dp-bounded), so means/variances/t are one fixed IEEE
    expression over identical doubles in both engines.

    Scale: ONE map-combined groupBy keyed by (event_type, variant) —
    the sufficient-statistics pattern again; the pivot join is over
    #event_types rows. No windows, no sort, no per-user state."""
    ev = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    assigned = ev.select(
        "event_type", (F.col("user_id") % 2).alias("variant"), "value"
    )
    m = assigned.groupBy("event_type", "variant").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("value").cast(DEC)).cast("double").alias("s"),
        F.sum((F.col("value") * F.col("value")).cast("decimal(38,6)"))
        .cast("double")
        .alias("ss"),
    )
    a = m.filter((F.col("variant") == 0) & (F.col("n") > 1)).select(
        "event_type",
        F.col("n").alias("n_a"),
        F.col("s").alias("s_a"),
        F.col("ss").alias("ss_a"),
    )
    b = m.filter((F.col("variant") == 1) & (F.col("n") > 1)).select(
        "event_type",
        F.col("n").alias("n_b"),
        F.col("s").alias("s_b"),
        F.col("ss").alias("ss_b"),
    )
    mean_a = F.col("s_a") / F.col("n_a")
    mean_b = F.col("s_b") / F.col("n_b")
    var_a = (F.col("ss_a") - F.col("n_a") * mean_a * mean_a) / (
        F.col("n_a") - 1
    )
    var_b = (F.col("ss_b") - F.col("n_b") * mean_b * mean_b) / (
        F.col("n_b") - 1
    )
    t = (mean_a - mean_b) / F.sqrt(
        var_a / F.col("n_a") + var_b / F.col("n_b")
    )
    return a.join(b, "event_type").select(
        "event_type",
        "n_a",
        "n_b",
        rnd(mean_a, "mean_a"),
        rnd(mean_b, "mean_b"),
        rnd(t, "t_welch"),
    )


@register(
    "agg_gini",
    oracle="""
WITH hist AS (
    SELECT source, n_chars AS v, count(*) AS c
    FROM documents GROUP BY source, n_chars
),
cum AS (
    SELECT source, v, c,
           sum(v * c) OVER (PARTITION BY source ORDER BY v
                            ROWS UNBOUNDED PRECEDING) AS s
    FROM hist
),
agg AS (
    SELECT source,
           CAST(sum(c) AS BIGINT) AS n,
           CAST(sum(v * c) AS BIGINT) AS w,
           CAST(sum(c * (2 * s - v * c)) AS BIGINT) AS t
    FROM cum GROUP BY source
)
SELECT source, n AS n_docs,
       floor((1.0 - CAST(t AS DOUBLE) / (CAST(n AS DOUBLE) * w))
             * 1000000 + 0.5) / 1000000 AS gini
FROM agg
""",
)
def agg_gini(spark, sf_dir):
    """Gini coefficient of the document-length distribution per source
    (Lorenz-curve trapezoid form) — the inequality diagnostic that
    catches a source mixing a few giant concatenated pages into a sea
    of stubs even when the mean looks normal.

    Scale (histogram pattern): lengths aggregate to a per-(source, v)
    histogram first, the Lorenz running sum runs over HISTOGRAM rows
    (bounded distinct lengths per source, never raw documents — the
    de-skew discipline from text_ccnet_bucket), and the trapezoid sum
    T = Σ c·(2S − v·c) stays exact int64, so the only float op is the
    final 1 − T/(n·W) division — engine- and partitioning-invariant."""
    d = table(spark, sf_dir, "documents")
    hist = d.groupBy("source", F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).alias("c")
    )
    w_cum = (
        Window.partitionBy("source")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.withColumn("s", F.sum(F.col("v") * F.col("c")).over(w_cum))
    agg = cum.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.col("v") * F.col("c")).cast("bigint").alias("w"),
        F.sum(
            F.col("c") * (2 * F.col("s") - F.col("v") * F.col("c"))
        ).cast("bigint").alias("t"),
    )
    gini = F.lit(1.0) - F.col("t").cast("double") / (
        F.col("n").cast("double") * F.col("w")
    )
    return agg.select(
        "source",
        F.col("n").alias("n_docs"),
        (F.floor(gini * 1000000 + F.lit(0.5)) / 1000000).alias("gini"),
    )


@register(
    "text_zipf_fit",
    oracle="""
WITH counts AS (
    SELECT word, count(*) AS n FROM (
        SELECT unnest(string_split(lower(text), ' ')) AS word
        FROM documents WHERE text IS NOT NULL AND length(text) > 0
    ) WHERE word <> '' GROUP BY word
),
pts AS (
    SELECT floor(ln(CAST(row_number() OVER (ORDER BY n DESC, word)
                         AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS x,
           floor(ln(CAST(n AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS y
    FROM counts
),
s AS (
    SELECT CAST(count(*) AS DOUBLE) AS n,
           CAST(sum(CAST(x AS DECIMAL(25,6))) AS DOUBLE) AS sx,
           CAST(sum(CAST(y AS DECIMAL(25,6))) AS DOUBLE) AS sy,
           CAST(sum(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
           CAST(sum(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx
    FROM pts
)
SELECT CAST(n AS BIGINT) AS n_vocab,
       floor(-((n * sxy - sx * sy) / (n * sxx - sx * sx)) * 10000 + 0.5)
           / 10000 AS zipf_s,
       floor((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
             * 10000 + 0.5) / 10000 AS log_c
FROM s
""",
)
def text_zipf_fit(spark, sf_dir):
    """Zipf-law fit of the corpus vocabulary: OLS of log(freq) on
    log(rank) over the frequency-ranked vocab, reporting the Zipf
    exponent s (natural language sits near 1; template spam or
    tokenizer bugs push it far off) and the intercept — the
    distributional health check next to text_vocab_coverage's
    coverage curve.

    Scale: word counts are one map-combined shuffle; the rank window
    and the regression run over the VOCAB histogram (distinct words,
    not the token stream) — the bounded-input window precedent of
    text_vocab_coverage. Log points are 6dp-quantized and summed as
    exact DECIMAL (ml_linreg's sufficient-statistics discipline), so
    the fitted line is one fixed IEEE expression in both engines."""
    d = table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    counts = (
        d.select(F.explode(F.split(F.lower("text"), " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    rank = F.row_number().over(Window.orderBy(F.col("n").desc(), "word"))
    q6 = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    pts = counts.select(
        q6(F.log(rank.cast("double"))).alias("x"),
        q6(F.log(F.col("n").cast("double"))).alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("x").cast(DEC)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(DEC)).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,6)"))
        .cast("double")
        .alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,6)"))
        .cast("double")
        .alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("n")
    return s.select(
        F.col("n").cast("bigint").alias("n_vocab"),
        rnd(-slope, "zipf_s"),
        rnd(intercept, "log_c"),
    )


@register(
    "dq_ks_drift",
    oracle="""
WITH hist AS (
    SELECT n_chars AS x,
           sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS a,
           sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS b
    FROM documents GROUP BY n_chars
),
cum AS (
    SELECT x,
           sum(a) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS ca,
           sum(b) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS cb,
           sum(a) OVER () AS na, sum(b) OVER () AS nb
    FROM hist
),
scored AS (
    SELECT x, na, nb,
           abs(CAST(ca AS DECIMAL(38,0)) * nb
               - CAST(cb AS DECIMAL(38,0)) * na) AS num
    FROM cum
)
SELECT CAST(x AS BIGINT) AS threshold,
       CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       floor(CAST(num AS DOUBLE) / (CAST(na AS DOUBLE) * nb) * 10000 + 0.5)
           / 10000 AS d
FROM scored ORDER BY num DESC, x LIMIT 1
""",
)
def dq_ks_drift(spark, sf_dir):
    """Two-sample Kolmogorov–Smirnov drift statistic between the
    English and non-English document-length distributions: D = max over
    thresholds of |F_en(x) − F_other(x)|, reported with the threshold
    where the ECDFs diverge most — the standard distribution-drift
    gate a data-quality harness runs between a new crawl batch and the
    reference corpus before admitting it.

    Exactness: the comparison runs on the integer numerator
    |cumA·nB − cumB·nA| (DECIMAL(38,0) — overflow-safe to ~1e19·rows),
    so the argmax and tie-break (smallest threshold) are exact; the one
    division to D happens once on the selected row.

    Scale: the corpus collapses to the n_chars HISTOGRAM in one
    map-combined groupBy (ml_stump's discipline); running sums and the
    TakeOrdered(1) argmax touch histogram rows only."""
    d = table(spark, sf_dir, "documents")
    hist = d.groupBy(F.col("n_chars").alias("x")).agg(
        F.sum((F.col("lang") == "en").cast("int")).alias("a"),
        F.sum((F.col("lang") != "en").cast("int")).alias("b"),
    )
    w_cum = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    cum = hist.select(
        "x",
        F.sum("a").over(w_cum).alias("ca"),
        F.sum("b").over(w_cum).alias("cb"),
        F.sum("a").over(w_all).alias("na"),
        F.sum("b").over(w_all).alias("nb"),
    )
    num = F.abs(
        F.col("ca").cast("decimal(38,0)") * F.col("nb")
        - F.col("cb").cast("decimal(38,0)") * F.col("na")
    )
    scored = cum.select("x", "na", "nb", num.alias("num"))
    return (
        scored.orderBy(F.desc("num"), F.asc("x"))
        .limit(1)
        .select(
            F.col("x").cast("bigint").alias("threshold"),
            F.col("na").cast("bigint").alias("n_a"),
            F.col("nb").cast("bigint").alias("n_b"),
            rnd(
                F.col("num").cast("double")
                / (F.col("na").cast("double") * F.col("nb")),
                "d",
            ),
        )
    )


_KANON_K = 5


@register(
    "dq_k_anonymity",
    oracle=f"""
WITH classes AS (
    SELECT lang, source, count(*) AS n
    FROM documents GROUP BY lang, source
),
pools AS (
    SELECT lang, sum(CASE WHEN n < {_KANON_K} THEN n ELSE 0 END) AS pool
    FROM classes GROUP BY lang
)
SELECT d.doc_id,
       CASE WHEN c.n >= {_KANON_K} THEN d.lang
            WHEN p.pool >= {_KANON_K} THEN d.lang
            ELSE '*' END AS lang_out,
       CASE WHEN c.n >= {_KANON_K} THEN d.source
            ELSE '*' END AS source_out
FROM documents d
JOIN classes c ON d.lang = c.lang AND d.source = c.source
JOIN pools p ON d.lang = p.lang
""",
)
def dq_k_anonymity(spark, sf_dir):
    """k-anonymization by hierarchical suppression: rows whose
    (lang, source) equivalence class has fewer than k=5 members leak
    identity, so their `source` is suppressed to '*', merging them into
    a per-language pool; if even that pool stays under k, `lang` is
    suppressed too (full generalization). The release-gate
    transformation a privacy audit applies to quasi-identifier columns
    before corpus publication — every emitted class is either
    unchanged-and-large-enough, pooled, or fully suppressed.

    Scale: the class table is bounded by |lang|x|source| (a broadcast),
    the pool table by |lang|; the data-sized work is one map-combined
    groupBy plus two broadcast joins — no row ever shuffles."""
    d = table(spark, sf_dir, "documents")
    classes = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n"))
    pools = classes.groupBy("lang").agg(
        F.sum(F.when(F.col("n") < _KANON_K, F.col("n")).otherwise(0)).alias(
            "pool"
        )
    )
    safe = F.col("n") >= _KANON_K
    return (
        d.join(F.broadcast(classes), ["lang", "source"])
        .join(F.broadcast(pools), "lang")
        .select(
            "doc_id",
            F.when(safe | (F.col("pool") >= _KANON_K), F.col("lang"))
            .otherwise("*")
            .alias("lang_out"),
            F.when(safe, F.col("source")).otherwise("*").alias("source_out"),
        )
    )


# Benford first-digit probabilities log10(1 + 1/d), embedded as literal
# doubles via repr() so BOTH engines parse the identical shortest
# round-trip decimal to the identical IEEE double (the SQL side casts
# explicitly to DOUBLE; DuckDB would otherwise type the literal as
# DECIMAL). Computing log10 at query time would instead compare two
# libm implementations — the portability hazard this table removes.
_BENFORD_P = {d: _math.log10(1.0 + 1.0 / d) for d in range(1, 10)}
_BENFORD_CASE = (
    "CASE digit "
    + " ".join(
        f"WHEN {d} THEN CAST({_BENFORD_P[d]!r} AS DOUBLE)" for d in range(1, 10)
    )
    + " END"
)


@register(
    "dq_benford",
    oracle=f"""
WITH digits AS (
  SELECT CAST(substring(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                             AS VARCHAR), 1, 1) AS INTEGER) AS digit
  FROM orders WHERE o_totalprice > 0
),
counts AS (
  SELECT digit, CAST(count(*) AS BIGINT) AS n FROM digits GROUP BY digit
)
SELECT digit, n,
       {o_rnd("CAST(n AS DOUBLE) / sum(n) OVER ()", "pct")},
       {o_rnd(f"CAST(n AS DOUBLE) / sum(n) OVER () - ({_BENFORD_CASE})", "dev")}
FROM counts
""",
)
def dq_benford(spark, sf_dir):
    """Benford's-law conformance of order totals: observed first-
    significant-digit frequencies vs log10(1+1/d), the classic fraud /
    synthetic-data / unit-mixup detector a warehouse DQ suite runs over
    every money column (hand-keyed or fabricated amounts flatten the
    digit curve; a cents-vs-dollars ingestion bug shifts it).

    First digit is extracted NUMERICALLY-EXACTLY: quantize to cents
    (floor(x*100+0.5) — identical IEEE arithmetic both engines, exact
    for x >= 0.01), then take the first character of the INTEGER's
    decimal string — integer-to-string is engine-identical, unlike
    double formatting or floor(log10(x)) at power-of-ten boundaries.
    Expected probabilities are shared literal doubles (see
    _BENFORD_CASE), not runtime log10 calls.

    Scale: one map-side-combined groupBy collapsing the scan to <= 9
    rows; the total window runs over those 9 aggregated rows, never the
    raw scan. Stateless per-row digit extraction in codegen."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    digit = F.substring(cents.cast("string"), 1, 1).cast("int")
    counts = (
        o.select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    total = F.sum("n").over(Window.partitionBy())
    pct_raw = F.col("n").cast("double") / total
    benford = F.expr(_BENFORD_CASE)
    return counts.select(
        "digit",
        "n",
        rnd(pct_raw, "pct"),
        rnd(pct_raw - benford, "dev"),
    )


# ---------------------------------------------------------------------------
# dq_volume_anomaly

_VOL_WIN = 7
_VOL_K = 3


@register(
    "dq_volume_anomaly",
    oracle=f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY 1
),
w AS (
    SELECT d, n,
           CAST(sum(n) OVER trail AS BIGINT) AS s7,
           CAST(sum(n * n) OVER trail AS BIGINT) AS ss7,
           CAST(count(*) OVER trail AS BIGINT) AS c7
    FROM daily
    WINDOW trail AS (ORDER BY d ROWS BETWEEN {_VOL_WIN} PRECEDING
                     AND 1 PRECEDING)
)
SELECT d AS day, n,
       {o_rnd("CAST(s7 AS DOUBLE) / c7", "trail_mean")},
       (abs(n - CAST(s7 AS DOUBLE) / c7) >
        {_VOL_K} * sqrt(CAST(ss7 AS DOUBLE) / c7
                        - (CAST(s7 AS DOUBLE) / c7)
                          * (CAST(s7 AS DOUBLE) / c7))) AS is_anomaly
FROM w WHERE c7 = {_VOL_WIN}
""",
)
def dq_volume_anomaly(spark, sf_dir):
    """Volume tripwire: each day's event count against the trailing
    7-day mean ± 3 population-σ, computed from EXACT integer
    sufficient statistics (Σn, Σn² over the trailing window — counts
    are integers, so the moments are partition-invariant; only the
    final mean/σ touch doubles, identically ordered in the oracle).
    Days without a full 7-day history are skipped, not guessed.

    The first check a pipeline dashboard runs before trusting a day's
    load: a crawler stall or duplicate-ingest bug shows up as a
    volume cliff/spike long before content-level checks notice.
    Daily counts are one map-combined groupBy; the trailing window
    runs over the days-sized aggregate, not events — cost is
    calendar-shaped, never corpus-shaped."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    trail = (
        Window.orderBy("d").rowsBetween(-_VOL_WIN, -1)
    )
    w = daily.select(
        "d",
        "n",
        F.sum("n").over(trail).cast("bigint").alias("s7"),
        F.sum(F.col("n") * F.col("n")).over(trail).cast("bigint").alias("ss7"),
        F.count(F.lit(1)).over(trail).cast("bigint").alias("c7"),
    ).where(F.col("c7") == _VOL_WIN)
    mean = F.col("s7").cast("double") / F.col("c7")
    var = (
        F.col("ss7").cast("double") / F.col("c7") - mean * mean
    )
    return w.select(
        F.col("d").alias("day"),
        "n",
        rnd(mean, "trail_mean"),
        (F.abs(F.col("n") - mean) > _VOL_K * F.sqrt(var)).alias("is_anomaly"),
    )


# --- events_transitions ---------------------------------------------------


@register(
    "events_transitions",
    oracle="""
WITH seq AS (
    SELECT user_id, event_type,
           lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_type
    FROM events
)
SELECT prev_type, event_type AS next_type, count(*) AS n
FROM seq WHERE prev_type IS NOT NULL
GROUP BY prev_type, next_type
""",
)
def events_transitions(spark, sf_dir):
    """First-order Markov transition matrix over per-user event
    sequences: lag(event_type) within (user_id, ts-order), then a
    global bigram count — the standard behavioural-analytics "what do
    users do next" query and the event-stream twin of text_bigram_lm.

    100 TB: one shuffle on user_id for the lag window (sessions are
    small, so no skew), one map-side-combining count over a
    |event_types|^2-bounded key space. Tie-break on event_id makes the
    lag order — and therefore the counts — deterministic."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --- profile_table --------------------------------------------------------

_PROFILE_COLS = (
    ("o_orderkey", "bigint"),
    ("o_custkey", "bigint"),
    ("o_orderstatus", "string"),
    ("o_totalprice", "double"),
    ("o_orderdate", "timestamp"),
    ("o_orderpriority", "string"),
)


def _render(col, dtype):
    """Engine-portable string rendering of a min/max value: fixed 2dp
    for doubles (format_string ~ printf), explicit timestamp format —
    never a bare double/timestamp->string cast, whose shortest-repr
    rules differ between engines."""
    if dtype == "double":
        return F.format_string("%.2f", col)
    if dtype == "timestamp":
        return F.date_format(col, "yyyy-MM-dd HH:mm:ss")
    return col.cast("string")


def _o_render(expr, dtype):
    if dtype == "double":
        return f"printf('%.2f', {expr})"
    if dtype == "timestamp":
        return f"strftime({expr}, '%Y-%m-%d %H:%M:%S')"
    return f"CAST({expr} AS VARCHAR)"


@register(
    "profile_table",
    oracle="\nUNION ALL\n".join(
        f"""SELECT '{c}' AS col_name,
       count(*) - count({c}) AS n_nulls,
       count(DISTINCT {c}) AS n_distinct,
       {_o_render(f"min({c})", t)} AS min_s,
       {_o_render(f"max({c})", t)} AS max_s
FROM orders"""
        for c, t in _PROFILE_COLS
    ),
)
def profile_table(spark, sf_dir):
    """Table profiling: per-column null count, exact distinct count,
    and min/max (rendered portably) for every column of `orders` — the
    data-quality summary every ingestion pipeline runs before
    training-data admission. Output is 6 rows regardless of input size.

    100 TB design, two passes with bounded shuffles: (1) nulls +
    min/max for ALL columns in one distinct-free aggregation —
    map-side partials collapse to one row per partition. (2) exact
    distinct counts via unpivot-then-two-level-groupBy: stack each row
    into narrow (col_name, value) pairs, groupBy(col_name, value) —
    whose map-side combine means the exchange carries only each
    column's DISTINCT set, not the row stream — then count per column.
    The earlier single-agg multi-countDistinct form made Catalyst
    Expand every row ×(cols+1) into one fat exchange (~7× the table
    through the shuffle); this form shuffles Σ|distinct(c)| narrow
    rows. Swap stage 2 for approx_count_distinct and the whole profile
    is a single combining pass (agg_approx shows that surface)."""
    o = table(spark, sf_dir, "orders")
    aggs = []
    for c, t in _PROFILE_COLS:
        aggs += [
            F.sum(F.col(c).isNull().cast("bigint")).alias(f"nn_{c}"),
            _render(F.min(F.col(c)), t).alias(f"mn_{c}"),
            _render(F.max(F.col(c)), t).alias(f"mx_{c}"),
        ]
    stack_base = ", ".join(
        f"'{c}', nn_{c}, mn_{c}, mx_{c}" for c, _ in _PROFILE_COLS
    )
    base = o.agg(*aggs).selectExpr(
        f"stack({len(_PROFILE_COLS)}, {stack_base})"
        " AS (col_name, n_nulls, min_s, max_s)"
    )
    stack_vals = ", ".join(
        f"'{c}', CAST({c} AS STRING)" for c, _ in _PROFILE_COLS
    )
    nd = (
        o.selectExpr(
            f"stack({len(_PROFILE_COLS)}, {stack_vals}) AS (col_name, v)"
        )
        .filter(F.col("v").isNotNull())
        .groupBy("col_name", "v")
        .agg(F.lit(1))
        .groupBy("col_name")
        .agg(F.count(F.lit(1)).alias("n_distinct"))
    )
    # Left join + coalesce: an all-NULL (or empty-table) column has no
    # nd row, but its profile row must still appear with n_distinct=0 —
    # dropping exactly the pathological columns would defeat the profiler.
    return base.join(F.broadcast(nd), "col_name", "left").select(
        "col_name",
        "n_nulls",
        F.coalesce(F.col("n_distinct"), F.lit(0)).alias("n_distinct"),
        "min_s",
        "max_s",
    )


@register(
    "dq_expectations",
    oracle="""
SELECT 'orderkey_unique' AS check_name,
       CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS n_violations
FROM orders
UNION ALL
SELECT 'custkey_not_null',
       CAST(count(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT)
FROM orders
UNION ALL
SELECT 'custkey_fk_valid', CAST(count(*) AS BIGINT)
FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_custkey IS NULL
UNION ALL
SELECT 'totalprice_positive',
       CAST(count(*) FILTER (WHERE o_totalprice <= 0) AS BIGINT)
FROM orders
UNION ALL
SELECT 'orderdate_in_range',
       CAST(count(*) FILTER (
           WHERE o_orderdate < TIMESTAMP '1992-01-01'
              OR o_orderdate >= TIMESTAMP '1999-01-01') AS BIGINT)
FROM orders
""",
)
def dq_expectations(spark, sf_dir):
    """Data-quality expectations (the Deequ / dbt-tests shape): declared
    constraints validated in bulk, one row per check with its violation
    count — uniqueness of the key, non-null and referentially valid
    foreign key, value range, date window. The gate every ingest runs
    before data is admitted downstream.

    Scale design: the four column checks share ONE scan (conditional
    aggregates, map-side combined — adding a check adds a column, not a
    pass); the referential check is a single anti-join against the
    dimension's key column (broadcast when dimension-sized; the scan
    prunes to the key via ReadSchema). Violation counts rather than
    booleans so triage starts from the same query that gated."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey")
    # Each SUM is coalesced to 0: on an empty table SUM is NULL while
    # the oracle's count(*) FILTER is 0, and a NULL violation count
    # would violate the repo's empty-input-safety principle.
    scan = o.agg(
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey"))
        .cast("bigint")
        .alias("orderkey_unique"),
        F.coalesce(F.sum(F.col("o_custkey").isNull().cast("bigint")), F.lit(0))
        .cast("bigint")
        .alias("custkey_not_null"),
        F.coalesce(F.sum((F.col("o_totalprice") <= 0).cast("bigint")), F.lit(0))
        .cast("bigint")
        .alias("totalprice_positive"),
        F.coalesce(
            F.sum(
                (
                    (F.col("o_orderdate") < F.lit("1992-01-01").cast("timestamp"))
                    | (
                        F.col("o_orderdate")
                        >= F.lit("1999-01-01").cast("timestamp")
                    )
                ).cast("bigint")
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("orderdate_in_range"),
    )
    fk = (
        o.select("o_custkey")
        .join(F.broadcast(c), o.o_custkey == c.c_custkey, "left_anti")
        .agg(F.count(F.lit(1)).cast("bigint").alias("custkey_fk_valid"))
    )
    wide = scan.crossJoin(F.broadcast(fk))
    names = (
        "orderkey_unique",
        "custkey_not_null",
        "custkey_fk_valid",
        "totalprice_positive",
        "orderdate_in_range",
    )
    stack = ", ".join(f"'{n}', {n}" for n in names)
    return wide.selectExpr(
        f"stack({len(names)}, {stack}) AS (check_name, n_violations)"
    )
