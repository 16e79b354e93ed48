"""Round-12 wave (session 2, batch 3): late-interaction retrieval,
an AMS moment sketch, outer stream-stream joins, recency decay, and
quality-aware dedup keeper selection.

- ``sim_maxsim`` — ColBERT-style late-interaction scoring (Khattab &
  Zaharia, SIGIR'20): score(q, d) = Σ over query token vectors of the
  max cosine against any document token vector. Token vectors here are
  deterministic 8-dim slices of the 64-dim embeddings (the Spark-side
  plumbing — explode, per-token max, per-pair sum — is the real
  operator; a production corpus supplies real token embeddings).
- ``agg_ams_f2`` — the AMS / tug-of-war sketch for the second
  frequency moment F2 = Σ f_k² (Alon–Matias–Szegedy, STOC'96): k=16
  ±1-hash estimators, each a plain SUM over rows — the third portable
  mergeable-sketch family after CMS (agg_cms_topk) and KMV
  (agg_kmv_theta); F2 is the self-join size / skew statistic a
  planner's join estimator wants.
- ``stream_join_outer`` — LEFT OUTER stream-stream join semantics:
  unmatched left rows must be emitted with nulls once the watermark
  passes their join window (the batch twin is the graded form; the
  streaming equivalence, including the null emissions, is asserted in
  tests/test_wave19.py with a watermark-advancing sentinel).
- ``agg_decay_counter`` — recency-weighted engagement: cents decayed
  by 2^-(age_days div 30), all in exact int64 (power-of-two weights,
  no floating decay drift) — the feature-pipeline primitive behind
  "recent activity" scores, mergeable because it is a plain SUM at a
  fixed reference date.
- ``dedup_cluster_keepbest`` — duplicate clustering + QUALITY-AWARE
  keeper: keep the longest (then smallest-id) document per
  near-duplicate cluster, not the smallest-id one — what a curation
  pipeline actually ships (dedup_minhash/dedup_cluster keep by id).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from terasort_spark.catalog import table
from terasort_spark.operators._util import o_rnd, rnd
from terasort_spark.registry import register
from terasort_spark.sources.tera_queries import mix32, mix32_sql

# ---------------------------------------------------------------------------
# sim_maxsim

_MS_TOK = 8  # token vectors per embedding (64 dims -> 8 x 8)
_MS_DIM = 8
_MS_NQ = 5  # query vectors: vec_id < 5
_MS_TOPK = 3


def _maxsim_oracle() -> str:
    from terasort_spark.operators.llm_similarity import _dot_sql, _norm_sql

    cos = (
        f"{_dot_sql('q.tv', 'c.tv')} / ({_norm_sql('q.tv')} * {_norm_sql('c.tv')})"
    )
    return f"""
WITH toks AS (
    SELECT vec_id, t,
           list_slice(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                      (t - 1) * {_MS_DIM} + 1, t * {_MS_DIM}) AS tv
    FROM embeddings,
         LATERAL (SELECT unnest(generate_series(1, {_MS_TOK})) AS t)
),
q AS (SELECT * FROM toks WHERE vec_id < {_MS_NQ}),
c AS (SELECT * FROM toks WHERE vec_id >= {_MS_NQ}),
tok_max AS (
    SELECT q.vec_id AS q_id, c.vec_id AS c_id, q.t AS qt,
           max({o_rnd(cos)}) AS m
    FROM q JOIN c ON true
    GROUP BY q.vec_id, c.vec_id, q.t
),
scores AS (
    SELECT q_id, c_id, {o_rnd("sum(m)", "maxsim")}
    FROM tok_max GROUP BY q_id, c_id
)
SELECT q_id, c_id, maxsim, rn FROM (
    SELECT q_id, c_id, maxsim,
           CAST(row_number() OVER (PARTITION BY q_id
                ORDER BY maxsim DESC, c_id) AS INTEGER) AS rn
    FROM scores)
WHERE rn <= {_MS_TOPK}
"""


@register("sim_maxsim", oracle=_maxsim_oracle())
def sim_maxsim(spark, sf_dir):
    """ColBERT-style late-interaction top-3: each of 5 query vectors is
    split into 8 token vectors (8-dim slices, deterministic), every
    candidate likewise; score = Σ_qt max_ct cosine(qt, ct). Late
    interaction beats single-vector cosine when different query tokens
    match different document regions — the granularity single-vector
    retrieval (sim_cosine_topk) averages away.

    Plan shape: explode both sides to token rows, broadcast the (tiny)
    query-token side, one equi-free token join bounded by
    |q_tokens| × |c_tokens|, then two aggregations — per-(pair, query
    token) MAX, per-pair SUM — both map-side combinable. Per-token
    max is the WindowGroupLimit-free formulation (groupBy max beats a
    window here: no ordering needed). At corpus scale the candidate
    set comes from an ANN prefilter (sim_cosine_ivf) and MaxSim
    re-ranks the shortlist — exactly how late-interaction systems
    deploy; the 4dp-rounded per-token cosines reuse the shared
    dot_fold, so the whole score replays in SQL."""
    from terasort_spark.operators.llm_similarity import dot_fold

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    )
    toks = e.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("t"),
                        F.slice("emb", (t - 1) * _MS_DIM + 1, _MS_DIM).alias(
                            "tv"
                        ),
                    )
                    for t in range(1, _MS_TOK + 1)
                ]
            )
        ).alias("tok"),
    ).select("vec_id", F.col("tok.t").alias("t"), F.col("tok.tv").alias("tv"))
    q = F.broadcast(
        toks.where(F.col("vec_id") < _MS_NQ).select(
            F.col("vec_id").alias("q_id"),
            F.col("t").alias("qt"),
            F.col("tv").alias("qv"),
        )
    )
    c = toks.where(F.col("vec_id") >= _MS_NQ).select(
        F.col("vec_id").alias("c_id"), F.col("tv").alias("cv")
    )
    cos = dot_fold(F.col("qv"), F.col("cv")) / (
        F.sqrt(dot_fold(F.col("qv"), F.col("qv")))
        * F.sqrt(dot_fold(F.col("cv"), F.col("cv")))
    )
    tok_max = (
        c.crossJoin(q)
        .withColumn("cc", rnd(cos))
        .groupBy("q_id", "c_id", "qt")
        .agg(F.max("cc").alias("m"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("maxsim"), F.asc("c_id"))
    return (
        tok_max.groupBy("q_id", "c_id")
        .agg(rnd(F.sum("m"), "maxsim"))
        .withColumn("rn", F.row_number().over(w).cast("int"))
        .where(F.col("rn") <= _MS_TOPK)
        .select("q_id", "c_id", "maxsim", "rn")
    )


# ---------------------------------------------------------------------------
# agg_ams_f2

_AMS_K = 16


# seed stride keeps j*stride + user_id < 2^31 (mix32's overflow-safe
# input range) for all j < k and any plausible key
def _ams_sign_sql(j: int) -> str:
    return f"(({mix32_sql(f'{j * 7000003} + user_id')} % 2) * 2 - 1)"


def _ams_sign(j: int):
    return (mix32(F.lit(j * 7000003) + F.col("user_id")) % 2) * 2 - 1


def _ams_oracle() -> str:
    signs = ", ".join(_ams_sign_sql(j) for j in range(_AMS_K))
    return f"""
WITH s AS (
    SELECT j, CAST(sum(sgn) AS BIGINT) AS sj FROM (
        SELECT unnest(range({_AMS_K})) AS j, unnest([{signs}]) AS sgn
        FROM events) GROUP BY j
),
est AS (SELECT CAST(sum(sj * sj) // {_AMS_K} AS BIGINT) AS f2_est FROM s),
exact AS (
    SELECT CAST(sum(f * f) AS BIGINT) AS f2_exact FROM (
        SELECT count(*) AS f FROM events GROUP BY user_id)
)
SELECT exact.f2_exact, est.f2_est FROM exact, est
"""


@register("agg_ams_f2", oracle=_ams_oracle())
def agg_ams_f2(spark, sf_dir):
    """AMS (tug-of-war) estimate of the second frequency moment
    F2 = Σ_u f_u² over event user_ids, next to the exact value. Each of
    k=16 estimators keeps ONE integer: S_j = Σ_rows sign_j(user_id)
    with ±1 from a portable mix32 bit; E[S_j²] = F2, and the estimate
    is the mean of the squares — here exact integer arithmetic end to
    end, so the estimate (including its variance-driven error)
    hash-grades against the SQL replay.

    F2 is the self-join size: the statistic that prices a join on a
    skewed key (join_salted's trigger) and the repetition mass a dedup
    pass will find — computable in ONE streaming pass with k counters
    where the exact answer needs a full groupBy. The sketch is a
    vector of k sums: partial aggregation combines map-side, sketch
    union is element-wise addition — the third mergeable-sketch family
    here after CMS and KMV."""
    ev = table(spark, sf_dir, "events").select("user_id")
    # The k counters are k sum COLUMNS of one global aggregate — no
    # row explosion, no shuffle keyed on the estimator index (r12; was
    # explode x k -> groupBy(j), which shipped k rows per event to pay
    # for a k-long vector). Partial aggregation folds the same ±1
    # stream into k longs per map task and the merge is element-wise
    # addition — the mergeable-sketch property, now literally the plan.
    sums = ev.agg(
        *[
            F.sum(_ams_sign(j).cast("long")).cast("bigint").alias(f"s{j}")
            for j in range(_AMS_K)
        ]
    )
    sq = " + ".join(f"s{j} * s{j}" for j in range(_AMS_K))
    est = sums.select(
        F.expr(f"cast(({sq}) div {_AMS_K} as bigint)").alias("f2_est")
    )
    exact = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("f"))
        .agg(F.sum(F.col("f") * F.col("f")).cast("bigint").alias("f2_exact"))
    )
    return exact.crossJoin(est)


# ---------------------------------------------------------------------------
# stream_join_outer


@register(
    "stream_join_outer",
    oracle="""
SELECT p.event_id AS p_id, c.event_id AS c_id
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND c.ts <= p.ts
 AND c.ts >= p.ts - INTERVAL 30 MINUTE
""",
)
def stream_join_outer(spark, sf_dir):
    """Batch twin of the watermarked LEFT OUTER stream-stream join:
    every purchase joined to same-user clicks in the preceding 30
    minutes, purchases with NO such click emitted once with a null
    click id. The outer side is the semantics inner joins
    (stream_join) cannot give: "purchases without an attributable
    click" is itself the signal (unattributed conversions).

    In streaming, Spark buffers left rows in state and emits the
    null-padded row only when the WATERMARK passes the row's join
    window (proving no match can still arrive) — state eviction and
    null emission are the same event. tests/test_wave19.py asserts the
    replayed stream (with a watermark-advancing sentinel chunk, so the
    final purchases' windows close) equals this batch twin EXACTLY,
    null rows included. At scale both sides shuffle on user_id once;
    state per key is bounded by the 30-minute window + watermark
    delay."""
    ev = table(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    c = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    cond = (
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
    )
    return p.join(c, cond, "left").select("p_id", "c_id")


# ---------------------------------------------------------------------------
# agg_decay_counter

_DECAY_HALFLIFE_DAYS = 30
_DECAY_MAX_STEPS = 40  # cap the shift; older mass contributes 0 anyway
_DECAY_SCALE = 1 << _DECAY_MAX_STEPS


@register(
    "agg_decay_counter",
    oracle=f"""
WITH ref AS (SELECT max(CAST(ts AS DATE)) AS t0 FROM events),
w AS (
    SELECT user_id,
           CAST(floor(value * 100 + 0.5) AS BIGINT)
           * (CAST({_DECAY_SCALE} AS BIGINT) >> least(
                 CAST(date_diff('day', CAST(ts AS DATE), ref.t0) AS BIGINT)
                 // {_DECAY_HALFLIFE_DAYS}, {_DECAY_MAX_STEPS})) AS du
    FROM events, ref
)
SELECT user_id, CAST(sum(du) AS BIGINT) AS decayed_units
FROM w GROUP BY user_id
""",
)
def agg_decay_counter(spark, sf_dir):
    """Recency-weighted engagement score per user: each event's exact
    cents weighted by 2^-(age_days div 30) — a step-wise 30-day
    half-life decay anchored at the corpus max date. Weights are
    powers of two applied as integer shifts on a 2^40 scale, so the
    whole score is EXACT int64 arithmetic: order-independent,
    partition-invariant, and bit-identical in the oracle (float
    exp()-decay would differ in last-ulp between libm
    implementations — the same reason the engine's PageRank is
    integer-quantized).

    The step decay keeps the aggregate a PLAIN SUM at a fixed
    reference date — mergeable map-side, incrementable batch over
    batch (re-anchoring divides all standing mass by a power of two:
    one shift per key, no re-scan). The feature-pipeline primitive
    behind "recent activity" ranking signals."""
    ev = table(spark, sf_dir, "events")
    t0 = F.broadcast(
        ev.agg(F.max(F.to_date("ts")).alias("t0"))
    )  # one scalar row: the reference date
    # integer division for the step count, then an integer shift
    steps_i = F.least(
        F.expr(
            f"cast(datediff(t0, to_date(ts)) as bigint) div {_DECAY_HALFLIFE_DAYS}"
        ),
        F.lit(_DECAY_MAX_STEPS).cast("bigint"),
    )
    du = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint") * F.expr(
        f"shiftright(cast({_DECAY_SCALE} as bigint), cast(steps_i as int))"
    )
    return (
        ev.crossJoin(t0)
        .withColumn("steps_i", steps_i)
        .withColumn("du", du)
        .groupBy("user_id")
        .agg(F.sum("du").cast("bigint").alias("decayed_units"))
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
    from terasort_spark.operators.llm_dedup import dedup_cluster

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
