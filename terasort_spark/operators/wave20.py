"""Round-12 wave (session 2, batch 4): binary-code ANN, robust
anomaly detection, volume monitoring, and a Bloom-gated dedup ingest.

- ``sim_cosine_binary`` — sign-bit binary hashing for ANN (Charikar
  hyperplane-LSH degenerate case: the coordinate axes): 64-dim float
  embeddings compress to 64 BITS, candidate distance = Hamming via
  popcount(xor) — the cheapest vector-compression family after PQ
  (sim_cosine_pq, 8 bytes) and SQ8 (sim_cosine_sq8, 64 bytes): 8
  bytes/vector and the distance is two CPU instructions.
- ``ts_anomaly_mad`` — robust per-key anomaly flags via median
  absolute deviation (|x − med| > 3.5·MAD, the Iglewicz–Hoaglin
  rule): the robust-statistics counterpart of dq_outliers' moment
  z-score (one far outlier inflates σ and masks its neighbors; MAD
  doesn't budge).
- ``dq_volume_anomaly`` — day-over-day volume monitoring: each day's
  event count vs the trailing-7-day mean ± 3σ from exact integer
  sufficient statistics — the freshness/volume tripwire a pipeline
  dashboard runs before trusting a day's data.
- ``dedup_bloom_ingest`` — crawl-ingest gate: a Bloom filter built
  over the standing corpus's content digests admits only unseen
  documents from the new batch; false positives (deterministic here,
  md5-slice hashes) are dropped-though-new — the documented cost of a
  no-state-lookup gate, and exactly the accounting the oracle
  replays.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from terasort_spark.catalog import table
from terasort_spark.operators._util import hex_int, o_hex_int, o_rnd, rnd
from terasort_spark.registry import register

# ---------------------------------------------------------------------------
# sim_cosine_binary

_BIN_NQ = 10
_BIN_TOPK = 5


def _bin_word(word: int):
    """Bits 32*word .. 32*word+31 of the sign code as one bigint."""
    return F.expr(
        "aggregate(transform(sequence(0, 31), i -> IF(element_at(emb, "
        f"{32 * word} + i + 1) > 0D, shiftleft(cast(1 as bigint), i), "
        "cast(0 as bigint))), cast(0 as bigint), (a, x) -> a + x)"
    )


def _bin_word_sql(col: str, word: int) -> str:
    return (
        f"list_sum(list_transform(range(0, 32), i -> CASE WHEN "
        f"{col}[{32 * word} + i + 1] > 0 THEN (CAST(1 AS BIGINT) << i) "
        f"ELSE CAST(0 AS BIGINT) END))"
    )


def _binary_oracle() -> str:
    h = (
        f"(bit_count(xor(q.h0, c.h0)) + bit_count(xor(q.h1, c.h1)))"
    )
    return f"""
WITH codes AS (
    SELECT vec_id,
           CAST({_bin_word_sql("embedding", 0)} AS BIGINT) AS h0,
           CAST({_bin_word_sql("embedding", 1)} AS BIGINT) AS h1
    FROM embeddings
),
q AS (SELECT * FROM codes WHERE vec_id < {_BIN_NQ}),
c AS (SELECT * FROM codes WHERE vec_id >= {_BIN_NQ})
SELECT q_id, c_id, hamming, rn FROM (
    SELECT q.vec_id AS q_id, c.vec_id AS c_id,
           CAST({h} AS BIGINT) AS hamming,
           CAST(row_number() OVER (PARTITION BY q.vec_id
                ORDER BY {h}, c.vec_id) AS INTEGER) AS rn
    FROM q CROSS JOIN c)
WHERE rn <= {_BIN_TOPK}
"""


@register("sim_cosine_binary", oracle=_binary_oracle())
def sim_cosine_binary(spark, sf_dir):
    """Binary-code nearest neighbors: each 64-dim embedding becomes a
    64-bit sign code (bit i = coordinate i > 0 — hyperplane LSH with
    the coordinate axes as hyperplanes), held as two 32-bit halves in
    bigints so no shift ever touches the sign bit (the engine-safe
    layout agg_bloom_filter established). Top-5 per query by Hamming
    distance = popcount(xor) on each half — integer-exact, so the
    whole ranking hash-grades.

    This is the 8-byte compression point of the ANN family: SQ8 keeps
    64 bytes, PQ 8 bytes with codebooks and ADC lookups; binary codes
    need NO codebook and the distance is two xor+popcount
    instructions — the candidate-generation tier billion-scale systems
    scan first, re-ranking survivors with exact cosine
    (sim_cosine_topk's plan). The code build is one whole-stage-
    codegen projection; at 100 TB codes ride in a 64x smaller column
    and the scan is bandwidth-bound at 8 bytes/vector."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    )
    codes = e.select(
        "vec_id", _bin_word(0).alias("h0"), _bin_word(1).alias("h1")
    )
    q = F.broadcast(
        codes.where(F.col("vec_id") < _BIN_NQ).select(
            F.col("vec_id").alias("q_id"),
            F.col("h0").alias("q0"),
            F.col("h1").alias("q1"),
        )
    )
    c = codes.where(F.col("vec_id") >= _BIN_NQ).select(
        F.col("vec_id").alias("c_id"),
        F.col("h0").alias("c0"),
        F.col("h1").alias("c1"),
    )
    ham = (
        F.bit_count(F.col("q0").bitwiseXOR(F.col("c0")))
        + F.bit_count(F.col("q1").bitwiseXOR(F.col("c1")))
    ).cast("bigint")
    w = Window.partitionBy("q_id").orderBy(F.asc("hamming"), F.asc("c_id"))
    return (
        c.crossJoin(q)
        .withColumn("hamming", ham)
        .withColumn("rn", F.row_number().over(w).cast("int"))
        .where(F.col("rn") <= _BIN_TOPK)
        .select("q_id", "c_id", "hamming", "rn")
    )


# ---------------------------------------------------------------------------
# ts_anomaly_mad

_MAD_K = 3.5  # Iglewicz–Hoaglin robust-z cutoff (on raw MAD here)


@register(
    "ts_anomaly_mad",
    oracle=f"""
WITH ev AS (
    SELECT user_id, event_id, value AS v FROM events WHERE user_id % 5 = 0
),
med AS (
    SELECT user_id, avg(v) AS med FROM (
        SELECT user_id, v,
               row_number() OVER (PARTITION BY user_id ORDER BY v, event_id)
                   AS rn,
               count(*) OVER (PARTITION BY user_id) AS cnt
        FROM ev)
    WHERE rn IN ((cnt + 1) // 2, (cnt + 2) // 2)
    GROUP BY user_id
),
mad AS (
    SELECT user_id, avg(ad) AS mad FROM (
        SELECT e.user_id, abs(e.v - m.med) AS ad,
               row_number() OVER (PARTITION BY e.user_id
                   ORDER BY abs(e.v - m.med), e.event_id) AS rn,
               count(*) OVER (PARTITION BY e.user_id) AS cnt
        FROM ev e JOIN med m ON m.user_id = e.user_id)
    WHERE rn IN ((cnt + 1) // 2, (cnt + 2) // 2)
    GROUP BY user_id
)
SELECT e.user_id, e.event_id, {o_rnd("e.v", "value_r")},
       {o_rnd("abs(e.v - m.med)", "abs_dev")}
FROM ev e
JOIN med m ON m.user_id = e.user_id
JOIN mad d ON d.user_id = e.user_id
WHERE d.mad > 0 AND abs(e.v - m.med) > {_MAD_K!r} * d.mad
""",
)
def ts_anomaly_mad(spark, sf_dir):
    """Robust per-user anomaly flags: an event is anomalous when its
    absolute deviation from the user's MEDIAN value exceeds 3.5× the
    user's MEDIAN absolute deviation (Iglewicz–Hoaglin). Medians use
    the explicit lower/upper-middle row_number formula (the
    ts_theil_sen pattern), so every double replays exactly.

    Why next to dq_outliers (moment z-score): one genuine spike
    inflates σ enough to mask adjacent smaller anomalies and drags the
    mean toward itself; median and MAD have a 50% breakdown point, so
    the flags stay anchored to the bulk of the distribution. Two
    median passes = three shuffles on user_id total (values, absolute
    deviations, final join) — per-key cost O(n log n) in the sort,
    keys independent, no cross-key state. The standard robust monitor
    for per-entity metric streams."""
    ev = (
        table(spark, sf_dir, "events")
        .where(F.col("user_id") % 5 == 0)
        .select("user_id", "event_id", F.col("value").alias("v"))
    )

    def median_of(df, col, out):
        wo = Window.partitionBy("user_id").orderBy(F.col(col), "event_id")
        wc = Window.partitionBy("user_id")
        r = df.select(
            "user_id",
            F.col(col),
            F.row_number().over(wo).alias("rn"),
            F.count(F.lit(1)).over(wc).alias("cnt"),
        )
        return (
            r.where(
                (F.col("rn") == F.expr("(cnt + 1) div 2"))
                | (F.col("rn") == F.expr("(cnt + 2) div 2"))
            )
            .groupBy("user_id")
            .agg(F.avg(col).alias(out))
        )

    med = median_of(ev, "v", "med")
    devs = ev.join(med, "user_id").withColumn(
        "ad", F.abs(F.col("v") - F.col("med"))
    )
    mad = median_of(devs, "ad", "mad")
    return (
        devs.join(mad, "user_id")
        .where((F.col("mad") > 0) & (F.col("ad") > F.lit(_MAD_K) * F.col("mad")))
        .select(
            "user_id",
            "event_id",
            rnd(F.col("v"), "value_r"),
            rnd(F.col("ad"), "abs_dev"),
        )
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


# ---------------------------------------------------------------------------
# dedup_bloom_ingest

_BI_BITS = 4096  # 3 md5 nibbles = 12 bits -> exactly [0, 4096)
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
