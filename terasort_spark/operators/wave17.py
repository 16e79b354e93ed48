"""Round-12 wave (session 2): two more mergeable sketches, clustered
semantic dedup, equality deletes, and a robust trend estimator.

- ``agg_cms_topk`` — Count-Min sketch (d=4, w=64, portable mix32 row
  hashes): cells are plain counts, so the sketch is mergeable
  (map-side combinable) and the min-over-rows estimate replays
  exactly in SQL — the CM companion to r11's KMV/HLL portable
  sketches.
- ``agg_bloom_filter`` — a Bloom filter as a mergeable bit_or
  aggregate (m=4096 bits as 128 32-bit words, k=3): build over fact
  keys, probe dimension keys; false positives are a deterministic
  function of the portable hashes, so even the FP set hash-grades.
- ``dedup_semantic`` — SemDeDup-style clustered embedding dedup
  (Abbas et al. 2023): route vectors to their argmax-cosine centroid,
  then near-dup only WITHIN a cluster — the candidate-bounding trick
  that turns O(n²) cosine dedup into sum-of-cluster-sizes², the
  embedding twin of LSH bucketing (dedup_embcos is the unclustered
  exact slice).
- ``scan_equality_delete`` — Iceberg-v2 EQUALITY deletes
  (merge-on-read by key predicate + sequence number), complementing
  wave8's positional deletes: a delete file kills every earlier-
  sequence row with a matching key, so an upsert is delete+insert
  with no data-file rewrite.
- ``ts_theil_sen`` — Theil–Sen robust trend (median of pairwise
  slopes) per key, in per-day units.
"""

from __future__ import annotations

import shutil

from pyspark.sql import Window
from pyspark.sql import functions as F

from terasort_spark.catalog import table
from terasort_spark.operators._util import o_rnd, rnd, scratch_dir
from terasort_spark.registry import register
from terasort_spark.sources.tera_queries import mix32, mix32_sql

# ---------------------------------------------------------------------------
# agg_cms_topk

_CMS_D = 4
_CMS_W = 64


def _cms_hash(j: int):
    return mix32(F.lit(j * 1000003) + F.col("user_id")) % F.lit(_CMS_W)


def _cms_hash_sql(j: int) -> str:
    return f"({mix32_sql(f'{j * 1000003} + user_id')} % {_CMS_W})"


def _cms_oracle() -> str:
    hashes = ", ".join(_cms_hash_sql(j) for j in range(_CMS_D))
    js = ", ".join(str(j) for j in range(_CMS_D))
    return f"""
WITH cells AS (
    SELECT j, h, count(*) AS c FROM (
        SELECT user_id, unnest([{js}]) AS j, unnest([{hashes}]) AS h
        FROM events) GROUP BY j, h
),
exact AS (SELECT user_id, count(*) AS exact_n FROM events GROUP BY user_id),
keys AS (
    SELECT user_id, unnest([{js}]) AS j, unnest([{hashes}]) AS h
    FROM (SELECT DISTINCT user_id FROM events)
),
est AS (
    SELECT e.user_id, e.exact_n, CAST(min(c.c) AS BIGINT) AS cms_est
    FROM exact e
    JOIN keys k ON k.user_id = e.user_id
    JOIN cells c ON c.j = k.j AND c.h = k.h
    GROUP BY e.user_id, e.exact_n
)
SELECT user_id, CAST(exact_n AS BIGINT) AS exact_n, cms_est, rn FROM (
    SELECT user_id, exact_n, cms_est,
           CAST(row_number() OVER (ORDER BY exact_n DESC, user_id) AS INTEGER)
               AS rn
    FROM est)
WHERE rn <= 20
"""


@register("agg_cms_topk", oracle=_cms_oracle())
def agg_cms_topk(spark, sf_dir):
    """Count-Min sketch MERGE: two partial sketches built over disjoint
    halves of the events load, unioned by cell addition, then queried
    for the true top-20 users' frequency estimates next to their exact
    counts. d=4 rows x w=64 columns of independent mix32 row hashes —
    deliberately NARROW for the data (150 keys into 64 columns) so
    collisions actually exercise the min-over-rows estimate (91/150
    keys overestimated at sf0.01).

    The point beyond agg_heavyhitters (which grades a SINGLE-PASS CMS
    over md5-hashed tokens): cells are plain sums, so sketch UNION is
    plain cell-wise SUM — this query performs that union explicitly,
    the operation a cross-day/cross-source sketch rollup runs at
    ingest, and the single-pass oracle proves merge-equals-rebuild
    exactly. Estimates never undercount (module-tested):
    est(u) = min_j cell[j][h_j(u)] >= true count, with overestimates
    bounded by colliding mass; every hash is engine-portable, so the
    ESTIMATES (collision artifacts included) hash-grade.

    100 TB: each load's sketch is d*w integers regardless of corpus
    size; merge cost is d*w additions per pair of loads — the
    frequency-estimation primitive when the key space (URLs, shingles)
    is too large for an exact groupBy."""
    ev = table(spark, sf_dir, "events").select("event_id", "user_id")
    jh = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(j).alias("j"), _cms_hash(j).alias("h")
                )
                for j in range(_CMS_D)
            ]
        )
    ).alias("jh")

    # Build TWO independent partial sketches (disjoint halves of the
    # load) and MERGE them by cell addition — the union operation a
    # cross-day / cross-batch sketch rollup performs. Estimates from
    # the merged sketch equal the single-pass sketch exactly (cell sums
    # distribute), which is what the unchanged single-pass oracle
    # proves.
    def partial(df):
        return (
            df.select(jh)
            .select(F.col("jh.j").alias("j"), F.col("jh.h").alias("h"))
            .groupBy("j", "h")
            .agg(F.count(F.lit(1)).alias("c"))
        )

    cells = (
        partial(ev.where(F.col("event_id") % 2 == 0))
        .unionByName(partial(ev.where(F.col("event_id") % 2 == 1)))
        .groupBy("j", "h")
        .agg(F.sum("c").alias("c"))
    )
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_n"))
    keys = exact.select("user_id", jh).select(
        "user_id", F.col("jh.j").alias("j"), F.col("jh.h").alias("h")
    )
    est = (
        keys.join(cells, ["j", "h"])
        .groupBy("user_id")
        .agg(F.min("c").cast("bigint").alias("cms_est"))
    )
    w = Window.orderBy(F.desc("exact_n"), F.asc("user_id"))
    return (
        exact.join(est, "user_id")
        .withColumn("rn", F.row_number().over(w).cast("int"))
        .where(F.col("rn") <= 20)
        .select("user_id", "exact_n", "cms_est", "rn")
    )


# ---------------------------------------------------------------------------
# agg_bloom_filter

_BLOOM_BITS = 4096  # 128 words x 32 bits — shifts stay < 32 (engine-safe)
_BLOOM_K = 3


def _bloom_pos(i: int, col):
    return mix32(F.lit(i * 7919) + col) % F.lit(_BLOOM_BITS)


def _bloom_pos_sql(i: int, expr: str) -> str:
    return f"({mix32_sql(f'{i * 7919} + {expr}')} % {_BLOOM_BITS})"


def _bloom_oracle() -> str:
    build = ", ".join(_bloom_pos_sql(i, "k") for i in range(_BLOOM_K))
    probe = ", ".join(_bloom_pos_sql(i, "c_custkey") for i in range(_BLOOM_K))
    return f"""
WITH okeys AS (SELECT DISTINCT o_custkey AS k FROM orders),
words AS (
    SELECT (h // 32) AS word, bit_or(CAST(1 AS BIGINT) << (h % 32)) AS bits
    FROM (SELECT unnest([{build}]) AS h FROM okeys) GROUP BY 1
),
probe AS (SELECT c_custkey, unnest([{probe}]) AS h FROM customer),
hits AS (
    SELECT p.c_custkey,
           count(*) FILTER (
               WHERE (w.bits & (CAST(1 AS BIGINT) << (p.h % 32))) <> 0
           ) AS nbits
    FROM probe p LEFT JOIN words w ON w.word = p.h // 32
    GROUP BY p.c_custkey
)
SELECT c.c_custkey,
       (h.nbits = {_BLOOM_K}) AS bloom_hit,
       (ok.k IS NOT NULL) AS true_hit
FROM customer c
JOIN hits h ON h.c_custkey = c.c_custkey
LEFT JOIN okeys ok ON ok.k = c.c_custkey
"""


@register("agg_bloom_filter", oracle=_bloom_oracle())
def agg_bloom_filter(spark, sf_dir):
    """A Bloom filter as a MERGEABLE AGGREGATE: m=4096 bits (128
    32-bit words, shifts never touch the sign bit — DuckDB raises on
    1<<63 and Spark wraps, so 64-bit words would be engine-hostile),
    k=3 portable mix32 hashes. Build over the distinct orders fact
    keys as groupBy(word).bit_or(mask) — partial bitmaps OR-combine
    map-side, exactly how a filter is assembled across 1000 executors
    and shipped to a runtime scan filter (join_bloom / scan_bloom_skip
    consume engine-native filters; THIS query makes the bit layout
    itself portable and therefore gradeable).

    Probe the customer dimension: bloom_hit = all k bits set, next to
    the exact membership flag. No false negatives ever
    (module-tested); false positives exist at this load factor
    (~1500 non-member keys against 4096 bits) and are a DETERMINISTIC
    function of the hashes — the oracle reproduces the exact FP set,
    which is what makes a sketch auditable rather than approximately
    trusted."""
    okeys = (
        table(spark, sf_dir, "orders")
        .select(F.col("o_custkey").alias("k"))
        .distinct()
    )
    build = okeys.select(
        F.explode(
            F.array(*[_bloom_pos(i, F.col("k")) for i in range(_BLOOM_K)])
        ).alias("h")
    )
    words = (
        build.select(
            F.shiftright("h", 5).alias("word"),
            # variable-distance shift: F.shiftleft takes a literal count
            F.expr("shiftleft(cast(1 as bigint), cast(h % 32 as int))").alias(
                "mask"
            ),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )
    cust = table(spark, sf_dir, "customer").select("c_custkey")
    probe = cust.select(
        "c_custkey",
        F.explode(
            F.array(
                *[_bloom_pos(i, F.col("c_custkey")) for i in range(_BLOOM_K)]
            )
        ).alias("h"),
    )
    hits = (
        probe.withColumn("word", F.shiftright("h", 5))
        .join(F.broadcast(words), "word", "left")
        .withColumn(
            "bit_set",
            (
                F.col("bits").bitwiseAND(
                    F.expr("shiftleft(cast(1 as bigint), cast(h % 32 as int))")
                )
                != 0
            ).cast("int"),
        )
        .groupBy("c_custkey")
        .agg(F.sum("bit_set").alias("nbits"))
    )
    return (
        cust.join(hits, "c_custkey")
        .join(
            okeys.withColumnRenamed("k", "c_custkey").withColumn(
                "is_member", F.lit(True)
            ),
            "c_custkey",
            "left",
        )
        .select(
            "c_custkey",
            (F.col("nbits") == _BLOOM_K).alias("bloom_hit"),
            F.coalesce("is_member", F.lit(False)).alias("true_hit"),
        )
    )


# ---------------------------------------------------------------------------
# dedup_semantic

_SEM_K = 8  # centroid vectors: vec_id < 8
_SEM_TAU = 0.4


def _semdedup_oracle() -> str:
    from terasort_spark.operators.llm_similarity import _dot_sql, _norm_sql

    def cos(a, b):
        return f"{_dot_sql(a, b)} / ({_norm_sql(a)} * {_norm_sql(b)})"

    ccos = o_rnd(cos("v.embedding", "c.embedding"))
    pcos = o_rnd(cos("ea.embedding", "eb.embedding"))
    return f"""
WITH cents AS (SELECT vec_id AS cent_id, embedding FROM embeddings
               WHERE vec_id < {_SEM_K}),
asg AS (
    SELECT vec_id, cent_id AS cluster FROM (
        SELECT v.vec_id, c.cent_id,
               row_number() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY {ccos} DESC, c.cent_id) AS rn
        FROM embeddings v CROSS JOIN cents c) WHERE rn = 1
)
SELECT a.vec_id, CAST(a.cluster AS BIGINT) AS cluster,
       EXISTS (
           SELECT 1 FROM asg b
           JOIN embeddings eb ON eb.vec_id = b.vec_id
           JOIN embeddings ea ON ea.vec_id = a.vec_id
           WHERE b.cluster = a.cluster AND b.vec_id < a.vec_id
             AND {pcos} >= {_SEM_TAU!r}
       ) AS is_dup
FROM asg a
"""


@register("dedup_semantic", oracle=_semdedup_oracle())
def dedup_semantic(spark, sf_dir):
    """SemDeDup-style clustered semantic dedup (Abbas et al. 2023):
    (1) route every embedding to its argmax-cosine centroid (here the
    first K=8 vectors as fixed deterministic centroids; production
    seeds them with emb_kmeans), (2) compare pairs only WITHIN a
    cluster, (3) mark a vector duplicate when an earlier (smaller
    vec_id) cluster-mate has cosine >= 0.4 — keep-earliest, the
    deterministic greedy.

    The cluster routing is the whole point at scale: candidate cost
    drops from n²/2 to Σ|cluster|²/2, and each cluster's pair join is
    an equi-join on the cluster key — the embedding-space twin of
    MinHash-LSH banding (dedup_embcos is the unclustered exact slice;
    sim_cosine_ivf uses the same routing idea for search). Assignment
    broadcasts K vectors; ties break to the smaller centroid id.
    Cosines round to 4dp via the shared dot_fold (bit-identical to
    the oracle's list_sum twin), so the EXISTS set replays exactly."""
    from terasort_spark.operators.llm_similarity import dot_fold

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    )
    cents = F.broadcast(
        e.where(F.col("vec_id") < _SEM_K).select(
            F.col("vec_id").alias("cent_id"), F.col("emb").alias("cemb")
        )
    )

    # Precompute each vector's norm ONCE (sqrt of the same fold the
    # oracle's per-pair recomputation runs — identical doubles, 1/3 the
    # fold work in the pair join: dot only, not dot + two norms).
    e = e.withColumn("nrm", F.sqrt(dot_fold(F.col("emb"), F.col("emb"))))
    cents = F.broadcast(
        cents.withColumn(
            "cnrm", F.sqrt(dot_fold(F.col("cemb"), F.col("cemb")))
        )
    )

    w = Window.partitionBy("vec_id").orderBy(
        F.desc("ccos"), F.asc("cent_id")
    )
    ccos = dot_fold(F.col("emb"), F.col("cemb")) / (
        F.col("nrm") * F.col("cnrm")
    )
    asg = (
        e.crossJoin(cents)
        .withColumn("ccos", rnd(ccos))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", F.col("cent_id").alias("cluster"), "emb", "nrm")
        # materialize the assignment once: three downstream consumers
        # (both pair sides + the label read-off) would otherwise each
        # re-derive the centroid cross; at corpus scale the assignment
        # is a persisted table (the sink_ann_index pattern)
        .localCheckpoint(eager=True)
    )
    a = asg.select(
        F.col("vec_id").alias("a_id"),
        "cluster",
        F.col("emb").alias("a_emb"),
        F.col("nrm").alias("a_nrm"),
    )
    b = asg.select(
        F.col("vec_id").alias("b_id"),
        F.col("cluster").alias("b_cluster"),
        F.col("emb").alias("b_emb"),
        F.col("nrm").alias("b_nrm"),
    )
    pcos = dot_fold(F.col("a_emb"), F.col("b_emb")) / (
        F.col("a_nrm") * F.col("b_nrm")
    )
    dups = (
        a.join(
            b,
            (F.col("cluster") == F.col("b_cluster"))
            & (F.col("b_id") < F.col("a_id")),
        )
        .withColumn("pcos", rnd(pcos))
        .where(F.col("pcos") >= _SEM_TAU)
        .select(F.col("a_id").alias("vec_id"))
        .distinct()
        .withColumn("dup", F.lit(True))
    )
    return (
        asg.join(dups, "vec_id", "left")
        .select(
            "vec_id",
            F.col("cluster").cast("bigint").alias("cluster"),
            F.coalesce("dup", F.lit(False)).alias("is_dup"),
        )
    )


# ---------------------------------------------------------------------------
# scan_equality_delete


@register(
    "scan_equality_delete",
    # relational statement of the upsert outcome: non-deleted base rows
    # plus the re-inserted new versions of the deleted keys
    oracle="""
SELECT o_orderkey, o_custkey, o_orderstatus,
       floor(o_totalprice * 10000 + 0.5) / 10000 AS price,
       CAST(1 AS BIGINT) AS seq
FROM orders WHERE o_custkey % 13 <> 0
UNION ALL
SELECT o_orderkey, o_custkey, o_orderstatus,
       floor((o_totalprice + 1000) * 10000 + 0.5) / 10000 AS price,
       CAST(3 AS BIGINT) AS seq
FROM orders WHERE o_custkey % 13 = 0
""",
)
def scan_equality_delete(spark, sf_dir):
    """Merge-on-read EQUALITY deletes — Iceberg v2's second delete
    flavor, complementing wave8's positional deletes
    (scan_position_delete): a delete file carries KEY VALUES plus the
    sequence number at which they apply, and a reader drops every data
    row whose key matches AND whose sequence is OLDER than the
    delete's. An upsert is then delete(key)@seq + insert(new row)@seq
    with zero data-file rewrites.

    Staged here as the classic upsert flow: base snapshot at seq=1,
    equality-delete file for o_custkey % 13 = 0 at seq=2, re-insert
    of those keys (price restated +1000) at seq=3. The read path is
    data-scan → LEFT ANTI against the (broadcast) delete file on the
    compound condition (key match AND delete.seq > row.seq) — the
    new seq-3 versions survive their own key's earlier delete. The
    oracle states the upsert outcome relationally, so a hash match
    proves the sequencing drops and resurrects nothing.

    100 TB: equality deletes cost O(deleted keys) in storage and a
    broadcastable side at read; unlike positional deletes they don't
    need to know where matching rows live — the flavor streaming CDC
    writers emit (cdc.py applies full change feeds; this is the
    storage-layer primitive under them)."""
    data_dir = scratch_dir(spark, "eqdel_data")
    del_dir = scratch_dir(spark, "eqdel_deletes")
    shutil.rmtree(data_dir, ignore_errors=True)
    shutil.rmtree(del_dir, ignore_errors=True)

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    base = orders.withColumn("seq", F.lit(1).cast("long"))
    base.write.mode("overwrite").parquet(data_dir)
    upserts = (
        orders.where(F.col("o_custkey") % 13 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + 1000)
        .withColumn("seq", F.lit(3).cast("long"))
    )
    upserts.write.mode("append").parquet(data_dir)
    (
        orders.where(F.col("o_custkey") % 13 == 0)
        .select(F.col("o_custkey").alias("k"))
        .distinct()
        .withColumn("del_seq", F.lit(2).cast("long"))
        .write.mode("overwrite")
        .parquet(del_dir)
    )

    schema = (
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, seq bigint"
    )
    data = spark.read.schema(schema).parquet(data_dir)
    deletes = spark.read.schema("k bigint, del_seq bigint").parquet(del_dir)
    cond = (data.o_custkey == deletes.k) & (deletes.del_seq > data.seq)
    return data.join(F.broadcast(deletes), cond, "left_anti").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        rnd(F.col("o_totalprice"), "price"),
        "seq",
    )


# ---------------------------------------------------------------------------
# ts_theil_sen

_US_PER_DAY = 86400000000.0


@register(
    "ts_theil_sen",
    oracle=f"""
WITH ev AS (
    SELECT user_id, epoch_us(ts) AS t, value AS v
    FROM events WHERE user_id % 10 = 0
),
slopes AS (
    SELECT a.user_id,
           ((b.v - a.v) * {_US_PER_DAY!r}) / CAST(b.t - a.t AS DOUBLE) AS s
    FROM ev a JOIN ev b ON a.user_id = b.user_id AND a.t < b.t
),
ranked AS (
    SELECT user_id, s,
           row_number() OVER (PARTITION BY user_id ORDER BY s) AS rn,
           count(*) OVER (PARTITION BY user_id) AS cnt
    FROM slopes
)
SELECT user_id, CAST(max(cnt) AS BIGINT) AS n_pairs,
       {o_rnd("avg(s)", "slope_per_day", nd=6)}
FROM ranked
WHERE rn IN ((cnt + 1) // 2, (cnt + 2) // 2)
GROUP BY user_id
""",
)
def ts_theil_sen(spark, sf_dir):
    """Theil–Sen robust trend estimator per user: the MEDIAN of all
    pairwise slopes (v_j - v_i)/(t_j - t_i), i < j by time — a 29%-
    breakdown-point trend that one outlier can't drag (vs ts_cusum's
    mean-shift detection and ml_linreg's least squares). Slopes are in
    per-day units (microsecond timestamps scaled by 86400e6, double
    math in the same operation order on both engines), medians take
    the lower/upper-middle average via the explicit row_number
    formula — identical arithmetic in the oracle, 6dp.

    The pair join is per-key (equi-join on user_id with t_a < t_b), so
    cost is Σ n_k²/2 bounded by the largest single key (~67 events →
    ~2.2k pairs at sf0.01), never a cross-corpus product; keys are
    independent and shuffle once on user_id. At 100 TB per-key history
    grows: production bounds pairs per key (sampled pairs estimate the
    same median within stated error) — here the %10 user slice keeps
    the exhibit exact."""
    ev = (
        table(spark, sf_dir, "events")
        .where(F.col("user_id") % 10 == 0)
        .select("user_id", F.unix_micros("ts").alias("t"), F.col("value").alias("v"))
    )
    a = ev.select("user_id", F.col("t").alias("ta"), F.col("v").alias("va"))
    b = ev.select(
        F.col("user_id").alias("ub"),
        F.col("t").alias("tb"),
        F.col("v").alias("vb"),
    )
    slopes = (
        a.join(b, (a.user_id == b.ub) & (a.ta < b.tb))
        .select(
            "user_id",
            (
                ((F.col("vb") - F.col("va")) * F.lit(_US_PER_DAY))
                / (F.col("tb") - F.col("ta")).cast("double")
            ).alias("s"),
        )
    )
    wo = Window.partitionBy("user_id").orderBy("s")
    wc = Window.partitionBy("user_id")
    ranked = slopes.select(
        "user_id",
        "s",
        F.row_number().over(wo).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("cnt"),
    )
    mid = ranked.where(
        (F.col("rn") == F.expr("(cnt + 1) div 2"))
        | (F.col("rn") == F.expr("(cnt + 2) div 2"))
    )
    return mid.groupBy("user_id").agg(
        F.max("cnt").cast("bigint").alias("n_pairs"),
        rnd(F.avg("s"), "slope_per_day", nd=6),
    )
