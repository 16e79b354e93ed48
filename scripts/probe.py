"""Scale probes: one runner with one spec per workload family.

    python scripts/probe.py tera    [n_rows] [n_partitions] [mode]
    python scripts/probe.py agg     [n_rows] [mode] [--only W] [--hot-frac K]
    python scripts/probe.py window  [n_rows] [mode] [--only W] [--hot-frac K]
    python scripts/probe.py tws     [n_rows] [n_keys]
    python scripts/probe.py cc      [point ...]
    python scripts/probe.py scaleup [--only q1,q2] [--scales 1,2,5,10]

Each spec prints one JSON line per measured point on stdout, carrying
``spec`` and ``ok``; the run exits 1 if any point is not ok. The
methodology of each probe is the docstring of its spec function below.

The agg, window and tws specs share one deterministic event generator
(``events``): rows are derived in-executor from row ids by xxhash64
streams, so there is no input scan and no sink, and the measured cost is
exactly the shuffle, window and aggregate work. Results are compared by
one order-insensitive checksum (``summarize``), so a lost or duplicated
row shows. ``--only`` runs one workload in its own JVM: shuffle files
are freed on exit, which matters above ~10 GB, where two workloads' live
shuffle files exceed the local disk; the printed checksums are
deterministic, so parity can still be checked across runs.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from terasort_spark.catalog import DEFAULT_SF_DIR  # noqa: E402
from terasort_spark.operators.graph import lsh_edges, star_components  # noqa: E402
from terasort_spark.operators.streaming import running_totals, tws_fold  # noqa: E402
from terasort_spark.operators.timeseries import autocorr_stats, lead_columns  # noqa: E402
from terasort_spark.registry import queries  # noqa: E402
from terasort_spark.session import get_spark  # noqa: E402
from terasort_spark.sources.teragen import checksum, teragen, terasort, teravalidate  # noqa: E402

SPAN = 30 * 86400  # event timestamps span 30 days
BUCKET = 3600  # agg's two-phase rewrite bucket: one hour
GAP = 1800  # session gap, seconds
EVENT_BYTES = 24  # logical width of an event row: 3 int64 columns
TIMED_REPS = 2  # scaleup: timed reps per (query, scale), after one warm-up

SPECS = {}


def spec(*args):
    """Register a spec function under its name, with its argparse
    arguments as ``(flags, kwargs)`` pairs."""

    def deco(fn):
        SPECS[fn.__name__] = (fn, args)
        return fn

    return deco


def events(spark, n: int, n_users: int, hot_frac: int | None = None):
    """``n`` deterministic rows of the events table's schema. With
    ``hot_frac`` K, 1/K of all rows go to user 0: the bot or viral entity
    whose rows a plain per-key window or exchange puts in one task."""
    user = F.pmod(F.xxhash64("id"), F.lit(n_users))
    if hot_frac:
        hot = F.pmod(F.xxhash64("id", F.lit(9)), F.lit(hot_frac)) < 1
        user = F.when(hot, F.lit(0)).otherwise(user)
    return spark.range(n).select(
        F.col("id").alias("event_id"),
        F.timestamp_seconds(
            F.lit(1700000000) + F.pmod(F.xxhash64("id", F.lit(1)), F.lit(SPAN))
        ).alias("ts"),
        user.alias("user_id"),
        F.lit("click").alias("event_type"),
        (F.pmod(F.xxhash64("id", F.lit(2)), F.lit(10000)) / 100.0).alias("value"),
        F.lit("{}").alias("props"),
    )


def summarize(df, cols, **aggs) -> dict:
    """One pass over ``df``: the order-insensitive checksum of ``cols``
    (the exact sum of the rows' xxhash64) plus the named aggregates."""
    row = df.select(
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("checksum"),
        *[c.alias(k) for k, c in aggs.items()],
    ).collect()[0]
    return {k: int(v or 0) for k, v in row.asDict().items()}


def timed(fn):
    """``(fn(), seconds)``."""
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def mb_per_s(n_bytes: int, sec: float) -> float:
    return round(n_bytes / 1e6 / sec, 1)


def _cents():
    return F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")


def _n_rows(default):
    return ("n_rows",), dict(nargs="?", type=int, default=default)


_MODE = (("mode",), dict(nargs="?", default="uniform", choices=("uniform", "hot")))
_HOT_FRAC = (
    ("--hot-frac",),
    dict(type=int, default=10, help="hot mode: 1/K of all events go to one user"),
)


@spec(
    _n_rows(1_000_000_000),
    (("n_partitions",), dict(nargs="?", type=int, default=256)),
    (("mode",), dict(nargs="?", default="uniform", choices=("uniform", "zipf"))),
)
def tera(spark, a):
    """The range sort and the full TeraValidate contract at decade sizes
    (1B rows = 100 GB logical by default).

    A local disk cannot hold the generated, sorted and shuffle copies of
    100 GB at once, so the probe leaves out the sink and source I/O:
    records are generated in-executor (teragen is deterministic from row
    ids) and the sorted stream is validated without being persisted.
    What remains is the part that stresses scale: the full range
    exchange (lz4-compressed shuffle spill is the only disk cost), the
    partition-local sort and ``teravalidate`` on the sorted stream as it
    leaves the sort: keys ordered within and between partitions, row
    count preserved, and a content checksum equal to ``checksum`` of the
    generated stream, so the output is a sorted permutation. The sort
    runs once; the generated stream is hashed in a separate shuffle-free
    pass.

    ``mode``: ``uniform`` is the GraySort key distribution. ``zipf`` is
    teragen's skewed key, 22% of all rows on one key: a range sort on
    the key alone would put that key on one partition, and ``terasort``
    ranges on ``(key, value)``, distinct per record, so the key spans
    partitions. ``straggler_factor`` (max rows per partition over the
    mean) measures how well the sampled boundaries balance the sort."""
    n, parts, skewed = a.n_rows, a.n_partitions, a.mode == "zipf"

    def gen():
        return teragen(spark, n, n_partitions=parts, skewed=skewed)

    cs_gen, t_gen = timed(lambda: checksum(gen()))
    rep, t_sort = timed(lambda: teravalidate(terasort(gen(), n_partitions=parts)))
    checks = {
        "sorted_within": rep["sorted_within"],
        "sorted_between": rep["sorted_between"],
        "rows_preserved": rep["n_rows"] == n,
        "checksum_match": rep["checksum"] == cs_gen,
    }
    yield {
        "mode": a.mode,
        "n_rows": n,
        "bytes": n * 100,
        "n_partitions": parts,
        "straggler_factor": round(
            rep["max_part_rows"] * rep["n_partitions"] / rep["n_rows"], 2
        )
        if rep["n_rows"]
        else 0,
        "gen_checksum": cs_gen,
        **checks,
        "ok": all(checks.values()),
        "gen_checksum_sec": round(t_gen, 1),
        "sort_validate_sec": round(t_sort, 1),
        "mb_per_sec_sort": mb_per_s(n * 100, t_sort),
    }


def sessionize_plain(ev):
    """Per-user (n_sessions, n_events) with ONE window keyed by user."""
    w = Window.partitionBy("user_id").orderBy("t")
    gap = F.col("t") - F.lag("t").over(w)
    brk = (gap.isNull() | (gap > GAP)).cast("long")
    return (
        ev.withColumn("brk", brk)
        .groupBy("user_id")
        .agg(F.sum("brk").alias("n_sessions"), F.count(F.lit(1)).alias("n_events"))
    )


def sessionize_bucketed(ev):
    """Two-phase rewrite of ``sessionize_plain`` with identical output:
    hour-bucket windows, then a boundary merge over per-(user, bucket)
    summaries. A full-stream break is either a within-bucket break or a
    bucket boundary whose cross-bucket gap exceeds GAP, because buckets
    partition time monotonically."""
    b = ev.withColumn("bucket", F.floor(F.col("t") / BUCKET))
    wb = Window.partitionBy("user_id", "bucket").orderBy("t")
    gap = F.col("t") - F.lag("t").over(wb)
    brk = (gap.isNull() | (gap > GAP)).cast("long")
    bsum = (
        b.withColumn("brk", brk)
        .groupBy("user_id", "bucket")
        .agg(
            F.sum("brk").alias("s"),
            F.min("t").alias("first_t"),
            F.max("t").alias("last_t"),
            F.count(F.lit(1)).alias("ne"),
        )
    )
    wu = Window.partitionBy("user_id").orderBy("bucket")
    prev = F.lag("last_t").over(wu)
    merged = bsum.withColumn(
        "merge", (prev.isNotNull() & (F.col("first_t") - prev <= GAP)).cast("long")
    )
    return merged.groupBy("user_id").agg(
        (F.sum("s") - F.sum("merge")).alias("n_sessions"),
        F.sum("ne").alias("n_events"),
    )


@spec(
    _n_rows(40_000_000),
    _MODE,
    (("--only",), dict(choices=("plain", "bucketed", "groupby"))),
    _HOT_FRAC,
)
def agg(spark, a):
    """Sessionize and a high-cardinality groupBy: the hash-exchange and
    per-key window shape of log-analytics and crawl-curation jobs
    (~50 events per user).

    Checks: (a) plain sessionize and its two-phase bucketed rewrite give
    the same per-user (user, n_sessions, n_events) checksum; the rewrite
    is the fix for hot users, since a user's window state shrinks from
    all its events to its events per bucket, and the merge runs over
    bucket summaries. (b) Every workload conserves all n rows. The
    groupBy (~n/10 groups, count and sum) reports the checksum of its
    output. In ``hot`` mode ``hot_user_share`` is the largest user's
    share of all rows."""
    n = a.n_rows
    hot = a.hot_frac if a.mode == "hot" else None
    ev = events(spark, n, max(n // 50, 1), hot).select(
        "user_id", F.col("ts").cast("long").alias("t"), _cents().alias("cents")
    )
    point = {"mode": a.mode, "n_rows": n, "bytes": n * EVENT_BYTES, "hot_frac": hot}
    conserved, sums = True, {}
    for name, fn in (("plain", sessionize_plain), ("bucketed", sessionize_bucketed)):
        if a.only in (None, name):
            s, sec = timed(
                lambda: summarize(
                    fn(ev), ["user_id", "n_sessions", "n_events"],
                    rows=F.sum("n_events"), max_rows=F.max("n_events"),
                )
            )
            conserved &= s["rows"] == n
            sums[name] = s["checksum"]
            point[f"sessionize_{name}_sec"] = round(sec, 1)
            point[f"mb_per_sec_{name}"] = mb_per_s(n * EVENT_BYTES, sec)
            point[f"{name}_checksum"] = str(s["checksum"])
            if hot and name == "plain":
                point["hot_user_share"] = round(s["max_rows"] / n, 4)
    if a.only in (None, "groupby"):
        key = F.pmod(F.xxhash64("user_id", "cents"), F.lit(max(n // 10, 1)))
        g = ev.groupBy(key.alias("k")).agg(
            F.count(F.lit(1)).alias("c"), F.sum("cents").alias("sc")
        )
        s, sec = timed(lambda: summarize(g, ["k", "c", "sc"], rows=F.sum("c")))
        conserved &= s["rows"] == n
        point["groupby_sec"] = round(sec, 1)
        point["mb_per_sec_groupby"] = mb_per_s(n * EVENT_BYTES, sec)
        point["groupby_checksum"] = str(s["checksum"])
    point["rows_preserved"] = conserved
    point["ok"] = conserved
    if len(sums) == 2:
        point["plain_vs_bucketed_match"] = sums["plain"] == sums["bucketed"]
        point["ok"] = conserved and point["plain_vs_bucketed_match"]
    yield point


@spec(
    _n_rows(10_000_000),
    _MODE,
    (("--only",), dict(choices=("plain", "bucketed"))),
    _HOT_FRAC,
)
def window(spark, a):
    """Per-user lead windows feeding one map-side-combined groupBy, the
    shape of ts_autocorr, ts_holt_forecast and ts_cusum, run through the
    code ``ts_autocorr_autoplan`` ships: ``lead_columns(seq, strategy)``
    then ``autocorr_stats``, per strategy. So ``WIN_SKEW_SHARE_CUT`` is
    measured on the code it selects.

    Checks: the plain single-window form and the two-phase bucketed
    rewrite give the same per-user statistics checksum and the same row
    total (``rows``, the sum of ``n`` over users with enough events).
    The rewrite bounds per-task sort state at events per (user, hour
    bucket), and repairs bucket-edge rows with a window over only the
    edge-resident rows."""
    n = a.n_rows
    hot = a.hot_frac if a.mode == "hot" else None
    q = F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("bigint")
    seq = events(spark, n, max(n // 50, 1), hot).select(
        "user_id", "ts", "event_id", q.alias("q")
    )
    point = {"mode": a.mode, "n_rows": n, "bytes": n * EVENT_BYTES, "hot_frac": hot}
    for strategy in ("plain", "bucketed"):
        if a.only in (None, strategy):
            stats = autocorr_stats(lead_columns(seq, strategy))
            s, sec = timed(
                lambda: summarize(
                    stats, ["user_id", "n", "r1", "r2", "r3"],
                    rows=F.sum("n"), max_rows_per_key=F.max("n"),
                )
            )
            point[strategy] = {
                "sec": round(sec, 2),
                "mb_per_s": mb_per_s(n * EVENT_BYTES, sec),
                **s,
            }
    ok = True
    if "plain" in point and "bucketed" in point:
        p, b = point["plain"], point["bucketed"]
        ok = p["checksum"] == b["checksum"] and p["rows"] == b["rows"]
        point["parity"] = ok
    point["ok"] = ok
    yield point


@spec(_n_rows(150_000), (("n_keys",), dict(nargs="?", type=int, default=1_500)))
def tws(spark, a):
    """transformWithState at a fixed row count over more and more keys.
    Every key pays one ValueState get and update round trip per batch it
    appears in, so the worst case is time ~ n_keys; more keys per Arrow
    batch amortize the per-batch fixed costs but not the per-key calls.
    Sweep n_keys over 1500, 15000 and 150000, one JVM each.

    Rows go through the graded queries' scaffold (``tws_fold``: 3
    chunks, maxFilesPerTrigger=1) and are folded by
    stream_transformwithstate's processor (``running_totals``). Checks:
    the fold's final per-key (cents, count) checksum equals the batch
    groupBy's, and every row is counted once."""
    n = a.n_rows
    src = events(spark, n, a.n_keys).localCheckpoint()
    cols = ["user_id", "total_cents", "n_events"]
    fold, sec = timed(
        lambda: summarize(
            tws_fold(
                spark, "", f"tws_scale_{a.n_keys}", running_totals,
                "user_id bigint, total_cents bigint, n_events bigint",
                "n_events", src=src, drop_null_values=False,
            ),
            cols, rows=F.sum("n_events"), keys=F.count(F.lit(1)),
        )
    )
    exact = summarize(
        src.groupBy("user_id").agg(
            F.sum(_cents()).alias("total_cents"), F.count(F.lit(1)).alias("n_events")
        ),
        cols, rows=F.sum("n_events"),
    )
    checks = {
        "rows_conserved": fold["rows"] == n == exact["rows"],
        "checksum_match": fold["checksum"] == exact["checksum"],
    }
    yield {
        "n_rows": n,
        "n_keys": a.n_keys,
        "stream_s": round(sec, 1),
        "keys_seen": fold["keys"],
        **checks,
        "ok": all(checks.values()),
    }


def _union_find(edges) -> dict:
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {x: find(x) for x in parent}


def _components(spark, e, **kw):
    """``star_components`` with its labels collected: (rows, rounds)."""
    labels, rounds = star_components(spark, e, **kw)
    return labels.collect(), rounds


def _cc_chain(spark, n: int) -> dict:
    e = (
        spark.range(n - 1)
        .select(F.col("id").alias("a"), (F.col("id") + 1).alias("b"))
        .repartition(32)
    )
    (labels, rounds), sec = timed(lambda: _components(spark, e, max_rounds=64))
    return {
        "chain_n": n,
        "diameter": n - 1,
        "rounds": rounds,
        "log2_n": round(math.log2(n), 1),
        "t_loop_s": round(sec, 2),
        "ok": len(labels) == n and all(r["component"] == 0 for r in labels),
    }


def _cc_lsh(spark, sf_dir: str) -> dict:
    e, t_edges = timed(
        lambda: lsh_edges(spark, sf_dir, tau=0.8).localCheckpoint(eager=True)
    )
    n_edges = e.count()
    (labels, rounds), t_loop = timed(lambda: _components(spark, e))
    got = {r["doc_id"]: r["component"] for r in labels}
    want = _union_find([(r["a"], r["b"]) for r in e.collect()])
    return {
        "sf_dir": sf_dir,
        "n_edges": n_edges,
        "n_nodes": len(got),
        "rounds": rounds,
        "t_edges_s": round(t_edges, 2),
        "t_loop_s": round(t_loop, 2),
        "ok": got == want,
    }


@spec(
    (("points",), dict(
        nargs="*", default=["sf0.001", "sf0.01", "sf0.1", "1024", "8192", "65536"],
        help="chain lengths, or corpus directories (names resolve next to "
        "the default test corpus)",
    )),
)
def cc(spark, a):
    """Rounds of ``star_components``, the loop graph_cc_star and
    dedup_cluster run, against graph size and diameter.

    A corpus point runs the LSH near-duplicate graph of that corpus: its
    diameter is small, so it pins the ambient cost curve. A chain point
    runs the path graph 0-1-...-(n-1), of diameter n-1, the adversary
    for label propagation (~n rounds); star alternation must stay
    logarithmic, so rounds against log2(n) is the claim under test.
    Check: labels equal a sequential union-find over the same edges (on
    a chain, every node is in component 0)."""
    testdata = os.path.dirname(DEFAULT_SF_DIR)
    for p in a.points:
        if p.isdigit():
            yield _cc_chain(spark, int(p))
        else:
            yield _cc_lsh(spark, os.path.join(testdata, p))


# query -> the tables it reads, copied K times at each scale K
MEASURED = {
    **dict.fromkeys(
        "dedup_exact dedup_minhash dedup_simhash text_quality text_langid"
        " text_bm25 text_bpe_train sample_weighted text_ccnet_bucket"
        " text_bigram_lm dedup_soft sample_temperature agg_weighted_percentile"
        " agg_entropy ml_kfold sim_join_autoplan text_boilerplate"
        " text_keywords text_readability ml_naivebayes ml_stump dq_outliers"
        " sample_stratified_alloc pipeline_rag_retrieval text_novelty agg_gini"
        " ml_auc text_dsir_weights ml_calibration dq_ks_drift dq_k_anonymity"
        " graph_pagerank graph_triangles scan_stratified agg_heavyhitters"
        " multimodal_phash ml_feature_hash ml_confusion sample_token_budget"
        " multimodal_phash_hamming text_langid_confusion sample_reservoir"
        " multimodal_scenecut pipeline_preference_pairs text_markup_extract"
        " dedup_probabilistic text_minhash_containment dedup_fuzzy_ingest".split(),
        ("documents",),
    ),
    **dict.fromkeys(
        "sim_cosine_topk sim_cosine_gemm sim_cosine_ivf emb_kmeans"
        " emb_pca_power sim_cosine_pq sink_ann_index ml_mrr".split(),
        ("embeddings",),
    ),
    **dict.fromkeys(
        "sessionize events_sequence_match events_ab_test events_rfm"
        " win_gaps_islands ts_autocorr ts_cusum join_asof_tolerance".split(),
        ("events",),
    ),
    **dict.fromkeys(
        "sink_merge scan_timetravel sink_compacted dq_benford ts_seasonal"
        " source_mergeschema mv_rewrite pipeline_ivm_rewrite"
        " scan_position_delete".split(),
        ("orders",),
    ),
    "agg_group": ("lineitem",),
    "scan_sample": ("lineitem",),
    "topk_skyline": ("part",),
    "sink_bucketed": ("orders", "lineitem"),
    "dq_referential": (
        "lineitem", "orders", "customer", "events", "part", "supplier", "nation",
    ),
}
# source_fixedwidth has no row: it reads no table. sim_join_autoplan's
# input is bounded by doc_id < SIM_JOIN_DOC_BOUND by design, so its
# alpha measures plan overhead at a fixed input, not corpus scaling.

OFFSETS = {  # per-copy id offsets, far above any base id
    "documents": ("doc_id", 10_000_000),
    "embeddings": ("vec_id", 10_000_000),
    "events": ("event_id", 1_000_000_000),
    "lineitem": ("l_orderkey", 100_000_000),
    "orders": ("o_orderkey", 100_000_000),
    "part": ("p_partkey", 100_000_000),
    "customer": ("c_custkey", 10_000_000),
    "supplier": ("s_suppkey", 10_000_000),
    "nation": ("n_nationkey", 10_000),
}


def _scale_copy(spark, base: str, out: str, k: int, tables) -> str:
    """Write K id-offset copies of each table under ``out/x{k}``."""
    d = os.path.join(out, f"x{k}")
    for t in tables:
        key, off = OFFSETS[t]
        src = spark.read.parquet(os.path.join(base, f"{t}.parquet"))
        df = None
        for i in range(k):
            c = src.withColumn(key, F.col(key) + F.lit(i * off))
            if t == "documents" and i > 0:
                # distinct bytes per copy (exact dedup must not collapse
                # copies) while cross-copy Jaccard stays ~1, so near-dup
                # clusters grow K-fold
                c = c.withColumn("text", F.concat(F.lit(f"c{i} "), F.col("text")))
            if t == "events" and i > 0:
                # one user population per copy: sessions stay per-user
                # sized while the partition count grows
                c = c.withColumn("user_id", F.col("user_id") + F.lit(i * 10_000))
            df = c if df is None else df.unionByName(c)
        df.write.parquet(os.path.join(d, f"{t}.parquet"))
    return d


def _timed_median(fn) -> float:
    secs = [timed(fn)[1] for _ in range(1 + TIMED_REPS)]
    return round(statistics.median(secs[1:]), 3)  # secs[0] is a warm-up


@spec(
    (("--only",), dict(help="comma-separated query names; skips the terasort row")),
    (("--scales",), dict(default="1,2,5,10", help="comma-separated copy factors")),
)
def scaleup(spark, a):
    """Wall time of each query family on K-fold copies of the corpus
    (``SPARK_GRAFT_SF_DIR``, default sf0.1), the local proxy for "would
    this survive 100x?". Copies are id-offset so keys stay unique; each
    document copy gets a copy token, so exact dedup keeps copies
    distinct while near-dup clusters grow K-fold, the worst case for LSH
    bucketing. terasort scales by teragen's row count (1M records per
    K). Each (query, K) time is the median of TIMED_REPS runs after a
    warm-up.

    One summary point per query gives alpha in t(K) ~ K^alpha between
    the smallest and largest scale (alpha <= ~1.1 is linear); a query
    with alpha > 1.5 that takes over 2 s at the top scale is not ok. The
    markdown table goes to stderr."""
    base = os.environ.get("SPARK_GRAFT_SF_DIR", os.path.join(
        os.path.dirname(DEFAULT_SF_DIR), "sf0.1"))
    scales = [int(s) for s in a.scales.split(",")]
    measured = MEASURED
    if a.only:
        keep = {q.strip() for q in a.only.split(",")}
        measured = {k: v for k, v in MEASURED.items() if k in keep}
    qs = queries()
    needed = set().union(*measured.values())
    results: dict[str, dict[int, float]] = {}
    with tempfile.TemporaryDirectory(prefix="probe-scaleup-") as out:
        for k in scales:
            d = _scale_copy(spark, base, out, k, needed)
            for name in measured:
                sec = _timed_median(lambda: qs[name](spark, d).collect())
                results.setdefault(name, {})[k] = sec
                yield {"query": name, "scale": k, "sec": sec, "ok": True}
            if not a.only:
                n = 1_000_000 * k
                sec = _timed_median(
                    lambda: terasort(
                        teragen(spark, n, n_partitions=32), n_partitions=32
                    ).count()
                )
                results.setdefault("terasort_1Mx", {})[k] = sec
                yield {"query": "terasort_1Mx", "scale": k, "sec": sec, "ok": True}
    lo, top = min(scales), max(scales)
    print(f"| query | {' | '.join(f'{k}x' for k in scales)} (s) | alpha (t~K^a) |",
          file=sys.stderr)
    print("|---" * (len(scales) + 2) + "|", file=sys.stderr)
    for name, row in results.items():
        alpha = (
            math.log(row[top] / row[lo]) / math.log(top / lo)
            if row[lo] > 0 and top > lo
            else 0.0
        )
        print(f"| {name} | {' | '.join(str(row[k]) for k in scales)} | {alpha:.2f} |",
              file=sys.stderr)
        yield {"query": name, "alpha": round(alpha, 2),
               "ok": not (alpha > 1.5 and row[top] > 2.0)}


def main(argv=None, spark=None) -> int:
    """Run one spec; 1 if any point is not ok. ``spark`` reuses a session
    (tests); by default the run makes one."""
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = parser.add_subparsers(dest="spec", required=True)
    for name, (fn, args) in SPECS.items():
        p = sub.add_parser(name, description=fn.__doc__)
        for flags, kw in args:
            p.add_argument(*flags, **kw)
    a = parser.parse_args(argv)
    if spark is None:
        spark = get_spark(
            app_name=f"probe-{a.spec}",
            shuffle_partitions=getattr(a, "n_partitions", None),
        )
        spark.sparkContext.setLogLevel("ERROR")
    ok = True
    for point in SPECS[a.spec][0](spark, a):
        point = {"spec": a.spec, **point}
        ok &= bool(point["ok"])
        print(json.dumps(point), flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
