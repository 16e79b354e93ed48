"""Round-8 wave: compositions the LLM-pipeline north star still lacked —
a Bloom-filter admission gate for recurring-crawl dedup ingest
(bounded-state cross-snapshot dedup), the composed materialized-view
lifecycle (change feed → incremental maintenance → query rewrite,
hash-checked against a from-scratch recompute), and asymmetric
containment estimation at LSH scale (sim_containment is exact-only and
bounded; this one rides dedup_minhash's banded candidates).

All three are exact-oracle: the Bloom filter is built from md5-slice bit
positions so DuckDB replays the BITMAP itself (might_contain and the
fast/verified routing hash-match, not just the admitted set), the MV
lifecycle reuses cdc.stage_orders_cdc + plans.mv_rewrite.answer_from_mv
so one staging recipe backs all three CDC oracles, and the containment
estimate is integer signature agreement over lsh_candidates' shared CTE
text.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from terasort_spark.catalog import table
from terasort_spark.operators._util import (
    DEC,
    hex_int,
    o_hex_int,
    o_rnd,
    rnd,
    scratch_dir,
)
from terasort_spark.registry import register

# ---------------------------------------------------------------------------
# dedup_probabilistic — Bloom-filter cross-snapshot admission gate.
#
# dedup_incremental (curation.py) answers "which batch docs are new?"
# with an exact hash anti-join: the EXISTING corpus's full hash set
# rides the shuffle every ingest. At 100 TB the existing side is the
# whole corpus; the standing structure a recurring crawl actually keeps
# is a Bloom filter over existing content hashes — M bits NO MATTER HOW
# MANY DOCUMENTS — and the exact join runs only for the Bloom-positive
# (suspected-duplicate) sliver. No false negatives: a Bloom miss is
# PROOF the doc is new, so fast-path docs skip the corpus join entirely.

BLOOM_W = 32  # bits per word; the filter broadcasts as an M/W-entry map
BLOOM_K = 2  # hash functions per key
BLOOM_BITS_PER_KEY = 10  # M sized from the existing-hash count (r8 ADVICE
#   item 3: a fixed M saturates once distinct hashes exceed capacity and
#   every batch doc routes 'verified'); with K=2 at 10 bits/key the
#   false-positive rate is (1-e^(-K/10))^K ~= 3.3%, so the fast path
#   keeps ~96% of genuinely-new docs out of the corpus join at EVERY
#   scale. Both engines compute the identical M from the identical
#   count, so the bitmap stays oracle-replayed.
BLOOM_M_MIN = 1024


def _bloom_m(n_existing: int) -> int:
    """Filter bits: bits-per-key * existing keys, rounded up to a whole
    word, floored at BLOOM_M_MIN. Positive ints only, so Python's //
    agrees with DuckDB's truncating //."""
    return max(
        BLOOM_M_MIN,
        (BLOOM_BITS_PER_KEY * n_existing + BLOOM_W - 1) // BLOOM_W * BLOOM_W,
    )


_BLOOM_M_SQL = (
    f"GREATEST({BLOOM_M_MIN}, "
    f"(({BLOOM_BITS_PER_KEY} * (SELECT count(*) FROM existing) + {BLOOM_W - 1}) "
    f"// {BLOOM_W}) * {BLOOM_W})"
)


def _bloom_pos_sql(h_expr: str, k: int) -> str:
    """Bit position k for key ``h_expr``: 32 bits of md5(h || '#k')
    (16 bits would alias once the data-sized M exceeds 65536), mod the
    data-sized M (a scalar subquery over the `mm` CTE) — the same
    expression the Spark side evaluates with its driver-side M."""
    md5_expr = f"md5({h_expr} || '#{k}')"
    return f"({o_hex_int(md5_expr, 8)} % (SELECT m FROM mm))"


def _bloom_pos_spark(h_col, k: int, m_col):
    """``m_col`` is the data-sized M as a COLUMN (1-row scalar joined
    in), so sizing never needs a separate driver action."""
    return F.pmod(hex_int(F.md5(F.concat(h_col, F.lit(f"#{k}"))), 8), m_col)


def _probabilistic_oracle() -> str:
    e_pos = ", ".join(_bloom_pos_sql("h", k) for k in range(BLOOM_K))
    b_pos = ", ".join(_bloom_pos_sql("b.h", k) for k in range(BLOOM_K))
    return f"""
WITH existing AS MATERIALIZED (
  SELECT DISTINCT md5(text) AS h FROM documents
  WHERE doc_id % 5 = 0 AND text IS NOT NULL
),
batch AS MATERIALIZED (
  SELECT md5(text) AS h, min(doc_id) AS doc_id,
         CAST(count(*) AS BIGINT) AS n_copies
  FROM documents WHERE doc_id % 5 <> 0 AND text IS NOT NULL
  GROUP BY md5(text)
),
mm AS MATERIALIZED (
  SELECT {_BLOOM_M_SQL} AS m
),
epos AS MATERIALIZED (
  SELECT unnest([{e_pos}]) AS p FROM existing
),
words AS MATERIALIZED (
  SELECT p // {BLOOM_W} AS widx,
         bit_or(CAST(1 AS BIGINT) << (p % {BLOOM_W})) AS w
  FROM epos GROUP BY p // {BLOOM_W}
),
probe AS MATERIALIZED (
  SELECT h, bool_and(
           w.w IS NOT NULL AND ((w.w >> (bp.p % {BLOOM_W})) & 1) = 1
         ) AS might
  FROM (SELECT b.h, unnest([{b_pos}]) AS p FROM batch b) bp
  LEFT JOIN words w ON w.widx = bp.p // {BLOOM_W}
  GROUP BY h
)
SELECT b.doc_id, b.h, b.n_copies,
       CASE WHEN p.might THEN 'verified' ELSE 'fast' END AS path
FROM batch b
JOIN probe p USING (h)
LEFT JOIN existing e USING (h)
WHERE e.h IS NULL
"""


@register("dedup_probabilistic", oracle=_probabilistic_oracle())
def dedup_probabilistic(spark, sf_dir):
    """Bloom-gated incremental dedup: admit a crawl batch against the
    existing corpus using an M-bit Bloom filter over existing content
    hashes. Batch hashes the filter has DEFINITELY never seen are
    admitted on the fast path (no corpus join at all — the no-false-
    negative guarantee); Bloom-positive hashes go through the exact
    anti-join, which clears false positives ('verified' path) and drops
    true duplicates. Output = every admitted (new) doc with its batch
    keep-id, copy count, and which path admitted it.

    Oracle-replayed BITMAP: bit positions are 16 md5 bits of (h || '#k')
    mod M, the words are bit_or aggregates — both engines build the
    identical filter, so the fast/verified routing itself is
    hash-checked, not just the final admitted set (join_bloom's oracle,
    by contrast, only checks the answer). tests/test_wave8.py
    additionally pins admitted == the exact anti-join and that NO
    existing hash ever tests negative.

    100 TB: the filter is M bits regardless of corpus size and ships as
    a ~M/W-entry broadcast map; per-batch cost is one scan of the batch
    plus an equi-join whose left side is only the Bloom-positive sliver
    (true dups + ~(1-e^{{-Kn/M}})^K false positives). The positions are
    md5 slices so DuckDB replays the filter bit-for-bit."""
    d = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    h = F.md5("text").alias("h")
    # checkpoint pins ONE execution: the M-sizing aggregate, the
    # bit-position build, and the verification anti-join all consume
    # `existing`
    existing = (
        d.filter(F.col("doc_id") % 5 == 0)
        .select(h)
        .distinct()
        .localCheckpoint(eager=False)
    )
    # data-sized M as a 1-row scalar (broadcast-joined below, never a
    # driver action): the same bits-per-key formula as _bloom_m/the
    # oracle's mm CTE
    mm = existing.agg(
        F.greatest(
            F.lit(BLOOM_M_MIN),
            (
                (F.count(F.lit(1)) * BLOOM_BITS_PER_KEY + (BLOOM_W - 1))
                / BLOOM_W
            ).cast("long")
            * BLOOM_W,
        ).alias("m")
    )
    batch = (
        d.filter(F.col("doc_id") % 5 != 0)
        .select("doc_id", h)
        .groupBy("h")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).cast("bigint").alias("n_copies"),
        )
    )
    # build: K positions per existing hash, OR'd into 32-bit words held
    # in longs — bounded state (256 rows) whatever the corpus size
    epos = existing.crossJoin(F.broadcast(mm)).select(
        F.explode(
            F.array(
                *[
                    _bloom_pos_spark(F.col("h"), k, F.col("m"))
                    for k in range(BLOOM_K)
                ]
            )
        ).alias("p")
    )
    words = epos.groupBy(
        (F.col("p") / BLOOM_W).cast("long").alias("widx")
    ).agg(
        F.bit_or(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(p % {BLOOM_W} AS INT))")
        ).alias("w")
    )
    # probe: K bit tests per batch hash against the broadcast words map
    bpos = batch.crossJoin(F.broadcast(mm)).select(
        "h",
        F.explode(
            F.array(
                *[
                    _bloom_pos_spark(F.col("h"), k, F.col("m"))
                    for k in range(BLOOM_K)
                ]
            )
        ).alias("p"),
    )
    hit = F.col("w").isNotNull() & (
        F.expr(f"shiftright(w, CAST(p % {BLOOM_W} AS INT))").bitwiseAND(F.lit(1))
        == 1
    )
    probe = (
        bpos.join(
            F.broadcast(words),
            (F.col("p") / BLOOM_W).cast("long") == F.col("widx"),
            "left",
        )
        .groupBy("h")
        .agg(F.bool_and(hit).alias("might"))
    )
    gated = batch.join(probe, "h")
    # fast path: Bloom miss == PROOF of novelty, no corpus join
    fast = gated.filter(~F.col("might")).withColumn("path", F.lit("fast"))
    # suspected dups: exact anti-join clears the false positives
    verified = (
        gated.filter(F.col("might"))
        .join(existing, "h", "left_anti")
        .withColumn("path", F.lit("verified"))
    )
    return fast.unionByName(verified).select(
        "doc_id", "h", "n_copies", "path"
    )


# ---------------------------------------------------------------------------
# pipeline_ivm_rewrite — the composed materialized-view lifecycle.


@register(
    "pipeline_ivm_rewrite",
    # the oracle recomputes the v1 monthly answer FROM SCRATCH; the
    # operator must reach the same numbers having only (a) aggregated
    # the v0 base once, (b) applied the change feed as signed deltas,
    # (c) answered the month query from the refreshed view
    oracle=f"""
WITH v1 AS (
  SELECT o_orderdate, o_orderpriority,
         CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice * 1.1
              ELSE o_totalprice END AS price
  FROM orders
  WHERE (o_orderkey % 4 <> 3 OR o_orderkey % 10 = 0)
    AND NOT (o_orderkey % 17 = 0 AND o_orderkey % 10 <> 0)
)
SELECT date_trunc('month', o_orderdate) AS order_month,
       o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       {o_rnd("CAST(sum(CAST(price AS DECIMAL(25,6))) AS DOUBLE)", "revenue")}
FROM v1
GROUP BY 1, 2
""",
)
def pipeline_ivm_rewrite(spark, sf_dir):
    """End-to-end materialized-view lifecycle, composed from the two
    halves that until now were only proven separately: stage the
    versioned table (cdc.stage_orders_cdc — the SAME recipe/oracle
    scan_changefeed and ivm_incremental_agg grade against), materialize
    the daily-grain MV from v0, apply the v1 change feed to the MV as
    signed DECIMAL deltas (ivm_incremental_agg's algebra at the view's
    grain — insert (+1,+new), update (0,new−old), delete (−1,−old)),
    persist the refreshed view, then answer the MONTHLY query from it
    through mv_rewrite.answer_from_mv's derivability-checked rewrite.
    The oracle recomputes v1 monthly from scratch, so a hash match
    proves maintenance ∘ rewrite == truth — the invariant a warehouse's
    continuous aggregates live or die by.

    100 TB: the fact table is scanned once (v0 refresh); every later
    step costs O(changes) + O(view): the feed join's left side is the
    delta segment (partition-pruned), the merge unions view-sized
    inputs, and the month answer scans |days|x|priorities| rows. The
    from-scratch recompute exists only oracle-side."""
    from terasort_spark.operators.cdc import stage_orders_cdc
    from terasort_spark.plans.mv_rewrite import answer_from_mv
    from terasort_spark.sources.snapshots import read_snapshot

    dims = ("o_orderdate", "o_orderpriority")
    root = stage_orders_cdc(spark, sf_dir, "ivm_mv", extra_cols=dims)

    # (a) the stored daily view, refreshed from v0 (the one fact scan)
    mv0 = scratch_dir(spark, "ivm_mv_v0")
    shutil.rmtree(mv0, ignore_errors=True)
    (
        spark.read.parquet(os.path.join(root, "_v=0"))
        .groupBy(*dims)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast(DEC)).alias("revenue_dec"),
        )
        .write.mode("overwrite")
        .parquet(mv0)
    )

    # (b) the signed delta stream at the view's grain
    seg1 = spark.read.parquet(os.path.join(root, "_v=1"))
    prev = read_snapshot(spark, root, ["o_orderkey"], version=0).select(
        "o_orderkey",
        F.col("o_totalprice").alias("old_price"),
        *[F.col(c).alias(f"prev_{c}") for c in dims],
    )
    feed = seg1.join(prev, "o_orderkey", "left").filter(
        ~(F.col("_deleted") & F.col("old_price").isNull())
    )
    dn = (
        F.when(F.col("_deleted"), -1)
        .when(F.col("old_price").isNull(), 1)
        .otherwise(0)
        .cast("long")
    )
    ds = (
        F.when(F.col("_deleted"), -F.col("old_price").cast(DEC))
        .when(F.col("old_price").isNull(), F.col("o_totalprice").cast(DEC))
        .otherwise(
            F.col("o_totalprice").cast(DEC) - F.col("old_price").cast(DEC)
        )
    )
    # dimensions are immutable, so either side of the join carries them
    deltas = (
        feed.select(
            *[F.coalesce(F.col(c), F.col(f"prev_{c}")).alias(c) for c in dims],
            dn.alias("n_orders"),
            ds.alias("revenue_dec"),
        )
        .groupBy(*dims)
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("revenue_dec").alias("revenue_dec"),
        )
    )

    # (c) merge view + deltas, persist the refreshed view
    mv1 = scratch_dir(spark, "ivm_mv_v1")
    shutil.rmtree(mv1, ignore_errors=True)
    (
        spark.read.parquet(mv0)
        .unionByName(deltas)
        .groupBy(*dims)
        .agg(
            F.sum("n_orders").cast("long").alias("n_orders"),
            F.sum("revenue_dec").alias("revenue_dec"),
        )
        .filter(F.col("n_orders") > 0)
        .write.mode("overwrite")
        .parquet(mv1)
    )

    # (d) the monthly question answered FROM the refreshed view
    ans = answer_from_mv(
        spark, mv1, ("order_month", "o_orderpriority"), ("n_orders", "revenue_dec")
    )
    return ans.select(
        "order_month",
        "o_orderpriority",
        F.col("n_orders").cast("bigint").alias("n_orders"),
        rnd(F.col("revenue_dec").cast("double"), "revenue"),
    )


# ---------------------------------------------------------------------------
# text_minhash_containment — asymmetric containment at LSH scale.

CONTAIN_EST_TAU = 0.7  # keep pairs whose ESTIMATED containment >= tau
CONTAIN_CAP = 8  # dedup_minhash's per-doc candidate cap


def _containment_oracle() -> str:
    from terasort_spark.operators.llm_dedup import N_HASHES, lsh_candidates_sql

    agree = " + ".join(
        f"(CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END)"
        for i in range(N_HASHES)
    )
    ej = f"(CAST(({agree}) AS DOUBLE) / {N_HASHES})"
    cont = f"((({ej} / (1 + {ej})) * (len(ta.toks) + len(tb.toks))) / len(tb.toks))"
    return f"""
WITH {lsh_candidates_sql(cap=CONTAIN_CAP)}
SELECT c.a_id, c.b_id,
       {o_rnd(ej, "est_jaccard")},
       {o_rnd(cont, "containment")}
FROM capped c
JOIN th_t ta ON ta.doc_id = c.a_id
JOIN th_t tb ON tb.doc_id = c.b_id
JOIN sig sa ON sa.doc_id = c.a_id
JOIN sig sb ON sb.doc_id = c.b_id
WHERE {o_rnd(cont)} >= {CONTAIN_EST_TAU!r}
"""


@register("text_minhash_containment", oracle=_containment_oracle())
def text_minhash_containment(spark, sf_dir):
    """Asymmetric containment at LSH scale: how much of candidate doc B
    lives inside doc A — the signal that catches quotes, boilerplate
    inclusions and subset-crawls that symmetric Jaccard dilutes
    (|A∩B|/|A∪B| is small when A is much larger than B even if B ⊂ A).
    sim_containment computes this exactly but only under a hard
    doc-count bound; this operator rides dedup_minhash's banded
    candidate generation (lsh_candidates — same signatures, same
    bands, same per-doc cap) and ESTIMATES containment from signature
    agreement without ever re-touching token sets pairwise:
    Ĵ = (1/32)·Σ 1[mh_i(A)=mh_i(B)], |A∩B| ≈ Ĵ/(1+Ĵ)·(|A|+|B|),
    containment(B) = |A∩B|/|B| with exact set sizes.

    Deterministic estimate: signature agreement is an integer count and
    the arithmetic is a fixed-order IEEE expression, so the estimate —
    not just the candidate set — replays bit-for-bit in the oracle.

    100 TB: identical cost shape to dedup_minhash (the signatures and
    banding ARE dedup_minhash's); the estimation join moves 32 longs
    per doc instead of token arrays, so verification bandwidth is
    constant-size per candidate regardless of document length."""
    from terasort_spark.operators.llm_dedup import N_HASHES, lsh_candidates

    sig, pairs = lsh_candidates(spark, sf_dir, per_doc_cap=CONTAIN_CAP)
    a = sig.select(
        F.col("doc_id").alias("a_id"),
        F.size("toks").alias("na"),
        *[F.col(f"mh{i}").alias(f"amh{i}") for i in range(N_HASHES)],
    )
    b = sig.select(
        F.col("doc_id").alias("b_id"),
        F.size("toks").alias("nb"),
        *[F.col(f"mh{i}").alias(f"bmh{i}") for i in range(N_HASHES)],
    )
    j = pairs.join(a, "a_id").join(b, "b_id")
    agree = F.lit(0)
    for i in range(N_HASHES):
        agree = agree + F.when(
            F.col(f"amh{i}") == F.col(f"bmh{i}"), 1
        ).otherwise(0)
    ej = agree.cast("double") / F.lit(N_HASHES)
    cont = ((ej / (F.lit(1) + ej)) * (F.col("na") + F.col("nb"))) / F.col("nb")
    return (
        j.select(
            "a_id",
            "b_id",
            rnd(ej, "est_jaccard"),
            rnd(cont, "containment"),
        )
        .filter(F.col("containment") >= CONTAIN_EST_TAU)
    )


# ---------------------------------------------------------------------------
# scan_position_delete — merge-on-read POSITIONAL deletes.

@register(
    "scan_position_delete",
    # the oracle states the SEMANTICS relationally (base minus the
    # deleted predicate); the operator must reach it through the
    # position-delete mechanism — file write, (file_path, row_index)
    # delete-vector encoding, anti-join merge-on-read
    oracle="""
SELECT o_orderkey,
       o_orderstatus,
       floor(o_totalprice * 10000 + 0.5) / 10000 AS price
FROM orders
WHERE o_orderkey % 4 <> 3
  AND NOT (o_orderkey % 9 = 0)
""",
)
def scan_position_delete(spark, sf_dir):
    """Merge-on-read positional deletes — the Iceberg v2 / Delta
    deletion-vector mechanism, complementing snapshots.py's KEY-based
    tombstones: deletes address physical ROW POSITIONS
    (file_path, row_index), so dropping rows never rewrites a data
    file. Staging writes the base table partitioned by a bucket key,
    derives the delete vector by scanning the committed files WITH
    Spark's _metadata columns (file_path + row_index) under the delete
    predicate, and persists those positions. The read path is then:
    data scan + metadata columns, LEFT ANTI join against the
    (broadcast) delete vector on (file_path, row_index). The oracle
    states the intended semantics relationally, so the hash match
    proves the positional encode/decode loses and resurrects nothing.

    100 TB: deletes cost O(deleted positions) in storage and a
    broadcast-able side in the read (vectors are per-file and tiny
    relative to data); the data files are immutable — the property
    that makes concurrent readers and time travel cheap. A compaction
    (sink_compacted) later folds vectors into rewritten files."""
    data_dir = scratch_dir(spark, "posdel_data")
    del_dir = scratch_dir(spark, "posdel_deletes")
    shutil.rmtree(data_dir, ignore_errors=True)
    shutil.rmtree(del_dir, ignore_errors=True)

    base = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 4 != 3)
        .select(
            "o_orderkey",
            "o_orderstatus",
            "o_totalprice",
            (F.col("o_orderkey") % 8).alias("bucket"),
        )
    )
    base.repartition("bucket").write.mode("overwrite").partitionBy(
        "bucket"
    ).parquet(data_dir)

    schema = "o_orderkey bigint, o_orderstatus string, o_totalprice double"
    with_meta = spark.read.schema(schema).parquet(data_dir).select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.col("_metadata.file_path").alias("file_path"),
        F.col("_metadata.row_index").alias("pos"),
    )
    # commit the delete VECTOR: positions of rows matching the delete
    # predicate, addressed physically — no data file is touched
    (
        with_meta.filter(F.col("o_orderkey") % 9 == 0)
        .select("file_path", "pos")
        .write.mode("overwrite")
        .parquet(del_dir)
    )

    deletes = spark.read.schema("file_path string, pos bigint").parquet(del_dir)
    return (
        with_meta.join(
            F.broadcast(deletes), ["file_path", "pos"], "left_anti"
        )
        .select(
            "o_orderkey",
            "o_orderstatus",
            rnd(F.col("o_totalprice"), "price"),
        )
    )


# ---------------------------------------------------------------------------
# dedup_fuzzy_ingest — cross-corpus NEAR-dup admission (the fuzzy half
# of crawl ingest; dedup_probabilistic above is the exact half).

FUZZY_TAU = 0.8  # dedup_minhash's verification threshold
FUZZY_CAP = 8  # existing-side candidate cap per batch doc


def _fuzzy_oracle() -> str:
    from terasort_spark.operators.llm_dedup import (
        jaccard_sql,
        lsh_buckets_sql,
    )

    return f"""
WITH {lsh_buckets_sql()},
exb AS MATERIALIZED (
  SELECT band, bucket, doc_id AS e_id FROM buckets WHERE doc_id % 5 = 0
),
btb AS MATERIALIZED (
  SELECT band, bucket, doc_id AS b_id FROM buckets WHERE doc_id % 5 <> 0
),
grouped AS MATERIALIZED (
  SELECT band, bucket, list_sort(list(DISTINCT e_id)) AS eids
  FROM exb GROUP BY band, bucket
),
cand AS MATERIALIZED (
  SELECT b.b_id, unnest(g.eids[1:{FUZZY_CAP}]) AS e_id
  FROM btb b JOIN grouped g USING (band, bucket)
),
capped AS MATERIALIZED (
  SELECT b_id, unnest(list_sort(list(DISTINCT e_id))[1:{FUZZY_CAP}]) AS e_id
  FROM cand GROUP BY b_id
),
dropped AS MATERIALIZED (
  SELECT DISTINCT c.b_id
  FROM capped c
  JOIN th_t ta ON ta.doc_id = c.e_id
  JOIN th_t tb ON tb.doc_id = c.b_id
  WHERE {jaccard_sql()} >= {FUZZY_TAU!r}
)
SELECT d.doc_id, (dr.b_id IS NULL) AS keep
FROM d LEFT JOIN dropped dr ON dr.b_id = d.doc_id
WHERE d.doc_id % 5 <> 0
"""


def fuzzy_group_state(exb):
    """Group standing-side (band,bucket,e_id) rows into the sorted
    per-bucket id arrays the admission rule consumes. Kept as its own
    factor so a PRE-GROUPED, cap-compacted state store (wave10's
    streaming ingest) can skip this full-state shuffle per batch."""
    return exb.groupBy("band", "bucket").agg(
        F.sort_array(F.collect_set("e_id")).alias("eids")
    )


def fuzzy_capped(btb, grouped, cap=FUZZY_CAP):
    """Capped candidate generation: join arriving (band,bucket,b_id)
    against grouped standing buckets, take the cap smallest standing
    ids per bucket, then the cap smallest of each arriving doc's
    per-band union — per-reducer state bounded at cap x bands ids, no
    arriving-arriving or standing-standing pair ever formed."""
    cand = btb.join(grouped, ["band", "bucket"]).select(
        "b_id", F.explode(F.slice("eids", 1, cap)).alias("e_id")
    )
    return (
        cand.groupBy("b_id")
        .agg(
            F.slice(F.array_sort(F.collect_set("e_id")), 1, cap).alias("eids")
        )
        .select("b_id", F.explode("eids").alias("e_id"))
    )


def fuzzy_verified_drops(capped, b_toks, e_toks, tau=FUZZY_TAU):
    """Exact-Jaccard verification of capped candidate pairs; returns
    the DISTINCT dropped b_ids (a verified >= tau partner exists)."""
    verified = capped.join(
        e_toks.select(F.col("e_id"), F.col("toks").alias("e_toks")), "e_id"
    ).join(
        b_toks.select(F.col("b_id"), F.col("toks").alias("b_toks")), "b_id"
    )
    jacc = F.size(F.array_intersect("e_toks", "b_toks")).cast(
        "double"
    ) / F.size(F.array_union("e_toks", "b_toks"))
    return (
        verified.withColumn("jaccard", rnd(jacc))
        .filter(F.col("jaccard") >= tau)
        .select("b_id")
        .distinct()
    )


def fuzzy_dropped(btb, exb, b_toks, e_toks, cap=FUZZY_CAP, tau=FUZZY_TAU):
    """THE cross-corpus capped LSH admission rule, factored (r10) so
    the batch ingest below and the streaming ingest
    (wave10.dedup_stream_lsh's per-micro-batch twin) are one code path.
    ``btb``/(band,bucket,b_id) is the arriving side, ``exb``/(band,
    bucket,e_id) the standing side; ``b_toks``/(b_id,toks) and
    ``e_toks``/(e_id,toks) feed exact-Jaccard verification. Composed
    from the three factors above (r11: split so the streaming twin can
    feed a pre-grouped pruned state instead of re-grouping the full
    standing corpus every micro-batch)."""
    return fuzzy_verified_drops(
        fuzzy_capped(btb, fuzzy_group_state(exb), cap), b_toks, e_toks, tau
    )


@register("dedup_fuzzy_ingest", oracle=_fuzzy_oracle())
def dedup_fuzzy_ingest(spark, sf_dir):
    """Cross-corpus near-duplicate admission: a new crawl batch
    (doc_id % 5 != 0) is deduped against the EXISTING corpus
    (doc_id % 5 == 0) by MinHash-LSH — the GPT-3/CCNet ingest shape
    where each crawl is fuzzy-deduplicated against all previous crawls,
    not just against itself (dedup_minhash) and not just exactly
    (dedup_probabilistic/dedup_incremental). A batch doc is dropped
    when a capped LSH candidate from the EXISTING side verifies at
    exact Jaccard >= 0.8; output is one keep/drop decision per batch
    doc.

    Reuses dedup_minhash's signatures and band buckets verbatim
    (llm_dedup.lsh_signatures / lsh_buckets_sql) — only the candidate
    join is asymmetric: existing-side ids group per (band, bucket) into
    a sorted list, each batch doc takes the cap smallest, and one
    groupBy per batch doc dedups the per-band unions. Per-reducer state
    is bounded at cap x bands ids exactly as in the self-join case.

    100 TB: the existing corpus contributes signatures only (32 longs
    per doc — in production these are PERSISTED once per crawl, not
    recomputed); candidates are an equi-join on (band, bucket); the cap
    bounds verification at cap x |batch| pairs however hot the buckets
    get. No batch-batch or existing-existing pair is ever formed."""
    from terasort_spark.operators.llm_dedup import lsh_signatures

    sig, buckets = lsh_signatures(spark, sf_dir)
    is_existing = F.col("doc_id") % 5 == 0
    exb = buckets.filter(is_existing).select(
        "band", "bucket", F.col("doc_id").alias("e_id")
    )
    btb = buckets.filter(~is_existing).select(
        "band", "bucket", F.col("doc_id").alias("b_id")
    )
    toks = sig.select("doc_id", "toks")
    dropped = fuzzy_dropped(
        btb,
        exb,
        toks.select(F.col("doc_id").alias("b_id"), "toks"),
        toks.select(F.col("doc_id").alias("e_id"), "toks"),
    )
    batch = sig.filter(~is_existing).select("doc_id")
    return batch.join(
        dropped.withColumnRenamed("b_id", "doc_id"), "doc_id", "left_anti"
    ).withColumn("keep", F.lit(True)).unionByName(
        dropped.select(F.col("b_id").alias("doc_id")).withColumn(
            "keep", F.lit(False)
        )
    )
