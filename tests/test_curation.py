"""Corpus-curation operators (terasort_spark/operators/curation.py):
BM25, inverted-index cosine, incremental dedup, dataset split, Z-order
layout, priority-reservoir sampling, Hamilton-stratified and
token-budget sampling. Oracle equality is covered by
tests/test_oracle.py; these tests assert the properties the oracle
can't see — layout statistics, split stability under corpus append,
reservoir size, and plan shapes."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from terasort_spark.catalog import table
from terasort_spark.plans.checks import executed_plan
from terasort_spark.registry import queries

_Q = queries()


def test_zorder_rowgroup_stats_are_tight_in_both_dims(spark, sf_dir):
    """The point of Z-order: each output file's min-max range must be
    narrow in BOTH filter dimensions. A linear sort by x gives tight x
    stats but each file spans ~the full y domain; the Morton layout
    bounds both. Asserted on the real parquet footers the skipping
    would use."""
    import pyarrow.parquet as pq

    _Q["scan_zorder"](spark, sf_dir).collect()  # writes the layout
    from terasort_spark.operators._util import scratch_dir

    out = scratch_dir(spark, "zorder")
    spans = []
    for name in os.listdir(out):
        if not name.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(out, name)).metadata
        cols = {
            md.schema.column(i).name: i for i in range(md.num_columns)
        }
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            sx = g.column(cols["x"]).statistics
            sy = g.column(cols["y"]).statistics
            spans.append((sx.max - sx.min, sy.max - sy.min))
    assert spans
    # 16 contiguous z-ranges over a 256x256 Morton grid: every file is
    # (a union of) 64x64 quadrants — far below the 255 a one-dim sort
    # leaves in its unsorted dimension. Allow boundary slop: a range
    # split mid-quadrant can straddle two, never approach full-domain.
    assert max(s[0] for s in spans) <= 160
    assert max(s[1] for s in spans) <= 160
    # and on AVERAGE both dims are quadrant-tight
    assert sum(s[0] for s in spans) / len(spans) <= 96
    assert sum(s[1] for s in spans) / len(spans) <= 96


def test_split_assignments_stable_under_corpus_append(spark, sf_dir):
    """The property rand()/row_number() splits lose: assigning over a
    PREFIX of the corpus and over the full corpus must give every
    shared doc the same split (membership is a pure function of
    doc_id, not of what else is in the batch)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    coin = F.substring(
        F.md5(F.concat(F.lit("split"), F.col("doc_id").cast("string"))), 1, 6
    )
    split = (
        F.when(coin < F.lit("19999a"), "val")
        .when(coin < F.lit("333333"), "test")
        .otherwise("train")
    )
    full = {
        r["doc_id"]: r["s"]
        for r in d.select("doc_id", split.alias("s")).collect()
    }
    half = {
        r["doc_id"]: r["s"]
        for r in d.filter(F.col("doc_id") < 100)
        .select("doc_id", split.alias("s"))
        .collect()
    }
    assert half and all(full[k] == v for k, v in half.items())


def test_split_fractions_near_nominal(spark, sf_dir):
    """80/10/10 within binomial noise at corpus size (md5 is uniform)."""
    rows = _Q["split_dataset"](spark, sf_dir).collect()
    totals = {}
    for r in rows:
        totals[r["split"]] = totals.get(r["split"], 0) + r["n_docs"]
    n = sum(totals.values())
    assert totals.get("train", 0) / n == pytest.approx(0.8, abs=0.1)
    assert totals.get("val", 0) / n == pytest.approx(0.1, abs=0.08)
    assert totals.get("test", 0) / n == pytest.approx(0.1, abs=0.08)


def test_bm25_favors_term_dense_short_docs(spark, sf_dir):
    """Directional sanity on the winner: the top-scored doc must carry
    more query-term mass per token than the corpus median document —
    BM25's whole job. (Exact values are oracle-checked; this guards
    the SEMANTICS if the oracle SQL and the Spark code ever drift in
    the same wrong direction.)"""
    from terasort_spark.operators.curation import BM25_TERMS

    top = _Q["text_bm25"](spark, sf_dir).collect()
    assert 1 <= len(top) <= 10
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.length("text") > 0
    )
    tok = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("t")
    ).filter(F.length("t") > 0)
    dens = tok.groupBy("doc_id").agg(
        (
            F.sum(F.when(F.col("t").isin(*BM25_TERMS), 1).otherwise(0))
            / F.count(F.lit(1))
        ).alias("dens")
    )
    rows = {r["doc_id"]: r["dens"] for r in dens.collect()}
    med = sorted(rows.values())[len(rows) // 2]
    assert rows[top[0]["doc_id"]] > med


def test_incremental_dedup_never_keeps_existing_content(spark, sf_dir):
    """No surviving hash may appear in the 'existing corpus' slice, and
    every keep_id must come from the batch slice."""
    kept = _Q["dedup_incremental"](spark, sf_dir).collect()
    assert kept
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("text").isNotNull()
    )
    existing = {
        r["h"]
        for r in d.filter(F.col("doc_id") % 5 == 0)
        .select(F.md5("text").alias("h"))
        .collect()
    }
    for r in kept:
        assert r["h"] not in existing
        assert r["keep_id"] % 5 != 0


def test_tfidf_cosine_self_consistency(spark, sf_dir):
    """Every returned pair is ordered (d1 < d2), ranks are 1..k dense
    per d1, and cosines lie in [0, 1] and are non-increasing in rank."""
    rows = _Q["sim_tfidf_cosine"](spark, sf_dir).collect()
    assert rows
    by_d1 = {}
    for r in rows:
        assert r["d1"] < r["d2"]
        assert 0.0 <= r["cosine"] <= 1.0 + 1e-9
        by_d1.setdefault(r["d1"], []).append((r["rn"], r["cosine"]))
    for ranked in by_d1.values():
        ranked.sort()
        assert [rn for rn, _ in ranked] == list(range(1, len(ranked) + 1))
        cosines = [c for _, c in ranked]
        assert cosines == sorted(cosines, reverse=True)


def test_bm25_plan_shapes(spark, sf_dir):
    """Scale guards: the top-10 must be a TakeOrderedAndProject (heap,
    not global sort); df/stats join sides must broadcast; and no
    cartesian/BNLJ anywhere."""
    plan = _Q["text_bm25"](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" not in plan or "BuildRight, Cross" in plan
    assert "CartesianProduct" not in plan


def test_tfidf_pairs_join_is_equi_on_term(spark, sf_dir):
    """The pair generator must be a hash/sort-merge equi-join on term —
    never a nested-loop over doc pairs."""
    plan = (
        _Q["sim_tfidf_cosine"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    joins = [
        ln
        for ln in plan.splitlines()
        if "Join" in ln and "BroadcastNestedLoopJoin" in ln
    ]
    # the only BNLJ allowed is the 1-row corpus-stats cross join
    assert all("Cross" in ln for ln in joins)


def test_sample_weighted_is_weight_proportional_and_bounded(spark, sf_dir):
    """Chosen docs' weights must skew above the corpus median (keys are
    ln(u)/w: larger w pulls keys toward 0 = larger), the plan must
    bound the rank window with a top-k heap, and reruns are identical."""
    a = [tuple(r) for r in _Q["sample_weighted"](spark, sf_dir).collect()]
    b = [tuple(r) for r in _Q["sample_weighted"](spark, sf_dir).collect()]
    assert a == b and len(a) > 0
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("n_chars") > 0
    )
    med = d.approxQuantile("n_chars", [0.5], 0.0)[0]
    chosen = [r[2] for r in a]  # n_chars column
    assert sum(chosen) / len(chosen) > med * 0.8
    plan = (
        _Q["sample_weighted"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan


def test_morton_code_is_bijective_and_neighbor_tight(spark):
    """Property check on the Z-order key: the codegen bit-interleave
    must be a bijection [0,256)x[0,256) -> [0,65536) matching the
    reference Python interleave, so contiguous z-ranges are exactly
    the quadrants the row-group stats test relies on."""
    import random

    from terasort_spark.operators.curation import _morton

    rng = random.Random(7)
    pts = [(rng.randrange(256), rng.randrange(256)) for _ in range(200)]
    pts += [(0, 0), (255, 255), (255, 0), (0, 255)]
    df = spark.createDataFrame(pts, "x int, y int")
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.select(
            "x", "y", _morton(F.col("x"), F.col("y")).alias("z")
        ).collect()
    }

    def ref(x, y):
        z = 0
        for i in range(8):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    for (x, y), z in got.items():
        assert z == ref(x, y)
    assert len(set(got.values())) == len(got)  # injective on the sample


# -------------------------------------------------------- sample_reservoir --


def test_reservoir_fixed_size_and_partition_invariant(spark, sf_dir):
    from terasort_spark.operators.curation import _RESERVOIR_K

    out = _Q["sample_reservoir"](spark, sf_dir).collect()
    n_docs = table(spark, sf_dir, "documents").count()
    assert len(out) == min(_RESERVOIR_K, n_docs)
    assert [r["rank"] for r in out] and len({r["doc_id"] for r in out}) == len(out)
    # priorities are sorted by rank and the kept set is the K smallest
    pri = [(r["priority"], r["doc_id"]) for r in sorted(out, key=lambda r: r["rank"])]
    assert pri == sorted(pri)


def test_reservoir_plan_is_take_ordered_not_global_sort(spark, sf_dir):
    plan = executed_plan(_Q["sample_reservoir"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan


def test_stratified_sample_is_exact_hamilton_allocation(spark, sf_dir):
    from terasort_spark.operators.quality import _STRAT_TARGET

    docs = [
        (r["doc_id"], r["lang"])
        for r in table(spark, sf_dir, "documents").select("doc_id", "lang").collect()
    ]
    counts: dict[str, int] = {}
    for _, lang in docs:
        counts[lang] = counts.get(lang, 0) + 1
    total = sum(counts.values())
    quota = {l: _STRAT_TARGET * n / total for l, n in counts.items()}
    base = {l: int(quota[l]) for l in counts}
    leftover = _STRAT_TARGET - sum(base.values())
    order = sorted(counts, key=lambda l: (-(quota[l] - base[l]), l))
    alloc = {
        l: base[l] + (1 if i < leftover else 0) for i, l in enumerate(order)
    }
    got = [
        (r["doc_id"], r["lang"])
        for r in _Q["sample_stratified_alloc"](spark, sf_dir).collect()
    ]
    per_lang: dict[str, int] = {}
    for _, lang in got:
        per_lang[lang] = per_lang.get(lang, 0) + 1
    for l, k in alloc.items():
        assert per_lang.get(l, 0) == min(k, counts[l]), (l, k, per_lang)
    if all(counts[l] >= alloc[l] for l in alloc):
        assert len(got) == _STRAT_TARGET


def test_token_budget_is_greedy_prefix_within_budget(spark, sf_dir):
    """sample_token_budget: per lang the selection is exactly the
    longest (qs desc, doc_id) prefix whose token total stays within
    TOKEN_BUDGET — replayed in Python from raw docs."""
    from terasort_spark.operators.pretrain import TOKEN_BUDGET

    out = {r["lang"]: r for r in _Q["sample_token_budget"](spark, sf_dir).collect()}
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("text").isNotNull() & (F.length("text") > 0))
        .collect()
    )
    stops = {"the", "and", "of", "to", "a", "in", "is", "it"}
    by_lang = {}
    for r in docs:
        toks = [w for w in r["text"].lower().split(" ") if w]
        if not toks:
            continue
        qs = int((sum(w in stops for w in toks) / len(toks)) * 10000 + 0.5)
        by_lang.setdefault(r["lang"], []).append((qs, r["doc_id"], len(toks)))
    for lang, rows in by_lang.items():
        rows.sort(key=lambda x: (-x[0], x[1]))
        c, n, tok, mn = 0, 0, 0, None
        for qs, _, t in rows:
            if c + t > TOKEN_BUDGET:
                break
            c += t
            n += 1
            tok += t
            mn = qs
        got = out[lang]
        assert (got["n_docs"], got["tokens_selected"], got["min_score"]) == (
            n, tok, mn
        ), lang
        assert got["tokens_selected"] <= TOKEN_BUDGET
