"""Cross-document boilerplate, Hamilton-stratified sampling, z-score
outliers, readability, footer stats, ML evaluation metrics and
time-series replays. Oracle equivalence is covered by
tests/test_oracle.py; these pin the operator-specific invariants.
This file keeps its name so its test IDs stay stable; its tests
belong in the family test modules and move there in a later change."""

from __future__ import annotations

import os

from pyspark.sql import Window
from pyspark.sql import functions as F

from terasort_spark.catalog import table
from terasort_spark.registry import queries

_Q = queries()


def test_boilerplate_ratio_bounds_and_duplicate_docs_max_out(spark, sf_dir):
    out = {r["doc_id"]: r for r in _Q["text_boilerplate"](spark, sf_dir).collect()}
    assert out, "corpus produced no shingled docs"
    for r in out.values():
        assert 0.0 <= r["boiler_ratio"] <= 1.0
        assert r["n_boiler"] <= r["n_shingles"]
        assert r["keep"] == (r["n_boiler"] / r["n_shingles"] <= 0.5)
    # non-vacuous on this corpus: some shingles repeat across docs and
    # some do not (the corpus has no exact-duplicate texts, so a ratio
    # of exactly 1.0 everywhere would indicate a counting bug)
    assert any(r["n_boiler"] > 0 for r in out.values())
    assert any(r["boiler_ratio"] < 1.0 for r in out.values())
    # Python replay on a sample: a doc's n_boiler equals the count of
    # its distinct shingles that occur in >= 2 distinct docs
    d = table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    texts = {r["doc_id"]: r["text"] for r in d.collect()}
    sh = {}
    for did, text in texts.items():
        toks = [t for t in text.lower().split(" ") if t]
        sh[did] = {
            " ".join(toks[i : i + 5]) for i in range(len(toks) - 4)
        }
    from collections import Counter

    df_count = Counter(s for ss in sh.values() for s in ss)
    for did in list(out)[:50]:
        boiler = sum(1 for s in sh[did] if df_count[s] >= 2)
        assert out[did]["n_shingles"] == len(sh[did])
        assert out[did]["n_boiler"] == boiler, (did, boiler)


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


def test_dq_outliers_zscores_match_python(spark, sf_dir):
    import math

    rows = table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    ).collect()
    stats: dict[str, list[int]] = {}
    for r in rows:
        s = stats.setdefault(r["source"], [0, 0, 0])
        s[0] += 1
        s[1] += r["n_chars"]
        s[2] += r["n_chars"] * r["n_chars"]
    expect = {}
    for r in rows:
        n, sm, ss = stats[r["source"]]
        mu = sm / n
        sd = math.sqrt(max(ss / n - mu * mu, 1e-12))
        z = (r["n_chars"] - mu) / sd
        if abs(z) > 2.0:
            expect[r["doc_id"]] = z
    got = {r["doc_id"]: r["z"] for r in _Q["dq_outliers"](spark, sf_dir).collect()}
    assert set(got) == set(expect), (len(got), len(expect))
    for did, z in got.items():
        assert abs(z) > 2.0


def test_readability_lix_dominates_word_length(spark, sf_dir):
    out = _Q["text_readability"](spark, sf_dir).collect()
    assert out
    for r in out:
        assert r["n_words"] > 0
        assert r["lix"] >= r["avg_word_len"] - 1e-9
        assert 1.0 <= r["avg_word_len"] <= 20.0


def test_rowgroup_stats_covers_both_columns(spark, sf_dir):
    rows = {r["col_name"]: r for r in _Q["scan_rowgroup_stats"](spark, sf_dir).collect()}
    assert set(rows) == {"doc_id", "n_chars"}
    d = table(spark, sf_dir, "documents")
    mm = d.agg(
        F.min("doc_id"), F.max("doc_id"), F.min("n_chars"), F.max("n_chars")
    ).first()
    assert rows["doc_id"]["min_val"] == mm[0] and rows["doc_id"]["max_val"] == mm[1]
    assert rows["n_chars"]["min_val"] == mm[2] and rows["n_chars"]["max_val"] == mm[3]


def test_naivebayes_confusion_matrix_partitions_corpus(spark, sf_dir):
    rows = _Q["ml_naivebayes"](spark, sf_dir).collect()
    assert rows
    langs = {
        r["lang"]
        for r in table(spark, sf_dir, "documents").select("lang").distinct().collect()
    }
    n_docs = (
        table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull() & (F.length("text") > 0))
        .count()
    )
    assert sum(r["n"] for r in rows) == n_docs
    for r in rows:
        assert r["lang"] in langs and r["pred_lang"] in langs
        assert r["n"] > 0


def test_stump_minimizes_weighted_gini_over_histogram(spark, sf_dir):
    row = _Q["ml_stump"](spark, sf_dir).collect()
    assert len(row) == 1
    row = row[0]
    docs = table(spark, sf_dir, "documents").select("n_chars", "lang").collect()
    n = len(docs)
    assert row["n_left"] + row["n_right"] == n
    assert 0.0 <= row["wgini"] <= 0.5 + 1e-9

    def wgini_at(t):
        ln_ = sum(1 for d in docs if d["n_chars"] <= t)
        lp = sum(1 for d in docs if d["n_chars"] <= t and d["lang"] == "en")
        rn = n - ln_
        rp = sum(1 for d in docs if d["lang"] == "en") - lp
        if ln_ == 0 or rn == 0:
            return None

        def g(nn, pp):
            pr, qr = pp / nn, (nn - pp) / nn
            return 1.0 - pr * pr - qr * qr

        return (ln_ * g(ln_, lp) + rn * g(rn, rp)) / n

    xs = sorted({d["n_chars"] for d in docs})
    best = min(w for w in (wgini_at(t) for t in xs) if w is not None)
    assert abs(row["wgini"] - best) < 2e-6, (row["wgini"], best)


def test_ab_test_welch_t_matches_python(spark, sf_dir):
    import math

    rows = {r["event_type"]: r for r in _Q["events_ab_test"](spark, sf_dir).collect()}
    assert rows
    ev = table(spark, sf_dir, "events").filter(F.col("value").isNotNull()).select(
        "event_type", "user_id", "value"
    ).collect()
    by = {}
    for r in ev:
        by.setdefault((r["event_type"], r["user_id"] % 2), []).append(r["value"])
    for et, row in rows.items():
        va, vb = by[(et, 0)], by[(et, 1)]
        assert row["n_a"] == len(va) and row["n_b"] == len(vb)
        ma, mb = sum(va) / len(va), sum(vb) / len(vb)
        s2a = sum((x - ma) ** 2 for x in va) / (len(va) - 1)
        s2b = sum((x - mb) ** 2 for x in vb) / (len(vb) - 1)
        t = (ma - mb) / math.sqrt(s2a / len(va) + s2b / len(vb))
        assert abs(row["t_welch"] - t) < 5e-3, (et, row["t_welch"], t)


def test_keywords_topk_per_doc_ordered(spark, sf_dir):
    rows = _Q["text_keywords"](spark, sf_dir).collect()
    assert rows
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], []).append(r)
    for did, rs in per_doc.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= 3
        for a, b in zip(rs, rs[1:]):
            assert a["tfidf"] >= b["tfidf"] - 1e-9


def test_novelty_is_boilerplates_dual(spark, sf_dir):
    """Every shingle is novel in exactly ONE document, so total novel
    shingles == distinct shingles corpus-wide; the earliest doc of any
    duplicate pair scores the shingle, the later one doesn't."""
    out = {r["doc_id"]: r for r in _Q["text_novelty"](spark, sf_dir).collect()}
    assert out
    boiler = {r["doc_id"]: r for r in _Q["text_boilerplate"](spark, sf_dir).collect()}
    assert set(out) == set(boiler)
    for did, r in out.items():
        assert r["n_novel"] <= r["n_shingles"]
        assert r["n_shingles"] == boiler[did]["n_shingles"]
    # Python replay: total novel shingles == distinct shingles corpus-wide
    texts = {
        r["doc_id"]: r["text"]
        for r in table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull() & (F.length("text") > 0))
        .collect()
    }
    all_shingles = set()
    for text in texts.values():
        toks = [t for t in text.lower().split(" ") if t]
        all_shingles.update(
            " ".join(toks[i : i + 5]) for i in range(len(toks) - 4)
        )
    assert sum(r["n_novel"] for r in out.values()) == len(all_shingles)
    # the first doc (doc_id min) is 100% novel by construction
    first = min(out)
    assert out[first]["novelty"] == 1.0


def test_gini_bounds_and_python_replay(spark, sf_dir):
    rows = {r["source"]: r for r in _Q["agg_gini"](spark, sf_dir).collect()}
    assert rows
    data = {}
    for r in table(spark, sf_dir, "documents").select("source", "n_chars").collect():
        data.setdefault(r["source"], []).append(r["n_chars"])
    assert set(rows) == set(data)
    for src, vals in data.items():
        vals.sort()
        n, w = len(vals), sum(vals)
        s = 0
        t = 0
        for v in vals:
            s += v
            t += 2 * s - v
        g = 1.0 - t / (n * w)
        got = rows[src]
        assert got["n_docs"] == n
        assert abs(got["gini"] - g) < 2e-6, (src, got["gini"], g)
        assert 0.0 <= got["gini"] < 1.0


def test_zipf_exponent_is_plausible_and_rank1_is_top_word(spark, sf_dir):
    row = _Q["text_zipf_fit"](spark, sf_dir).collect()
    assert len(row) == 1
    r = row[0]
    vocab = (
        table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull() & (F.length("text") > 0))
        .select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .where(F.col("w") != "")
        .select("w")
        .distinct()
        .count()
    )
    assert r["n_vocab"] == vocab
    # the synthetic corpus is near-uniform over a tiny vocab, so s is
    # small but the fit must still be finite and non-negative-ish
    assert -1.0 < r["zipf_s"] < 3.0
    assert r["log_c"] > 0.0


def test_compression_ratio_is_deterministic_and_sane(spark, sf_dir):
    import zlib

    rows = {r["doc_id"]: r for r in _Q["text_compression_ratio"](spark, sf_dir).collect()}
    assert rows
    texts = {
        r["doc_id"]: r["text"]
        for r in table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull() & (F.length("text") > 0))
        .collect()
    }
    assert set(rows) == set(texts)
    for did, r in rows.items():
        raw = texts[did].encode("utf-8")
        expect = round(len(zlib.compress(raw, 6)) / len(raw), 4)
        assert r["comp_ratio"] == expect, (did, r["comp_ratio"], expect)
        assert 0.0 < r["comp_ratio"] <= 1.2
    # repartitioning must not change a single ratio (pure function)
    again = {
        r["doc_id"]: r["comp_ratio"]
        for r in _Q["text_compression_ratio"](spark, sf_dir).collect()
    }
    assert again == {k: v["comp_ratio"] for k, v in rows.items()}
    # highly repetitive text compresses harder than varied text on avg
    import statistics

    assert statistics.mean(v["comp_ratio"] for v in rows.values()) < 1.0


def test_auc_matches_pairwise_bruteforce(spark, sf_dir):
    """The histogram rank-sum AUC must equal the O(n_pos*n_neg)
    pairwise definition: mean over (pos, neg) pairs of
    1[s_pos > s_neg] + 0.5 * 1[tie] — an independent algorithm."""
    from terasort_spark.operators.ml import _AUC_STOPS

    row = _Q["ml_auc"](spark, sf_dir).collect()[0]
    d = table(spark, sf_dir, "documents").select("text", "lang").collect()
    pos, neg = [], []
    for r in d:
        if not r["text"]:
            continue
        toks = [t for t in r["text"].lower().split(" ") if t]
        if not toks:
            continue
        s = int(sum(t in _AUC_STOPS for t in toks) / len(toks) * 10000 + 0.5)
        (pos if r["lang"] == "en" else neg).append(s)
    assert (row["n_pos"], row["n_neg"]) == (len(pos), len(neg))
    two_u = sum(
        2 if sp > sn else (1 if sp == sn else 0) for sp in pos for sn in neg
    )
    import math

    expect = math.floor(two_u / (2.0 * len(pos) * len(neg)) * 10000 + 0.5) / 10000
    assert row["auc"] == expect
    assert 0.0 <= row["auc"] <= 1.0


def test_dsir_weights_rank_target_like_docs_higher(spark, sf_dir):
    """DSIR's whole point: documents from the target distribution
    (English) must get systematically higher importance weights than
    off-target documents. Also pins per-doc token counts against a
    Python replay (the feature extraction is shared machinery)."""
    out = {r["doc_id"]: r for r in _Q["text_dsir_weights"](spark, sf_dir).collect()}
    d = table(spark, sf_dir, "documents").select("doc_id", "text", "lang").collect()
    en, other = [], []
    for r in d:
        if not r["text"]:
            continue
        toks = [t for t in r["text"].lower().split(" ") if t]
        if not toks:
            continue
        assert out[r["doc_id"]]["n_toks"] == len(toks)
        w = out[r["doc_id"]]["logweight"] / len(toks)  # length-normalized
        (en if r["lang"] == "en" else other).append(w)
    assert en and other
    # 256 hashed buckets collide heavily on a 500-doc corpus, so the
    # separation is directional rather than dramatic at this SF.
    assert sum(en) / len(en) > sum(other) / len(other) + 0.0005


def test_skyline_matches_bruteforce_dominance_and_plan_shape(spark, sf_dir):
    """The histogram-frontier skyline must equal the O(n^2) dominance
    definition, and its plan must stay broadcast + cartesian-free."""
    from terasort_spark.plans.checks import (
        assert_broadcast_join,
        assert_no_cartesian,
    )

    df = _Q["topk_skyline"](spark, sf_dir)
    assert_no_cartesian(df)
    assert_broadcast_join(df)
    got = {(r["p_partkey"], r["p_size"]) for r in df.collect()}
    parts = [
        (r["p_partkey"], r["p_size"], int(r["p_retailprice"] * 100 + 0.5))
        for r in table(spark, sf_dir, "part").collect()
    ]
    expect = {
        (k, s)
        for (k, s, c) in parts
        if not any(
            bc <= c and bs >= s and (bc < c or bs > s) for (_, bs, bc) in parts
        )
    }
    assert got == expect and got


def test_compaction_reduces_file_count_to_size_target(spark, sf_dir):
    """sink_compacted must actually compact: 64 small input files, and
    the output file count equals ceil(on-disk bytes / 1 MiB)."""
    import os

    from terasort_spark.operators.scans import _COMPACT_TARGET_BYTES

    _Q["sink_compacted"](spark, sf_dir).collect()
    from terasort_spark.operators._util import scratch_dir

    small_dir = scratch_dir(spark, "smallfiles")
    big_dir = scratch_dir(spark, "compacted")
    small = [f for f in os.listdir(small_dir) if f.endswith(".parquet")]
    big = [f for f in os.listdir(big_dir) if f.endswith(".parquet")]
    assert len(small) == 64
    on_disk = sum(os.path.getsize(os.path.join(small_dir, f)) for f in small)
    want = max(1, -(-on_disk // _COMPACT_TARGET_BYTES))
    assert len(big) == want < 64


def test_calibration_bins_replay_and_ece(spark, sf_dir):
    """Bin stats must equal a Python replay of the identical score/bin
    recipe, and the n-weighted ECE must be a sane probability gap."""
    import math

    from terasort_spark.operators.ml import _AUC_STOPS

    got = {r["bin"]: r for r in _Q["ml_calibration"](spark, sf_dir).collect()}
    d = table(spark, sf_dir, "documents").select("text", "lang").collect()
    bins: dict[int, list] = {}
    for r in d:
        if not r["text"]:
            continue
        toks = [t for t in r["text"].lower().split(" ") if t]
        if not toks:
            continue
        s = int(sum(t in _AUC_STOPS for t in toks) / len(toks) * 10000 + 0.5)
        bins.setdefault(min(s // 1000, 9), []).append(
            (s, 1 if r["lang"] == "en" else 0)
        )
    assert set(got) == set(bins)
    n_total = sum(len(v) for v in bins.values())
    ece = 0.0
    for b, rows in bins.items():
        n = len(rows)
        avg_pred = math.floor(sum(s for s, _ in rows) / (n * 10000) * 10000 + 0.5) / 10000
        frac_pos = math.floor(sum(y for _, y in rows) / n * 10000 + 0.5) / 10000
        assert got[b]["n"] == n
        assert got[b]["avg_pred"] == avg_pred
        assert got[b]["frac_pos"] == frac_pos
        ece += n / n_total * abs(got[b]["avg_pred"] - got[b]["frac_pos"])
    assert 0.0 <= ece <= 1.0


def test_ks_drift_matches_bruteforce_ecdf(spark, sf_dir):
    """The histogram KS statistic must equal the brute-force max over
    all thresholds of |ECDF_en - ECDF_other| (with the smallest-x
    tie-break)."""
    import math

    row = _Q["dq_ks_drift"](spark, sf_dir).collect()[0]
    d = table(spark, sf_dir, "documents").select("n_chars", "lang").collect()
    a = sorted(r["n_chars"] for r in d if r["lang"] == "en")
    b = sorted(r["n_chars"] for r in d if r["lang"] != "en")
    best = (-1, None)  # (numerator, threshold)
    for x in sorted({*a, *b}):
        ca = sum(1 for v in a if v <= x)
        cb = sum(1 for v in b if v <= x)
        num = abs(ca * len(b) - cb * len(a))
        if num > best[0]:
            best = (num, x)
    assert (row["n_a"], row["n_b"]) == (len(a), len(b))
    assert row["threshold"] == best[1]
    want_d = math.floor(best[0] / (len(a) * len(b)) * 10000 + 0.5) / 10000
    assert row["d"] == want_d and 0.0 <= row["d"] <= 1.0


def test_k_anonymity_guarantee_and_minimality(spark, sf_dir):
    """Every released equivalence class must have >= k members (except
    the terminal fully-suppressed class, which absorbs whatever is
    left), and suppression must be minimal: a (lang, source) class is
    kept verbatim iff it already had >= k members."""
    from collections import Counter

    from terasort_spark.operators.analytics import _KANON_K

    rows = _Q["dq_k_anonymity"](spark, sf_dir).collect()
    d = table(spark, sf_dir, "documents").select("doc_id", "lang", "source").collect()
    assert len(rows) == len(d)
    orig = Counter((r["lang"], r["source"]) for r in d)
    out_classes = Counter((r["lang_out"], r["source_out"]) for r in rows)
    for (lang, src), n in out_classes.items():
        if (lang, src) != ("*", "*"):
            assert n >= _KANON_K, ((lang, src), n)
    for (lang, src), n in orig.items():
        kept = out_classes.get((lang, src), 0)
        if n >= _KANON_K:
            assert kept >= n  # verbatim classes survive whole
        else:
            assert (lang, src) not in out_classes  # risky classes gone


def test_autocorr_matches_numpy_and_is_bounded(spark, sf_dir):
    import numpy as np

    out = {r["user_id"]: r for r in _Q["ts_autocorr"](spark, sf_dir).collect()}
    assert out, "no user met the minimum-history bar"
    from terasort_spark.operators.timeseries import AC_LAGS, AC_MIN_EVENTS

    for r in out.values():
        assert r["n"] >= AC_MIN_EVENTS
        for k in AC_LAGS:
            v = r[f"r{k}"]
            assert v is None or -1.0001 <= v <= 1.0001
    # numpy replay on 10 users: Pearson corr of the 4dp-quantized
    # series against its k-shift matches the exact-integer result
    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("user_id", "ts", "event_id", "value")
        .collect()
    )
    series: dict[int, list[float]] = {}
    for row in sorted(ev, key=lambda r: (r["user_id"], r["ts"], r["event_id"])):
        series.setdefault(row["user_id"], []).append(row["value"])
    checked = 0
    for uid in sorted(out):
        xs = np.floor(np.array(series[uid]) * 10000 + 0.5)
        for k in AC_LAGS:
            a, b = xs[:-k], xs[k:]
            expect = np.corrcoef(a, b)[0, 1]
            got = out[uid][f"r{k}"]
            assert abs(got - expect) < 2e-4, (uid, k, got, expect)
        checked += 1
        if checked >= 10:
            break
    assert checked == 10


def test_benford_digits_partition_and_replay(spark, sf_dir):
    from collections import Counter

    out = {r["digit"]: r for r in _Q["dq_benford"](spark, sf_dir).collect()}
    assert set(out) <= set(range(1, 10)) and 1 in out
    total = sum(r["n"] for r in out.values())
    assert abs(sum(r["pct"] for r in out.values()) - 1.0) < 1e-3
    # Python replay: digit histogram of cents-quantized totals
    prices = [
        r["o_totalprice"]
        for r in table(spark, sf_dir, "orders").select("o_totalprice").collect()
        if r["o_totalprice"] > 0
    ]
    import math

    counts = Counter(int(str(int(math.floor(p * 100 + 0.5)))[0]) for p in prices)
    assert total == len(prices)
    for d, r in out.items():
        assert r["n"] == counts[d], (d, r["n"], counts[d])
        assert abs(r["dev"] - (r["pct"] - math.log10(1 + 1 / d))) < 2e-4


def test_confusion_matrices_replay_and_are_consistent(spark, sf_dir):
    """ml_confusion: each threshold's matrix sums to the corpus size,
    counts are monotone in the threshold (raising T can only move
    predictions from positive to negative), and a Counter replay from
    raw (s, y) pairs matches exactly."""
    from collections import Counter

    from terasort_spark.operators.ml import _stopword_scored

    rows = {r["threshold"]: r for r in _Q["ml_confusion"](spark, sf_dir).collect()}
    assert set(rows) == {250, 500, 750}
    pairs = [(r["s"], r["y"]) for r in _stopword_scored(spark, sf_dir).collect()]
    n = len(pairs)
    for t, r in rows.items():
        cm = Counter()
        for s, y in pairs:
            cm[(int(s >= t), y)] += 1
        assert (r["tp"], r["fp"], r["fn"], r["tn"]) == (
            cm[(1, 1)], cm[(1, 0)], cm[(0, 1)], cm[(0, 0)]
        )
        assert r["tp"] + r["fp"] + r["fn"] + r["tn"] == n
        if r["tp"] + r["fp"]:
            assert 0.0 <= r["precision_"] <= 1.0 and 0.0 <= r["f1"] <= 1.0
    ts = sorted(rows)
    for lo, hi in zip(ts, ts[1:]):
        assert rows[hi]["tp"] <= rows[lo]["tp"]
        assert rows[hi]["fp"] <= rows[lo]["fp"]


def test_cusum_matches_numpy_changepoint(spark, sf_dir):
    """ts_cusum: replay the scaled CUSUM argmax in numpy from raw
    events; a deliberately level-shifted series puts the changepoint at
    the shift."""
    import numpy as np
    import pandas as pd

    out = {r["event_type"]: r for r in _Q["ts_cusum"](spark, sf_dir).collect()}
    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .filter(F.col("value").isNotNull())
        .select("event_type", F.date_trunc("day", "ts").cast("date").alias("d"),
                "value")
        .collect()
    )
    daily = {}
    for r in ev:
        key = (r["event_type"], r["d"])
        daily[key] = daily.get(key, 0) + int(np.floor(r["value"] * 10000 + 0.5))
    for et in {k[0] for k in daily}:
        days = sorted(d for (t, d) in daily if t == et)
        sv = np.array([daily[(et, d)] for d in days], dtype=np.int64)
        n, tot = len(sv), sv.sum()
        cus = n * np.cumsum(sv) - np.arange(1, n + 1) * tot
        best = int(np.argmax(np.abs(cus)))  # ties: earliest, matches asc d
        assert out[et]["cp_date"] == days[best]
        assert out[et]["n_days"] == n
        expect = np.floor(abs(cus[best]) / (n * 10000.0) * 10000 + 0.5) / 10000
        assert out[et]["max_dev"] == expect
    # synthetic level shift: flat 10s then flat 20s -> cusum peaks at the shift
    pdf = pd.DataFrame({"v": [10.0] * 6 + [20.0] * 6})
    sv = np.floor(pdf["v"].to_numpy() * 10000 + 0.5).astype(np.int64)
    cus = len(sv) * np.cumsum(sv) - np.arange(1, len(sv) + 1) * sv.sum()
    assert int(np.argmax(np.abs(cus))) == 5  # last pre-shift day


def test_ann_index_layout_and_equivalence_to_unpartitioned_join(spark, sf_dir):
    """sink_ann_index: the written layout really is one directory per
    bucket, and the pruned probe answers EXACTLY what the in-memory
    bucketed join (sim_cosine_ivf's single-probe form) answers."""
    import os

    out_rows = {
        (r["q_id"], r["rn"]): r
        for r in _Q["sink_ann_index"](spark, sf_dir).collect()
    }
    from terasort_spark.operators._util import scratch_dir

    root = scratch_dir(spark, "ann_index")
    parts = [p for p in os.listdir(root) if p.startswith("bucket=")]
    assert parts and all(0 <= int(p.split("=")[1]) < 16 for p in parts)
    # in-memory twin
    from terasort_spark.catalog import table
    from terasort_spark.operators.llm_similarity import ivf_bucket
    from terasort_spark.operators._util import rnd
    from pyspark.sql import Window

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("emb")
    )
    xu = F.transform(F.col("emb"), lambda x: F.floor(x * 1000000 + F.lit(0.5)).cast("long"))
    eb = e.withColumn("bucket", ivf_bucket(xu))
    q = eb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("emb").alias("q_emb"), "bucket"
    )
    c = eb.select(F.col("vec_id").alias("c_id"), F.col("emb").alias("c_emb"), "bucket")

    def dot(x, y):
        return F.aggregate(F.zip_with(x, y, lambda a, b: a * b), F.lit(0.0),
                           lambda acc, v: acc + v)

    cosine = dot(F.col("q_emb"), F.col("c_emb")) / (
        F.sqrt(dot(F.col("q_emb"), F.col("q_emb")))
        * F.sqrt(dot(F.col("c_emb"), F.col("c_emb")))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))
    twin = (
        q.join(c, "bucket")
        .filter(F.col("c_id") != F.col("q_id"))
        .withColumn("cosine", rnd(cosine))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
    )
    for r in twin.collect():
        got = out_rows[(r["q_id"], r["rn"])]
        assert (got["c_id"], got["cosine"]) == (r["c_id"], r["cosine"])


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
