"""ML operators (terasort_spark/operators/ml.py). ml_logreg is rows-only
iterative training, so its semantics are pinned by an exact numpy
replay of the standardize + quantized-GD recipe plus learnability and
determinism checks; the trees, boosting and ROUGE are replayed against
brute-force Python; retrieval MRR/hit@5 and NDCG are checked for bounds and
consistency; naive Bayes, stumps, AUC, calibration and confusion
matrices are replayed in Python."""

from __future__ import annotations

import math
from collections import Counter

from pyspark.sql import functions as F

from terasort_spark.catalog import table
from terasort_spark.operators.ml import FEATS, LR, N_ITER, Q, ROUGE_PAIRS
from terasort_spark.registry import queries

_Q = queries()


def _numpy_replay(spark, sf_dir):
    import numpy as np

    from terasort_spark.operators.ml import standardized_features

    X_df, n = standardized_features(spark, sf_dir)
    rows = X_df.collect()
    X = np.array([[r[c] for c in FEATS] for r in rows], dtype=np.float64)
    y = np.array([r["y"] for r in rows], dtype=np.float64)
    w = np.zeros(len(FEATS))
    for _ in range(N_ITER):
        err = 1.0 / (1.0 + np.exp(-(X @ w))) - y
        # the exact quantized-sum the distributed aggregation performs
        g = np.array(
            [
                int(np.sum(np.floor(X[:, j] * err * Q + 0.5).astype(np.int64)))
                for j in range(len(FEATS))
            ],
            dtype=np.float64,
        )
        w = w - LR * (g / Q) / n
    acc = float(np.mean(((X @ w) > 0).astype(np.float64) == y))
    return w, acc


def test_logreg_matches_numpy_replay_exactly(spark, sf_dir):
    got = {r["name"]: r["value"] for r in _Q["ml_logreg"](spark, sf_dir).collect()}
    w, acc = _numpy_replay(spark, sf_dir)
    for j, c in enumerate(FEATS):
        assert got[f"w_{c}"] == round(w[j], 6), (c, got[f"w_{c}"], w[j])
    assert got["train_accuracy"] == round(acc, 6)


def test_logreg_learns_separable_target(spark, sf_dir):
    """The long-doc label is determined by n_chars, which is (scaled) a
    feature — 10 conditioned GD steps must leave chance far behind."""
    got = {r["name"]: r["value"] for r in _Q["ml_logreg"](spark, sf_dir).collect()}
    from pyspark.sql import functions as F

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    pos = d.filter(F.col("n_chars") > 300).count() / d.count()
    majority = max(pos, 1 - pos)
    assert got["train_accuracy"] >= min(0.95, majority + 0.05)
    assert not math.isnan(got["w_x1"]) and got["w_x1"] > 0.0  # chars feature


def test_logreg_deterministic_across_partitionings(spark, sf_dir):
    """Quantized int64 gradient sums: same weights at any parallelism."""
    a = sorted(map(tuple, _Q["ml_logreg"](spark, sf_dir).collect()))
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        b = sorted(map(tuple, _Q["ml_logreg"](spark, sf_dir).collect()))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert a == b


# ---------------------------------------------------------------------------
# ml_adaboost


def test_adaboost_weak_learner_and_replay(spark, sf_dir):
    """The best stump under both polarities can never be worse than
    coin-flip on the weighted distribution (err(pol=+1) + err(pol=-1)
    = total weight, so the min is <= half), and round 1 must equal a
    brute-force unweighted stump search over the raw table."""
    rows = _Q["ml_adaboost"](spark, sf_dir).collect()
    assert [r["round"] for r in rows] == [1, 2, 3]
    for r in rows:
        assert 2 * r["err_w"] <= r["total_w"]
        assert 0.0 < r["acc"] <= 1.0

    d = [
        (int(x), lab == "en")
        for x, lab in table(spark, sf_dir, "documents")
        .select("n_chars", "lang")
        .collect()
    ]
    xs = sorted({x for x, _ in d})
    best = None
    for thr in xs[:-1]:
        for pol in (1, -1):
            err = sum(
                1
                for x, y in d
                if ((pol == 1 and x <= thr) or (pol == -1 and x > thr)) != y
            )
            key = (err, thr, pol)
            if best is None or key < best:
                best = key
    err, thr, pol = best
    r1 = rows[0]
    assert (r1["err_w"], r1["threshold"], r1["polarity"]) == (err, thr, pol)
    # round-1 weights are unit: total weight == corpus size
    assert r1["total_w"] == len(d)


# ---------------------------------------------------------------------------
# ml_tree_depth2


def test_tree_depth2_consistency(spark, sf_dir):
    """Root row must equal ml_stump's answer; children partition the
    root's row counts; each child's split keeps threshold strictly
    inside its node's x-range."""
    rows = {r["node"]: r for r in _Q["ml_tree_depth2"](spark, sf_dir).collect()}
    # A child with a single distinct n_chars value emits no split row
    # (best_split has nothing to split) — both engines agree, so only
    # the root is guaranteed; child invariants apply when present.
    assert "root" in rows
    assert set(rows) <= {"root", "left", "right"}
    stump = _Q["ml_stump"](spark, sf_dir).collect()[0]
    root = rows["root"]
    assert (root["threshold"], root["wgini"]) == (
        stump["threshold"],
        stump["wgini"],
    )
    n_root = root["n_left"] + root["n_right"]
    if "left" in rows:
        assert (
            rows["left"]["n_left"] + rows["left"]["n_right"] == root["n_left"]
        )
        assert rows["left"]["threshold"] < root["threshold"]
    if "right" in rows:
        assert (
            rows["right"]["n_left"] + rows["right"]["n_right"]
            == root["n_right"]
        )
        assert rows["right"]["threshold"] > root["threshold"]
    assert n_root == table(spark, sf_dir, "documents").count()


def test_rouge_clipped_counts_replay(spark, sf_dir):
    """Independent Python replay of clipped ROUGE-1 P/R on every
    emitted pair."""
    import math

    docs = {
        r["doc_id"]: [t for t in r["text"].lower().split(" ") if t]
        for r in table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull() & (F.col("doc_id") < ROUGE_PAIRS))
        .select("doc_id", "text")
        .collect()
    }
    rows = _Q["ml_rouge"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        cand, ref = docs[r["cand_id"]], docs[r["cand_id"] - 1]
        cc, rc = Counter(cand), Counter(ref)
        m = sum(min(cc[t], rc[t]) for t in cc)
        p = math.floor(m / len(cand) * 10000 + 0.5) / 10000
        rr = math.floor(m / len(ref) * 10000 + 0.5) / 10000
        assert (r["rouge1_p"], r["rouge1_r"]) == (p, rr)
        assert 0.0 <= r["rouge2_f"] <= 1.0
        # identical texts must score a perfect F1
        if cand == ref:
            assert r["rouge1_f"] == 1.0


# ------------------------------------------------------------------ ml_mrr --


def test_mrr_metrics_bounded_and_consistent(spark, sf_dir):
    rows = _Q["ml_mrr"](spark, sf_dir).collect()
    assert len(rows) == 10  # one per query
    for r in rows:
        assert 0.0 <= r["rr"] <= 1.0
        assert r["hit5"] in (0, 1)
        # rr and hit5 agree: a hit has rr >= 1/5, a miss has rr == 0
        assert (r["rr"] > 0) == (r["hit5"] == 1)
        if r["hit5"]:
            assert r["rr"] >= 1 / 5 - 1e-9
    # the multi-probe IVF must beat random bucket luck (5/16 of the
    # space probed -> ~3 expected hits if hashing carried no signal);
    # at this tiny sf the buckets are sparse, so the bar is modest —
    # sf0.01 scores higher (driver-graded values in CORRECTNESS_r07)
    assert sum(r["hit5"] for r in rows) >= 4


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


def test_ndcg_recomputes_from_system_and_exact_rankings(spark, sf_dir):
    """NDCG must equal a from-scratch Python recomputation over the
    emitted system ranking and the exact top-5 ground truth."""
    import math

    from terasort_spark.operators.ml import _IDCG6

    sys_rows = _Q["sim_cosine_sq8"](spark, sf_dir).collect()
    exact = _Q["sim_cosine_topk"](spark, sf_dir).collect()
    rel = {(r["q_id"], r["c_id"]): 6 - r["rn"] for r in exact}
    want: dict = {}
    for r in sys_rows:
        g = rel.get((r["q_id"], r["c_id"]), 0)
        t6 = math.floor(g / math.log2(r["rn"] + 1) * 1000000 + 0.5)
        d = want.setdefault(r["q_id"], [0, 0])
        d[0] += t6
        d[1] += 1 if g else 0
    got = {r["q_id"]: r for r in _Q["ml_ndcg"](spark, sf_dir).collect()}
    assert set(got) == set(want)
    for qid, (dcg6, hits) in want.items():
        r = got[qid]
        assert r["hits"] == hits
        assert r["dcg"] == math.floor(dcg6 / 100.0 + 0.5) / 10000
        assert r["ndcg"] == math.floor(dcg6 / _IDCG6 * 10000 + 0.5) / 10000
        assert 0.0 <= r["ndcg"] <= 1.0
