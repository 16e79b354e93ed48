"""ML operators (terasort_spark/operators/ml.py). ml_logreg is rows-only
iterative training, so its semantics are pinned by an exact numpy
replay of the standardize + quantized-GD recipe plus learnability and
determinism checks; the trees, boosting and ROUGE are replayed against
brute-force Python."""

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
