"""Blocked-GEMM similarity search: the throughput path for brute-force
ANN. Where `sim_cosine_topk` (operators/llm_similarity.py) evaluates
cosine per (query, candidate) ROW with JVM higher-order functions —
clean, oracle-checkable, O(q·n) rows through the engine — this variant
never materializes the pair table: each Arrow batch of candidates
becomes ONE numpy matrix, similarities land in a single BLAS matmul
(candidates × queriesᵀ), and only each batch's per-query top-k
survives. Declared rows-only; `tests/test_llm.py` asserts it returns
`sim_cosine_topk`'s (q_id, c_id, rn) rows exactly, cosines to 1e-4
(BLAS accumulation order can differ from the sequential fold by ULPs).

Scale notes: queries broadcast (plain Python closure over a small
ndarray — same mechanics as a broadcast join, no shuffle); candidates
stream through mapInPandas in Arrow batches (iterator form — a
partition is never resident); the reduce phase sees only
k·n_batches·|Q| partial rows, then one WindowGroupLimit finishes
global top-k. This is how you scan billions of vectors: the pair
explosion happens inside BLAS registers, not in the engine.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from terasort_spark.catalog import table
from terasort_spark.operators.llm_similarity import COSINE_TOPK_ORACLE, topk_per
from terasort_spark.registry import register

TOP_K = 5
N_QUERIES = 10  # vec_id < 10, matching sim_cosine_topk


@register("sim_cosine_gemm", oracle=COSINE_TOPK_ORACLE)
def sim_cosine_gemm(spark, sf_dir):
    """GEMM-blocked cosine top-5 for the same 10 query vectors as
    `sim_cosine_topk` — identical output contract (q_id, c_id, cosine
    4dp, rn), 100× less per-row engine overhead. Cosines are computed
    in float64 numpy and floor-rounded to 4dp INSIDE the worker, the
    same rounding the HOF formulation applies — but BLAS accumulates
    each dot product in a blocked/SIMD (possibly FMA) order, not the
    sequential zip_with fold, so pre-rounding values can differ by a
    few ULPs and a cosine sitting exactly on a 0.00005 boundary could
    round differently. In practice ids and ranks agree exactly
    (asserted in tests), with cosines compared at 1e-4 tolerance.

    Accepted risk (ADVICE r3): the strict value-hash oracle passes on
    this container's BLAS empirically; a different BLAS build could in
    principle flip a boundary cosine the tolerance-based test would
    tolerate but the driver's exact hash would not. Kept because the
    operator's purpose is demonstrating the GEMM throughput path with
    a hard external check; a mismatch would localize instantly here."""
    # a null vector has no cosine: drop before the numpy path, matching
    # the HOF twin where null arrays yield null cosines that never rank
    e = table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    qrows = (
        e.where(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "embedding")
        .collect()
    )  # tiny, fixed-size query set — the broadcast side
    if not qrows:  # empty corpus → no queries, not a crash
        return spark.createDataFrame(
            [], "q_id bigint, c_id bigint, cosine double, rn int"
        )
    q_ids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    q_mat = np.array(
        [np.asarray(r["embedding"], dtype=np.float64) for r in qrows]
    )
    q_norm = np.sqrt((q_mat * q_mat).sum(axis=1))

    def topk_per_batch(batches):
        for pdf in batches:
            if len(pdf) == 0:  # empty Arrow batch / empty partition
                continue
            c_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            c_mat = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            c_norm = np.sqrt((c_mat * c_mat).sum(axis=1))
            # sims[i, j] = cos(candidate i, query j) — ONE matmul
            sims = (c_mat @ q_mat.T) / np.outer(c_norm, q_norm)
            sims = np.floor(sims * 10000 + 0.5) / 10000  # rnd() in-worker
            out_q, out_c, out_s = [], [], []
            for j in range(len(q_ids)):
                col = sims[:, j]
                mask = c_ids != q_ids[j]  # self-match excluded
                idx = np.nonzero(mask)[0]
                if len(idx) == 0:
                    continue
                # batch-local top-k: keep K best (score desc, c_id asc)
                order = np.lexsort((c_ids[idx], -col[idx]))[:TOP_K]
                keep = idx[order]
                out_q.extend([q_ids[j]] * len(keep))
                out_c.extend(c_ids[keep])
                out_s.extend(col[keep])
            yield pd.DataFrame(
                {
                    "q_id": pd.Series(out_q, dtype="int64"),
                    "c_id": pd.Series(out_c, dtype="int64"),
                    "cosine": pd.Series(out_s, dtype="float64"),
                }
            )

    partials = e.select("vec_id", "embedding").mapInPandas(
        topk_per_batch, schema="q_id bigint, c_id bigint, cosine double"
    )
    return topk_per(partials, TOP_K, "cosine").select("q_id", "c_id", "cosine", "rn")
