"""Quality tests for the approximate LLM-pipeline operators: the
rows-only queries (no DuckDB oracle) still have measurable contracts —
LSH candidate recall vs the exact pair set, ANN recall vs exact top-k,
simhash determinism, multimodal batch plumbing — and replays of the
language-ID and Kneser-Ney text operators."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from terasort_spark.catalog import table
from terasort_spark.registry import queries

_Q = queries()


def test_minhash_recall_of_high_jaccard_pairs(spark, sf_dir):
    """Banded MinHash (32 hashes, 4 bands x 8 rows) must recover most
    pairs with Jaccard >= 0.9 (P(candidate) = 1-(1-s^8)^4 ≈ 0.89 at
    s=0.9) and its survivors must genuinely clear the 0.5 verify
    threshold."""
    from terasort_spark.operators.llm_dedup import minhash_pairs

    exact = {
        (r["a_id"], r["b_id"])
        for r in _Q["sim_jaccard"](spark, sf_dir).collect()  # tau = 0.9 pairs
    }
    approx = {
        (r["a_id"], r["b_id"])
        for r in minhash_pairs(spark, sf_dir, tau=0.5).collect()
        if r["a_id"] < 200 and r["b_id"] < 200  # sim_jaccard's slice
    }
    assert exact, "exact pair set unexpectedly empty"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"LSH recall {recall:.2f} on {len(exact)} pairs"


def test_ivf_results_are_subset_of_exact_cosine_order(spark, sf_dir):
    """Bucketed ANN returns each query's true in-bucket ranking: every
    reported neighbor must appear in the exact brute-force ranking, and
    per-query recall@5 should be well above random (64 vecs/bucket avg)."""
    exact = _Q["sim_cosine_topk"](spark, sf_dir).collect()
    approx = _Q["sim_cosine_ivf"](spark, sf_dir).collect()
    exact_top = {(r["q_id"], r["c_id"]) for r in exact}
    approx_top = {(r["q_id"], r["c_id"]) for r in approx}
    recall = len(exact_top & approx_top) / len(exact_top)
    # sign-LSH buckets on synthetic gaussian vectors: recall is modest by
    # design; the contract is "far better than random" (5/500 = 1%)
    assert recall >= 0.2, f"ANN recall@5 {recall:.2f}"


def test_simhash_deterministic_and_correlates_with_jaccard(spark, sf_dir):
    a = {r["doc_id"]: r["simhash16"] for r in _Q["dedup_simhash"](spark, sf_dir).collect()}
    b = {r["doc_id"]: r["simhash16"] for r in _Q["dedup_simhash"](spark, sf_dir).collect()}
    assert a == b  # bit-for-bit reproducible
    assert all(0 <= v < (1 << 16) for v in a.values())


def test_dedup_exact_removes_manufactured_dups(spark, sf_dir):
    out = _Q["dedup_exact"](spark, sf_dir).collect()
    dups = [r for r in out if r["n_copies"] > 1]
    assert dups, "expected manufactured duplicates"
    # keeper is always the original (min doc_id), never the re-keyed copy
    assert all(r["keep_id"] < 1_000_000 for r in dups)


def test_multimodal_features_schema_and_determinism(spark, sf_dir):
    df = _Q["multimodal_features"](spark, sf_dir)
    assert [f.name for f in df.schema.fields] == [
        "doc_id",
        "media_type",
        "n_bytes",
        "sha_8",
        "thumb_mean",
    ]
    rows = {r["doc_id"]: (r["n_bytes"], r["sha_8"], r["thumb_mean"]) for r in df.collect()}
    again = {r["doc_id"]: (r["n_bytes"], r["sha_8"], r["thumb_mean"]) for r in df.collect()}
    assert rows == again
    assert all(0 <= v[2] <= 255 for v in rows.values())


def test_multimodal_real_codec_raises(spark):
    # every still-image format now decodes for real; only video
    # containers remain a genuine external-codec boundary
    from terasort_spark.sources.media import decode_image

    with pytest.raises(NotImplementedError):
        decode_image(b"\x00\x00\x00\x18ftypmp42", "video/mp4")


def test_wav_codec_through_spark_pipeline(spark):
    """REAL WAV payloads (stdlib wave fixtures, 16-bit mono) flow
    through the same mapInPandas audio stage as the fake codec and
    reproduce a local numpy decode's windowed features exactly."""
    import io
    import wave

    import numpy as np

    from terasort_spark.operators.multimodal_audio import (
        WINDOW,
        audio_features_batched,
        decode_pcm,
    )

    payloads = []
    for doc_id, freq in [(1, 5.0), (2, 23.0)]:
        buf = io.BytesIO()
        t = np.arange(WINDOW * 3 + 17)
        samples = (np.sin(t / freq) * 20000).astype("<i2")
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(8000)
            w.writeframes(samples.tobytes())
        payloads.append((doc_id, bytearray(buf.getvalue()), "audio/wav"))
    df = spark.createDataFrame(
        payloads, "doc_id bigint, payload binary, media_type string"
    )
    got = {
        (r["doc_id"], r["window_idx"]): (r["rms_x1e6"], r["n_zero_cross"])
        for r in df.mapInPandas(
            audio_features_batched,
            schema=(
                "doc_id bigint, window_idx bigint, "
                "rms_x1e6 bigint, n_zero_cross bigint"
            ),
        ).collect()
    }
    expect = {}
    for doc_id, payload, mt in payloads:
        x = decode_pcm(bytes(payload), mt)
        for w in range(len(x) // WINDOW):
            chunk = x[w * WINDOW : (w + 1) * WINDOW]
            expect[(doc_id, w)] = (
                int(round(float(np.sqrt(np.mean(chunk**2))) * 1e6)),
                int(np.count_nonzero(np.diff(np.sign(chunk)))),
            )
    assert got == expect and len(got) == 6


def test_ppm_codec_through_spark_pipeline(spark):
    """REAL P6/P5 netpbm payloads decode through the mapInPandas
    feature stage — thumb_mean equals the local grayscale mean."""
    import numpy as np

    from terasort_spark.sources.media import decode_ppm, extract_features_batched

    rgb = (np.arange(48, dtype=np.uint8) * 5 % 251).tobytes()
    ppm = b"P6\n# test\n4 4\n255\n" + rgb
    pgm = b"P5 6 2 255\n" + bytes(range(12))
    df = spark.createDataFrame(
        [
            (1, bytearray(ppm), "image/ppm"),
            (2, bytearray(pgm), "image/pgm"),
        ],
        "doc_id bigint, payload binary, media_type string",
    )
    got = {
        r["doc_id"]: r["thumb_mean"]
        for r in df.mapInPandas(
            extract_features_batched,
            schema=(
                "doc_id bigint, media_type string, n_bytes bigint, "
                "sha_8 string, thumb_mean double"
            ),
        ).collect()
    }
    assert got[1] == pytest.approx(float(decode_ppm(ppm).mean()))
    assert got[2] == pytest.approx(float(decode_ppm(pgm).mean()))
    assert got[2] == pytest.approx(5.5)  # mean of 0..11


def test_agg_approx_within_hll_error(spark, sf_dir):
    approx = {
        r["l_returnflag"]: r["approx_parts"]
        for r in _Q["agg_approx"](spark, sf_dir).collect()
    }
    exact = {
        r["l_returnflag"]: r["n_parts"]
        for r in _Q["agg_distinct"](spark, sf_dir).collect()
    }
    for k, e in exact.items():
        assert abs(approx[k] - e) / e < 0.1, (k, approx[k], e)

def test_scan_sample_seeded_and_bounded(spark, sf_dir):
    df = _Q["scan_sample"](spark, sf_dir)
    n1 = df.count()
    n2 = _Q["scan_sample"](spark, sf_dir).count()
    assert n1 == n2  # same seed + partitioning -> identical sample
    total = 6000 if "0.001" in sf_dir else 60000 if "0.01" in sf_dir else 600000
    # binomial(n, 0.1) stays within ±5 sigma of the mean
    import math

    mean, sd = total * 0.1, math.sqrt(total * 0.1 * 0.9)
    assert abs(n1 - mean) < 5 * sd, (n1, mean, sd)


def test_scan_stratified_respects_fractions(spark, sf_dir):
    out = _Q["scan_stratified"](spark, sf_dir)
    got = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    totals = {
        r["lang"]: r["n"]
        for r in _Q["text_stats"](spark, sf_dir).select("lang", F.col("n_docs").alias("n")).collect()
    }
    fracs = {"en": 0.2, "de": 1.0, "es": 0.5, "fr": 1.0, "zh": 1.0}
    import math

    for lang, frac in fracs.items():
        n, total = got.get(lang, 0), totals[lang]
        if frac == 1.0:
            assert n == total, (lang, n, total)
        else:
            sd = math.sqrt(total * frac * (1 - frac))
            assert abs(n - total * frac) < 5 * sd + 1, (lang, n, total)
    # determinism
    assert out.count() == _Q["scan_stratified"](spark, sf_dir).count()


def test_pca_power_matches_numpy_eigensolve(spark, sf_dir):
    """emb_pca_power's output must be the dominant eigenvector of the
    oracle-checked covariance matrix. With this corpus's narrow eigengap
    (λ2/λ1 ≈ 0.93) the eigenVECTOR is hypersensitive to the 4dp rounding
    of emb_covariance's cells, so the assertions use the
    perturbation-robust invariants instead: the Rayleigh quotient vᵀAv
    must match numpy's top eigenVALUE, and the residual ‖Av − λv‖ must
    be within the rounding perturbation bound (‖ΔA‖_F ≤ dims·5e-5)."""
    import numpy as np

    from terasort_spark.registry import queries

    cov_rows = queries()["emb_covariance"](spark, sf_dir).collect()
    dim = max(r.j for r in cov_rows)
    m = np.zeros((dim, dim))
    for r in cov_rows:
        m[r.i - 1, r.j - 1] = r.cov
        m[r.j - 1, r.i - 1] = r.cov
    top_w = float(np.linalg.eigh(m)[0][-1])

    got = {r.pos: r.loading for r in queries()["emb_pca_power"](spark, sf_dir).collect()}
    assert len(got) == dim
    vec = np.array([got[i + 1] for i in range(dim)])
    assert abs(np.linalg.norm(vec) - 1.0) < 1e-2  # unit (4dp-rounded) vector
    lam = float(vec @ m @ vec)
    assert abs(lam - top_w) < 1e-3  # eigenvalues are |ΔA|-stable
    residual = float(np.linalg.norm(m @ vec - lam * vec))
    assert residual < dim * 5e-5 + 1e-3, residual
    # sign normalization: largest-|loading| entry is positive
    assert vec[int(np.argmax(np.abs(vec)))] > 0


def test_multimodal_resize_arrow_matches_local(spark, sf_dir):
    """mapInArrow 2x2 pooling must equal the per-row local computation
    and preserve one output row per document."""
    import hashlib

    import numpy as np

    from terasort_spark.registry import queries

    rows = queries()["multimodal_resize"](spark, sf_dir).collect()
    from terasort_spark.catalog import table as _t
    from pyspark.sql import functions as F

    docs = {
        r.doc_id: r.text
        for r in _t(spark, sf_dir, "documents").select("doc_id", "text").collect()
    }
    assert len(rows) == len(docs)
    for r in rows[:20]:
        digest = hashlib.sha256(docs[r.doc_id].encode()).digest()[:16]
        img = np.frombuffer(digest, dtype=np.uint8).reshape(4, 4).astype(np.float64)
        want = img.reshape(2, 2, 2, 2).mean(axis=(1, 3)).ravel()
        assert np.allclose([r.p00, r.p01, r.p10, r.p11], want), r.doc_id


def test_dedup_minhash_partition_invariants(spark, sf_dir):
    """keep/drop is a PARTITION of the corpus; the smallest doc_id can
    never be dropped (no smaller partner exists); and every dropped doc
    has a capped-candidate partner that verifies at Jaccard >= 0.8."""
    from terasort_spark.operators.llm_dedup import minhash_pairs

    out = _Q["dedup_minhash"](spark, sf_dir).collect()
    keep = {r["doc_id"] for r in out if r["keep"]}
    drop = {r["doc_id"] for r in out if not r["keep"]}
    docs = {
        r["doc_id"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id")
        .collect()
    }
    assert keep | drop == docs
    assert not (keep & drop)
    assert min(docs) in keep
    verified_b = {
        r["b_id"] for r in minhash_pairs(spark, sf_dir, tau=0.8, per_doc_cap=8).collect()
    }
    assert drop == verified_b


def test_framesample_plumbing(spark, sf_dir):
    """Frame sampling contract: one row per sampled frame (every 4th of
    the 64-byte frames), deterministic MD5 fingerprints, n_frames
    consistent with payload length."""
    import hashlib

    df = _Q["multimodal_framesample"](spark, sf_dir)
    rows = df.filter(F.col("doc_id") < 20).collect()
    assert rows
    docs = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") < 20)
        .collect()
    }
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(docs)
    for doc_id, frames in by_doc.items():
        payload = docs[doc_id].encode()
        n_frames = max(1, len(payload) // 64)
        expect_idx = list(range(0, n_frames, 4))
        assert sorted(f["frame_idx"] for f in frames) == expect_idx
        first = min(frames, key=lambda f: f["frame_idx"])
        assert first["frame_md5"] == hashlib.md5(payload[:64]).hexdigest()
        assert all(f["n_frames"] == n_frames for f in frames)


def test_sample_mixture_matches_local_md5(spark, sf_dir):
    """The mixture coin is pure md5 — recompute keep/drop in Python and
    require the exact same doc set (proves partitioning-independence:
    nothing about the decision lives in Spark internals)."""
    import hashlib

    from terasort_spark.operators.pretrain import MIX, MIX_DEFAULT, _hex_threshold

    docs = {
        (r["doc_id"], r["source"])
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "source")
        .collect()
    }
    expect = {
        doc_id
        for doc_id, source in docs
        if hashlib.md5(f"mix{doc_id}".encode()).hexdigest()[:6]
        < _hex_threshold(MIX.get(source, MIX_DEFAULT))
    }
    got = {r["doc_id"] for r in _Q["sample_mixture"](spark, sf_dir).collect()}
    assert got == expect


def test_pack_sequences_invariants(spark, sf_dir):
    """Packing layout is a valid greedy concat-then-chop: per source in
    doc_id order, offsets advance by exactly n_tokens (mod CONTEXT) and
    bin_id is the running-sum prefix divided by the context size."""
    from terasort_spark.operators.pretrain import CONTEXT

    rows = _Q["pack_sequences"](spark, sf_dir).collect()
    assert rows
    by_source = {}
    for r in sorted(rows, key=lambda r: (r["source"], r["doc_id"])):
        run = by_source.get(r["source"], 0)
        assert r["bin_id"] == run // CONTEXT
        assert r["bin_offset"] == run % CONTEXT
        by_source[r["source"]] = run + r["n_tokens"]


def test_audio_features_match_local_decode(spark, sf_dir):
    """The audio stage's distributed windows equal a local numpy
    recomputation from the same payload bytes (fake/pcm decode is
    deterministic), proving the mapInPandas plumbing neither drops,
    reorders within key, nor duplicates windows."""
    import numpy as np

    from terasort_spark.operators.multimodal_audio import WINDOW, decode_pcm

    docs = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    got = {
        (r["doc_id"], r["window_idx"]): (r["rms_x1e6"], r["n_zero_cross"])
        for r in _Q["multimodal_audio"](spark, sf_dir).collect()
    }
    expect = {}
    for doc_id, text in docs.items():
        samples = decode_pcm(text.encode(), "fake/pcm")
        for w in range(len(samples) // WINDOW):
            chunk = samples[w * WINDOW : (w + 1) * WINDOW]
            expect[(doc_id, w)] = (
                int(round(float(np.sqrt(np.mean(chunk**2))) * 1e6)),
                int(np.count_nonzero(np.diff(np.sign(chunk)))),
            )
    assert got == expect
    assert got  # at least one full window exists in the corpus


def test_gemm_topk_equals_hof_topk(spark, sf_dir):
    """The blocked-GEMM top-k must return the HOF brute force's rows:
    ids and ranks exactly, cosines within 1e-4. Exact float equality
    would over-assert — BLAS matmul accumulates dots in a blocked/SIMD
    order, so a cosine landing on a 0.00005 rounding boundary may
    round to the adjacent 4dp value on a different BLAS build."""
    hof = {
        (r["q_id"], r["c_id"]): r["cosine"]
        for r in _Q["sim_cosine_topk"](spark, sf_dir).collect()
    }
    gemm = {
        (r["q_id"], r["c_id"]): r["cosine"]
        for r in _Q["sim_cosine_gemm"](spark, sf_dir).collect()
    }
    # Membership, not ranks: a 4dp rounding flip between equal-cosine
    # neighbors may swap adjacent rn values, which is not a bug. A flip
    # at the k boundary may even swap membership — tolerate a candidate
    # in one result but not the other only if its cosine sits within
    # 1e-4 of the other side's worst (rank-k) cosine for that query.
    worst_hof = {}
    for (q, _c), cos in hof.items():
        worst_hof[q] = min(worst_hof.get(q, cos), cos)
    worst_gemm = {}
    for (q, _c), cos in gemm.items():
        worst_gemm[q] = min(worst_gemm.get(q, cos), cos)
    for key in gemm.keys() ^ hof.keys():
        q = key[0]
        cos = gemm.get(key, hof.get(key))
        boundary = worst_hof[q] if key in gemm else worst_gemm[q]
        assert abs(cos - boundary) <= 1e-4, ("boundary flip too large", key, cos)
    for key in gemm.keys() & hof.keys():
        assert abs(gemm[key] - hof[key]) <= 1e-4, (key, gemm[key], hof[key])
    # ≤1 membership flip PER QUERY (a global bound would let all the
    # tolerated flips land on one query and hide a real divergence)
    flips_per_q: dict = {}
    for q, _c in gemm.keys() ^ hof.keys():
        flips_per_q[q] = flips_per_q.get(q, 0) + 1
    # each flip contributes 2 symmetric-difference keys (one side each)
    assert all(n <= 2 for n in flips_per_q.values()), flips_per_q


def test_kmeans_matches_numpy_lloyd(spark, sf_dir):
    """emb_kmeans must be EXACTLY fixed-iteration Lloyd's over 6dp
    integer micro-units: same init (K smallest vec_ids), same tie-break
    (lowest cluster id), same empty-cluster rule (keep previous
    centroid), same quantized-mean update. An int64 numpy replay of the
    identical recipe must reproduce every cluster size EXACTLY and
    every SSE to the operator's own 4dp rounding."""
    import math

    import numpy as np

    from terasort_spark.operators.llm_similarity import K_CLUSTERS, KMEANS_ITER

    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .orderBy("vec_id")
        .collect()
    )
    x = np.array(
        [
            [math.floor(float(v) * 1_000_000 + 0.5) for v in r["embedding"]]
            for r in emb
        ],
        dtype="int64",
    )
    cents = x[:K_CLUSTERS].copy()

    def assign(c):
        d2 = ((x[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
        return d2.argmin(axis=1), d2  # argmin = first minimum = lowest cid

    for _ in range(KMEANS_ITER):
        cid, _d2 = assign(cents)
        for k in range(K_CLUSTERS):
            if (cid == k).any():
                m = x[cid == k]
                cents[k] = np.array(
                    [
                        math.floor(float(s) / len(m) + 0.5)
                        for s in m.sum(axis=0, dtype="int64")
                    ],
                    dtype="int64",
                )
    cid, d2 = assign(cents)
    want_sizes = {
        k: int((cid == k).sum()) for k in range(K_CLUSTERS) if (cid == k).any()
    }
    want_sse = {
        k: math.floor(float(d2[cid == k, k].sum()) / 1e12 * 10000 + 0.5) / 10000
        for k in want_sizes
    }

    got = {r["cid"]: r for r in _Q["emb_kmeans"](spark, sf_dir).collect()}
    assert {k: g["n_vecs"] for k, g in got.items()} == want_sizes
    assert {k: g["sse"] for k, g in got.items()} == want_sse


def test_countmin_never_underestimates(spark, sf_dir):
    """The count-min guarantee is one-sided and DETERMINISTIC: for every
    token, min-over-rows of its cells >= its true count (cells only ever
    accumulate collisions). The top-20 by estimate must also recover the
    exact top-10 (zipfian heads dwarf the ~N/width collision noise)."""
    exact = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(F.explode(F.split(F.lower("text"), " ")).alias("tok"))
        .groupBy("tok")
        .count()
    )
    exact_counts = {r["tok"]: r["count"] for r in exact.collect()}
    got = _Q["agg_heavyhitters"](spark, sf_dir).collect()
    assert len(got) == 20
    for r in got:
        assert r["est"] >= exact_counts[r["tok"]], r
    exact_top10 = {
        t for t, _ in sorted(exact_counts.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    }
    assert exact_top10 <= {r["tok"] for r in got}


def test_pq_recall_beats_ivf_bar(spark, sf_dir):
    """PQ ADC shortlist (top-32) + exact re-rank must recover at least
    half of the true cosine top-5 pairs — well above both random (1%)
    and the raw sign-LSH IVF bar (20%), because the exact re-rank makes
    recall depend only on the shortlist, not on quantized ranking."""
    exact = {(r["q_id"], r["c_id"]) for r in _Q["sim_cosine_topk"](spark, sf_dir).collect()}
    pq_rows = _Q["sim_cosine_pq"](spark, sf_dir).collect()
    assert len(pq_rows) == 50  # 10 queries x top-5, rank materialized
    assert {r["rn"] for r in pq_rows} == {1, 2, 3, 4, 5}
    pq = {(r["q_id"], r["c_id"]) for r in pq_rows}
    recall = len(exact & pq) / len(exact)
    assert recall >= 0.5, f"PQ recall@5 {recall:.2f}"


def test_documents_text_is_ascii_for_byte_char_oracles(spark, sf_dir):
    """multimodal_framesample's oracle equates DuckDB character-indexed
    substr with Python byte slicing, which holds only while
    documents.text is pure ASCII (ADVICE r3). Guard the equivalence so
    corpus drift becomes a clear test failure instead of a silent
    value-hash mismatch."""
    from terasort_spark.catalog import table

    d = table(spark, sf_dir, "documents")
    n_multibyte = d.filter(F.octet_length("text") != F.length("text")).count()
    assert n_multibyte == 0


def _encode_png(arr, color_type, filters, palette=None):
    """Minimal in-test PNG encoder (struct+zlib): 8-bit, chooses the
    given filter type per scanline and applies its ENCODE transform, so
    the decoder's de-filtering of every filter type is exercised."""
    import struct
    import zlib

    import numpy as np

    h = arr.shape[0]
    w = arr.shape[1]
    ch = 1 if arr.ndim == 2 else arr.shape[2]
    flat = arr.reshape(h, w * ch).astype(np.int64)
    bpp = ch
    raw = bytearray()
    for y in range(h):
        f = filters[y % len(filters)]
        raw.append(f)
        row = flat[y]
        prev = flat[y - 1] if y > 0 else np.zeros(w * ch, dtype=np.int64)
        for x in range(w * ch):
            a = int(row[x - bpp]) if x >= bpp else 0
            b = int(prev[x])
            c = int(prev[x - bpp]) if x >= bpp else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            else:  # Paeth
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else b if pb <= pc else c
            raw.append((int(row[x]) - pred) & 0xFF)

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if palette is not None:
        out += chunk(b"PLTE", palette.astype(np.uint8).tobytes())
    out += chunk(b"IDAT", zlib.compress(bytes(raw)))
    return out + chunk(b"IEND", b"")


def test_png_codec_all_filters_and_color_types(spark):
    """REAL PNG payloads (stdlib zlib encoder in-test) decode through
    decode_png for every filter type (None/Sub/Up/Average/Paeth) and
    color types gray/RGB/palette/RGBA; grayscale matches the BT.601
    luma of the source pixels exactly."""
    import numpy as np

    from terasort_spark.sources.media import decode_png, extract_features_batched

    rng = np.random.RandomState(7)

    def luma(rgb):
        return rgb[..., 0] * 0.299 + rgb[..., 1] * 0.587 + rgb[..., 2] * 0.114

    # gray, every filter type across rows
    g = rng.randint(0, 256, size=(7, 5)).astype(np.uint8)
    png = _encode_png(g, 0, filters=[0, 1, 2, 3, 4])
    assert np.array_equal(decode_png(png), g.astype(np.float64))

    # RGB, Paeth + Average heavy
    rgb = rng.randint(0, 256, size=(6, 4, 3)).astype(np.uint8)
    png = _encode_png(rgb, 2, filters=[4, 3, 1, 2])
    assert np.allclose(decode_png(png), luma(rgb.astype(np.float64)))

    # RGBA: alpha must be ignored for luma
    rgba = rng.randint(0, 256, size=(5, 5, 4)).astype(np.uint8)
    png = _encode_png(rgba, 6, filters=[4])
    assert np.allclose(decode_png(png), luma(rgba[..., :3].astype(np.float64)))

    # palette
    pal = rng.randint(0, 256, size=(16, 3))
    idx = rng.randint(0, 16, size=(4, 6)).astype(np.uint8)
    png = _encode_png(idx, 3, filters=[1, 4], palette=pal)
    assert np.allclose(decode_png(png), luma(pal[idx].astype(np.float64)))

    # and through the Spark mapInPandas feature stage, as a real format
    df = spark.createDataFrame(
        [(1, bytearray(_encode_png(g, 0, filters=[0, 1, 2, 3, 4])), "image/png")],
        "doc_id bigint, payload binary, media_type string",
    )
    got = df.mapInPandas(
        extract_features_batched,
        schema=(
            "doc_id bigint, media_type string, n_bytes bigint, "
            "sha_8 string, thumb_mean double"
        ),
    ).collect()
    assert got[0]["thumb_mean"] == pytest.approx(float(g.mean()))


def test_bmp_codec(spark):
    """REAL BMP payloads (in-test struct encoder): 24-bit truecolor
    bottom-up with row padding, and 8-bit palette — grayscale equals
    BT.601 luma of the source pixels."""
    import struct

    import numpy as np

    from terasort_spark.sources.media import decode_bmp

    rng = np.random.RandomState(11)

    def luma_rgb(rgb):
        return rgb[..., 0] * 0.299 + rgb[..., 1] * 0.587 + rgb[..., 2] * 0.114

    def encode_bmp24(rgb):
        h, w, _ = rgb.shape
        stride = (w * 3 + 3) & ~3
        raster = bytearray()
        for y in range(h - 1, -1, -1):  # bottom-up
            row = bytearray()
            for x in range(w):
                r, g, b = rgb[y, x]
                row += bytes((int(b), int(g), int(r)))  # BGR
            row += b"\x00" * (stride - len(row))
            raster += row
        info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(raster), 0, 0, 0, 0)
        off = 14 + 40
        head = b"BM" + struct.pack("<IHHI", off + len(raster), 0, 0, off)
        return head + info + bytes(raster)

    def encode_bmp8(idx, pal):
        h, w = idx.shape
        stride = (w + 3) & ~3
        raster = bytearray()
        for y in range(h - 1, -1, -1):
            raster += bytes(int(v) for v in idx[y]) + b"\x00" * (stride - w)
        quads = bytearray()
        for r, g, b in pal:
            quads += bytes((int(b), int(g), int(r), 0))
        info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 8, 0, len(raster), 0, 0, len(pal), 0)
        off = 14 + 40 + len(quads)
        head = b"BM" + struct.pack("<IHHI", off + len(raster), 0, 0, off)
        return head + info + bytes(quads) + bytes(raster)

    rgb = rng.randint(0, 256, size=(5, 3, 3))
    assert np.allclose(decode_bmp(encode_bmp24(rgb)), luma_rgb(rgb.astype(np.float64)))

    pal = rng.randint(0, 256, size=(16, 3))
    idx = rng.randint(0, 16, size=(4, 6))
    assert np.allclose(
        decode_bmp(encode_bmp8(idx, pal)), luma_rgb(pal[idx].astype(np.float64))
    )


def test_gif_codec_lzw_roundtrip(spark):
    """REAL GIF payloads (in-test real LZW encoder with table growth
    and width bumps): decode_gif must reproduce the source pixels
    exactly through the from-scratch LZW inflate, including an
    interlaced variant."""
    import struct

    import numpy as np

    from terasort_spark.sources.media import decode_gif

    rng = np.random.RandomState(13)

    def lzw_encode(indices, min_code):
        clear, end = 1 << min_code, (1 << min_code) + 1
        code_size = min_code + 1
        out, acc, nbits = bytearray(), 0, 0

        def emit(code):
            nonlocal acc, nbits
            acc |= code << nbits
            nbits += code_size
            while nbits >= 8:
                out.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8

        table = {bytes([i]): i for i in range(clear)}
        next_code = end + 1
        emit(clear)
        buf = b""
        for px in indices:
            nb = buf + bytes([int(px)])
            if nb in table:
                buf = nb
                continue
            emit(table[buf])
            if next_code < 4096:
                table[nb] = next_code
                next_code += 1
                # encoder runs one entry AHEAD of the decoder, so it
                # widens when next_code == (1 << code_size) + 1
                if next_code == (1 << code_size) + 1 and code_size < 12:
                    code_size += 1
            buf = bytes([int(px)])
        if buf:
            emit(table[buf])
        emit(end)
        if nbits:
            out.append(acc & 0xFF)
        return bytes(out)

    def encode_gif(idx, pal, interlaced=False):
        h, w = idx.shape
        n_bits = 8  # 256-entry table
        head = b"GIF89a" + struct.pack("<HHBBB", w, h, 0x80 | (n_bits - 1), 0, 0)
        gct = bytearray()
        for r, g, b in pal:
            gct += bytes((int(r), int(g), int(b)))
        rows = idx
        if interlaced:
            order = (
                list(range(0, h, 8))
                + list(range(4, h, 8))
                + list(range(2, h, 4))
                + list(range(1, h, 2))
            )
            rows = idx[order]
        lzw = lzw_encode(rows.ravel(), 8)
        img = b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0x40 if interlaced else 0)
        img += bytes([8])
        for i in range(0, len(lzw), 255):
            chunk = lzw[i : i + 255]
            img += bytes([len(chunk)]) + chunk
        img += b"\x00"
        return head + bytes(gct) + img + b"\x3b"

    def luma(rgb):
        return rgb[..., 0] * 0.299 + rgb[..., 1] * 0.587 + rgb[..., 2] * 0.114

    pal = rng.randint(0, 256, size=(256, 3))
    # 32x32 random 8-bit pixels -> several LZW width bumps (9->10 bits)
    idx = rng.randint(0, 256, size=(32, 32))
    got = decode_gif(encode_gif(idx.astype(np.uint8), pal))
    assert np.allclose(got, luma(pal[idx].astype(np.float64)))

    # interlaced variant must reorder rows back correctly
    idx2 = rng.randint(0, 256, size=(17, 9))
    got2 = decode_gif(encode_gif(idx2.astype(np.uint8), pal, interlaced=True))
    assert np.allclose(got2, luma(pal[idx2].astype(np.float64)))


def test_phash_buckets_replay_and_real_codec_path(spark, sf_dir):
    """multimodal_phash invariants: every bucket's members truly share
    the dHash (Python replay from sha256 bytes), the canonical is the
    bucket min, and the SAME worker hashes a REAL PNG decode — two
    perceptually-identical PNGs (one re-encoded with different row
    filters) collide; a gradient-reversed one does not."""
    import hashlib

    import numpy as np
    import pandas as pd

    out = {r["phash"]: r for r in _Q["multimodal_phash"](spark, sf_dir).collect()}
    assert out, "no perceptual buckets on this corpus"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("text").isNotNull()
    )
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}

    def dhash(digest16):
        h = 0
        for r in range(4):
            for c in range(3):
                if digest16[4 * r + c] < digest16[4 * r + c + 1]:
                    h |= 1 << (3 * r + c)
        return h

    from collections import Counter, defaultdict

    groups = defaultdict(list)
    for did, text in texts.items():
        groups[dhash(hashlib.sha256(text.encode()).digest()[:16])].append(did)
    expect = {h: ds for h, ds in groups.items() if len(ds) >= 2}
    assert set(out) == set(expect)
    for h, r in out.items():
        assert r["canonical_doc"] == min(expect[h])
        assert r["n_members"] == len(expect[h])
    # real-codec path: phash_batched over PNG payloads
    from terasort_spark.sources.media import phash_batched

    base = np.arange(64, dtype=np.uint8).reshape(8, 8) * 4
    twin = base.copy()  # same pixels, different PNG filter choices
    flipped = base[:, ::-1].copy()  # gradient reversed -> different hash
    payloads = [
        _encode_png(base, 0, filters=[0] * 8),
        _encode_png(twin, 0, filters=[1, 2, 3, 4, 0, 1, 2, 3]),
        _encode_png(flipped, 0, filters=[0] * 8),
    ]
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "payload": payloads,
            "media_type": ["image/png"] * 3,
        }
    )
    got = pd.concat(list(phash_batched(iter([pdf]))))
    hs = dict(zip(got["doc_id"], got["phash"]))
    assert hs[1] == hs[2], "identical pixels must collide regardless of encoding"
    assert hs[1] != hs[3], "reversed gradient must not collide"


def test_phash_hamming_pairs_match_bruteforce(spark, sf_dir):
    """multimodal_phash_hamming: exactly the set of doc pairs whose
    replayed dHashes differ in <= 1 bit — no misses (multi-probe covers
    the full distance-1 neighborhood), no extras (popcount verify)."""
    import hashlib
    from itertools import combinations

    got = {
        (r["a_id"], r["b_id"]): r["hamming"]
        for r in _Q["multimodal_phash_hamming"](spark, sf_dir).collect()
    }
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("text").isNotNull()
    )

    def dhash(text):
        dg = hashlib.sha256(text.encode()).digest()[:16]
        h = 0
        for r in range(4):
            for c in range(3):
                if dg[4 * r + c] < dg[4 * r + c + 1]:
                    h |= 1 << (3 * r + c)
        return h

    hashes = {r["doc_id"]: dhash(r["text"]) for r in docs.collect()}
    expect = {}
    for a, b in combinations(sorted(hashes), 2):
        d = bin(hashes[a] ^ hashes[b]).count("1")
        if d <= 1:
            expect[(a, b)] = d
    assert got == expect
    assert any(v == 1 for v in got.values()), "distance-1 recall untested"


def test_langid_confusion_mass_and_diagonal(spark, sf_dir):
    """text_langid_confusion invariants: cell counts sum to the corpus,
    each row's fractions sum to ~1, and the matrix agrees with a
    per-doc Python replay of the shared prediction ladder."""
    from collections import Counter

    rows = _Q["text_langid_confusion"](spark, sf_dir).collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("text").isNotNull()
    )
    from terasort_spark.operators.llm_text import _LANG_MARKERS

    markers = {k: set(v) for k, v in _LANG_MARKERS.items()}

    def pred(text):
        toks = text.lower().split(" ")
        h = {k: sum(t in v for t in toks) for k, v in markers.items()}
        if h["de"] > h["en"] and h["de"] >= h["es"] and h["de"] >= h["fr"]:
            return "de"
        if h["es"] > h["en"] and h["es"] >= h["fr"]:
            return "es"
        if h["fr"] > h["en"]:
            return "fr"
        return "en"

    expect = Counter((r["lang"], pred(r["text"])) for r in docs.collect())
    got = {(r["true_lang"], r["predicted_lang"]): r["n"] for r in rows}
    assert got == dict(expect)
    assert sum(got.values()) == docs.count()
    by_true = Counter()
    for (t, _), n in got.items():
        by_true[t] += n
    for r in rows:
        assert abs(r["row_frac"] - r["n"] / by_true[r["true_lang"]]) < 1e-3


# ---------------------------------------------------------------------------
# text_kneser_ney


def test_kneser_ney_probabilities_in_range(spark, sf_dir):
    rows = _Q["text_kneser_ney"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 < r["p_kn"] <= 1.0, r
