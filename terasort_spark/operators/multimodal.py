"""Multimodal-column operators (north-star extension).

Images/audio/video are opaque ``binary`` payloads with typed metadata
columns; decode/feature-extract runs as Arrow-batched ``mapInPandas``
(the real plumbing — schema, batching, partitioning), with the codec
behind ``terasort_spark.sources.media.decode_image``: REAL stdlib-only
decoders for PNG (zlib + de-filtering) and netpbm P5/P6, the
deterministic ``fake/raw`` test codec for the oracle-replayable
declared queries, and ``NotImplementedError`` only for formats whose
codecs genuinely need external libraries (JPEG, MP4). See
tests/test_llm.py for codec + batch-shape assertions.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from terasort_spark.catalog import table
from terasort_spark.operators._util import o_rnd, rnd
from terasort_spark.registry import register


@register(
    "multimodal_join",
    oracle=f"""
SELECT d.doc_id, d.lang, d.n_chars, e.label,
       {o_rnd(
           "sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))",
           "emb_norm",
       )}
FROM documents d
JOIN embeddings e ON d.doc_id = e.vec_id
""",
)
def multimodal_join(spark, sf_dir):
    # Text + vector fused record: equi join on the shared key, flat
    # scalar projection (D5 — no raw array column in the hashed output).
    d = table(spark, sf_dir, "documents")
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    )
    norm = F.sqrt(
        F.aggregate(
            F.transform("emb", lambda x: x * x),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    return d.join(e, d.doc_id == e.vec_id).select(
        "doc_id", "lang", "n_chars", "label", rnd(norm, "emb_norm")
    )


# The fake codec is sha256-based, so DuckDB can replay the whole Python
# decode in SQL: digest byte i of sha256(text) is the hex pair at
# substr(hex, 2i+1, 2). That turns these pandas-UDF pipelines from
# rows-only checks into full value-hash oracles.
def _sha_byte(i: int, hex_col: str = "hx") -> str:
    return f"CAST('0x'||substr({hex_col}, {2 * i + 1}, 2) AS INT)"


_THUMB_MEAN_SQL = (
    "(" + " + ".join(_sha_byte(i) for i in range(16)) + ") / 16.0"
)


@register(
    "multimodal_features",
    oracle=f"""
WITH h AS (SELECT doc_id, text, sha256(text) AS hx FROM documents
           WHERE text IS NOT NULL)
SELECT doc_id,
       'fake/raw' AS media_type,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       substr(hx, 1, 8) AS sha_8,
       {_THUMB_MEAN_SQL} AS thumb_mean
FROM h
""",
)
def multimodal_features(spark, sf_dir):
    """Binary-column feature extraction through the real Arrow path:
    documents.text is packed into a binary payload column (standing in
    for image bytes), then a ``mapInPandas`` stage extracts per-blob
    features (byte length, sha256 prefix, fake 4x4 thumbnail mean) in
    vectorized pandas batches. The Spark-side plumbing — schema,
    iterator batching, partition preservation — is exactly what a real
    image decode would use; only the codec is faked (deterministically,
    from sha256, which is why the DuckDB oracle can replay it)."""
    from terasort_spark.sources.media import extract_features_batched

    d = (
        table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())  # no payload without bytes
        .select(
            "doc_id",
            F.encode(F.col("text"), "utf-8").alias("payload"),
            F.lit("fake/raw").alias("media_type"),
        )
    )
    out_schema = (
        "doc_id bigint, media_type string, n_bytes bigint, "
        "sha_8 string, thumb_mean double"
    )
    return d.mapInPandas(extract_features_batched, schema=out_schema)


def _pool_sql(r: int, c: int) -> str:
    # 2x2 mean pool over the row-major 4x4 thumbnail: pool cell (r, c)
    # covers digest bytes 8r+2c, +1, +4, +5
    base = 8 * r + 2 * c
    idx = (base, base + 1, base + 4, base + 5)
    return "(" + " + ".join(_sha_byte(i) for i in idx) + ") / 4.0"


@register(
    "multimodal_resize",
    oracle=f"""
WITH h AS (SELECT doc_id, sha256(text) AS hx FROM documents
           WHERE text IS NOT NULL)
SELECT doc_id,
       {_pool_sql(0, 0)} AS p00,
       {_pool_sql(0, 1)} AS p01,
       {_pool_sql(1, 0)} AS p10,
       {_pool_sql(1, 1)} AS p11
FROM h
""",
)
def multimodal_resize(spark, sf_dir):
    """Thumbnail resize (2x2 mean pool of the fake decode) through
    ``mapInArrow`` — one level below mapInPandas: the UDF consumes raw
    pyarrow RecordBatches, skipping pandas Series materialization
    entirely. For billions of small blobs that per-row object overhead
    is the difference between an IO-bound and a CPU-bound scan; the
    codec stays behind the same stub boundary as multimodal_features."""
    from terasort_spark.sources.media import resize_batched_arrow

    d = (
        table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())  # no payload without bytes
        .select(
            "doc_id",
            F.encode(F.col("text"), "utf-8").alias("payload"),
            F.lit("fake/raw").alias("media_type"),
        )
    )
    return d.mapInArrow(
        resize_batched_arrow,
        schema="doc_id bigint, p00 double, p01 double, p10 double, p11 double",
    )


@register(
    "multimodal_framesample",
    # text is ASCII in this corpus, so DuckDB's character-indexed substr
    # slices the same bytes the Python side slices from the utf-8
    # payload; md5(substr(..)) then hashes identical frame bytes.
    oracle="""
WITH f AS (
    SELECT doc_id, text,
           greatest(1, octet_length(encode(text)) // 64) AS nf
    FROM documents WHERE text IS NOT NULL
)
SELECT doc_id,
       CAST(i AS INT) AS frame_idx,
       CAST(nf AS INT) AS n_frames,
       md5(substr(text, CAST(i * 64 + 1 AS BIGINT), 64)) AS frame_md5
FROM f, unnest(generate_series(0, CAST(nf - 1 AS BIGINT), 4)) AS t(i)
""",
)
def multimodal_framesample(spark, sf_dir):
    """Video frame sampling: each binary payload is treated as a frame
    container (fixed 64-byte "frames"); every k-th frame is selected and
    fingerprinted. The real decoder (pyav/ffmpeg) is absent in this
    container, so frame extraction is a deterministic stub behind the
    same boundary — the Spark-side contract (iterator mapInPandas,
    exploded one-row-per-sampled-frame output, bounded memory per
    batch) is the real, tested part. At 100 TB the payload column
    streams through Arrow batches; state never exceeds one batch."""
    import hashlib

    def sample_frames(batches, frame_bytes: int = 64, stride: int = 4):
        import pandas as pd

        for pdf in batches:
            out_doc, out_idx, out_n, out_fp = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n_frames = max(1, len(payload) // frame_bytes)
                for i in range(0, n_frames, stride):
                    chunk = bytes(payload[i * frame_bytes : (i + 1) * frame_bytes])
                    out_doc.append(doc_id)
                    out_idx.append(i)
                    out_n.append(n_frames)
                    out_fp.append(hashlib.md5(chunk).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": out_doc,
                    "frame_idx": out_idx,
                    "n_frames": out_n,
                    "frame_md5": out_fp,
                }
            )

    d = (
        table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())  # no payload without bytes
        .select("doc_id", F.encode(F.col("text"), "utf-8").alias("payload"))
    )
    return d.mapInPandas(
        sample_frames,
        schema="doc_id bigint, frame_idx int, n_frames int, frame_md5 string",
    )


def _phash_bits_sql() -> str:
    # bit (r, c) set iff thumbnail byte 4r+c < byte 4r+c+1 — the exact
    # comparison phash_batched makes on the 4x4 fake decode (identity
    # pooling), weighted 2^(3r+c).
    terms = []
    for r in range(4):
        for c in range(3):
            i, j = 4 * r + c, 4 * r + c + 1
            terms.append(
                f"CASE WHEN {_sha_byte(i)} < {_sha_byte(j)}"
                f" THEN {1 << (3 * r + c)} ELSE 0 END"
            )
    return "(" + " + ".join(terms) + ")"


@register(
    "multimodal_phash",
    oracle=f"""
WITH h AS (SELECT doc_id, sha256(text) AS hx FROM documents
           WHERE text IS NOT NULL),
ph AS (SELECT doc_id, CAST({_phash_bits_sql()} AS BIGINT) AS phash FROM h)
SELECT phash,
       min(doc_id) AS canonical_doc,
       CAST(count(*) AS BIGINT) AS n_members
FROM ph GROUP BY phash HAVING count(*) >= 2
""",
)
def multimodal_phash(spark, sf_dir):
    """Image near-dedup via perceptual hashing: every payload decodes
    to a 4x4 thumbnail whose row-gradient signs form a 12-bit dHash
    (sources/media.py phash_batched — works unchanged over the real
    PNG/GIF/BMP/JPEG decoders; the declared query runs the
    deterministic fake codec so the oracle replays the bits from
    sha256 bytes). Buckets with >= 2 members are near-duplicate image
    groups; each keeps its min-doc_id canonical — the dedup_exact
    survivor rule applied to perceptual identity.

    Scale: the decode+hash is one stateless Arrow-batched mapInPandas
    pass (no shuffle), then ONE map-side-combined groupBy on the hash
    key — the image twin of dedup_exact's content-hash groupBy.
    Production would widen the hash to 64 bits (8x9 thumbnail) so
    bucket sizes stay O(dup-cluster); the 12-bit demo hash is a
    parameter, not a structural limit. No pair explosion: the output
    is one row per bucket, never per pair."""
    from terasort_spark.sources.media import phash_batched

    d = (
        table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.encode(F.col("text"), "utf-8").alias("payload"),
            F.lit("fake/raw").alias("media_type"),
        )
    )
    ph = d.mapInPandas(phash_batched, schema="doc_id bigint, phash bigint")
    return (
        ph.groupBy("phash")
        .agg(
            F.min("doc_id").alias("canonical_doc"),
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
        )
        .filter(F.col("n_members") >= 2)
    )


@register(
    "multimodal_phash_hamming",
    oracle=f"""
WITH h AS (SELECT doc_id, sha256(text) AS hx FROM documents
           WHERE text IS NOT NULL),
ph AS (SELECT doc_id, CAST({_phash_bits_sql()} AS BIGINT) AS phash FROM h),
probes AS (
  SELECT doc_id, phash,
         unnest([phash, {", ".join(f"xor(phash, {1 << b})" for b in range(12))}])
             AS probe
  FROM ph
)
SELECT DISTINCT p.doc_id AS a_id, c.doc_id AS b_id,
       CAST(bit_count(xor(p.phash, c.phash)) AS INTEGER) AS hamming
FROM probes p
JOIN ph c ON c.phash = p.probe AND p.doc_id < c.doc_id
""",
)
def multimodal_phash_hamming(spark, sf_dir):
    """Perceptual near-duplicate PAIRS within Hamming distance 1 of the
    dHash — the multi-probe extension of multimodal_phash's exact-bucket
    groups (a dHash flips single bits under mild recompression, so
    distance-1 recall is what makes perceptual dedup robust in
    practice). Each image probes its own hash plus the 12 one-bit
    flips; candidates come from an EQUI-join of probes against exact
    hashes (the sim_cosine_ivf multi-probe dial applied to images) and
    the reported distance is a stateless popcount verify. p.doc < c.doc
    finds each pair exactly once from the smaller id's probe set.

    Scale: never an all-pairs image comparison — candidate volume is
    (13/2^bits) x |pairs sharing a neighborhood|, and the production
    hash widens to 64 bits (8x9 thumbnail) so neighborhoods shrink to
    true near-dup clusters while the plan shape (probe explode +
    equi-join + popcount filter) is unchanged; the 12-bit demo hash,
    like multimodal_phash's, is a parameter. The probe fan-out is a
    13x scan-stage explode — pipelined, no extra shuffle beyond the
    one hash-keyed join exchange."""
    from terasort_spark.sources.media import phash_batched

    d = (
        table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.encode(F.col("text"), "utf-8").alias("payload"),
            F.lit("fake/raw").alias("media_type"),
        )
    )
    ph = d.mapInPandas(phash_batched, schema="doc_id bigint, phash bigint")
    probe = F.explode(
        F.array(
            F.col("phash"),
            *[F.col("phash").bitwiseXOR(F.lit(1 << b)) for b in range(12)],
        )
    ).alias("probe")
    probes = ph.select(
        F.col("doc_id").alias("a_id"), F.col("phash").alias("a_phash"), probe
    )
    cands = ph.select(
        F.col("doc_id").alias("b_id"), F.col("phash").alias("b_phash")
    )
    return (
        probes.join(
            cands,
            (F.col("probe") == F.col("b_phash"))
            & (F.col("a_id") < F.col("b_id")),
        )
        .select(
            "a_id",
            "b_id",
            F.bit_count(F.col("a_phash").bitwiseXOR(F.col("b_phash")))
            .cast("int")
            .alias("hamming"),
        )
        .distinct()
    )


# --------------------------------------------------------------------------
# multimodal_scenecut — adjacent-frame perceptual-hash deltas.

_CUT_HAMMING = 8  # 12-bit frame hashes: unrelated frames average 6
_FRAME_BYTES = 64


def _frame_bits_sql(h: str) -> str:
    # bit k set iff md5-digest byte k < byte k+1, weighted 2^k — the
    # exact comparison the Python frame hash makes (12 bits from the
    # first 13 digest bytes).
    def byte(i: int) -> str:
        return f"CAST('0x'||substr({h}, {2 * i + 1}, 2) AS INT)"

    terms = [
        f"CASE WHEN {byte(k)} < {byte(k + 1)} THEN {1 << k} ELSE 0 END"
        for k in range(12)
    ]
    return "(" + " + ".join(terms) + ")"


@register(
    "multimodal_scenecut",
    # text is ASCII in this corpus (pinned by test), so DuckDB's
    # character-indexed substr slices the same bytes Python slices from
    # the utf-8 payload; md5 then hashes identical frame bytes.
    oracle=f"""
WITH f AS (
    SELECT doc_id, text,
           greatest(1, octet_length(encode(text)) // {_FRAME_BYTES}) AS nf
    FROM documents WHERE text IS NOT NULL
),
fr AS (
    SELECT doc_id, CAST(i AS INT) AS frame_idx,
           md5(substr(text, CAST(i * {_FRAME_BYTES} + 1 AS BIGINT),
               {_FRAME_BYTES})) AS h
    FROM f, unnest(generate_series(0, CAST(nf - 1 AS BIGINT))) AS t(i)
),
ph AS (SELECT doc_id, frame_idx,
              CAST({_frame_bits_sql('h')} AS BIGINT) AS fhash FROM fr),
lagged AS (
    SELECT doc_id, frame_idx, fhash,
           lag(fhash) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS prev
    FROM ph
)
SELECT doc_id, frame_idx,
       CAST(bit_count(xor(fhash, prev)) AS INTEGER) AS hamming
FROM lagged
WHERE prev IS NOT NULL AND bit_count(xor(fhash, prev)) >= {_CUT_HAMMING}
""",
)
def multimodal_scenecut(spark, sf_dir):
    """Scene-cut detection: decode each video payload into fixed-width
    frames (the multimodal_framesample container stub), perceptual-hash
    every frame (12-bit gradient signs over the frame's md5 digest —
    the deterministic stand-in for a dHash of decoded pixels), then
    flag frame transitions whose Hamming distance clears the cut
    threshold. The standard shot-boundary primitive for video curation
    (sampling one keyframe per scene instead of one per N frames).

    Scale: frame hashing is ONE stateless Arrow-batched mapInPandas
    pass (scan-stage, no shuffle); the transition test is a lag window
    partitioned by doc_id — high-cardinality key, state = one frame
    hash. Output is bounded by the number of cuts, never frames²."""
    import hashlib

    def frame_hashes(batches):
        import pandas as pd

        for pdf in batches:
            out_doc, out_idx, out_hash = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n_frames = max(1, len(payload) // _FRAME_BYTES)
                for i in range(n_frames):
                    chunk = bytes(
                        payload[i * _FRAME_BYTES : (i + 1) * _FRAME_BYTES]
                    )
                    dg = hashlib.md5(chunk).digest()
                    bits = 0
                    for k in range(12):
                        if dg[k] < dg[k + 1]:
                            bits |= 1 << k
                    out_doc.append(doc_id)
                    out_idx.append(i)
                    out_hash.append(bits)
            yield pd.DataFrame(
                {"doc_id": out_doc, "frame_idx": out_idx, "fhash": out_hash}
            )

    d = (
        table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", F.encode(F.col("text"), "utf-8").alias("payload"))
    )
    ph = d.mapInPandas(
        frame_hashes, schema="doc_id bigint, frame_idx int, fhash bigint"
    )
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    lagged = ph.withColumn("prev", F.lag("fhash").over(w))
    hamming = F.bit_count(F.col("fhash").bitwiseXOR(F.col("prev")))
    return lagged.filter(
        F.col("prev").isNotNull() & (hamming >= _CUT_HAMMING)
    ).select("doc_id", "frame_idx", hamming.cast("int").alias("hamming"))
