"""Property-based spot checks (SURVEY.md §5b #4): random filter
predicates over orders must return identical row counts from Spark and
DuckDB. Complements the fixed oracle suite with randomized coverage of
the predicate space."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from terasort_spark.catalog import table
from terasort_spark.compare import duck_connection

_STATUSES = ["O", "P", "F"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    lo=st.floats(min_value=0, max_value=500000, allow_nan=False),
    width=st.floats(min_value=0, max_value=200000, allow_nan=False),
    status=st.sampled_from(_STATUSES),
    prio=st.sampled_from(_PRIORITIES),
    negate=st.booleans(),
)
def test_random_predicates_match_duckdb(spark, sf_dir, lo, width, status, prio, negate):
    hi = lo + width
    spark_cond = (
        F.col("o_totalprice").between(lo, hi)
        & (F.col("o_orderstatus") == status)
    ) | (F.col("o_orderpriority") == prio)
    if negate:
        spark_cond = ~spark_cond
    n_spark = table(spark, sf_dir, "orders").filter(spark_cond).count()

    sql_cond = (
        f"((o_totalprice BETWEEN {lo!r} AND {hi!r}) "
        f"AND o_orderstatus = '{status}') OR o_orderpriority = '{prio}'"
    )
    if negate:
        sql_cond = f"NOT ({sql_cond})"
    con = duck_connection(sf_dir)
    try:
        n_duck = con.execute(f"SELECT count(*) FROM orders WHERE {sql_cond}").fetchone()[0]
    finally:
        con.close()
    assert n_spark == n_duck

@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    bal=st.floats(min_value=-1000, max_value=10000, allow_nan=False),
    seg=st.sampled_from(
        ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    ),
)
def test_random_theta_join_counts_match_duckdb(spark, sf_dir, bal, seg):
    """Randomized theta-join: supplier x customer on same nation AND
    acctbal threshold — row counts must agree with DuckDB."""
    s = table(spark, sf_dir, "supplier")
    c = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == seg)
    n_spark = s.join(
        c,
        (s.s_nationkey == c.c_nationkey)
        & (s.s_acctbal > c.c_acctbal)
        & (c.c_acctbal > bal),
    ).count()
    con = duck_connection(sf_dir)
    try:
        n_duck = con.execute(
            f"""SELECT count(*) FROM supplier JOIN customer
                ON s_nationkey = c_nationkey AND s_acctbal > c_acctbal
                AND c_acctbal > {bal!r}
                WHERE c_mktsegment = '{seg}'"""
        ).fetchone()[0]
    finally:
        con.close()
    assert n_spark == n_duck


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    sizes=st.lists(st.integers(min_value=0, max_value=5000), min_size=1, max_size=60),
    context=st.sampled_from([128, 1024, 2048]),
)
def test_pack_layout_valid_for_any_token_sizes(spark, sizes, context):
    """Greedy concat-then-chop packing must produce a gapless layout for
    ANY document length distribution: offsets advance by exactly
    n_tokens mod context, bin_id is the prefix-sum quotient, and the
    layout is invariant to input partitioning (md5-style determinism is
    the operator's contract)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(sizes)], "doc_id long, n_tokens long"
    ).repartition(7)
    win = (
        Window.orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = F.sum("n_tokens").over(win)
    start = run - F.col("n_tokens")
    out = df.select(
        "doc_id",
        "n_tokens",
        F.floor(start / context).alias("bin_id"),
        (start - F.floor(start / context) * context).alias("bin_offset"),
    ).collect()
    running = 0
    for r in sorted(out, key=lambda r: r["doc_id"]):
        assert r["bin_id"] == running // context
        assert r["bin_offset"] == running % context
        running += r["n_tokens"]


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    host=st.text(alphabet="abcdefXYZ.", min_size=1, max_size=12),
    path=st.text(alphabet="abcZ019/_-&", min_size=0, max_size=15),
    query=st.sampled_from(
        [
            "",
            "?utm_source=x&utm_campaign=y",
            "?utm_source=x&keep=1",
            "?keep=1&utm_medium=z",
            "?a=1&utm_source=x&b=2",
            "?utm_a=1&utm_b=2&keep=1",
            "?keep=1",
        ]
    ),
    frag=st.booleans(),
    slash=st.booleans(),
)
def test_url_canonicalization_idempotent(spark, host, path, query, frag, slash):
    """canonical(canonical(u)) == canonical(u) for arbitrary messy URLs —
    the property that makes the canonical form usable as a dedup key
    when crawl frontiers re-feed already-canonical URLs. Non-utm params
    must survive canonicalization (in order, '?'-prefixed) while every
    utm_* param is dropped wherever it sits in the query string."""
    from pyspark.sql import functions as F

    from terasort_spark.operators.llm_dedup import canonical_url

    url = f"https://{host}/{path}"
    if slash:
        url += "/"
    url += query
    if frag:
        url += "#frag"
    df = spark.createDataFrame([(url,)], "url string")
    once = df.select(canonical_url("url").alias("url"))
    twice = once.select(canonical_url("url").alias("url"))
    a = once.collect()[0]["url"]
    b = twice.collect()[0]["url"]
    assert a == b, (url, a, b)
    kept = [p for p in query.lstrip("?").split("&") if p and not p.startswith("utm_")]
    for p in kept:
        assert p in a, (url, a)
    assert "utm_" not in a, (url, a)
    if kept:
        assert a.split("?", 1)[1] == "&".join(kept), (url, a)
    # A literal '&' in the path (legal per RFC 3986) must never be
    # rewritten to '?' — the r2-advice bug class. Trailing slashes are
    # only stripped when nothing follows them, so compare accordingly.
    expected_path = f"https://{host.lower()}/{path}" + ("/" if slash else "")
    if "?" in a:
        assert a.split("?", 1)[0] == expected_path, (url, a)
    else:
        assert a == expected_path.rstrip("/"), (url, a)


def test_url_literal_ampersand_path_survives(spark):
    """Regression (ADVICE r2): https://h/a&b has no utm param, so the
    promote step must not fire — the path's '&' survives unchanged."""
    from terasort_spark.operators.llm_dedup import canonical_url

    cases = [
        ("https://h/a&b", "https://h/a&b"),
        ("https://h/a&b?utm_s=1", "https://h/a&b"),
        ("https://h/a&b?utm_s=1&keep=2", "https://h/a&b?keep=2"),
        ("https://h/a&b?keep=2", "https://h/a&b?keep=2"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r["c"] for r in df.select(canonical_url("url").alias("c")).collect()]
    assert got == [want for _, want in cases], got


@settings(max_examples=25, deadline=None)
@given(
    h=st.integers(min_value=1, max_value=24),
    w=st.integers(min_value=1, max_value=24),
    color=st.sampled_from([0, 2, 6]),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    data=st.data(),
)
def test_png_roundtrip_property(h, w, color, seed, data):
    """Any random image, any per-row filter choice, any color type:
    encode (in-test) then decode_png must reproduce the exact luma."""
    import numpy as np

    from terasort_spark.sources.media import decode_png
    from tests.test_llm import _encode_png

    rng = np.random.RandomState(seed)
    ch = {0: None, 2: 3, 6: 4}[color]
    shape = (h, w) if ch is None else (h, w, ch)
    img = rng.randint(0, 256, size=shape).astype(np.uint8)
    filters = data.draw(
        st.lists(st.integers(min_value=0, max_value=4), min_size=1, max_size=h)
    )
    got = decode_png(_encode_png(img, color, filters=filters))
    if color == 0:
        want = img.astype(np.float64)
    else:
        rgb = img[..., :3].astype(np.float64)
        want = rgb[..., 0] * 0.299 + rgb[..., 1] * 0.587 + rgb[..., 2] * 0.114
    assert np.allclose(got, want)


@settings(max_examples=15, deadline=None)
@given(
    h=st.integers(min_value=1, max_value=20),
    w=st.integers(min_value=1, max_value=20),
    n_colors=st.integers(min_value=2, max_value=256),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_gif_roundtrip_property(h, w, n_colors, seed):
    """Random palette images of any size through the real LZW encoder/
    decoder pair — exercises code-width growth at every table size."""
    import numpy as np

    from terasort_spark.sources.media import decode_gif

    rng = np.random.RandomState(seed)
    pal = rng.randint(0, 256, size=(256, 3))
    idx = rng.randint(0, n_colors, size=(h, w))
    got = decode_gif(_gif_encode_for_property(idx.astype(np.uint8), pal))
    rgb = pal[idx].astype(np.float64)
    want = rgb[..., 0] * 0.299 + rgb[..., 1] * 0.587 + rgb[..., 2] * 0.114
    assert np.allclose(got, want)


def _gif_encode_for_property(idx, pal):
    import struct

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
                if next_code == (1 << code_size) + 1 and code_size < 12:
                    code_size += 1
            buf = bytes([int(px)])
        if buf:
            emit(table[buf])
        emit(end)
        if nbits:
            out.append(acc & 0xFF)
        return bytes(out)

    h, w = idx.shape
    head = b"GIF89a" + struct.pack("<HHBBB", w, h, 0x87, 0, 0)
    gct = bytearray()
    for r, g, b in pal:
        gct += bytes((int(r), int(g), int(b)))
    lzw = lzw_encode(idx.ravel(), 8)
    img = b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0) + bytes([8])
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        img += bytes([len(chunk)]) + chunk
    img += b"\x00"
    return head + bytes(gct) + img + b"\x3b"


@settings(max_examples=15, deadline=None)
@given(
    h=st.integers(min_value=8, max_value=32).filter(lambda v: v % 8 == 0),
    w=st.integers(min_value=8, max_value=32).filter(lambda v: v % 8 == 0),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_jpeg_roundtrip_property(h, w, seed):
    """Random grayscale images through the real JPEG encoder/decoder:
    flat quantization bounds the error to DCT-coefficient rounding."""
    import numpy as np

    from terasort_spark.sources.jpeg import decode_jpeg_luma
    from tests.test_jpeg import _encode_jpeg

    rng = np.random.RandomState(seed)
    img = rng.randint(0, 256, size=(h, w)).astype(np.float64)
    got = decode_jpeg_luma(_encode_jpeg(img))
    assert got.shape == img.shape
    assert np.max(np.abs(got - img)) < 5.0


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    values=st.lists(
        st.integers(min_value=0, max_value=6),  # heavy ties on purpose
        min_size=1,
        max_size=60,
    ),
    ascending=st.booleans(),
    n_parts=st.integers(min_value=1, max_value=5),
)
def test_quartile_histogram_machinery_equals_ntile(spark, values, ascending, n_parts):
    """The de-skewed quartile machinery (quartile_columns) must be
    bit-identical to ntile(4) OVER (ORDER BY metric [DESC], user_id)
    for ANY multiset of metric values — tie groups straddling zero, one
    or several quartile boundaries — at any partitioning."""
    from terasort_spark.operators.analytics import quartile_columns

    rows = [(uid, v) for uid, v in enumerate(values)]
    df = spark.createDataFrame(rows, "user_id long, m long").repartition(n_parts)
    got = {
        r["user_id"]: r["q_quartile"]
        for r in quartile_columns(df, (("m", ascending, "q"),)).collect()
    }
    # Python ntile(4) replay with user_id tie-break
    order = sorted(rows, key=lambda t: (t[1] if ascending else -t[1], t[0]))
    n = len(order)
    q, r = divmod(n, 4)
    want, pos = {}, 0
    for tile in range(1, 5):
        size = q + (1 if tile <= r else 0)
        for uid, _ in order[pos : pos + size]:
            want[uid] = tile
        pos += size
    assert got == want


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=8),  # size (maximize)
            st.integers(min_value=0, max_value=20),  # cents (minimize)
        ),
        min_size=1,
        max_size=40,
    ),
)
def test_skyline_frontier_equals_bruteforce_dominance(spark, pts):
    """The histogram-frontier skyline must equal the O(n^2) dominance
    definition for ANY point set, including duplicated points (which
    never dominate each other — both stay on the frontier)."""
    from terasort_spark.operators.sorts import skyline_2d

    rows = [(i, sz, c) for i, (sz, c) in enumerate(pts)]
    df = spark.createDataFrame(rows, "p_partkey long, p_size int, cents long")
    got = {r["p_partkey"] for r in skyline_2d(df).collect()}
    want = {
        i
        for (i, s, c) in rows
        if not any(
            bc <= c and bs >= s and (bc < c or bs > s) for (_, bs, bc) in rows
        )
    }
    assert got == want


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    scored=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),  # score, heavy ties
            st.integers(min_value=0, max_value=1),  # label
        ),
        min_size=2,
        max_size=60,
    ),
)
def test_auc_histogram_ranksum_equals_pairwise(spark, scored):
    """The histogram rank-sum AUC must equal the pairwise definition
    (mean of 1[s_pos > s_neg] + 0.5·1[tie]) for ANY score/label
    multiset with at least one positive and one negative."""
    import math

    from hypothesis import assume

    from terasort_spark.operators.ml import auc_from_scored

    pos = [s for s, y in scored if y == 1]
    neg = [s for s, y in scored if y == 0]
    assume(pos and neg)
    df = spark.createDataFrame(list(scored), "s long, y int")
    row = auc_from_scored(df).collect()[0]
    two_u = sum(
        2 if sp > sn else (1 if sp == sn else 0) for sp in pos for sn in neg
    )
    want = math.floor(two_u / (2.0 * len(pos) * len(neg)) * 10000 + 0.5) / 10000
    assert (row["n_pos"], row["n_neg"]) == (len(pos), len(neg))
    assert row["auc"] == want


@settings(max_examples=200, deadline=None)
@given(
    corpus=st.lists(
        st.frozensets(st.integers(min_value=0, max_value=30), min_size=1, max_size=12),
        min_size=1,
        max_size=12,
    )
)
def test_boilerplate_owner_identity(corpus):
    """The text_boilerplate r6 rewrite rests on: with DF_MIN == 2, a
    doc's boiler-shingle count equals its shingle count minus the
    number of shingles it UNIQUELY owns (df == 1 → min-owner is the
    only owner). Brute force vs identity over random shingle-set
    corpora."""
    from collections import Counter

    df = Counter(s for doc in corpus for s in doc)
    for i, doc in enumerate(corpus):
        brute = sum(1 for s in doc if df[s] >= 2)
        unique_owned = sum(1 for s in doc if df[s] == 1)
        assert brute == len(doc) - unique_owned


@settings(max_examples=200, deadline=None)
@given(
    corpus=st.lists(
        st.frozensets(st.integers(min_value=0, max_value=30), min_size=0, max_size=12),
        min_size=1,
        max_size=12,
    )
)
def test_novelty_owner_identity(corpus):
    """The text_novelty r6 rewrite rests on: a doc's novel-shingle count
    (shingles whose earliest owner is this doc) equals the number of
    first-occurrence wins it takes in the min-doc_id aggregation —
    i.e. groupBy(shingle).min(doc) then groupBy(winner).count matches
    the per-doc brute force."""
    from collections import Counter

    firsts = {}
    for i, doc in enumerate(corpus):
        for s in doc:
            firsts.setdefault(s, i)
    wins = Counter(firsts.values())
    for i, doc in enumerate(corpus):
        brute = sum(1 for s in doc if firsts[s] == i)
        assert brute == wins.get(i, 0)


@settings(max_examples=20, deadline=None)
@given(
    file_recs=st.lists(st.integers(min_value=0, max_value=40), min_size=1, max_size=4),
    split_bytes=st.integers(min_value=1, max_value=4096),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_fixedwidth_split_planning_recovers_every_record_once(
    spark, tmp_path_factory, file_recs, split_bytes, seed
):
    """read_tera_files cuts the record files into splits by the Hadoop
    split size, rounded to whole records. For ANY file sizes and split
    size, reading the splits back in partition order must give exactly
    the files' bytes in file-name order — no record lost, torn at a
    split boundary or read twice — and a file several splits long must
    fan out over more than one partition."""
    import random

    from terasort_spark.sources.teragen import RECORD_LEN, read_tera_files

    rng = random.Random(seed)
    d = tmp_path_factory.mktemp("fw")
    for fi, n in enumerate(file_recs):
        (d / f"part-{fi:05d}.dat").write_bytes(rng.randbytes(n * RECORD_LEN))
    expected = b"".join(
        (d / f"part-{fi:05d}.dat").read_bytes() for fi in range(len(file_recs))
    )
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    key = "mapreduce.input.fileinputformat.split.maxsize"
    old = conf.get(key)
    conf.set(key, str(split_bytes))
    try:
        df = read_tera_files(spark, str(d))
        rows = df.collect()
        n_parts = df.rdd.getNumPartitions()
    finally:
        if old is None:
            conf.unset(key)
        else:
            conf.set(key, old)
    assert b"".join(bytes(r["key"]) + bytes(r["value"]) for r in rows) == expected
    step = max(1, split_bytes // RECORD_LEN) * RECORD_LEN
    longest = max(file_recs) * RECORD_LEN
    if longest > 2 * step:
        assert n_parts > 1, (file_recs, split_bytes, n_parts)
