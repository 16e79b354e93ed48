"""Tokenizer operators: corpus-scale BPE training and encoding, the
unigram LM and WordPiece.

Byte-pair-encoding training is THE tokenizer workload of a pretraining
pipeline, and its distributed architecture mirrors emb_kmeans: the
corpus-scale part is a single word-frequency histogram (one shuffle
with map-side combine — the token stream itself never leaves the
executors), while the merge loop runs over that VOCAB-SIZED table as
driver-side model state, exactly how production tokenizer trainers
(word-count-then-merge) are built. Encoding re-distributes: each
DISTINCT word is encoded once, and documents join the word→subtoken
table — corpus cost is one broadcast join, not a per-token Python
loop.

Both queries carry FULL exact oracles (upgraded from rows-only in
round 9): the merge loop is unrolled into N_MERGES rounds of
MATERIALIZED CTEs over the word histogram — the same
unrolled-iteration recipe as ml_logreg/emb_kmeans/graph_pagerank.
Each SQL round replays the greedy left-to-right pair merge exactly:
pair counts via lead() windows, best pair by (count DESC, left,
right), and the merge application via a gaps-and-islands alternation
(consecutive-match runs only arise when left==right; greedy merges
the 1st, 3rd, ... positions of each run — a plain string replace is
NOT faithful here because e.g. 'aaaaa' greedily segments [aa,aa,a]
while replace-to-fixpoint can yield [aa,a,aa], changing later pair
counts). tests/test_tokenizer.py additionally pins the semantics with
an independent pure-Python BPE replay over the raw corpus.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from terasort_spark.catalog import table
from terasort_spark.registry import register

N_MERGES = 20
VOCAB_CAP = 10_000  # frequency-truncated word vocab, standard practice
END = "</w>"


def corpus_word_counts(spark, sf_dir):
    """One shuffle: corpus word histogram, frequency-truncated to the
    cap with a deterministic (count desc, word) tie-break."""
    d = table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    return (
        d.select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "w")
        .limit(VOCAB_CAP)
    )


def train_bpe(word_counts: list[tuple[str, int]], n_merges: int = N_MERGES):
    """Deterministic BPE merge loop over a word histogram (driver-side
    model state, vocab-sized). Ties break on the lexicographically
    smallest (left, right) pair so retrained models are bit-identical.
    Returns [(rank, left, right, pair_count)]."""
    words = {}
    for w, n in word_counts:
        words[tuple(w) + (END,)] = words.get(tuple(w) + (END,), 0) + n
    merges = []
    for rank in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for sym, n in words.items():
            for a, b in zip(sym, sym[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + n
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), cnt = best
        merges.append((rank, a, b, cnt))
        merged = a + b
        nxt = {}
        for sym, n in words.items():
            out, i = [], 0
            while i < len(sym):
                if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
                    out.append(merged)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            key = tuple(out)
            nxt[key] = nxt.get(key, 0) + n
        words = nxt
    return merges


def encode_word(word: str, merges) -> list[str]:
    """Apply learned merges (in rank order) to one word."""
    sym = list(word) + [END]
    for _rank, a, b, _cnt in merges:
        out, i = [], 0
        while i < len(sym):
            if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(sym[i])
                i += 1
        sym = out
    return sym


def bpe_base_sql() -> str:
    """Shared CTE prefix: frequency-truncated word histogram (`vocab`,
    the ONE corpus-sized aggregation, mirroring corpus_word_counts) and the
    initial character segmentation `r0` (w, pos, sym, n) with '</w>'
    appended — tuple(w) + (END,) in the Python trainer."""
    return f"""
vocab AS MATERIALIZED (
  SELECT w, CAST(count(*) AS BIGINT) AS n
  FROM (
    SELECT unnest(string_split(lower(text), ' ')) AS w
    FROM documents
    WHERE text IS NOT NULL AND length(text) > 0
  )
  WHERE length(w) > 0
  GROUP BY w
  ORDER BY n DESC, w
  LIMIT {VOCAB_CAP}
),
r0 AS MATERIALIZED (
  SELECT w, CAST(pos AS BIGINT) AS pos,
         CASE WHEN pos <= length(w) THEN substr(w, pos, 1) ELSE '{END}' END AS sym,
         n
  FROM (SELECT w, n, unnest(generate_series(1, length(w) + 1)) AS pos FROM vocab)
)"""


def bpe_round_sql(k: int) -> str:
    """One unrolled BPE merge round: r{k-1} -> r{k}.

    p{k}: adjacent-pair histogram (lead window per word, weighted by n).
    b{k}: the round's best pair — count DESC, then lexicographic (a, b),
          bit-matching Python's min(items, key=(-count, pair)).
    m{k}: match flags mt(i) = sym[i]=a AND sym[i+1]=b (LEFT JOIN ON TRUE
          of the 1-row b{k}: when the vocab fully merges before round
          N and b{k} is empty — the trainer's `break` — mt is FALSE
          everywhere and r{k} carries r{k-1} forward unchanged, so the
          encode oracle still sees the final segmentation).
    g{k}: greedy alternation — runs of consecutive matches (only possible
          when a=b) merge at their 1st, 3rd, ... positions; islands via
          pos - row_number (pos is dense by construction).
    r{k}: drop positions consumed by the merge starting one slot left,
          concatenate a||b at merge starts, re-number pos densely.
    """
    p = k - 1
    return f"""
p{k} AS MATERIALIZED (
  SELECT a, b, SUM(n) AS cnt FROM (
    SELECT sym AS a, lead(sym) OVER (PARTITION BY w ORDER BY pos) AS b, n
    FROM r{p}
  ) WHERE b IS NOT NULL GROUP BY a, b
),
b{k} AS MATERIALIZED (
  SELECT a, b, CAST(cnt AS BIGINT) AS cnt FROM p{k} ORDER BY cnt DESC, a, b LIMIT 1
),
g{k} AS MATERIALIZED (
  SELECT w, pos, sym, n, b, mt,
    CASE WHEN mt
         THEN (row_number() OVER (PARTITION BY w, mt, grp ORDER BY pos)) % 2 = 1
         ELSE FALSE END AS st
  FROM (
    SELECT *, pos - row_number() OVER (PARTITION BY w, mt ORDER BY pos) AS grp
    FROM (
      SELECT r.w, r.pos, r.sym, r.n, bb.b,
             (r.sym = bb.a AND coalesce(
                lead(r.sym) OVER (PARTITION BY r.w ORDER BY r.pos) = bb.b,
                FALSE)) AS mt
      FROM r{p} r LEFT JOIN b{k} bb ON TRUE
    )
  )
),
r{k} AS MATERIALIZED (
  SELECT w, CAST(row_number() OVER (PARTITION BY w ORDER BY pos) AS BIGINT) AS pos,
         CASE WHEN st THEN sym || b ELSE sym END AS sym,
         n
  FROM (
    SELECT *, coalesce(lag(st) OVER (PARTITION BY w ORDER BY pos), FALSE) AS consumed
    FROM g{k}
  )
  WHERE NOT consumed
)"""


def _bpe_train_oracle(n_merges: int = N_MERGES) -> str:
    parts = [bpe_base_sql()] + [bpe_round_sql(k) for k in range(1, n_merges + 1)]
    union = "\nUNION ALL ".join(
        f'SELECT {k - 1} AS rank, a AS "left", b AS "right", cnt AS pair_count FROM b{k}'
        for k in range(1, n_merges + 1)
    )
    return "WITH " + ",".join(parts) + f"\nSELECT * FROM (\n{union}\n) ORDER BY rank"


def _bpe_encode_oracle(n_merges: int = N_MERGES) -> str:
    """Encode oracle: the word's segmentation after round N IS
    encode_word(w, merges) (each round applies the same greedy pass the
    encoder replays in rank order), so n_sub per vocab word = the
    symbol count in r{N}. Out-of-vocab words fall back to the unmerged
    character segmentation length(w)+1, exactly like the Spark side's
    left-join coalesce."""
    parts = [bpe_base_sql()] + [bpe_round_sql(k) for k in range(1, n_merges + 1)]
    return (
        "WITH " + ",".join(parts) + f""",
dw AS MATERIALIZED (
  SELECT doc_id, w FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
    FROM documents
    WHERE text IS NOT NULL AND length(text) > 0 AND doc_id < 100
  ) WHERE length(w) > 0
),
vn AS MATERIALIZED (
  SELECT w, CAST(count(*) AS INT) AS n_sub FROM r{n_merges} GROUP BY w
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(SUM(coalesce(vn.n_sub, length(dw.w) + 1)) AS BIGINT) AS n_subtokens,
       floor(CAST(SUM(coalesce(vn.n_sub, length(dw.w) + 1)) AS BIGINT)
             / CAST(count(*) AS BIGINT) * 10000 + 0.5) / 10000 AS ratio
FROM dw LEFT JOIN vn ON dw.w = vn.w
GROUP BY doc_id"""
    )


@register("text_bpe_train", oracle=_bpe_train_oracle())
def text_bpe_train(spark, sf_dir):
    """BPE training: word histogram (ONE corpus shuffle, map-side
    combine; token stream stays on executors) → merge loop over the
    vocab-sized driver table. Returns the learned merge table — rank,
    pair, and the pair's frequency at merge time. 100 TB: the only
    data-sized step is the histogram; the loop's state is O(vocab),
    independent of corpus size — the same partial-then-model split as
    emb_kmeans. Exact oracle: the merge loop unrolled into N_MERGES
    MATERIALIZED-CTE rounds (see bpe_round_sql); semantics additionally
    pinned by pure-Python replay in tests/test_tokenizer.py."""
    wc = [(r["w"], r["n"]) for r in corpus_word_counts(spark, sf_dir).collect()]
    merges = train_bpe(wc)
    return spark.createDataFrame(
        merges, "rank int, left string, right string, pair_count bigint"
    ).orderBy("rank")


@register("text_bpe_encode", oracle=_bpe_encode_oracle())
def text_bpe_encode(spark, sf_dir):
    """BPE encoding at corpus scale: train (as above), encode each
    DISTINCT word once driver-side (vocab-sized), then broadcast-join
    the word→(n_subtokens, joined form) table onto the exploded corpus
    and aggregate per document — encoding cost is one broadcast join,
    never a per-token Python loop over the corpus. Emits per-doc word
    and subtoken counts plus the compression ratio for doc_id < 100."""
    wc = [(r["w"], r["n"]) for r in corpus_word_counts(spark, sf_dir).collect()]
    merges = train_bpe(wc)
    enc = [
        (w, len(encode_word(w, merges)), " ".join(encode_word(w, merges)))
        for w, _n in wc
    ]
    enc_df = spark.createDataFrame(
        enc, "w string, n_sub int, sub string"
    )
    d = table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
        & (F.length("text") > 0)
        & (F.col("doc_id") < 100)
    )
    words = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("w")
    ).filter(F.length("w") > 0)
    return (
        # left join: a word outside the frequency-truncated vocab falls
        # back to its unmerged character segmentation (len + </w>)
        words.join(F.broadcast(enc_df), "w", "left")
        .withColumn(
            "n_sub", F.coalesce(F.col("n_sub"), F.length("w") + 1)
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("n_sub").cast("bigint").alias("n_subtokens"),
        )
        .withColumn(
            "ratio",
            F.floor(
                F.col("n_subtokens") / F.col("n_words") * 10000 + 0.5
            )
            / 10000,
        )
    )


# --- unigram-LM tokenizer (SentencePiece-style) --------------------------

UNI_MAXLEN = 15  # words longer than this are out of segmentation scope
UNI_PIECE_LEN = 4  # max candidate piece length
UNI_MULTI_KEEP = 400  # multi-char pieces kept (all single chars always kept)
UNI_TOP_WORDS = 200  # output rows: most frequent words


def _unigram_pieces(word_counts):
    """Candidate piece inventory over the word histogram: every
    substring of length 1..UNI_PIECE_LEN weighted by word frequency;
    keep ALL single chars (coverage guarantee) plus the UNI_MULTI_KEEP
    most frequent multi-char pieces. Returns {piece: logp_i} with
    logp_i = floor(ln(count/total) * 1e6 + 0.5) int64 micro-units."""
    import math

    counts: dict[str, int] = {}
    for w, n in word_counts:
        for s in range(len(w)):
            for ln in range(1, UNI_PIECE_LEN + 1):
                if s + ln <= len(w):
                    p = w[s : s + ln]
                    counts[p] = counts.get(p, 0) + n
    singles = {p: c for p, c in counts.items() if len(p) == 1}
    multis = sorted(
        ((p, c) for p, c in counts.items() if len(p) > 1),
        key=lambda pc: (-pc[1], pc[0]),
    )[:UNI_MULTI_KEEP]
    kept = dict(singles)
    kept.update(dict(multis))
    total = sum(kept.values())
    return {
        p: math.floor(math.log(c / total) * 1000000 + 0.5)
        for p, c in kept.items()
    }


def _unigram_viterbi(word, logp):
    """Viterbi segmentation under the unigram model: maximize total
    piece log-prob, ties broken by FEWER pieces — encoded as one int64
    comb = score_i * 64 - n_pieces so the DP max is a plain integer
    max (n_pieces < 64 by UNI_MAXLEN). Returns (score_i, n_pieces)."""
    NEG = None
    best: list[int | None] = [0] + [NEG] * len(word)
    for j in range(1, len(word) + 1):
        cands = []
        for ln in range(1, min(UNI_PIECE_LEN, j) + 1):
            piece = word[j - ln : j]
            prev = best[j - ln]
            if prev is not None and piece in logp:
                cands.append(prev + logp[piece] * 64 - 1)
        best[j] = max(cands) if cands else NEG
    comb = best[len(word)]
    assert comb is not None  # single chars are always pieces
    n_pieces = (-comb) % 64
    score_i = (comb + n_pieces) // 64
    return score_i, n_pieces


def _unigram_oracle() -> str:
    """The whole pipeline as unrolled SQL: histogram -> piece inventory
    -> integer log-probs -> UNI_MAXLEN Viterbi layers (one CTE per
    position j; each unions the <=UNI_PIECE_LEN back-transitions as
    substr-keyed joins against the piece table) -> top-UNI_TOP_WORDS
    report. The comb = score*64 - n_pieces encoding makes max() the
    full lexicographic (score, fewer-pieces) objective."""
    lens = ",".join(str(i) for i in range(1, UNI_PIECE_LEN + 1))
    parts = [
        f"""
vocab AS MATERIALIZED (
  SELECT w, CAST(count(*) AS BIGINT) AS n
  FROM (
    SELECT unnest(string_split(lower(text), ' ')) AS w
    FROM documents
    WHERE text IS NOT NULL AND length(text) > 0
  )
  WHERE length(w) > 0
  GROUP BY w
  ORDER BY n DESC, w
  LIMIT {VOCAB_CAP}
),
v15 AS MATERIALIZED (
  SELECT w, n FROM vocab WHERE length(w) <= {UNI_MAXLEN}
),
cand AS MATERIALIZED (
  SELECT substr(w, s, l) AS piece, SUM(n) AS cnt
  FROM (SELECT w, n, unnest(generate_series(1, length(w))) AS s FROM v15)
  CROSS JOIN (SELECT unnest([{lens}]) AS l)
  WHERE s + l - 1 <= length(w)
  GROUP BY substr(w, s, l)
),
kept AS MATERIALIZED (
  SELECT piece, cnt FROM cand WHERE length(piece) = 1
  UNION ALL
  SELECT piece, cnt FROM (
    SELECT piece, cnt,
           row_number() OVER (ORDER BY cnt DESC, piece) AS rk
    FROM cand WHERE length(piece) > 1
  ) WHERE rk <= {UNI_MULTI_KEEP}
),
pieces AS MATERIALIZED (
  SELECT piece,
         CAST(floor(ln(CAST(cnt AS DOUBLE) / (SELECT sum(cnt) FROM kept))
                    * 1000000 + 0.5) AS BIGINT) * 64 - 1 AS lp64
  FROM kept
),
d0 AS MATERIALIZED (
  SELECT w, CAST(0 AS BIGINT) AS comb FROM v15
)"""
    ]
    for j in range(1, UNI_MAXLEN + 1):
        branches = []
        for ln in range(1, min(UNI_PIECE_LEN, j) + 1):
            branches.append(
                f"""SELECT d.w, d.comb + p.lp64 AS c
      FROM d{j - ln} d JOIN pieces p
        ON p.piece = substr(d.w, {j - ln + 1}, {ln})
      WHERE length(d.w) >= {j}"""
            )
        u = "\n      UNION ALL ".join(branches)
        parts.append(
            f"""
d{j} AS MATERIALIZED (
  SELECT t.w, max(t.c) AS comb FROM (
      {u}
  ) t GROUP BY t.w
)"""
        )
    finals = "\n  UNION ALL ".join(
        f"SELECT w, comb FROM d{j} WHERE length(w) = {j}"
        for j in range(1, UNI_MAXLEN + 1)
    )
    return (
        "WITH "
        + ",".join(parts)
        + f""",
fin AS MATERIALIZED (
  {finals}
)
SELECT v.w, v.n,
       CAST((-f.comb) % 64 AS INTEGER) AS n_pieces,
       CAST((f.comb + (-f.comb) % 64) // 64 AS DOUBLE) / 1000000 AS logprob
FROM (SELECT w, n FROM v15 ORDER BY n DESC, w LIMIT {UNI_TOP_WORDS}) v
JOIN fin f USING (w)
"""
    )


@register("text_unigram_lm", oracle=_unigram_oracle())
def text_unigram_lm(spark, sf_dir):
    """SentencePiece-style unigram-LM tokenizer: build a candidate
    piece inventory (all substrings up to UNI_PIECE_LEN, weighted by
    the word histogram; all single chars kept for coverage plus the
    UNI_MULTI_KEEP most frequent multi-char pieces), assign each piece
    ln(count/total) in integer micro-units, and Viterbi-segment every
    vocab word — maximize total piece log-prob, ties to fewer pieces.
    Emits the UNI_TOP_WORDS most frequent words with their optimal
    segmentation size and log-prob, the statistic unigram vocab
    pruning ranks pieces by.

    Architecture mirrors text_bpe_train (the r9 VERDICT's pairing):
    the ONE corpus-sized step is the word histogram shuffle; piece
    inventory and Viterbi run over vocab-sized driver model state.
    Exact oracle: the DP is unrolled into UNI_MAXLEN positional CTEs —
    layer j maxes over <=UNI_PIECE_LEN substr-keyed joins against the
    piece table — with the (score, fewer-pieces) objective packed into
    one int64 (score_i * 64 - n_pieces) so max() is exact; integer
    log-prob sums make the comparison engine-portable."""
    wc = [(r["w"], int(r["n"])) for r in corpus_word_counts(spark, sf_dir).collect()]
    wc15 = [(w, n) for w, n in wc if len(w) <= UNI_MAXLEN]
    logp = _unigram_pieces(wc15)
    top = sorted(wc15, key=lambda t: (-t[1], t[0]))[:UNI_TOP_WORDS]
    rows = []
    for w, n in top:
        score_i, n_pieces = _unigram_viterbi(w, logp)
        rows.append((w, n, n_pieces, score_i / 1000000.0))
    return spark.createDataFrame(
        rows, "w string, n bigint, n_pieces int, logprob double"
    )


# ---------------------------------------------------------------------------
# text_wordpiece — greedy longest-match-first subword segmentation

WP_MAXLEN = 12  # words longer than this are out of segmentation scope
WP_PIECE_LEN = 4  # max candidate piece length
WP_MULTI_KEEP = 300  # multi-char pieces kept PER CLASS (initial / cont)
WP_TOP_WORDS = 200  # output rows: most frequent words


def _wp_inventory(word_counts):
    """WordPiece-style piece inventory over the word histogram: every
    substring of length 1..WP_PIECE_LEN, weighted by word frequency and
    CLASSED by position — initial (word start) vs continuation (the
    '##' pieces). All single chars of each class are kept (coverage
    guarantee: every encodable word segments without [UNK]) plus the
    WP_MULTI_KEEP most frequent multi-char pieces per class, ties to
    the lexicographically smaller piece. Returns set[(txt, is_cont)]."""
    cnt: Counter = Counter()
    for w, n in word_counts:
        for s in range(len(w)):
            for ln in range(1, WP_PIECE_LEN + 1):
                if s + ln <= len(w):
                    cnt[(w[s : s + ln], s > 0)] += n
    kept = {k for k in cnt if len(k[0]) == 1}
    for is_cont in (False, True):
        multis = sorted(
            (
                (t, c)
                for (t, ic), c in cnt.items()
                if ic == is_cont and len(t) > 1
            ),
            key=lambda tc: (-tc[1], tc[0]),
        )[:WP_MULTI_KEEP]
        kept |= {(t, is_cont) for t, _ in multis}
    return kept


def _wp_encode(w: str, kept) -> list[str]:
    """The WordPiece inference rule: at each position take the LONGEST
    inventory piece of the position's class. Always terminates without
    [UNK] because single chars of both classes are in the inventory."""
    pos, pieces = 0, []
    while pos < len(w):
        for ln in range(min(WP_PIECE_LEN, len(w) - pos), 0, -1):
            t = w[pos : pos + ln]
            if (t, pos > 0) in kept:
                pieces.append(("##" + t) if pos > 0 else t)
                pos += ln
                break
    return pieces


def _wp_base_sql() -> str:
    lens = ",".join(str(i) for i in range(1, WP_PIECE_LEN + 1))
    return f"""
vocab AS MATERIALIZED (
  SELECT w, CAST(count(*) AS BIGINT) AS n
  FROM (
    SELECT unnest(string_split(lower(text), ' ')) AS w
    FROM documents
    WHERE text IS NOT NULL AND length(text) > 0
  )
  WHERE length(w) > 0
  GROUP BY w
  ORDER BY n DESC, w
  LIMIT {VOCAB_CAP}
),
v12 AS MATERIALIZED (
  SELECT w, n FROM vocab WHERE length(w) <= {WP_MAXLEN}
),
cand AS MATERIALIZED (
  SELECT substr(w, s, l) AS txt, s > 1 AS is_cont, SUM(n) AS cnt
  FROM (SELECT w, n, unnest(generate_series(1, length(w))) AS s FROM v12)
  CROSS JOIN (SELECT unnest([{lens}]) AS l)
  WHERE s + l - 1 <= length(w)
  GROUP BY txt, is_cont
),
kept AS MATERIALIZED (
  SELECT txt, is_cont FROM cand WHERE length(txt) = 1
  UNION ALL
  SELECT txt, is_cont FROM (
    SELECT txt, is_cont,
           row_number() OVER (PARTITION BY is_cont ORDER BY cnt DESC, txt) AS rk
    FROM cand WHERE length(txt) > 1
  ) WHERE rk <= {WP_MULTI_KEEP}
),
s0 AS MATERIALIZED (
  SELECT w, n, CAST(1 AS BIGINT) AS pos, 0 AS n_pieces, '' AS seg
  FROM (SELECT w, n FROM v12 ORDER BY n DESC, w LIMIT {WP_TOP_WORDS})
)"""


def _wp_step_sql(k: int) -> str:
    """One unrolled greedy step: every unfinished word matches the kept
    pieces of its position's class at each length (equi-joins on the
    substr key — the hash-joinable form of 'longest prefix'), the
    longest wins (row_number over plen DESC — unique: one piece per
    (word, pos, length, class)), finished words carry forward."""
    p = k - 1
    branches = []
    for ln in range(1, WP_PIECE_LEN + 1):
        branches.append(
            f"""SELECT s.w, s.n, s.pos, s.n_pieces, s.seg, p.txt, {ln} AS plen
      FROM s{p} s JOIN kept p
        ON p.is_cont = (s.pos > 1) AND length(p.txt) = {ln}
           AND p.txt = substr(s.w, CAST(s.pos AS INT), {ln})
      WHERE s.pos <= length(s.w) AND s.pos + {ln} - 1 <= length(s.w)"""
        )
    u = "\n      UNION ALL ".join(branches)
    return f"""
m{k} AS MATERIALIZED (
  SELECT *, row_number() OVER (PARTITION BY w ORDER BY plen DESC) AS rk
  FROM (
      {u}
  )
),
s{k} AS MATERIALIZED (
  SELECT w, n, pos + plen AS pos, n_pieces + 1 AS n_pieces,
         seg || CASE WHEN pos > 1 THEN ' ##' ELSE '' END || txt AS seg
  FROM m{k} WHERE rk = 1
  UNION ALL
  SELECT w, n, pos, n_pieces, seg FROM s{p} WHERE pos > length(w)
)"""


def _wp_oracle() -> str:
    parts = [_wp_base_sql()] + [
        _wp_step_sql(k) for k in range(1, WP_MAXLEN + 1)
    ]
    return (
        "WITH "
        + ",".join(parts)
        + f"\nSELECT w, n, n_pieces, seg FROM s{WP_MAXLEN}"
    )


@register("text_wordpiece", oracle=_wp_oracle())
def text_wordpiece(spark, sf_dir):
    """WordPiece tokenizer (the BERT family's inference rule, built
    from the public algorithm): derive a piece inventory from the word
    histogram — every substring up to WP_PIECE_LEN weighted by word
    frequency, classed initial vs continuation ('##'), all single
    chars kept per class for coverage plus the WP_MULTI_KEEP most
    frequent multi-char pieces per class — then segment each word by
    GREEDY LONGEST-MATCH-FIRST. Completes the tokenizer triad: BPE
    (merge-rank replay), unigram-LM (Viterbi), WordPiece (greedy).

    Architecture mirrors text_bpe_train / text_unigram_lm: the ONE
    corpus-sized step is the word-histogram shuffle (map-side combine);
    inventory and matcher run over vocab-sized driver model state.
    Exact oracle: the greedy loop unrolls into WP_MAXLEN steps — each
    step equi-joins unfinished words to the piece table per candidate
    length (substr keys, hash-joinable) and keeps the longest — so the
    FULL segmentation string is hash-checked, not just piece counts.
    Emits the WP_TOP_WORDS most frequent words with piece count and
    the '##'-marked segmentation."""
    wc = [(r["w"], int(r["n"])) for r in corpus_word_counts(spark, sf_dir).collect()]
    v12 = [(w, n) for w, n in wc if len(w) <= WP_MAXLEN]
    kept = _wp_inventory(v12)
    top = sorted(v12, key=lambda t: (-t[1], t[0]))[:WP_TOP_WORDS]
    rows = []
    for w, n in top:
        pieces = _wp_encode(w, kept)
        rows.append((w, n, len(pieces), " ".join(pieces)))
    return spark.createDataFrame(
        rows, "w string, n bigint, n_pieces int, seg string"
    )
