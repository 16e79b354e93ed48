"""The one token hash: every sketch/LSH operator hashes tokens with md5
and slices hex digits of the digest into integers through the
``hex_int`` / ``o_hex_int`` pair (operators/_util.py), so DuckDB can
replay each of them. These tests pin the pair's cross-engine identity
and the properties each md5-hashed operator promises beyond its oracle
hash:

- dedup_minhash: one row per doc, and every DROP is admissible — the
  dropped doc really has a smaller-id partner at exact Jaccard >= 0.8;
- dedup_simhash / text_winnowing / text_fingerprint: identical token
  sets (sequences) get identical fingerprints;
- ml_feature_hash: features stay in [0, 64) and token mass is
  conserved per language;
- text_dsir_weights: log-weights are finite.
"""

from __future__ import annotations

from collections import defaultdict

from terasort_spark.catalog import table
from terasort_spark.registry import queries

_Q = queries()


def _rows(spark, name, sf_dir):
    df = _Q[name](spark, sf_dir)
    return [f.name for f in df.schema.fields], df.collect()


def _docs(spark, sf_dir):
    return {
        r["doc_id"]: (r["text"] or "").lower().split(" ")
        for r in table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .collect()
    }


def test_hex_int_pair_is_identical_across_engines(spark):
    """hex_int (Spark) and o_hex_int (DuckDB) return the same integer
    for every slice the operators take, including slices that run past
    the 32-digit digest."""
    import duckdb
    from pyspark.sql import functions as F

    from terasort_spark.operators._util import hex_int, o_hex_int

    strings = [f"tok{i}" for i in range(995)] + ["", "é", "a b", "Ünï", "0"]
    slices = [(n, s) for n in (2, 3, 4, 7, 8, 15) for s in (1, 9, 17, 25)]
    df = spark.createDataFrame([(s,) for s in strings], "s string").select(
        "s", *[hex_int(F.md5("s"), n, s).alias(f"h{n}_{s}") for n, s in slices]
    )
    got = {r["s"]: tuple(r[1:]) for r in df.collect()}
    sql = ", ".join(o_hex_int("md5(s)", n, s) for n, s in slices)
    con = duckdb.connect()
    want = {
        r[0]: tuple(r[1:])
        for r in con.execute(
            f"SELECT s, {sql} FROM (SELECT unnest(?) AS s)", [strings]
        ).fetchall()
    }
    assert len(got) == len(strings)
    assert got == want


def test_minhash_drops_have_smaller_id_partner(spark, sf_dir):
    """One decision per doc, the (doc_id, keep) schema, and every
    dropped doc has a verified smaller-id near-duplicate at exact
    Jaccard >= 0.8 (no hash can fabricate a duplicate)."""
    cols, rows = _rows(spark, "dedup_minhash", sf_dir)
    assert cols == ["doc_id", "keep"]
    dec = {r["doc_id"]: r["keep"] for r in rows}
    # mirror the operator's tokenization exactly: split on single
    # spaces (empties preserved), distinct via set()
    docs = {d: set(toks) for d, toks in _docs(spark, sf_dir).items()}
    assert len(rows) == len(dec) and set(dec) == set(docs)  # one row per doc
    ids = sorted(docs)
    for d, keep in dec.items():
        if keep:
            continue
        toks = docs[d]
        # the operator verifies on the 4dp-rounded Jaccard, so accept
        # anything that rounds to >= 0.8
        ok = any(
            len(toks & docs[a]) / len(toks | docs[a]) >= 0.79995
            for a in ids
            if a < d and (toks or docs[a])
        )
        assert ok, f"doc {d} dropped without a qualifying partner"


def test_feature_hash_features_in_range_and_mass_conserved(spark, sf_dir):
    """Every token lands in exactly one of the 64 buckets: per-lang
    sum(n_tokens) is the language's token count and sum(n_distinct) its
    vocabulary size."""
    cols, rows = _rows(spark, "ml_feature_hash", sf_dir)
    assert cols == ["lang", "feature", "n_tokens", "n_distinct"]
    mass = defaultdict(lambda: [0, 0])
    for r in rows:
        assert 0 <= r["feature"] < 64
        mass[r["lang"]][0] += r["n_tokens"]
        mass[r["lang"]][1] += r["n_distinct"]
    want = defaultdict(list)
    for r in (
        table(spark, sf_dir, "documents")
        .filter("text IS NOT NULL")
        .select("lang", "text")
        .collect()
    ):
        want[r["lang"]] += [t for t in r["text"].lower().split(" ") if t]
    assert dict(mass) == {
        lang: [len(toks), len(set(toks))] for lang, toks in want.items()
    }


def test_simhash_exact_dups_collapse(spark, sf_dir):
    """Exact-duplicate texts (same token set) land on ONE simhash
    fingerprint, and the fingerprint stays inside 16 bits."""
    cols, rows = _rows(spark, "dedup_simhash", sf_dir)
    assert cols == ["doc_id", "simhash16"]
    fp = {r["doc_id"]: r["simhash16"] for r in rows}
    assert all(0 <= v < (1 << 16) for v in fp.values())
    groups = defaultdict(set)
    for d, toks in _docs(spark, sf_dir).items():
        groups[frozenset(toks)].add(fp[d])
    for vals in groups.values():
        assert len(vals) == 1, f"same token set, {len(vals)} fingerprints"


def test_dsir_weights_are_finite(spark, sf_dir):
    import math

    cols, rows = _rows(spark, "text_dsir_weights", sf_dir)
    assert cols == ["doc_id", "n_toks", "logweight"]
    assert rows and all(math.isfinite(r["logweight"]) for r in rows)


def test_fingerprint_partitions_docs_by_token_set(spark, sf_dir):
    """content_fp exists to PARTITION documents by canonical content:
    two docs share it iff they share a token set (collision-free on
    this corpus)."""
    cols, rows = _rows(spark, "text_fingerprint", sf_dir)
    assert cols == ["doc_id", "content_fp", "prefix_fp"]
    by_fp = defaultdict(set)
    for r in rows:
        by_fp[r["content_fp"]].add(r["doc_id"])
    by_toks = defaultdict(set)
    for d, toks in _docs(spark, sf_dir).items():
        by_toks[frozenset(toks)].add(d)
    assert sorted(map(sorted, by_fp.values())) == sorted(
        map(sorted, by_toks.values())
    )


def test_winnowing_identical_docs_identical_fps(spark, sf_dir):
    """Docs with identical token sequences select identical fingerprint
    sets (same n_fp, same fp_min), with n_fp >= 1 and a string fp_min."""
    cols, rows = _rows(spark, "text_winnowing", sf_dir)
    assert cols == ["doc_id", "n_fp", "fp_min"]
    seqs = {d: tuple(toks) for d, toks in _docs(spark, sf_dir).items()}
    groups = defaultdict(set)
    for r in rows:
        assert r["n_fp"] >= 1 and isinstance(r["fp_min"], str)
        groups[seqs[r["doc_id"]]].add((r["n_fp"], r["fp_min"]))
    for vals in groups.values():
        assert len(vals) == 1, "same token sequence, different fingerprints"
