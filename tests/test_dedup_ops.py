"""Non-SQL-expressible dedup ops verified against exact brute force
(__spark_entry__ docstring contract): MinHash-LSH recall vs exact 3-gram
Jaccard; SimHash banding recall vs exact Hamming over the signatures."""

from __future__ import annotations

import itertools

import pytest

from csxj_crawler_spark.queries import dedupops


def _shingles(text: str) -> set[str]:
    toks = text.split()
    if len(toks) < 3:
        return {" ".join(toks)} if toks else set()
    return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    }


def test_minhash_batch_bitparity_with_perdoc(docs):
    """The whole-batch reduceat MinHash (r4) must be bit-identical to the
    per-document reference it replaced — on real fixture docs, on empties/
    NULLs, and across chunk boundaries."""
    import numpy as np
    import pandas as pd

    from csxj_crawler_spark.queries import dedupops as D

    texts = list(docs.values()) + [None, "", "one", "one two", "a b c d e"]
    s = pd.Series(texts, dtype=object)
    got = D._minhash_sig_batch(s)
    want = [D._ref_minhash(t) for t in texts]
    assert all(list(g) == list(w) for g, w in zip(got, want))
    # force many chunk boundaries (incl. mid-document-range splits)
    old = D._MINHASH_CHUNK_SHINGLES
    try:
        D._MINHASH_CHUNK_SHINGLES = 5
        got2 = D._minhash_sig_batch(s)
    finally:
        D._MINHASH_CHUNK_SHINGLES = old
    assert all(list(g) == list(w) for g, w in zip(got2, want))


def test_minhash_lsh_recall_and_precision(spark, sf_dir, docs):
    got = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in dedupops.q_dedup_minhash_lsh(spark, sf_dir).collect()
    }
    sh = {d: _shingles(t) for d, t in docs.items()}
    exact = {}
    for a, b in itertools.combinations(sorted(docs), 2):
        inter = len(sh[a] & sh[b])
        if inter == 0:
            continue
        j = inter / len(sh[a] | sh[b])
        if j > 0:
            exact[(a, b)] = j
    # recall: every pair with true Jaccard >= 0.8 must be caught with a
    # banded estimate >= 0.5 (8x8 banding catches J>=0.8 w.p. ~1-3e-5)
    high = {p for p, j in exact.items() if j >= 0.8}
    assert high, "fixture should contain near-duplicate documents"
    missed = high - set(got)
    assert not missed, f"LSH missed high-similarity pairs: {missed}"
    # precision: estimated >= 0.5 implies true similarity is substantial
    for p, est in got.items():
        assert exact.get(p, 0.0) >= 0.3, f"false positive {p} est={est}"
    # estimator accuracy on the caught pairs
    for p in high:
        assert abs(got[p] - exact[p]) < 0.25


def test_simhash_banding_matches_bruteforce(spark, sf_dir, docs):
    sigs = {
        r.doc_id: r.sig
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", dedupops.simhash64("text").alias("sig"))
        .collect()
    }
    exact = set()
    for a, b in itertools.combinations(sorted(sigs), 2):
        d = bin((sigs[a] ^ sigs[b]) & (2**64 - 1)).count("1")
        if d <= 6:
            exact.add((a, b))
    got = {
        (r.doc_a, r.doc_b)
        for r in dedupops.q_dedup_simhash(spark, sf_dir).collect()
    }
    # precision is exact (verified with bit_count); recall == 1 when <= 3
    # bits differ (pigeonhole over 4 bands); fixtures cluster flips so all
    assert got <= exact
    tight = {
        (a, b)
        for (a, b) in exact
        if bin((sigs[a] ^ sigs[b]) & (2**64 - 1)).count("1") <= 3
    }
    assert tight <= got
