"""The benchmark's inputs are seeded and its reference answers are right."""

from __future__ import annotations

import numpy as np

import benchinputs as BI
import workloads as W


def test_corpus_is_seeded_and_sized_like_sf01():
    a = BI.make_corpus(500, seed=3)
    assert a == BI.make_corpus(500, seed=3)
    assert a != BI.make_corpus(500, seed=4)
    lo, hi = BI.DEDUP["words"]
    assert len(a) == 500 and all(lo <= len(t.split()) <= hi for t in a)
    assert len({w for t in a for w in t.split()}) <= BI.DEDUP["vocab"]


def test_reference_pairs_find_planted_chain(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    # a chain of 12 one-word edits: the oracle's pairs connect the whole
    # chain, but not every two of its documents are near-duplicates
    texts = BI.make_corpus(12, seed=5, chain_share=1.0, chain_len=(12, 12), words=(50, 60))
    pq.write_table(pa.table({"doc_id": pa.array(range(12), pa.int64()),
                             "text": pa.array(texts)}),
                   str(tmp_path / "documents.parquet"))
    pairs = BI.reference_pairs(str(tmp_path))
    assert set(W.union_find_labels(pairs, 12).tolist()) == {0}
    assert len(pairs) < 12 * 11 // 2


def test_seed_list_is_seeded_and_per_source():
    n = BI.CRAWL["seeds_per_source"] + 100
    urls = [f"http://{s}-{h}.example/news/art-{i:05d}"
            for s in ("lesoir", "lalibre", "dhnet", "sudinfo")
            for h in range(3) for i in range(n // 3 + 1)]
    a = BI.make_seed_list(urls, seed=1)
    assert a == BI.make_seed_list(urls, seed=1)
    assert a != BI.make_seed_list(urls, seed=2)
    assert [r["seed_rank"] for r in a] == list(range(len(a)))
    assert len({r["url"] for r in a}) == len(a) == 4 * BI.CRAWL["seeds_per_source"]


def test_union_find_labels_chain_and_star():
    # chain 5-3-9-1, star 2-{6,7}, singletons 0, 4, 8
    pairs = [(3, 5), (3, 9), (1, 9), (2, 6), (2, 7)]
    labels = W.union_find_labels(pairs, 10)
    assert labels.tolist() == [0, 1, 2, 1, 4, 1, 2, 2, 8, 1]


def test_prune_reference_keeps_first_of_each_near_pair():
    base = np.int64(0x0123_4567_89AB_CDEF)
    near = base ^ np.int64(0b111)  # 3 bits apart, shares three bands
    far = ~base  # 64 bits apart
    ids = ["img2", "img1", "img3"]
    kept = W.prune_reference(ids, np.array([near, base, far], dtype=np.int64))
    assert kept == {"img1", "img3"}
