"""Payload-path Spark tests: decode/phash recompute matches the generator,
per-row fidelity validation (allclose / PSNR>=40), the pHash near-dup pairs
and prune vs brute force, and ``banding.hamming_pairs`` edge cases
(SURVEY.md §5.2.4/5)."""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from csxj_crawler_spark import spec
from csxj_crawler_spark.functions import images as I
from csxj_crawler_spark.operators import banding
from csxj_crawler_spark.operators import payload as P


@pytest.fixture(scope="module")
def images(spark, fix_dir):
    return spark.read.parquet(f"{fix_dir}/images_captions.parquet").cache()


@pytest.fixture(scope="module")
def golden(spark, fix_dir):
    return spark.read.parquet(f"{fix_dir}/images_golden.parquet")


def test_decode_and_phash_matches_stored(spark, images):
    rec = P.decode_and_phash(images)
    joined = rec.join(images.select("image_id", "w", "h", "phash"), "image_id")
    bad = joined.filter(
        (~F.col("decode_ok"))
        | (F.col("dec_w") != F.col("w"))
        | (F.col("dec_h") != F.col("h"))
        | (F.col("phash_re") != F.col("phash"))
    )
    assert bad.count() == 0
    assert rec.count() == images.count()


def test_validate_payloads_all_ok(images, golden):
    res = P.validate_payloads(images, golden)
    assert res.count() == images.count()
    assert res.filter("NOT pixels_ok").count() == 0


def test_validate_payloads_catches_corruption(spark, images, golden):
    corrupt = images.withColumn(
        "bytes",
        F.when(F.col("fmt") == "raw", F.reverse(F.col("bytes"))).otherwise(
            F.col("bytes")
        ),
    )
    n_raw = images.filter("fmt = 'raw'").count()
    res = P.validate_payloads(corrupt, golden)
    # reversed raw buffers still decode but pixels differ -> flagged not ok
    assert res.filter("NOT pixels_ok").count() >= n_raw * 0.9


def test_neardup_recall_vs_bruteforce(spark, images):
    rows = images.select("image_id", "phash").collect()
    want = {
        tuple(sorted((a.image_id, b.image_id)))
        for a, b in itertools.combinations(rows, 2)
        if I.hamming64(a.phash, b.phash) <= 6
    }
    pairs, _obs = banding.hamming_pairs(images, "image_id", "phash", 6)
    got = [(r.image_id_a, r.image_id_b) for r in pairs.collect()]
    # banding may theoretically miss spread-flip pairs; fixtures cluster
    # their flips so recall must be 1 here, and precision is always 1
    assert all(a < b for a, b in got)
    assert len(got) == len(set(got)) and set(got) == want


def _bands(h: int) -> list[tuple[int, int]]:
    u = h & (1 << 64) - 1
    return [(k, (u >> 16 * k) & 0xFFFF) for k in range(4)]


def _ham(a: int, b: int) -> int:
    return bin((a ^ b) & (1 << 64) - 1).count("1")


def test_prune_keeps_canonical_representative(spark, images):
    """Exact keep set of the D6 rule against a brute force: an image is
    dropped iff a smaller image_id shares one of its four 16-bit bands and
    lies within Hamming t (the fixture's buckets stay under the cap)."""
    rows = sorted((r.image_id, r.phash) for r in images.select("image_id", "phash").collect())
    want = {
        b
        for j, (b, hb) in enumerate(rows)
        if not any(
            set(_bands(ha)) & set(_bands(hb)) and _ham(ha, hb) <= 6
            for _, ha in rows[:j]
        )
    }
    kept = P.phash_prune_keep_first(images, t=6)
    got = [r.image_id for r in kept.select("image_id").collect()]
    assert len(got) == len(set(got)) and set(got) == want
    assert len(want) < len(rows)  # the fixture has near-dups to drop


def _s64(u: int) -> int:
    """Unsigned 64-bit pattern → the signed long Spark stores."""
    return u - (1 << 64) if u >= 1 << 63 else u


def test_hamming_pairs_edge_cases(spark, monkeypatch):
    """hamming_pairs on hand-built signed longs vs a brute force of the same
    rule (capped buckets, a.id < b.id, Hamming ≤ t): sign-bit bands, pairs at
    exactly t and at t + 1, a multi-band pair that must come out once, and
    the cap's drop count on a hot bucket."""
    t, cap = 6, 8
    base = 0x0123_4567_89AB_CDEF
    hashes = {
        1: -1,
        2: _s64((1 << 63) - 1),  # -1 ^ (1 << 63): shares bands 0-2 with id 1
        3: _s64(1 << 63),
        4: _s64(((1 << 64) - 1) ^ (0x3F << 58)),  # 6 flips from id 1, top band
        5: base,
        6: base ^ (0x3F << 16),  # exactly t from id 5
        7: base ^ (0x7F << 32),  # t + 1 from id 5
        8: _s64(1 << 63 | 1),  # shares the sign-bit top band with id 3
    }
    # hot bucket: 20 ids share band 0; bands 1-3 are distinct per id
    for i in range(100, 120):
        hashes[i] = 0xABCD | i << 16 | i << 32 | i << 48
    monkeypatch.setattr(spec, "BAND_BUCKET_CAP", cap)
    frame = spark.createDataFrame(sorted(hashes.items()), "id long, h long")
    pairs, obs = banding.hamming_pairs(frame, "id", "h", t)
    got = [(r.id_a, r.id_b, r.hamming) for r in pairs.collect()]

    buckets: dict = {}
    for i, h in sorted(hashes.items()):
        for key in _bands(h):
            buckets.setdefault(key, []).append(i)
    want = {
        (a, b, _ham(hashes[a], hashes[b]))
        for ids in buckets.values()
        for a, b in itertools.combinations(ids[:cap], 2)
        if _ham(hashes[a], hashes[b]) <= t
    }
    assert {(1, 2, 1), (1, 4, 6), (2, 4, 5), (3, 8, 1), (5, 6, 6)} <= want
    assert not any(p[:2] == (5, 7) for p in want)
    assert len(got) == len(set(got)) and set(got) == want
    assert obs.get["band_rows_dropped"] == 20 - cap
    assert obs.get["max_bucket_occupancy"] == 20


def test_feature_extraction_shape(spark, images):
    feats = P.extract_image_features(images.limit(20), thumb=8)
    rows = feats.collect()
    assert len(rows) == 20
    for r in rows:
        assert len(r.feat) == 3
        assert all(0.0 <= v <= 1.0 for v in r.feat)
        assert r.backend == "numpy-stub"


def test_feature_extraction_unknown_fmt_raises(spark, images):
    from py4j.protocol import Py4JJavaError

    weird = images.limit(1).withColumn("fmt", F.lit("jpeg2000"))
    with pytest.raises(Exception) as ei:
        P.extract_image_features(weird).collect()
    assert "NotImplementedError" in str(ei.value) or "no decoder" in str(ei.value)
