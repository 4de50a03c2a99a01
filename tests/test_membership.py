"""Membership-filter properties (SURVEY.md §5.2.5): bloom never
false-negatives, cuckoo supports insert/delete/membership, and the Spark
build/probe/merge operators agree with the exact set semantics."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from csxj_crawler_spark import spec
from csxj_crawler_spark.operators import membership as M

i64 = st.integers(min_value=-(2**63), max_value=2**63 - 1)


@settings(max_examples=50, deadline=None)
@given(st.lists(i64, min_size=0, max_size=500))
def test_bloom_no_false_negatives(keys):
    arr = np.array(keys, dtype=np.int64)
    words, m = M.bloom_build_bits(arr)
    hits = M.bloom_probe_bits(arr, words, m, 7)
    assert hits.all() if len(keys) else True


@settings(max_examples=25, deadline=None)
@given(st.lists(i64, min_size=10, max_size=300, unique=True))
def test_bloom_fp_rate_reasonable(keys):
    """At 10 bits/key, k=7 the theoretical FP rate is <1%; allow 5% slack."""
    arr = np.array(keys, dtype=np.int64)
    words, m = M.bloom_build_bits(arr)
    rng = np.random.RandomState(7)
    probe = rng.randint(-(2**62), 2**62, size=20_000).astype(np.int64)
    probe = probe[~np.isin(probe, arr)]
    fp = M.bloom_probe_bits(probe, words, m, 7).mean()
    assert fp < 0.05


def test_bloom_merge_equals_union():
    a = np.arange(0, 500, dtype=np.int64)
    b = np.arange(400, 900, dtype=np.int64)
    # equal-m merge path: build both at the same m by padding via bits math
    wa, ma = M.bloom_build_bits(a)
    wb, mb = M.bloom_build_bits(b)
    if ma == mb:
        merged = wa | wb
        assert M.bloom_probe_bits(np.concatenate([a, b]), merged, ma, 7).all()


@settings(max_examples=25, deadline=None)
@given(st.lists(i64, min_size=1, max_size=400, unique=True))
def test_cuckoo_insert_contains(keys):
    arr = np.array(keys, dtype=np.int64)
    cf = M.CuckooFilter(capacity=max(64, len(arr)))
    n = cf.insert_many(arr)
    assert n == len(arr)  # sized with 1.25x headroom: no overflow expected
    assert cf.contains_many(arr).all()


def test_cuckoo_delete_and_roundtrip():
    arr = np.arange(1000, dtype=np.int64) * 2_654_435_761
    cf = M.CuckooFilter(capacity=2000)
    assert cf.insert_many(arr) == len(arr)
    drop = arr[::3]
    assert cf.delete_many(drop) == len(drop)
    keep = np.setdiff1d(arr, drop)
    assert cf.contains_many(keep).all()  # no false negatives on survivors
    # serialization round-trip preserves the table
    cf2 = M.CuckooFilter.from_bytes(cf.to_bytes())
    assert np.array_equal(cf.table, cf2.table)
    assert cf2.contains_many(keep).all()


@pytest.fixture(scope="module")
def seen_df(spark):
    rows = [(int(h) % 8, int(h)) for h in range(0, 4000, 3)]
    return spark.createDataFrame(rows, "host_bucket int, url_hash long")


def _maybe_set(df) -> set:
    return {(r.host_bucket, r.url_hash) for r in df.collect()}


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _check_build_probe(spark, build, seen, cand):
    """``build`` over ``seen`` rows; probing ``cand`` must flag every seen
    row (no false negatives) and few of the others (FP-rate sized)."""
    sidecar = build(spark.createDataFrame(seen, "host_bucket int, url_hash long"))
    # one sub-filter per (bucket, hash%salt) group present in the data
    assert sidecar.select("host_bucket").distinct().count() == 8
    assert sidecar.count() > 8
    maybe = _maybe_set(
        M.probe_maybe(spark.createDataFrame(cand, "host_bucket int, url_hash long"), sidecar)
    )
    missing = set(seen) - maybe
    assert not missing, f"false negatives for seen keys {sorted(missing)[:5]}"
    unseen = set(cand) - set(seen)
    assert len(maybe & unseen) / len(unseen) < 0.05


def test_spark_bloom_build_probe(spark):
    seen = [(h % 8, h) for h in range(0, 4000, 3)]
    cand = [(h % 8, h) for h in range(0, 4000)]
    _check_build_probe(spark, M.build_blooms, seen, cand)


def test_spark_cuckoo_build_probe(spark):
    """The same contract through the same entry point for the cuckoo kind.
    Its keys are random 64-bit hashes with buckets drawn apart from them,
    like xxhash64 url hashes and host buckets: a cuckoo fingerprint is
    bits 40-55 of the key, which small integer keys all share."""
    rng = np.random.RandomState(3)
    h = rng.randint(-(2**63), 2**63 - 1, size=4000, dtype=np.int64)
    b = rng.randint(0, 8, size=4000)
    cand = [(int(x), int(y)) for x, y in zip(b, h)]
    _check_build_probe(spark, M.build_cuckoos, cand[::3], cand)


def test_spark_bloom_merge(spark, seen_df):
    from csxj_crawler_spark import spec

    b1 = M.build_blooms(seen_df.filter("url_hash < 2000"))
    b2 = M.build_blooms(seen_df.filter("url_hash >= 2000"))
    merged = M.merge_blooms(b1.unionByName(b2))
    assert merged.select("host_bucket").distinct().count() == 8
    for r in merged.collect():
        words = np.frombuffer(r.bloom, dtype=np.uint64)
        sub_keys = np.array(
            [
                h
                for h in range(0, 4000, 3)
                if h % 8 == r.host_bucket and h % spec.BLOOM_SALT == r.salt
            ],
            dtype=np.int64,
        )
        assert M.bloom_probe_bits(sub_keys, words, int(r.m), int(r.k)).all()


def test_sized_delta_merge_does_not_saturate():
    """Wave-style incremental merging must keep bit density bounded: deltas
    built at the merged filter's m (min_m) OR in sparsely, instead of a
    delta-sized dense array tiled across the whole filter (which drives
    density → 1 and the FP rate with it after a handful of waves)."""
    base = np.arange(0, 60_000, dtype=np.int64)
    words, m = M.bloom_build_bits(base)
    tiled = words.copy()  # the OLD scheme: delta at its own m, tiled up
    for wave in range(1, 20):
        delta = np.arange(wave * 1000, wave * 1000 + 500, dtype=np.int64) * 7 + 10**9
        dwords, dm = M.bloom_build_bits(delta, min_m=m)
        assert dm == m  # sized delta: plain equal-width OR
        words |= dwords
        small, sm = M.bloom_build_bits(delta)
        tiled |= np.tile(small, m // sm)
    density = np.unpackbits(words.view(np.uint8)).mean()
    tiled_density = np.unpackbits(tiled.view(np.uint8)).mean()
    # ~70k keys at 10 bits/key in a pow2-rounded m ⇒ density well under 0.5;
    # the tiling scheme saturates (dense delta arrays repeated across m)
    assert density < 0.5, density
    assert tiled_density > 2 * density, (tiled_density, density)
    assert M.bloom_probe_bits(base, words, m, 7).all()


def test_sub_filter_fanout_no_false_negatives_any_salt(spark, seen_df, monkeypatch):
    """The (bucket, hash%salt) sub-filter fan-out preserves the bloom
    contract at every fan-out width, on both probe paths: the maybe-set
    covers ALL seen keys (no false negatives) and stays FP-rate sized.
    Build salt and probe salt are one parameter — each candidate group
    meets exactly the sub-filter that holds its keys."""
    cand = spark.createDataFrame(
        [(int(h) % 8, int(h)) for h in range(0, 6000)], "host_bucket int, url_hash long"
    )
    seen_keys = {(int(h) % 8, int(h)) for h in range(0, 4000, 3)}
    sizes = {}
    for salt in (1, 8, 16):
        blooms = M.build_blooms(seen_df, salt=salt)
        for bcast_max in (spec.BLOOM_BCAST_MAX_BYTES, -1):  # broadcast, cogroup
            with monkeypatch.context() as mp:
                mp.setattr(spec, "BLOOM_BCAST_MAX_BYTES", bcast_max)
                got = _maybe_set(M.probe_maybe(cand, blooms, salt=salt))
            assert seen_keys <= got, f"false negatives at salt={salt}"
            # FP-rate sized: non-seen probes rarely flagged
            fp = len(got - seen_keys) / (6000 - len(seen_keys))
            assert fp < 0.05, (salt, fp)
        sizes[salt] = blooms.agg(F.sum(F.length("bloom"))).collect()[0][0]
    # total blob bytes comparable across fan-outs (pow2 rounding aside):
    # sub-filters are sized to their own keys, not replicated
    assert sizes[16] <= 4 * sizes[1], sizes


def test_probe_empty_bloom_marks_all_new(spark, monkeypatch):
    """An empty sidecar flags nothing on the cogroup path, for both kinds
    (the broadcast path: test_bloom_probe_bcast_empty_sidecar)."""
    monkeypatch.setattr(spec, "BLOOM_BCAST_MAX_BYTES", -1)
    cand = spark.createDataFrame([(0, 1), (1, 2)], "host_bucket int, url_hash long")
    empty = spark.createDataFrame([], "host_bucket int, url_hash long")
    for sidecar in (M.build_blooms(empty), M.build_cuckoos(empty)):
        assert M.probe_maybe(cand, sidecar).count() == 0


def test_bloom_probe_bits_multi_matches_single():
    """The concatenated-sidecar probe kernel agrees bit-for-bit with the
    single-filter kernel for every sub-filter it holds."""
    rng = np.random.RandomState(11)
    keys_a = rng.randint(-(2**62), 2**62, size=700).astype(np.int64)
    keys_b = rng.randint(-(2**62), 2**62, size=90).astype(np.int64)
    wa, ma = M.bloom_build_bits(keys_a)
    wb, mb = M.bloom_build_bits(keys_b)
    words = np.concatenate([wa, wb])
    probes = np.concatenate([keys_a[:50], keys_b[:50], rng.randint(-(2**62), 2**62, size=200).astype(np.int64)])
    # interleave: even probes hit filter A, odd hit filter B
    off = np.where(np.arange(len(probes)) % 2 == 0, 0, len(wa)).astype(np.uint64)
    m = np.where(np.arange(len(probes)) % 2 == 0, ma, mb).astype(np.uint64)
    got = M.bloom_probe_bits_multi(probes, words, off, m, 7)
    want_a = M.bloom_probe_bits(probes, wa, ma, 7)
    want_b = M.bloom_probe_bits(probes, wb, mb, 7)
    want = np.where(np.arange(len(probes)) % 2 == 0, want_a, want_b)
    assert np.array_equal(got, want)


def test_bloom_probe_bcast_parity_with_cogroup(spark, monkeypatch):
    """Broadcast (map-side) probe returns EXACTLY the cogrouped probe's
    maybe-set — including negative hashes, where numpy's floored % must
    match Spark's pmod — on either side of the size threshold."""
    rng = np.random.RandomState(23)
    seen_h = rng.randint(-(2**62), 2**62, size=3000).astype(np.int64)
    seen_rows = [(int(h) % 8, int(h)) for h in seen_h]
    seen = spark.createDataFrame(seen_rows, "host_bucket int, url_hash long")
    cand_h = np.concatenate([seen_h[::2], rng.randint(-(2**62), 2**62, size=3000).astype(np.int64)])
    cand = spark.createDataFrame(
        [(int(h) % 8, int(h)) for h in cand_h], "host_bucket int, url_hash long"
    )
    blooms = M.build_blooms(seen).cache()
    bcast = M.probe_maybe(cand, blooms)
    assert "FlatMapCoGroupsInPandas" not in _plan(bcast)
    got = _maybe_set(bcast)
    monkeypatch.setattr(spec, "BLOOM_BCAST_MAX_BYTES", 0)
    cogroup = M.probe_maybe(cand, blooms)
    assert "FlatMapCoGroupsInPandas" in _plan(cogroup)
    want = _maybe_set(cogroup)
    assert got == want
    assert {(int(h) % 8, int(h)) for h in seen_h[::2]} <= got  # no false negatives


def test_bloom_probe_bcast_driver_guard_falls_back(spark, monkeypatch):
    """A sidecar over either size bound must NOT be collected to the driver:
    above ``spec.BLOOM_BCAST_MAX_BYTES`` or above the driver-memory guard
    (1/8 of the driver heap) the probe degrades to the cogrouped shuffle
    probe — same maybe-set, a FlatMapCoGroupsInPandas plan, and no
    broadcast/collect of the blobs."""
    rng = np.random.RandomState(5)
    seen_h = rng.randint(-(2**62), 2**62, size=500).astype(np.int64)
    seen = spark.createDataFrame(
        [(int(h) % 4, int(h)) for h in seen_h], "host_bucket int, url_hash long"
    )
    cand = spark.createDataFrame(
        [(int(h) % 4, int(h)) for h in seen_h[::3]], "host_bucket int, url_hash long"
    )
    blooms = M.build_blooms(seen).cache()
    want = _maybe_set(M.probe_maybe(cand, blooms))
    # default guard derives from spark.driver.memory and is permissive here
    assert M._driver_mem_bytes(spark) >= (1 << 30)

    def no_collect(*_a, **_kw):
        raise AssertionError("oversized sidecar collected to the driver")

    monkeypatch.setattr(M, "_bloom_bcast_probe", no_collect)
    for bound in ("executor", "driver"):
        with monkeypatch.context() as mp:
            if bound == "executor":
                mp.setattr(spec, "BLOOM_BCAST_MAX_BYTES", 1)
            else:
                mp.setattr(M, "_driver_mem_bytes", lambda _spark: 8)
            guarded = M.probe_maybe(cand, blooms)
            assert "FlatMapCoGroupsInPandas" in _plan(guarded), bound
            assert _maybe_set(guarded) == want, bound


def test_bloom_probe_bcast_empty_sidecar(spark):
    cand = spark.createDataFrame([(0, 1), (1, 2)], "host_bucket int, url_hash long")
    blooms = M.build_blooms(spark.createDataFrame([], "host_bucket int, url_hash long"))
    probe = M.probe_maybe(cand, blooms)
    assert "FlatMapCoGroupsInPandas" not in _plan(probe)
    assert probe.count() == 0


@settings(max_examples=25, deadline=None)
@given(
    st.lists(i64, min_size=0, max_size=400),
    st.data(),
)
def test_cuckoo_probe_equals_multiset_semantics(keys, data):
    """The order-independence contract the membership_cuckoo VALUES oracle
    rests on (queries/dedupops.py _sql_membership_cuckoo): after any insert
    batch and any delete batch (deletes ⊆ inserts, per the public cuckoo
    deletion precondition), ``contains_many`` must equal "the multiset count
    of the key's (fingerprint, unordered-bucket-pair) is > 0" — for probes
    of inserted, deleted AND never-seen hashes, whatever order insert_many
    placed or kicked things.  Pure-Python reconstruction, no filter code."""
    cf = M.CuckooFilter(capacity=max(64, 2 * len(keys)))
    arr = np.array(keys, dtype=np.int64)
    ins = cf.insert_many(arr)
    if ins < len(keys):
        return  # overflow is legal at adversarial sizes; oracle paths size 2x
    dels = data.draw(st.lists(st.sampled_from(keys), max_size=len(keys), unique=True)) if keys else []
    if dels:
        cf.delete_many(np.array(dels, dtype=np.int64))

    mask64 = (1 << 64) - 1
    mix = 0x9E3779B97F4A7C15
    nb = cf.n_buckets

    def key_of(h: int) -> tuple:
        hu = h & mask64
        fp = (hu >> 40) & 0xFFFF
        if fp == 0:
            fp = 1
        i1 = hu % nb
        i2 = (i1 ^ ((fp * mix) & mask64)) % nb
        return (fp, min(i1, i2), max(i1, i2))

    counts: dict[tuple, int] = {}
    for h in keys:
        k = key_of(h)
        counts[k] = counts.get(k, 0) + 1
    for h in dels:
        counts[key_of(h)] -= 1

    probes = keys + dels + [h ^ 0x55AA for h in keys][:50] + [0, -1, 2**62]
    parr = np.array(probes, dtype=np.int64)
    got = cf.contains_many(parr)
    want = np.array([counts.get(key_of(int(h)), 0) > 0 for h in probes])
    assert (got == want).all()


@pytest.mark.parametrize("kind", ["bloom", "cuckoo"])
def test_sidecar_maintenance_outcomes(spark, tmp_path, monkeypatch, kind):
    """CrawlEngine's one sidecar-maintenance path, driven through
    ``inject_seeds`` on a small store, takes each of its outcomes: a stale
    stamp rebuilds, a delta that fits is merged (bloom) or inserted in place
    (cuckoo), a delta that overflows a sub-filter rebuilds, and a cuckoo
    insert reporting ``ok = false`` rebuilds.  After every outcome the
    sidecar's stamp is the live seen snapshot's and every live seen row
    probes as maybe-seen."""
    from csxj_crawler_spark.plans.crawl import CrawlEngine
    from csxj_crawler_spark.sources.snapshot import SnapshotStore

    calls: list[str] = []

    def spy(name, label):
        orig = getattr(M, name)

        def wrapped(*a, **kw):
            calls.append(label(kw))
            return orig(*a, **kw)

        monkeypatch.setattr(M, name, wrapped)

    spy("build_blooms", lambda kw: "full" if kw.get("min_m_by_key") is None else "delta")
    spy("build_cuckoos", lambda kw: "full")
    spy("merge_blooms", lambda kw: "merge")
    spy("cuckoo_update", lambda kw: "update")

    store = SnapshotStore(str(tmp_path / "store"))
    eng = CrawlEngine(spark, store, n_buckets=1, seen_filter=kind, bloom_min_seen=0)
    table = "blooms" if kind == "bloom" else "cuckoos"
    pool = iter(f"http://lesoir-{i % 7}.example/a/{i}" for i in range(100_000))
    rank = iter(range(100_000))

    def seeds(urls):
        return spark.createDataFrame(
            [(u, "lesoir", 1.0, next(rank)) for u in urls],
            "url string, source string, priority double, seed_rank int",
        )

    def fresh_by_group(n):
        """``n`` unused urls, grouped by the (bucket, salt) sub-filter their
        keys land in."""
        urls = [next(pool) for _ in range(n)]
        rows = eng._seed_frontier(seeds(urls)).select(
            "url", "host_bucket",
            F.pmod("url_hash", F.lit(spec.BLOOM_SALT)).cast("int").alias("salt"),
        ).collect()
        groups: dict = {}
        for r in rows:
            groups.setdefault((r.host_bucket, r.salt), []).append(r.url)
        return groups

    def sub_filters():
        size = "m" if kind == "bloom" else "capacity"
        return {
            (r.host_bucket, r.salt): (r.n, r[size])
            for r in store.read(spark, table).collect()
        }

    def room(n, size):  # delta keys a sub-filter still takes (the fit check)
        if kind == "bloom":
            return size // spec.BLOOM_BITS_PER_KEY - n
        return int(0.95 * M.cuckoo_slots(size)) - n

    def inject(urls, expect):
        calls.clear()
        assert eng.inject_seeds(seeds(urls)) == len(urls)
        assert calls == expect
        stamp = eng._seen_stamp()
        assert {k: store.manifest(table)["meta"].get(k) for k in stamp} == stamp
        seen = store.read(spark, "seen")
        assert M.probe_maybe(seen, store.read(spark, table)).count() == seen.count()

    eng.bootstrap(seeds([next(pool) for _ in range(40)]))
    # the threshold is read on every wave; each inject adds one seen row
    eng.bloom_min_seen = 41
    inject([next(pool)], ["full"])  # seen crosses the threshold: first build
    eng.bloom_min_seen = 10**9
    calls.clear()
    eng.inject_seeds(seeds([next(pool)]))  # seen moves on without the sidecar
    assert calls == []
    eng.bloom_min_seen = 43
    inject([next(pool)], ["full"])  # the kept sidecar's stamp is stale
    eng.bloom_min_seen = 0

    # a delta that fits every sub-filter it touches
    subs = sub_filters()
    fits = [
        urls[0] for g, urls in fresh_by_group(64).items()
        if g not in subs or room(*subs[g]) >= 1
    ]
    inject(fits[:1], ["delta", "merge"] if kind == "bloom" else ["update"])

    # a delta that overflows one sub-filter
    g, (n, size) = next(iter(sub_filters().items()))
    need = room(n, size) + 1
    fresh = fresh_by_group(need * spec.BLOOM_SALT * 2)
    assert len(fresh[g]) >= need
    inject(fresh[g][:need], ["full"])

    if kind == "cuckoo":  # a failed in-place insert (ok = false) rebuilds
        update = M.cuckoo_update
        monkeypatch.setattr(
            M, "cuckoo_update",
            lambda *a, **kw: update(*a, **kw).withColumn("ok", F.lit(False)),
        )
        inject([next(pool)], ["update", "full"])
