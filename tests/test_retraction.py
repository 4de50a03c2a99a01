"""Frontier retraction + cuckoo seen-filter wiring (north_star's
"bloom-filter (fallback cuckoo) URL-seen set"): a crawl interrupted by a
retraction batch must produce the identical final crawl order and seen set
under seen_filter = "bloom", "cuckoo" and "none" — the sidecar kind is a
pure execution strategy, retraction cost is where they differ (cuckoo
deletes fingerprints in O(delta); bloom forces a full rebuild)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from csxj_crawler_spark.plans.crawl import CrawlEngine
from csxj_crawler_spark.sources.snapshot import SnapshotStore


def _run_with_retraction(spark, fix_dir, tmp, mode: str):
    seeds = spark.read.parquet(f"{fix_dir}/seeds.parquet")
    graph = spark.read.parquet(f"{fix_dir}/web_graph.parquet")
    robots = spark.read.parquet(f"{fix_dir}/robots.parquet")
    store = SnapshotStore(str(tmp))
    eng = CrawlEngine(
        spark, store, n_buckets=8, seen_filter=mode, bloom_min_seen=0
    )
    # phase 1: two waves, then a policy change retracts a deterministic
    # slice of the still-queued frontier (plus one URL nobody has seen —
    # must be a no-op) and the crawl continues to completion
    eng.run(seeds, graph, robots, max_waves=2)
    queued = store.read(spark, "queued")
    retract_urls = (
        queued.orderBy("discovered_seq", "url").limit(7).select("url")
    ).unionByName(
        spark.createDataFrame(
            [("http://never-seen.example/x",)], "url string"
        )
    )
    n = eng.retract(retract_urls)
    assert n == 7
    eng.run(seeds, graph, robots)
    order = [(r["seq"], r["url"]) for r in eng.crawl_order().collect()]
    seen = {r["url"] for r in eng.seen_set().collect()}
    return eng, store, order, seen


@pytest.fixture(scope="module")
def retraction_runs(spark, fix_dir, tmp_path_factory):
    return {
        mode: _run_with_retraction(
            spark, fix_dir, tmp_path_factory.mktemp(f"retr_{mode}"), mode
        )
        for mode in ("none", "bloom", "cuckoo")
    }


def test_retraction_parity_across_seen_filters(retraction_runs):
    _, _, order_none, seen_none = retraction_runs["none"]
    for mode in ("bloom", "cuckoo"):
        _, _, order, seen = retraction_runs[mode]
        assert order == order_none, f"crawl order diverged under {mode}"
        assert seen == seen_none, f"seen set diverged under {mode}"


def test_cuckoo_sidecar_is_wired_and_updated(spark, retraction_runs):
    """The cuckoo mode must actually MAINTAIN a cuckoos table (not fall back
    to bare anti-joins), and its blobs must cover exactly the live seen set
    (no false negatives) after the retraction + further waves."""
    from csxj_crawler_spark.operators import membership as M

    eng, store, _, seen_urls = retraction_runs["cuckoo"]
    assert store.manifest("blooms") is None  # never built the bloom kind
    man = store.manifest("cuckoos")
    assert man is not None
    # stamp covers the CURRENT seen snapshot
    assert man["meta"]["seen_rows"] == (store.row_count("seen") or 0)
    cuckoos = store.read(spark, "cuckoos")
    seen = store.read(spark, "seen")
    probe = M.probe_maybe(seen, cuckoos)
    # every live seen row must probe 'maybe present' — zero false negatives
    assert probe.count() == seen.count()


def test_retracted_urls_leave_seen_and_frontier(retraction_runs):
    """Retracted queued URLs are forgotten: out of seen, out of queued, and
    never fetched later unless rediscovered (fixture graph re-links some —
    those must re-enter through discovery with a fresh discovered_seq)."""
    eng, store, order, seen = retraction_runs["cuckoo"]
    # the never-seen URL was a no-op, nothing crashed, frontier drained
    assert (store.row_count("queued") or 0) == 0


def test_retraction_writes_metrics_row(spark, retraction_runs):
    """retract() must leave an auditable lifecycle event: exactly one
    wave_metrics row with zero fetch counters and ``retracted`` equal to the
    number of recalled frontier rows (r4 verdict ask #6), committed in the
    SAME transaction as the frontier/seen overwrite.  Ordinary wave rows
    carry retracted = 0."""
    for mode in ("none", "bloom", "cuckoo"):
        eng, store, _, _ = retraction_runs[mode]
        m = store.read(spark, "wave_metrics")
        rows = [r.asDict() for r in m.collect()]
        retr = [r for r in rows if r["retracted"] > 0]
        assert len(retr) == 1, mode
        assert retr[0]["retracted"] == 7, mode
        assert (
            retr[0]["urls_in"] == 0
            and retr[0]["urls_new"] == 0
            and retr[0]["fetched"] == 0
            and retr[0]["errors"] == 0
        ), mode
        # the event is stamped with the wave it interrupted (phase 1 ran 2
        # waves: 0 and 1)
        assert retr[0]["wave"] == 1, mode
        assert all(r["retracted"] == 0 for r in rows if r is not retr[0]), mode


def test_bloom_mode_rebuilds_after_retraction(retraction_runs):
    """In bloom mode the retraction invalidates the sidecar stamp; the next
    wave's _sidecar() must have rebuilt it to cover the live seen set."""
    eng, store, _, _ = retraction_runs["bloom"]
    man = store.manifest("blooms")
    assert man is not None
    assert man["meta"]["seen_rows"] == (store.row_count("seen") or 0)
    assert store.manifest("cuckoos") is None
