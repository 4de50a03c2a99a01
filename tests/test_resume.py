"""Checkpoint-resume (BASELINE.json:14, SURVEY.md §5.2.6): kill after wave k,
re-open the snapshot store with a FRESH engine, finish — outputs identical to
an uninterrupted run."""

from __future__ import annotations

import json
import os

import pytest

from csxj_crawler_spark.fixtures import simulator
from csxj_crawler_spark.plans.crawl import CrawlEngine
from csxj_crawler_spark.sources.snapshot import SnapshotStore


@pytest.fixture(scope="module")
def inputs(spark, fix_dir):
    return (
        spark.read.parquet(f"{fix_dir}/seeds.parquet"),
        spark.read.parquet(f"{fix_dir}/web_graph.parquet"),
        spark.read.parquet(f"{fix_dir}/robots.parquet"),
    )


def _order(eng):
    return [
        (r.seq, r.url, r.wave, r.status, r.fetch_ts)
        for r in eng.crawl_order().collect()
    ]


def test_resume_identical(spark, inputs, tmp_path_factory):
    seeds, graph, robots = inputs

    full_store = SnapshotStore(str(tmp_path_factory.mktemp("full")))
    full = CrawlEngine(spark, full_store, n_buckets=8)
    full.run(seeds, graph, robots)
    want = _order(full)
    assert len(want) > 0

    part_store = SnapshotStore(str(tmp_path_factory.mktemp("part")))
    CrawlEngine(spark, part_store, n_buckets=8).run(
        seeds, graph, robots, max_waves=2
    )  # "crash" after wave 1: engine object discarded, store survives
    resumed = CrawlEngine(spark, part_store, n_buckets=8)
    resumed.run(seeds, graph, robots)  # must skip bootstrap, continue at wave 2
    assert _order(resumed) == want

    ours = resumed.seen_set().select("url")
    theirs = full.seen_set().select("url")
    assert ours.exceptAll(theirs).count() == 0
    assert theirs.exceptAll(ours).count() == 0


def test_rerun_completed_store_is_noop(spark, inputs, tmp_path_factory):
    seeds, graph, robots = inputs
    store = SnapshotStore(str(tmp_path_factory.mktemp("noop")))
    eng = CrawlEngine(spark, store, n_buckets=8)
    eng.run(seeds, graph, robots)
    want = _order(eng)
    v_before = store.current_version("fetch_log")
    stats = eng.run(seeds, graph, robots)  # frontier empty -> immediate stop
    assert [s for s in stats if s.fetched or s.errors] == []
    assert _order(eng) == want
    assert store.current_version("fetch_log") == v_before


def test_bloom_sidecar_survives_threshold_change_on_resume(
    spark, inputs, tmp_path_factory
):
    """ADVICE r2: a store written with bloom_min_seen=0 then resumed with a
    higher threshold must NOT delta-merge the (now-unvalidated) old sidecar
    once seen re-crosses the threshold — prev stamp is checked against the
    pre-commit seen snapshot; mismatch → full rebuild → no false negatives.

    Evidence: run A (bloom always on) and run B (bloom on, crash after wave
    1, resumed with bloom DISABLED for a wave via threshold, then re-enabled)
    produce the identical seen set and crawl order."""
    seeds, graph, robots = inputs

    ref_store = SnapshotStore(str(tmp_path_factory.mktemp("ref")))
    ref = CrawlEngine(spark, ref_store, n_buckets=8, bloom_min_seen=0)
    ref.run(seeds, graph, robots)
    want = _order(ref)

    st = SnapshotStore(str(tmp_path_factory.mktemp("thresh")))
    CrawlEngine(spark, st, n_buckets=8, bloom_min_seen=0).run(
        seeds, graph, robots, max_waves=2
    )
    man_before = st.manifest("blooms")
    assert man_before is not None  # sidecar exists from the first phase
    # resume with a threshold the old sidecar was NOT built under: for the
    # waves below threshold the sidecar goes stale (seen keeps growing)...
    mid = CrawlEngine(spark, st, n_buckets=8, bloom_min_seen=10**9)
    mid.run(seeds, graph, robots, max_waves=3)
    # ...then re-enable blooms: _update_sidecar must detect the stale stamp
    # and full-rebuild instead of delta-merging
    fin = CrawlEngine(spark, st, n_buckets=8, bloom_min_seen=0)
    fin.run(seeds, graph, robots)
    assert _order(fin) == want
    man_after = st.manifest("blooms")
    stamp = fin._seen_stamp()
    assert all(man_after["meta"].get(k) == v for k, v in stamp.items())
    # and the probe path with the rebuilt sidecar finds no false negatives:
    # seen set identical to the always-bloom reference
    ours = fin.seen_set().select("url")
    theirs = ref.seen_set().select("url")
    assert ours.exceptAll(theirs).count() == 0
    assert theirs.exceptAll(ours).count() == 0


def test_resume_store_without_schemas(spark, fix_dir, inputs, tmp_path_factory):
    """A store whose manifests carry no schema (written before manifests
    recorded one) resumes to the golden crawl order and seen set: its
    tables read by inference, and new commits add schemas from then on."""
    seeds, graph, robots = inputs
    st = SnapshotStore(str(tmp_path_factory.mktemp("noschema")))
    CrawlEngine(spark, st, n_buckets=8).run(seeds, graph, robots, max_waves=2)
    stripped = 0
    for table in st.list_tables():
        for v in st.versions(table):
            path = os.path.join(st._snap_dir(table), f"v{v}.json")
            with open(path) as f:
                man = json.load(f)
            stripped += man.pop("schema", None) is not None
            with open(path, "w") as f:
                json.dump(man, f)
    assert stripped > 0
    resumed = CrawlEngine(spark, SnapshotStore(st.root), n_buckets=8)
    resumed.run(seeds, graph, robots)

    golden = simulator.simulate_dir(fix_dir)
    want = [
        (r["seq"], r["url"], r["wave"], r["status"], r["fetch_ts"])
        for r in golden.crawl_order
    ]
    assert _order(resumed) == want
    ours = sorted(r.url for r in resumed.seen_set().select("url").collect())
    assert ours == sorted(golden.seen)


@pytest.mark.parametrize("crash_at", ["bootstrap", "wave0"])
def test_crash_before_root_swap_resumes_to_golden(
    spark, fix_dir, inputs, tmp_path_factory, monkeypatch, crash_at
):
    """A commit that published its manifests but crashed before swapping
    the root leaves them invisible: a fresh store sees the previous root
    for every table — including the tables wave 0 commits for the first
    time (fetch_log, wave_metrics) — and the resumed crawl is the golden
    one, not one that starts from a half-committed wave."""
    seeds, graph, robots = inputs
    st = SnapshotStore(str(tmp_path_factory.mktemp(f"crash_{crash_at}")))
    # the first root swap that names this table is the crashing commit
    table = {"bootstrap": "queued", "wave0": "fetch_log"}[crash_at]
    write_root = SnapshotStore._write_root

    def crash_once(self, tables, meta):
        if table in tables:
            monkeypatch.setattr(SnapshotStore, "_write_root", write_root)
            raise RuntimeError("crash before the root swap")
        return write_root(self, tables, meta)

    monkeypatch.setattr(SnapshotStore, "_write_root", crash_once)
    with pytest.raises(RuntimeError, match="before the root swap"):
        CrawlEngine(spark, st, n_buckets=8).run(seeds, graph, robots)

    fresh = SnapshotStore(st.root)
    assert fresh.current_version(table) is None
    assert table not in fresh.list_tables()
    if crash_at == "wave0":
        assert fresh.current_version("wave_metrics") is None
        assert "wave_metrics" not in fresh.list_tables()
        snaps = fresh.snapshots_df(spark, "queued").collect()
        root = fresh._root_current()
        assert max(s.version for s in snaps) == root["tables"]["queued"]
    resumed = CrawlEngine(spark, fresh, n_buckets=8)
    resumed.run(seeds, graph, robots)

    golden = simulator.simulate_dir(fix_dir)
    want = [
        (r["seq"], r["url"], r["wave"], r["status"], r["fetch_ts"])
        for r in golden.crawl_order
    ]
    assert _order(resumed) == want
    ours = sorted(r.url for r in resumed.seen_set().select("url").collect())
    assert ours == sorted(golden.seen)
