"""Snapshot-store semantics (SURVEY.md §1.3): versioning, append vs
overwrite, manifest-level partition pruning, time travel, crash atomicity."""

from __future__ import annotations

import os

import pytest

from csxj_crawler_spark.sources.snapshot import SnapshotStore


@pytest.fixture()
def store(tmp_path):
    return SnapshotStore(str(tmp_path / "store"))


def _df(spark, lo, hi):
    return spark.createDataFrame(
        [(i, i % 4) for i in range(lo, hi)], "id long, host_bucket int"
    )


def test_append_and_overwrite_versions(spark, store):
    store.commit(_df(spark, 0, 10), "t", mode="overwrite", partition_by=["host_bucket"])
    store.commit(_df(spark, 10, 15), "t", mode="append", partition_by=["host_bucket"])
    assert store.versions("t") == [0, 1]
    assert store.read(spark, "t").count() == 15
    store.commit(_df(spark, 100, 103), "t", mode="overwrite", partition_by=["host_bucket"])
    assert store.read(spark, "t").count() == 3


def test_time_travel(spark, store):
    store.commit(_df(spark, 0, 10), "t", mode="overwrite", partition_by=["host_bucket"])
    store.commit(_df(spark, 10, 15), "t", mode="append", partition_by=["host_bucket"])
    assert store.read(spark, "t", version=0).count() == 10
    assert store.read(spark, "t", version=1).count() == 15


def test_manifest_partition_pruning(spark, store):
    store.commit(_df(spark, 0, 100), "t", mode="overwrite", partition_by=["host_bucket"])
    pruned = store.read(spark, "t", partition_filter={"host_bucket": {"1", "2"}})
    assert pruned.count() == 50
    # pruning happened at the manifest: Spark was given only matching files
    assert len(pruned.inputFiles()) < len(store.read(spark, "t").inputFiles())
    got = {r.host_bucket for r in pruned.select("host_bucket").distinct().collect()}
    assert got == {1, 2}


def test_empty_filter_returns_none(spark, store):
    store.commit(_df(spark, 0, 10), "t", mode="overwrite", partition_by=["host_bucket"])
    assert store.read(spark, "t", partition_filter={"host_bucket": {"99"}}) is None
    assert store.read(spark, "missing") is None


def test_crash_leaves_previous_snapshot_intact(spark, store):
    store.commit(_df(spark, 0, 10), "t", mode="overwrite", partition_by=["host_bucket"])
    # simulate a crash mid-commit: stray tmp manifest + orphan data file
    snap_dir = store._snap_dir("t")
    with open(os.path.join(snap_dir, ".v1.json.deadbeef.tmp"), "w") as f:
        f.write("{corrupt")
    data_dir = os.path.join(store._tdir("t"), "data", "host_bucket=0")
    with open(os.path.join(data_dir, "orphan-00000.parquet"), "wb") as f:
        f.write(b"not parquet")
    # reader only trusts committed manifests: count unchanged, orphan unread
    assert store.current_version("t") == 0
    df = store.read(spark, "t")
    assert df.count() == 10
    assert not any("orphan" in p for p in df.inputFiles())
    # next commit proceeds normally
    store.commit(_df(spark, 10, 12), "t", mode="append", partition_by=["host_bucket"])
    assert store.read(spark, "t").count() == 12


def test_metadata_tables(spark, store):
    store.commit(_df(spark, 0, 10), "t", mode="overwrite", partition_by=["host_bucket"],
                 meta={"wave": 0})
    store.commit(_df(spark, 10, 15), "t", mode="append", partition_by=["host_bucket"],
                 meta={"wave": 1})
    snaps = store.snapshots_df(spark, "t").orderBy("version").collect()
    assert [s.version for s in snaps] == [0, 1]
    assert snaps[1].parent == 0
    assert '"wave": 1' in snaps[1].meta_json
    files = store.files_df(spark, "t")
    assert files.count() == len(store.live_files("t"))


def test_append_manifests_are_o_delta(spark, store):
    """An append manifest lists only its new files (parent-chain resolved at
    read): per-commit manifest size must not grow with the live file count."""
    store.commit(_df(spark, 0, 40), "t", mode="overwrite", partition_by=["host_bucket"])
    base_live = len(store.live_files("t"))
    for i in range(3):
        man = store.commit(
            _df(spark, 40 + i, 41 + i), "t", mode="append", partition_by=["host_bucket"]
        )
        assert man["files_are_delta"]
        assert len(man["files"]) == man["new_files"] <= 4  # O(delta), not O(live)
    assert len(store.live_files("t")) >= base_live + 3
    assert store.read(spark, "t").count() == 43
    assert store.row_count("t") == 43
    # time travel still resolves historic chains
    assert store.read(spark, "t", version=1).count() == 41
    # compaction emits a non-delta base and bounds the chain
    store.compact(spark, "t", partition_by=["host_bucket"])
    assert not store.manifest("t").get("files_are_delta")
    assert store.read(spark, "t").count() == 43


def test_transaction_atomic_visibility(spark, store):
    """Staged tables are invisible until the root swap; then both appear."""
    store.commit(_df(spark, 0, 10), "a", mode="overwrite", partition_by=["host_bucket"])
    store.commit(_df(spark, 0, 5), "b", mode="overwrite", partition_by=["host_bucket"])
    txn = store.transaction()
    txn.stage(_df(spark, 10, 30), "a", mode="append", partition_by=["host_bucket"])
    txn.stage(_df(spark, 5, 6), "b", mode="append", partition_by=["host_bucket"])
    # mid-transaction: readers see the PRE-txn state of both tables
    assert store.read(spark, "a").count() == 10
    assert store.read(spark, "b").count() == 5
    txn.commit(meta={"wave": 9})
    assert store.read(spark, "a").count() == 30
    assert store.read(spark, "b").count() == 6
    root = store._root_current()
    assert root["meta"] == {"wave": 9}


def test_crashed_transaction_invisible_and_recoverable(spark, store):
    """Publish manifests but 'crash' before the root swap: readers stay on
    the old root; the next transaction overwrites the stale versions."""
    store.commit(_df(spark, 0, 10), "a", mode="overwrite", partition_by=["host_bucket"])
    store.commit(_df(spark, 0, 5), "b", mode="overwrite", partition_by=["host_bucket"])
    store.transaction().commit()  # establish a root at current versions
    crash = store.transaction()
    m1 = crash.stage(_df(spark, 10, 30), "a", mode="append", partition_by=["host_bucket"])
    store._publish(m1)  # simulate crash: one manifest published, NO root swap
    assert store.read(spark, "a").count() == 10  # root still authoritative
    assert store.row_count("a") == 10
    # recovery: a fresh transaction recomputes the same version and wins
    txn = store.transaction()
    txn.stage(_df(spark, 10, 12), "a", mode="append", partition_by=["host_bucket"])
    txn.commit()
    assert store.read(spark, "a").count() == 12


def test_restage_same_table_rejected_before_write(spark, store):
    """Staging one table twice in a txn must fail BEFORE writing data files
    (a post-write assert would orphan files and vanish under python -O)."""
    txn = store.transaction()
    txn.stage(_df(spark, 0, 5), "t", mode="overwrite", partition_by=["host_bucket"])
    data_dir = os.path.join(store._tdir("t"), "data")
    before = sum(len(fs) for _, _, fs in os.walk(data_dir))
    with pytest.raises(ValueError, match="already staged"):
        txn.stage(_df(spark, 5, 9), "t", mode="append", partition_by=["host_bucket"])
    after = sum(len(fs) for _, _, fs in os.walk(data_dir))
    assert after == before  # rejected stage wrote nothing
    txn.commit()
    assert store.read(spark, "t").count() == 5


def test_content_id_tracks_content_not_layout(spark, store):
    """content_id changes on append/overwrite but survives compaction —
    the invariant sidecar consumers (bloom blobs) key their validity on."""
    store.commit(_df(spark, 0, 10), "t", mode="overwrite", partition_by=["host_bucket"])
    c0 = store.manifest("t")["content_id"]
    store.commit(_df(spark, 10, 15), "t", mode="append", partition_by=["host_bucket"])
    c1 = store.manifest("t")["content_id"]
    assert c1 != c0  # append = new content
    store.compact(spark, "t", partition_by=["host_bucket"])
    c2 = store.manifest("t")["content_id"]
    assert c2 == c1  # compaction rewrites layout, not content
    store.commit(_df(spark, 0, 15), "t", mode="overwrite", partition_by=["host_bucket"])
    assert store.manifest("t")["content_id"] != c2  # same size, new content


def test_single_commit_advances_root_when_present(spark, store):
    store.commit(_df(spark, 0, 4), "a", mode="overwrite", partition_by=["host_bucket"])
    store.transaction().commit()
    v0 = store._root_current()["version"]
    store.commit(_df(spark, 4, 6), "a", mode="append", partition_by=["host_bucket"])
    root = store._root_current()
    assert root["version"] == v0 + 1
    assert store.read(spark, "a").count() == 6


def test_zero_row_append_is_content_neutral(spark, store):
    """A zero-row append must inherit the parent's content_id (the table's
    content is unchanged), so sidecar consumers (bloom blobs) stay valid
    across empty waves — otherwise every zero-discovery wave late in a crawl
    silently degrades the O(delta) bloom merge into an O(seen) rebuild."""
    store.commit(_df(spark, 0, 10), "t", mode="overwrite", partition_by=["host_bucket"])
    c0 = store.manifest("t")["content_id"]
    empty = _df(spark, 0, 10).filter("id < 0")
    store.commit(empty, "t", mode="append", partition_by=["host_bucket"])
    man = store.manifest("t")
    assert man["content_id"] == c0          # content unchanged
    assert store.row_count("t") == 10
    # a NONEMPTY append still changes it
    store.commit(_df(spark, 10, 12), "t", mode="append", partition_by=["host_bucket"])
    assert store.manifest("t")["content_id"] != c0
    # pylist path (how step and retract stage wave_metrics): zero-row
    # append also content-neutral
    import pyarrow as pa

    def append_rows(rows):
        txn = store.transaction()
        txn.stage_pylist(rows, pa.schema([("x", pa.int64())]), "m", mode="append")
        txn.commit()
        return store.manifest("m")["content_id"]

    cm = append_rows([{"x": 1}])
    assert append_rows([]) == cm


def test_snapshots_df_num_files_is_live_count(spark, store):
    """num_files reports LIVE files at each snapshot (Iceberg
    total-data-files), not the delta manifest's own list length."""
    store.commit(_df(spark, 0, 40), "t", mode="overwrite", partition_by=["host_bucket"])
    store.commit(_df(spark, 40, 41), "t", mode="append", partition_by=["host_bucket"])
    store.commit(_df(spark, 41, 42), "t", mode="append", partition_by=["host_bucket"])
    snaps = {s.version: s for s in store.snapshots_df(spark, "t").collect()}
    base = snaps[0].num_files
    assert snaps[1].num_files == base + snaps[1].new_files
    assert snaps[2].num_files == snaps[1].num_files + snaps[2].new_files
    assert snaps[2].num_files == len(store.live_files("t"))


def test_live_cache_keeps_only_latest_version(spark, store):
    """The resolved-file-list memo must not grow with the number of
    versions (one crawl wave = one version per table; retaining every
    historical version's full list is O(waves × live_files) driver mem)."""
    store.commit(_df(spark, 0, 8), "t", mode="overwrite", partition_by=["host_bucket"])
    for i in range(5):
        store.commit(_df(spark, 8 + i, 9 + i), "t", mode="append",
                     partition_by=["host_bucket"])
        store.row_count("t")  # resolves (and caches) the latest version
    assert len(store._live_cache) == 1
    v_latest, _ = store._live_cache["t"]
    assert v_latest == store.current_version("t")
    # time travel still works (uncached resolve) and does not evict latest
    assert store.read(spark, "t", version=1).count() == 9
    assert store._live_cache["t"][0] == v_latest


def test_read_runs_no_job_and_matches_inference(spark, store):
    """The manifest's schema replaces footer inference, and its file list
    replaces Spark's listing: opening a many-file table runs zero jobs and
    yields exactly what inference over the same files yields."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, f"u{i}", i % 16, (200, 404, 0)[i % 3], i / 7) for i in range(600)],
        "id long, url string, host_bucket int, status int, score double",
    ).withColumn("h", F.xxhash64("url"))  # non-nullable until written
    store.commit(df, "t", mode="overwrite", partition_by=["host_bucket", "status"])
    # an append of rows read back (all nullable) keeps one schema per table
    store.commit(
        store.read(spark, "t").limit(60), "t", mode="append",
        partition_by=["host_bucket", "status"],
    )
    files = store.live_files("t")
    assert len(files) > 32  # above Spark's parallel-listing threshold default
    sc = spark.sparkContext
    sc.setJobGroup("snapshot-read", "snapshot read")
    try:
        got = store.read(spark, "t")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup("snapshot-read")) == []
    inferred = spark.read.option("basePath", store._tdir("t") + "/data").parquet(
        *[f["path"] for f in files]
    )
    assert got.schema == inferred.schema
    assert got.columns == ["id", "url", "score", "h", "host_bucket", "status"]
    assert got.schema["host_bucket"].dataType.simpleString() == "int"
    assert got.schema["status"].dataType.simpleString() == "int"
    assert sorted(got.collect()) == sorted(inferred.collect())


def test_manifest_without_schema_still_reads(spark, store):
    """Stores written before manifests carried a schema read by inference."""
    import json

    store.commit(_df(spark, 0, 10), "t", mode="overwrite", partition_by=["host_bucket"])
    store.commit(_df(spark, 10, 15), "t", mode="append", partition_by=["host_bucket"])
    want = store.read(spark, "t")
    for v in store.versions("t"):
        path = os.path.join(store._snap_dir("t"), f"v{v}.json")
        with open(path) as f:
            man = json.load(f)
        del man["schema"]
        with open(path, "w") as f:
            json.dump(man, f)
    old = SnapshotStore(store.root)
    got = old.read(spark, "t")
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())
