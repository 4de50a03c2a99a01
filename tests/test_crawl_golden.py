"""THE judged invariant (BASELINE.json:2): the Spark engine reproduces the
pure-Python reference simulator's exact crawl ordering and URL-seen set on
the shared seed list + politeness budget (SURVEY.md §5.2.1)."""

from __future__ import annotations

import pytest

from csxj_crawler_spark.fixtures import simulator
from csxj_crawler_spark.plans.crawl import CrawlEngine
from csxj_crawler_spark.sources.snapshot import SnapshotStore


@pytest.fixture(scope="module")
def golden(fix_dir):
    return simulator.simulate_dir(fix_dir)


@pytest.fixture(scope="module")
def engine_run(spark, fix_dir, tmp_path_factory):
    store = SnapshotStore(str(tmp_path_factory.mktemp("crawl_store")))
    # bloom_min_seen=0 forces the bloom prefilter path even on the tiny
    # fixture (the production default auto-disables it below 500k seen rows)
    eng = CrawlEngine(spark, store, n_buckets=8, bloom_min_seen=0)
    seeds = spark.read.parquet(f"{fix_dir}/seeds.parquet")
    graph = spark.read.parquet(f"{fix_dir}/web_graph.parquet")
    robots = spark.read.parquet(f"{fix_dir}/robots.parquet")
    stats = eng.run(seeds, graph, robots)
    return eng, stats


def test_crawl_order_exact(golden, engine_run):
    eng, _ = engine_run
    got = [
        (r["seq"], r["url"], r["host"], r["wave"], r["status"], r["fetch_ts"])
        for r in eng.crawl_order().collect()
    ]
    want = [
        (r["seq"], r["url"], r["host"], r["wave"], r["status"], r["fetch_ts"])
        for r in golden.crawl_order
    ]
    assert len(got) == len(want)
    # pinpoint the first divergence for debuggability
    for i, (g, w) in enumerate(zip(got, want)):
        assert g == w, f"first divergence at seq {i}: got {g}, want {w}"


def test_seen_set_exact(golden, engine_run, spark):
    eng, _ = engine_run
    ours = eng.seen_set().select("url")
    theirs = spark.createDataFrame([(u,) for u in golden.seen], "url string")
    assert ours.exceptAll(theirs).count() == 0
    assert theirs.exceptAll(ours).count() == 0


def test_image_ids_match(golden, engine_run):
    eng, _ = engine_run
    got = {r["seq"]: r["image_id"] for r in eng.crawl_order().collect()}
    want = {r["seq"]: r["image_id"] for r in golden.crawl_order}
    assert got == want


def test_wave_metrics_match(golden, engine_run):
    eng, _ = engine_run
    got = [
        (r["wave"], r["urls_in"], r["urls_new"], r["fetched"], r["errors"])
        for r in eng.wave_metrics().collect()
    ]
    want = [
        (m["wave"], m["urls_in"], m["urls_new"], m["fetched"], m["errors"])
        for m in golden.wave_metrics
    ]
    assert got == want


def test_politeness_audit(engine_run, spark, fix_dir):
    """No two fetches of one host are closer than its crawl_delay (W3 lag)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    eng, _ = engine_run
    log = eng.crawl_order()
    robots = spark.read.parquet(f"{fix_dir}/robots.parquet")
    w = Window.partitionBy("host").orderBy("fetch_ts")
    gaps = (
        log.withColumn("prev_ts", F.lag("fetch_ts").over(w))
        .filter(F.col("prev_ts").isNotNull())
        .join(F.broadcast(robots.select("host", "crawl_delay")), "host", "left")
        .withColumn("gap", F.col("fetch_ts") - F.col("prev_ts"))
        .filter(F.col("gap") < F.coalesce("crawl_delay", F.lit(1.0)) - 1e-9)
    )
    assert gaps.count() == 0


def test_parity_across_engine_configs(golden, spark, fix_dir, tmp_path_factory):
    """The bloom prefilter and salted two-level window are pure execution
    strategies: disabling both must yield the identical judged outputs."""
    from csxj_crawler_spark.plans.crawl import CrawlEngine
    from csxj_crawler_spark.sources.snapshot import SnapshotStore

    store = SnapshotStore(str(tmp_path_factory.mktemp("plain_store")))
    eng = CrawlEngine(spark, store, n_buckets=8, seen_filter="none", salt=1)
    eng.run(
        spark.read.parquet(f"{fix_dir}/seeds.parquet"),
        spark.read.parquet(f"{fix_dir}/web_graph.parquet"),
        spark.read.parquet(f"{fix_dir}/robots.parquet"),
    )
    got = [(r["seq"], r["url"]) for r in eng.crawl_order().collect()]
    want = [(r["seq"], r["url"]) for r in golden.crawl_order]
    assert got == want
