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


def _respell_outlinks(fix_dir: str, out_dir) -> str:
    """The fixture with its outlinks spelled the way real pages spell them:
    trailing newlines, leading tabs, a CR inside the URL, a query whose key
    ends in ``ref`` and paths with a space and ``|``.  Seeds and robots are
    copied unchanged."""
    import shutil
    from urllib.parse import urlsplit, urlunsplit

    import pyarrow as pa
    import pyarrow.parquet as pq

    for name in ("seeds.parquet", "robots.parquet"):
        shutil.copy(f"{fix_dir}/{name}", out_dir / name)
    graph = pq.read_table(f"{fix_dir}/web_graph.parquet")
    pages, k = graph.to_pylist(), 0
    for page in pages:
        for link in page["outlinks"] or []:
            k += 1
            u = urlsplit(link["url"])
            if k % 13 == 0:
                u = u._replace(query="pref=1&page=2")
            if k % 17 == 0:
                u = u._replace(path=u.path + "/a b|c")
            url = urlunsplit(u)
            if k % 11 == 0:
                cut = url.index("/", url.index("//") + 2) + 1
                url = url[:cut] + "\r" + url[cut:]
            if k % 7 == 0:
                url = "\t" + url
            if k % 5 == 0:
                url += "\n"
            link["url"] = url
    pq.write_table(
        pa.Table.from_pylist(pages, schema=graph.schema),
        out_dir / "web_graph.parquet",
    )
    return str(out_dir)


@pytest.mark.parametrize("seen_filter", ["none", "bloom"])
def test_respelled_outlinks_match_simulator(spark, fix_dir, tmp_path, seen_filter):
    """Outlinks with whitespace, a CR, ``pref=`` and path characters that
    ``java.net.URI`` rejects crawl to the simulator's exact order and seen
    set: canonicalization, host and path never raise and agree with the
    reference."""
    d = _respell_outlinks(fix_dir, tmp_path)
    golden = simulator.simulate_dir(d)
    store = SnapshotStore(str(tmp_path / "store"))
    eng = CrawlEngine(
        spark, store, n_buckets=8, seen_filter=seen_filter, bloom_min_seen=0
    )
    eng.run(*(spark.read.parquet(f"{d}/{t}.parquet") for t in ("seeds", "web_graph", "robots")))
    got = [
        (r["seq"], r["url"], r["host"], r["wave"], r["status"])
        for r in eng.crawl_order().collect()
    ]
    want = [
        (r["seq"], r["url"], r["host"], r["wave"], r["status"])
        for r in golden.crawl_order
    ]
    assert got == want
    assert {r["url"] for r in eng.seen_set().collect()} == set(golden.seen)
    assert len(golden.seen) > len(simulator.simulate_dir(fix_dir).seen)
