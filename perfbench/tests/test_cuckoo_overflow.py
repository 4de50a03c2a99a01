"""Known defect, kept visible: the cuckoo seen filter overflows on the bench
crawl web.

Cuckoo sub-filters are keyed by ``url_hash % BLOOM_SALT`` (16), and inside a
sub-filter a key's primary bucket is ``url_hash % n_buckets`` with
``n_buckets`` a power of two of at least 16.  Every key of one sub-filter
therefore has the same four low bits, and only 1/16 of the sub-filter's
buckets can be primary buckets.  On the bench crawl web (60k pages, 1,000
hosts, ``n_buckets=32``, sidecar on from wave 0) a full rebuild at wave 3
fails with ``RuntimeError: cuckoo full build overflow``
(``operators/membership.py``, ``build_cuckoos``).

Both tests assert what the engine should do and are strict expected
failures: they fail today for the reason above, and they pass once the
defect is fixed, which strict mode reports so the marker is removed.  This is
why the benchmark does not time ``seen_filter="cuckoo"``.

The crawl test builds bench.py's crawl web (about a minute, cached under
perfbench/.cache) and runs four cuckoo waves at ``local[2]``.
"""

from __future__ import annotations

import os
import tempfile

import numpy as np
import pytest

import benchinputs as BI
from csxj_crawler_spark import spec
from csxj_crawler_spark.fixtures import generator, simulator
from csxj_crawler_spark.operators import membership as M
from csxj_crawler_spark.plans.crawl import CrawlEngine
from csxj_crawler_spark.sources.snapshot import SnapshotStore

REASON = (
    "cuckoo sub-filters are keyed by url_hash % 16 while primary buckets are "
    "url_hash % n_buckets, so a sub-filter uses 1/16 of its primary buckets"
)


class CuckooOverflow(Exception):
    """The engine raised ``cuckoo full build overflow``."""


@pytest.mark.xfail(strict=True, raises=AssertionError, reason=REASON)
def test_sub_filter_keys_spread_over_primary_buckets():
    rng = np.random.default_rng(0)
    h = rng.integers(-(2**63), 2**63 - 1, size=20_000, dtype=np.int64)
    group = h[np.mod(h, spec.BLOOM_SALT) == 11][:48]  # one (bucket, salt) group
    cf = M.CuckooFilter(capacity=int(len(group) * M.CUCKOO_HEADROOM))
    primaries = np.unique(cf._i1(group.view(np.uint64)))
    assert cf.n_buckets >= spec.BLOOM_SALT
    assert len(primaries) > cf.n_buckets // spec.BLOOM_SALT


@pytest.fixture(scope="module")
def bench_web():
    """bench.py's crawl web: 60k pages, 1,000 hosts, 80 seeds, seed 42."""
    params = {"n_pages": 60_000, "hosts_per_source": 250, "seed": 42, "seeds": 20}

    def build(d: str) -> None:
        generator.generate(d, n_pages=60_000, seed=42, with_images=False,
                           n_seeds_per_source=20, hosts_per_source=250)

    return BI._cached_dir("benchweb", params, build)


@pytest.mark.xfail(strict=True, raises=CuckooOverflow, reason=REASON)
def test_cuckoo_crawl_matches_simulator(spark, bench_web):
    waves = 4
    golden = simulator.simulate_dir(bench_web, wave_budget=50_000, max_waves=waves)
    seeds = spark.read.parquet(os.path.join(bench_web, "seeds.parquet"))
    graph = spark.read.parquet(os.path.join(bench_web, "web_graph.parquet")).cache()
    robots = spark.read.parquet(os.path.join(bench_web, "robots.parquet"))
    with tempfile.TemporaryDirectory(dir=os.environ["TMPDIR"]) as d:
        eng = CrawlEngine(spark, SnapshotStore(d), n_buckets=32, wave_budget=50_000,
                          seen_filter="cuckoo", bloom_min_seen=0)
        try:
            eng.run(seeds, graph, robots, max_waves=waves)
        except Exception as e:
            if "cuckoo full build overflow" in str(e):
                raise CuckooOverflow("cuckoo full build overflow") from e
            raise
        order = eng.crawl_order().select(
            "seq", "url", "host", "wave", "status", "fetch_ts"
        ).collect()
        seen = [r["url"] for r in eng.seen_set().select("url").collect()]
    graph.unpersist()
    assert BI.crawl_order_digest(r.asDict() for r in order) == BI.crawl_order_digest(
        golden.crawl_order
    )
    assert BI.seen_digest(seen) == BI.seen_digest(golden.seen)
