"""spark-submit entry point for the crawl engine.

Cluster deployment (the BASELINE.json:14 contract):

    python scripts/make_package.py
    spark-submit --master <cluster> \\
        --py-files dist/csxj_crawler_spark.zip \\
        scripts/submit_crawl.py \\
        --fixture <dir with seeds/web_graph/robots parquet> \\
        --store <snapshot store dir> \\
        [--buckets 64] [--max-waves 50] [--wave-budget 2000] [--write-tasks 8]

The job is resumable: re-submitting with the same --store continues from the
last committed wave (checkpoint in the snapshot manifest).  Prints one JSON
line with wave stats and throughput.
"""

from __future__ import annotations

import argparse
import json
import time

from pyspark.sql import SparkSession


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--fixture", required=True)
    p.add_argument("--store", required=True)
    p.add_argument("--buckets", type=int, default=64)
    p.add_argument("--max-waves", type=int, default=50)
    p.add_argument("--wave-budget", type=int, default=2000)
    p.add_argument("--write-tasks", type=int, default=None)
    p.add_argument(
        "--seen-filter", choices=["bloom", "cuckoo", "none"], default="bloom",
        help="seen-set sidecar kind; cuckoo supports O(delta) retraction "
        "(see --retract), none turns the filter off.  Default: bloom.",
    )
    p.add_argument(
        "--retract", default=None, metavar="PARQUET",
        help="parquet file/dir with a `url` column: retract these URLs from "
        "the frontier AND the seen set (robots/policy change) before "
        "crawling continues; with --max-waves 0 performs retraction only",
    )
    args = p.parse_args()

    # imports AFTER SparkSession exists so --py-files distribution works the
    # same way it would on a real cluster (the zip is on every executor)
    spark = SparkSession.builder.appName("csxj-crawl").getOrCreate()
    from csxj_crawler_spark.plans.crawl import CrawlEngine
    from csxj_crawler_spark.sources.snapshot import SnapshotStore

    store = SnapshotStore(args.store, write_tasks=args.write_tasks)
    eng = CrawlEngine(
        spark, store, n_buckets=args.buckets, wave_budget=args.wave_budget,
        seen_filter=args.seen_filter,
    )
    seeds = spark.read.parquet(f"{args.fixture}/seeds.parquet")
    graph = spark.read.parquet(f"{args.fixture}/web_graph.parquet")
    robots = spark.read.parquet(f"{args.fixture}/robots.parquet")
    n_retracted = 0
    if args.retract:
        n_retracted = eng.retract(spark.read.parquet(args.retract))
    t0 = time.time()
    stats = eng.run(seeds, graph, robots, max_waves=args.max_waves)
    dt = time.time() - t0
    processed = sum(s.fetched + s.errors for s in stats)
    print(json.dumps({
        "waves": len(stats),
        "processed": processed,
        "sec": round(dt, 2),
        "urls_per_sec": round(processed / dt, 1) if dt > 0 else None,
        "store": args.store,
        "resumed": stats[0].wave != 0 if stats else False,
        "retracted": n_retracted,
        "seen_filter": eng.seen_filter,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
