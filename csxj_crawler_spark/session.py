"""SparkSession factory with the engine's tuned configuration.

Scale posture: confs chosen so the same code runs on local[N] here and on a
multi-executor cluster unchanged — AQE on (runtime coalesce + skew-join
split, BASELINE.json:6), Arrow on (all pandas UDFs are Arrow-batched),
shuffle partitions sized to parallelism (AQE coalesces down at small SF).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """Local-mode driver memory sized to the HOST, not a hardcoded 24g: on a
    small machine a 24g -Xmx either fails JVM startup or invites the OOM
    killer.  min(24g, 70% of MemAvailable), floor 8g (below that, high-core
    local runs serialize in GC); SPARK_GRAFT_DRIVER_MEM always wins."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    avail_gb = int(line.split()[1]) / (1024 * 1024)
                    return f"{max(8, min(24, int(avail_gb * 0.7)))}g"
    except OSError:
        pass
    return "8g"


def get_spark(
    app: str = "csxj-crawler-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or (
        f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    )
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        shuffle_partitions = os.cpu_count() if n in ("*", "") else max(int(n), 4)
    b = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 16k-row Arrow batches (not the 10k default or the 64k round 1-2
        # used): a map task of ~750k rows is ~11 batches at 64k, so the
        # JVM->Python->JVM pipeline's fill/drain bubble is ~2/11 of every
        # UDF task — idle cores whenever task slots aren't oversubscribed.
        # Measured on the 48M-URL scaling job: canonicalize+write stage
        # 2.73x (2->8 cores) at 64k vs 3.53x at 16k, faster at BOTH levels.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "16384")
        .config("spark.sql.session.timeZone", "UTC")
        # local-mode note: driver memory IS the whole JVM (executors
        # included); too small a heap serializes high-core runs in GC
        .config("spark.driver.memory", _default_driver_mem())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # snapshot reads pass Spark the manifest's explicit file list, which
        # already is the listing: above 32 paths (the default) Spark stats
        # them in a parallel listing job, one extra job per read of a table
        # that has grown past 32 files between compactions.  Stat-ing a few
        # thousand files in the Spark driver costs less than that job on
        # local or HDFS storage; object stores with slow per-file stats may
        # want less.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "4096")
    )
    # Shuffle/spill scratch defaults to Spark's own (disk): spill happens
    # under memory pressure, and tmpfs (capped at ~50% of RAM) turns a large
    # spill into ENOSPC/OOM where disk-backed spill survives, so /dev/shm is
    # never a silent default.  A deployment sets SPARK_GRAFT_LOCAL_DIR;
    # benchmarks pass their own spark.local.dir through ``extra``.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir:
        b = b.config("spark.local.dir", local_dir)
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
