"""Structured Streaming façade over the wave-batch crawl engine
(SURVEY.md §2.9).

The judged crawl is deterministic wave-iterative batch — the reference ran as
a cron loop (SURVEY.md §3.1, [M scripts/] nightly queue-update + download
ticks), and exact-order parity requires committed wave boundaries.  This
module exposes the same engine as a stream for continuous deployments:

* ``seed_stream``            — file-source stream of seed-list appends
  (drop a parquet file into the directory ≙ one reference cron tick
  discovering a fresh frontpage TOC);
* ``run_streaming_crawl``    — ``foreachBatch`` driver: every micro-batch
  injects the new seeds and drains politeness waves via the SAME
  ``CrawlEngine`` (identical ordering rules, snapshot commits = exactly-once
  per wave; re-delivered batches are idempotent because seed injection
  dedups against the seen set);
* ``politeness_violations``  — per-host stateful audit via
  ``applyInPandasWithState``: tracks next-allowed-time per host across
  micro-batches and emits any fetch that violates ``crawl_delay`` (W3/J5 as
  a streaming-state operator);
* ``windowed_fetch_metrics`` — tumbling-window fetch counts with a
  watermark for late events (metrics only — ordering is committed at
  selection time, late data never reorders the crawl).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from csxj_crawler_spark.plans.crawl import CrawlEngine
from csxj_crawler_spark.sources.snapshot import SnapshotStore

SEED_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("source", StringType()),
        StructField("priority", DoubleType()),
        StructField("seed_rank", LongType()),
    ]
)


def seed_stream(spark: SparkSession, seeds_dir: str) -> DataFrame:
    """File-source discovery stream: one parquet drop ≙ one cron tick."""
    return (
        spark.readStream.schema(SEED_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(seeds_dir)
    )


def run_streaming_crawl(
    spark: SparkSession,
    store: SnapshotStore,
    seeds_dir: str,
    graph: DataFrame,
    robots: DataFrame,
    checkpoint_dir: str,
    max_waves_per_batch: int = 50,
    engine_kwargs: dict | None = None,
):
    """Drain the seed stream with ``availableNow`` and run politeness waves
    per micro-batch.  Returns the finished StreamingQuery.

    Exactly-once: wave outputs commit through the snapshot store (atomic
    manifest rename); a replayed micro-batch re-injects seeds that are
    already in the seen set, which the engine's dedup drops — the fetch log
    is unchanged."""
    eng = CrawlEngine(spark, store, **(engine_kwargs or {}))

    def _one_batch(batch_df: DataFrame, batch_id: int) -> None:
        eng.inject_seeds(batch_df)  # bootstraps the first batch
        eng.run(batch_df, graph, robots, max_waves=max_waves_per_batch)

    q = (
        seed_stream(spark, seeds_dir)
        .writeStream.foreachBatch(_one_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


_VIOL_SCHEMA = StructType(
    [
        StructField("host", StringType()),
        StructField("seq", LongType()),
        StructField("fetch_ts", DoubleType()),
        StructField("prev_ts", DoubleType()),
        StructField("gap", DoubleType()),
        StructField("crawl_delay", DoubleType()),
    ]
)

_STATE_SCHEMA = StructType([StructField("last_ts", DoubleType())])


def _violations_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-host politeness monitor: carries last fetch_ts across batches."""
    last_ts = state.get[0] if state.exists else None
    out = []
    for pdf in pdfs:
        pdf = pdf.sort_values("fetch_ts")
        for r in pdf.itertuples():
            if last_ts is not None:
                gap = float(r.fetch_ts) - last_ts
                if gap < float(r.crawl_delay) - 1e-9:
                    out.append(
                        (key[0], int(r.seq), float(r.fetch_ts), last_ts, gap,
                         float(r.crawl_delay))
                    )
            last_ts = float(r.fetch_ts)
    state.update((last_ts,))
    yield pd.DataFrame(out, columns=[f.name for f in _VIOL_SCHEMA.fields])


def politeness_violations(fetches: DataFrame) -> DataFrame:
    """Streaming per-host politeness audit (custom stateful operator).

    ``fetches`` is a streaming DataFrame with at least
    ``host, seq, fetch_ts (double), crawl_delay`` — emits one row per fetch
    that lands closer than ``crawl_delay`` after its host's previous fetch,
    with state carried across micro-batches."""
    return (
        fetches.select("host", "seq", "fetch_ts", "crawl_delay")
        .groupBy("host")
        .applyInPandasWithState(
            _violations_fn,
            outputStructType=_VIOL_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def windowed_fetch_metrics(
    fetches: DataFrame, window: str = "10 seconds", late: str = "30 seconds"
) -> DataFrame:
    """Tumbling-window fetch/error counts with a watermark for late events.

    ``fetches`` needs ``event_ts timestamp, host, status``.  Late rows only
    affect these metrics — crawl ordering was committed at selection time."""
    return (
        fetches.withWatermark("event_ts", late)
        .groupBy(F.window("event_ts", window).alias("w"), F.col("host"))
        .agg(
            F.count("*").alias("fetches"),
            F.sum(F.when(F.col("status") == 200, 1).otherwise(0)).alias("ok"),
            F.sum(F.when(F.col("status") != 200, 1).otherwise(0)).alias("errors"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "host", "fetches", "ok", "errors",
        )
    )
