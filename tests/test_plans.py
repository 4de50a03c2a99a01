"""Physical-plan shape assertions (SURVEY.md §4): the optimizations we rely
on at 100 TB must actually appear in the plans — pushed filters, pruned
column reads, broadcast joins where a side is dim-sized, no cartesian
products, whole-stage codegen on the hot relational paths."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_to_parquet(spark, sf_dir):
    df = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    plan = _formatted(df)
    assert "PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,F)" in plan


def test_column_pruning_reaches_scan(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select("l_orderkey")
    plan = _formatted(df)
    assert "ReadSchema: struct<l_orderkey:bigint>" in plan


def test_broadcast_join_for_dims(spark, sf_dir):
    from csxj_crawler_spark.queries.relational import q_join_broadcast_dims

    plan = _plan(q_join_broadcast_dims(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_no_cartesian_in_band_self_joins(spark, fix_dir, sf_dir):
    """Both Hamming families (pHash images, SimHash documents) band-join on
    equi-keys."""
    from csxj_crawler_spark.operators.banding import hamming_pairs
    from csxj_crawler_spark.queries.dedupops import simhash64

    images = spark.read.parquet(f"{fix_dir}/images_captions.parquet")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", simhash64(F.col("text")).alias("sig")
    )
    for frame, id_col, hash_col in ((images, "image_id", "phash"), (docs, "doc_id", "sig")):
        pairs, _obs = hamming_pairs(frame, id_col, hash_col, 6)
        plan = _plan(pairs)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def _exchange_blocks(df) -> list[str]:
    """Formatted-plan blocks for Exchange/BroadcastExchange nodes (each block
    contains an ``Input [n]: [cols...]`` line naming what crosses the wire)."""
    plan = _formatted(df)
    return [
        b
        for b in plan.split("\n\n")
        if b.strip().startswith("(") and "Exchange" in b.split("\n")[0]
    ]


def test_minhash_band_join_sheds_signatures(spark, sf_dir):
    """No exchange that carries band keys may also carry the 64-long sig
    array — signatures are re-attached after pair dedup (the ~16× shuffle-
    volume rule for the 100 TB band self-join)."""
    from csxj_crawler_spark.queries.dedupops import q_dedup_minhash_lsh

    for b in _exchange_blocks(q_dedup_minhash_lsh(spark, sf_dir)):
        input_line = next(l for l in b.split("\n") if l.startswith("Input"))
        if "band_key" in input_line:
            assert "sig" not in input_line, b


def test_ann_band_join_sheds_embeddings(spark, sf_dir):
    """Same rule for the hyperplane-LSH ANN: embedding arrays must not ride
    the band self-join exchanges."""
    from csxj_crawler_spark.queries.simops import q_sim_lsh_ann

    for b in _exchange_blocks(q_sim_lsh_ann(spark, sf_dir)):
        input_line = next(l for l in b.split("\n") if l.startswith("Input"))
        if "band_id" in input_line or "band_val" in input_line:
            assert "emb" not in input_line and "ea#" not in input_line, b


def test_wholestage_codegen_on_agg_path(spark, sf_dir):
    from csxj_crawler_spark.queries.relational import q_agg_pricing_summary

    df = q_agg_pricing_summary(spark, sf_dir)
    df.collect()  # AQE finalizes the plan (and codegen spans) on execution
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    final = plan.split("== Initial Plan ==")[0]
    # '*(n)' marks a WholeStageCodegen stage in executedPlan.toString()
    assert "*(1)" in final and "*(2)" in final
    # partial+final agg (map-side combine) around a single exchange
    assert "partial_sum" in final
    assert final.count("Exchange hashpartitioning") == 1


def test_anti_join_strategy_not_cartesian(spark, sf_dir):
    from csxj_crawler_spark.queries.relational import q_anti_join_customers

    plan = _plan(q_anti_join_customers(spark, sf_dir))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_crawl_dedup_plan_broadcasts_not_seen(spark, fix_dir, tmp_path_factory):
    """The exact-dedup two-step must broadcast the candidate/match side,
    never shuffle-exchange the seen table (the 10^10-row side)."""
    from csxj_crawler_spark.plans.crawl import CrawlEngine
    from csxj_crawler_spark.sources.snapshot import SnapshotStore

    store = SnapshotStore(str(tmp_path_factory.mktemp("planstore")))
    eng = CrawlEngine(spark, store, n_buckets=8, bloom_min_seen=0)
    seeds = spark.read.parquet(f"{fix_dir}/seeds.parquet")
    eng.bootstrap(seeds)
    disc = eng._frontier_cols(
        spark.createDataFrame(
            [("http://lesoir-0.example/x", 1, "lesoir")],
            "url string, discovered_seq long, parent_source string",
        )
    )
    eng._wave_caches = []
    plan = _plan(eng._dedup_new(disc))
    # both exact-join steps are broadcast joins (LeftSemi then LeftAnti)
    assert plan.count("BroadcastHashJoin") >= 2 or (
        "BroadcastHashJoin" in plan and "LeftAnti" in plan
    )
    for c in eng._wave_caches:
        c.unpersist()


def test_salted_window_two_level(spark, tmp_path_factory):
    """The politeness selection plan contains BOTH window levels: a salt
    fan-out window keyed (host, salt) feeding a final window keyed (host)
    only — the J4 skew-safe two-level top-k, asserted on the actual plan."""
    import re

    from csxj_crawler_spark.plans.crawl import CrawlEngine
    from csxj_crawler_spark.sources.snapshot import SnapshotStore

    store = SnapshotStore(str(tmp_path_factory.mktemp("saltstore")))
    eng = CrawlEngine(spark, store, n_buckets=8, salt=4)
    cand = spark.createDataFrame(
        [("http://a.example/x", "a.example", "lesoir", 1.0, 0, 1.0)],
        "url string, host string, source string, priority double, "
        "discovered_seq long, crawl_delay double",
    )
    plan = _plan(eng._politeness_rank(cand))
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    keyed = [s for s in specs if "host" in s]
    assert any("salt" in s for s in keyed), f"no (host, salt) window in:\n{plan}"
    assert any("salt" not in s for s in keyed), f"no host-only window in:\n{plan}"
    # and the salt fan-out level runs BEFORE the host-only level
    salt_pos = plan.rindex("salt")
    host_only = [s for s in keyed if "salt" not in s][0]
    assert plan.index(host_only) < salt_pos  # plans print top-down: final first


def test_manifest_pruning_limits_input_files(spark, tmp_path_factory):
    from csxj_crawler_spark.sources.snapshot import SnapshotStore

    store = SnapshotStore(str(tmp_path_factory.mktemp("prune")))
    df = spark.createDataFrame(
        [(i, i % 8) for i in range(800)], "id long, host_bucket int"
    )
    store.commit(df, "t", mode="overwrite", partition_by=["host_bucket"])
    pruned = store.read(spark, "t", partition_filter={"host_bucket": {"3"}})
    assert len(pruned.inputFiles()) * 8 <= len(store.read(spark, "t").inputFiles()) * 1 + 8
    assert {r.host_bucket for r in pruned.distinct().collect()} == {3}


def test_band_cap_bounds_skewed_bucket(spark):
    """r2 verdict #6: a pathological band bucket (here: one value holding
    almost every row) must be capped at spec.BAND_BUCKET_CAP members with
    the drop count observable — no silent caps, no quadratic task."""
    from csxj_crawler_spark.operators import banding

    n_hot = 60
    rows = [(f"id{i:04d}", 0, 7) for i in range(n_hot)]  # one hot bucket
    rows += [(f"id{1000 + i}", 1, i) for i in range(10)]  # singletons
    bands = spark.createDataFrame(rows, "doc_id string, band_id int, band_val int")
    pairs, obs = banding.band_pairs(bands, ["band_id", "band_val"], "doc_id", cap=8)
    got = pairs.count()
    # hot bucket contributes C(8,2)=28 pairs, singletons none
    assert got == 28
    m = obs.get
    assert m["band_rows_dropped"] == n_hot - 8
    assert m["max_bucket_occupancy"] == n_hot
    # deterministic keep-lowest-id: every surviving pair id is among the 8
    # smallest ids of the hot bucket
    keep = {f"id{i:04d}" for i in range(8)}
    for r in pairs.collect():
        assert r.doc_id_a in keep and r.doc_id_b in keep


def test_band_cap_window_reuses_join_exchange(spark):
    """The cap's ranking window partitions by the join keys, so the band
    self-join must not introduce an extra exchange pair beyond the uncapped
    plan: the window sort feeds the join's hash partitioning directly."""
    from csxj_crawler_spark.operators import banding

    bands = spark.createDataFrame(
        [(f"d{i}", i % 5, i % 3) for i in range(100)],
        "doc_id string, band_id int, band_val int",
    )
    pairs, _obs = banding.band_pairs(bands, ["band_id", "band_val"], "doc_id")
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    # the capped plan must not cartesian and must stay a sort-merge/hash
    # equi-join on the band keys
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan
    # window partitioning == join keys: exactly ONE band-key exchange per
    # side (the window's, reused by the join) — a stacked
    # window-exchange + join-exchange would show 4
    import re

    band_exchanges = len(re.findall(r"Exchange hashpartitioning\(band_id", plan))
    assert band_exchanges == 2, plan


#: Spark jobs of one CrawlEngine.step on the golden fixture (wave 0, seen
#: sidecar off): the selection checkpoint takes 6 (robots broadcast, gated
#: frontier cache, three window exchanges, the checkpoint), fetch_log 5
#: (selection broadcast, keep-first exchange, fetch cache, write exchange,
#: write), queued 5 (selection-keys broadcast, discovery exchange, seen
#: broadcast, write exchange, write), seen 2 and excluded 1.
WAVE_JOB_BUDGET = 19


@pytest.fixture(scope="module")
def one_wave(spark, fix_dir, tmp_path_factory):
    """Run wave 0 once in its own job group; keep the plan of every table
    the wave stages and the wave's job ids."""
    import time

    from csxj_crawler_spark.plans.crawl import CrawlEngine
    from csxj_crawler_spark.sources.snapshot import SnapshotStore, Transaction

    store = SnapshotStore(str(tmp_path_factory.mktemp("onewave")))
    eng = CrawlEngine(spark, store, n_buckets=8)
    eng.bootstrap(spark.read.parquet(f"{fix_dir}/seeds.parquet"))
    graph = spark.read.parquet(f"{fix_dir}/web_graph.parquet")
    robots = spark.read.parquet(f"{fix_dir}/robots.parquet")
    plans: dict[str, str] = {}
    stage = Transaction.stage

    def spy(self, df, table, *args, **kwargs):
        plans[table] = _plan(df)
        return stage(self, df, table, *args, **kwargs)

    sc = spark.sparkContext
    Transaction.stage = spy
    sc.setJobGroup("one-wave", "one CrawlEngine.step")
    try:
        eng.step(0, 0, graph, robots)
    finally:
        Transaction.stage = stage
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status store trails the scheduler: wait until the count settles
    jobs: list[int] = []
    for _ in range(20):
        time.sleep(0.25)
        now = list(sc.statusTracker().getJobIdsForGroup("one-wave"))
        if now and now == jobs:
            break
        jobs = now
    return plans, jobs


def test_wave_job_budget(one_wave):
    _plans, jobs = one_wave
    assert 0 < len(jobs) <= WAVE_JOB_BUDGET, f"{len(jobs)} jobs in one wave"


def test_fetch_is_one_broadcast_join(one_wave):
    """The fetch streams the graph once through ONE broadcast hash join whose
    build side is the wave selection; urls the graph lacks ride the
    keep-first window, so no anti-join runs against the fetch output."""
    plans, _jobs = one_wave
    plan = plans["fetch_log"]
    assert plan.count("BroadcastHashJoin") == 1, plan
    for other in ("SortMergeJoin", "ShuffledHashJoin", "NestedLoopJoin", "LeftAnti"):
        assert other not in plan, plan
    assert plan.count("web_graph.parquet") == 1, plan
    lines = plan.split("\n")
    at = next(i for i, l in enumerate(lines) if "BroadcastExchange" in l)
    depth = len(lines[at]) - len(lines[at].lstrip(" :+-"))
    build = []
    for line in lines[at + 1:]:
        if len(line) - len(line.lstrip(" :+-")) <= depth:
            break
        build.append(line)
    assert build and "web_graph" not in "\n".join(build), plan
