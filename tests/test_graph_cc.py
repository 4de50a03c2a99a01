"""Connected components (large-star/small-star) + dedup cluster resolution."""

from __future__ import annotations

import math
import random
import time
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from csxj_crawler_spark.operators.graph import _round_bound, connected_components


def _uf_components(n_nodes: int, edges: list[tuple[int, int]]) -> dict[int, int]:
    """Sequential union-find truth: node -> min id of its component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo
    nodes = {x for e in edges for x in e}
    return {x: find(x) for x in nodes}


def _spark_cc(spark, edges: list[tuple[int, int]], **kw) -> dict[int, int]:
    df = spark.createDataFrame(edges, "src long, dst long")
    return {r.node: r.component for r in connected_components(df, **kw).collect()}


@contextmanager
def _rounds(spark):
    """Count CC rounds (one ``localCheckpoint`` each) and keep the physical
    plan of every round's frame."""
    cls = type(spark.range(1))
    orig = cls.localCheckpoint
    plans: list[str] = []

    def spy(df, *a, **kw):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return orig(df, *a, **kw)

    cls.localCheckpoint = spy
    try:
        yield plans
    finally:
        cls.localCheckpoint = orig


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_cc_matches_union_find_random(spark, seed):
    rng = random.Random(seed)
    n = 200
    edges = [
        (rng.randrange(n), rng.randrange(n))
        for _ in range(120)  # sparse -> many components of varied shape
    ]
    edges = [e for e in edges if e[0] != e[1]]
    assert _spark_cc(spark, edges) == _uf_components(n, edges)


def test_cc_path_graph_converges(spark):
    # a 64-long chain is the worst case for naive min-label propagation
    # (O(diameter) rounds); large-star/small-star must close it well within
    # the default max_iter via doubling-style contraction
    edges = [(i, i + 1) for i in range(63)]
    got = _spark_cc(spark, edges)
    assert got == {i: 0 for i in range(64)}


def test_cc_duplicate_and_reversed_edges(spark):
    edges = [(5, 3), (3, 5), (5, 3), (7, 9)]
    assert _spark_cc(spark, edges) == {3: 3, 5: 3, 7: 7, 9: 7}


def test_cc_empty_edge_list(spark):
    assert _spark_cc(spark, []) == {} == _uf_components(0, [])


def test_cc_self_loops_only(spark):
    # a node whose only edges are self-loops is isolated: like a node in no
    # edge at all it is left to the caller's left-join + coalesce
    loops = [(i, i) for i in range(5)] * 2
    assert _spark_cc(spark, loops) == {} == _uf_components(5, [])
    mixed = loops + [(1, 3), (3, 4)]
    assert _spark_cc(spark, mixed) == _uf_components(5, [(1, 3), (3, 4)])


def test_cc_duplicate_heavy(spark):
    rng = random.Random(3)
    base = [(rng.randrange(40), rng.randrange(40)) for _ in range(30)]
    base = [e for e in base if e[0] != e[1]]
    edges = [e if rng.random() < 0.5 else e[::-1] for e in base for _ in range(6)]
    rng.shuffle(edges)
    assert _spark_cc(spark, edges) == _uf_components(40, base)


def test_cc_planted_chains_many_rounds(spark):
    """~2,000 nodes: sparse random edges plus long chains laid along a random
    permutation, so ids along a chain are not monotone and contraction
    takes many rounds."""
    rng = random.Random(11)
    n = 2000
    perm = list(range(n))
    rng.shuffle(perm)
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(300)]
    at = 0
    for length in (400, 250, 150):
        edges += [(perm[i], perm[i + 1]) for i in range(at, at + length - 1)]
        at += length
    edges = [e for e in edges if e[0] != e[1]]
    with _rounds(spark) as plans:
        got = _spark_cc(spark, edges)
    assert got == _uf_components(n, edges)
    assert len(plans) >= 6, f"{len(plans)} rounds"


def test_cc_max_iter_exhaustion_raises(spark):
    with pytest.raises(RuntimeError, match="no convergence in 1 rounds"):
        _spark_cc(spark, [(i, i + 1) for i in range(63)], max_iter=1)


def test_cc_round_bound_covers_log_squared():
    # the derived valve must not fall below log2(n)^2 for n <= 2·E nodes,
    # and an empty graph still gets its repeat round
    assert _round_bound(0) >= 2
    for e in (1, 63, 1795, 500_000):
        assert _round_bound(e) >= math.log2(2 * e) ** 2 + 1


#: Spark jobs of one CC round: the large-star window, small-star window and
#: ``distinct`` exchanges plus the checkpoint; the input ``distinct`` adds
#: one more job to round 1.
CC_JOBS_PER_ROUND = 4


@pytest.fixture(scope="module")
def path_run(spark):
    """CC on the 64-node path in its own job group: round plans and job ids."""
    sc = spark.sparkContext
    df = spark.createDataFrame([(i, i + 1) for i in range(63)], "src long, dst long")
    sc.setJobGroup("cc-path", "connected_components on a 64-node path")
    try:
        with _rounds(spark) as plans:
            connected_components(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status store trails the scheduler: wait until the count settles
    jobs: list[int] = []
    for _ in range(20):
        time.sleep(0.25)
        now = list(sc.statusTracker().getJobIdsForGroup("cc-path"))
        if now and now == jobs:
            break
        jobs = now
    return plans, jobs


def test_cc_job_budget(path_run):
    plans, jobs = path_run
    rounds = len(plans)
    assert rounds >= 5
    assert 0 < len(jobs) <= CC_JOBS_PER_ROUND * rounds + 2, f"{len(jobs)} jobs, {rounds} rounds"


def test_cc_round_plan_shape(path_run):
    """A steady round (its input is the previous checkpoint) is two window
    mins and a distinct: no join and at most three exchanges."""
    plans, _jobs = path_run
    plan = plans[1]
    assert "Join" not in plan, plan
    assert sum("Exchange" in line for line in plan.split("\n")) <= 3, plan


def test_cc_no_cartesian_in_plan(spark):
    df = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    plan = connected_components(df)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dedup_clusters_semantics(spark, sf_dir):
    from csxj_crawler_spark.queries.dedupops import (
        q_dedup_clusters,
        q_dedup_minhash_lsh,
    )

    out = q_dedup_clusters(spark, sf_dir)
    rows = out.collect()
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert len(rows) == n_docs  # every document labelled exactly once
    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for cid, members in by_cluster.items():
        ids = [m.doc_id for m in members]
        assert cid == min(ids)  # canonical = smallest member
        assert sum(m.keep for m in members) == 1  # exactly one kept
        assert all(m.cluster_size == len(members) for m in members)
    # the pair relation must be a subset of the cluster co-membership
    # (closure can only merge, never split)
    label = {r.doc_id: r.cluster_id for r in rows}
    for p in q_dedup_minhash_lsh(spark, sf_dir).collect():
        assert label[p.doc_a] == label[p.doc_b]


def test_battery_orders_rows_only_last():
    """The one rows-only query must sit PAST the driver's 50-row recording
    cap so every recorded correctness row is oracled."""
    import __spark_entry__ as E

    q = E.queries()
    names = list(q)
    assert len(names) == 51
    assert names[-1] == "crawl_lineage"
    sqls = E.oracle_sql()
    assert set(names[:50]) <= set(sqls)  # first 50 all oracled
    assert "crawl_lineage" not in sqls
