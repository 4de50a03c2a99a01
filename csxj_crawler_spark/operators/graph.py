"""Distributed connected components — the cluster-resolution stage of the
dedup pipeline (LSH candidate pairs → duplicate CLUSTERS → one canonical
document per cluster).

Pairwise near-dup output (``dedup_minhash_lsh`` / ``dedup_simhash`` /
``image_phash_neardup``) is not directly actionable at 100 TB: "keep one
copy" needs the transitive closure of the pair relation.  This module
computes it with the alternating **large-star / small-star** algorithm of
Kiveris et al., "Connected Components in MapReduce and Beyond" (SoCC 2014)
— the standard shuffle-based CC used by web-scale dedup pipelines —
expressed as pure DataFrame ops:

* each star step is one reduce keyed by node, as Kiveris writes it: a
  window min partitioned by ``u`` over the EDGE list only (no
  neighbourhood arrays, so a hub node never becomes one huge row; no join,
  no ``.collect()``, no cartesian);
* a round is three exchanges (large-star window, small-star window, one
  ``distinct``) plus the checkpoint job — about 4 Spark jobs under AQE,
  where every exchange is its own job (``tests/test_graph_cc.py`` holds the
  budget);
* converges in O(log^2 n) rounds even on pathological path graphs (plain
  min-label propagation needs O(diameter) — unusable on a 10^6-long chain);
* per-round ``localCheckpoint`` truncates plan lineage so the iteration
  count never blows up the optimizer (on a real cluster swap for
  ``checkpoint()`` on HDFS — same call site, noted below);
* convergence is detected with two independent order-free checksums of the
  edge set (count, decimal sum of xxhash64(u,v), bit_xor of xxhash64(v,u)),
  observed on the checkpoint's own job — no set-difference join and no
  extra Spark job.

Reference parity note: /root/reference is empty (rounds 1-5); SURVEY.md §2
reconstructs dedup as D6/D7 + the LLM-pipeline dedup family, whose output
contract ("prune near-duplicates") requires exactly this closure step.
"""

from __future__ import annotations

import itertools
import math

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

__all__ = ["connected_components"]

_obs_counter = itertools.count()


def _large_star(sym: DataFrame) -> DataFrame:
    """Kiveris large-star: for every node u, connect each STRICTLY LARGER
    neighbor v to m = min(neighbors(u) + [u]).  Input must be the
    symmetric, self-loop-free edge list; output is directed (child, parent)
    with child > parent always (m <= u < v), possibly with duplicates —
    small-star's min does not care about them and its ``distinct`` drops
    them."""
    m = F.least("u", F.min("v").over(Window.partitionBy("u")))
    return (
        sym.select("u", "v", m.alias("m"))
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Kiveris small-star on large-star's output, whose edges already point
    from child u to a smaller parent v: for each node u connect all of its
    smaller neighbors and u itself to m = min of those neighbors.  Output
    again (child, parent), child > m, without duplicates."""
    return (
        e.select(
            F.explode(F.array("u", "v")).alias("u"),
            F.min("v").over(Window.partitionBy("u")).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _round_bound(n_edges: int) -> int:
    """Safety valve derived from the first round's edge count: the graph
    has at most 2·E nodes, the alternation needs O(log^2 n) rounds (in
    practice about log n), and detecting convergence takes one repeat round
    on top."""
    return 2 + math.ceil(math.log2(2 * n_edges + 2)) ** 2


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_iter: int | None = None
) -> DataFrame:
    """Connected components of the undirected graph given by ``edges``.

    Returns ``(node, component)`` with one row per node that appears in any
    edge to another node; ``component`` is the SMALLEST node id in that
    node's component (the usual canonical-representative convention — the
    kept document in a dedup cluster).  Roots are included (``component ==
    node``); isolated nodes (in no edge, or only in self-loops) are the
    caller's left-join+coalesce.

    Scale posture: each round shuffles only the current (child, parent)
    edge list — O(E) rows of two longs — three times: the large-star
    window, the small-star window and the ``distinct``.  With the checkpoint
    that is about 4 Spark jobs a round (round 1 adds the input
    ``distinct``).  Edge count is non-increasing after the first round;
    rounds are O(log^2 n) worst case and 2-4 in practice on dedup graphs
    (near-clique clusters).  ``max_iter`` is a safety valve: hitting it
    raises rather than returning a half-contracted forest.  Left ``None``
    it is derived from the edge count round 1 observes (``_round_bound``);
    an explicit int wins.
    """
    # the input distinct's exchange lets round 1 reuse the upstream (e.g.
    # MinHash + banding) pipeline for both sides of the symmetric union
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    prev_chk = None
    for rnd in itertools.count(1):
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        obs = Observation(f"cc_round_{next(_obs_counter)}")
        e = _small_star(_large_star(sym)).observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            # decimal(38,0) accumulator: a plain long sum of 2^63-scale
            # hashes overflows under ANSI mode after a handful of rows
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
            F.bit_xor(F.xxhash64("v", "u")).alias("x"),
        )
        # On a YARN/K8s cluster use .checkpoint() (reliable, HDFS) here; in
        # local mode localCheckpoint gives the same lineage truncation.
        e = e.localCheckpoint(eager=True)
        # The metrics arrive with the checkpoint's job.  They only decide
        # when to stop; the edges come from the checkpoint itself.  A task
        # that Spark re-runs can only make a round's checksum differ from
        # the true one, which costs one extra round; stopping early would
        # need it to equal the previous round's in all three fields.
        chk = obs.get
        if chk == prev_chk:
            break
        if max_iter is None:
            max_iter = _round_bound(chk["n"])
        if rnd >= max_iter:
            raise RuntimeError(f"connected_components: no convergence in {max_iter} rounds")
        prev_chk = chk
    # e is now a star forest: (node, root) for every non-root node
    roots = e.select(F.col("v").alias("u"), F.col("v")).distinct()
    return e.union(roots).select(
        F.col("u").alias("node"), F.col("v").alias("component")
    )
