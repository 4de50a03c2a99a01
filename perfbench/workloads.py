"""The benchmark's workloads: one timed pass each, its reference check, and
the per-layer metrics of a traced run.

``crawl_frontier`` resumes a crawl from a snapshot store after its first
waves and times the next ``CRAWL["waves"]`` calls to ``CrawlEngine.step``;
its traced run adds one pass with the bloom seen filter on.  ``dedup`` runs
``q_dedup_clusters`` over a document corpus and ``decode_and_phash`` plus
``phash_prune_keep_first`` over an image table.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

import benchinputs as BI
from csxj_crawler_spark import spec
from csxj_crawler_spark.functions import urls as U
from csxj_crawler_spark.operators import banding, graph, membership
from csxj_crawler_spark.operators import payload as P
from csxj_crawler_spark.plans.crawl import CrawlEngine
from csxj_crawler_spark.queries import dedupops
from csxj_crawler_spark.sources.snapshot import SnapshotStore, Transaction


@dataclass
class PassResult:
    seconds: float
    items: int
    steps: list[float]
    ok: bool
    notes: list[str] = field(default_factory=list)
    kept: int = 0


def _span(tracer, name: str, **attrs):
    return tracer.span(name, **attrs) if tracer else contextlib.nullcontext()


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(dirpath, fn))
    return total


def clone_store(src: str, dst: str) -> None:
    """Copy a snapshot store.  Its manifests hold absolute file paths, so
    every path under ``src`` in the copy's JSON files is moved to ``dst``."""
    shutil.copytree(src, dst)

    def move(x):
        if isinstance(x, str) and (x == src or x.startswith(src + os.sep)):
            return dst + x[len(src):]
        if isinstance(x, list):
            return [move(v) for v in x]
        if isinstance(x, dict):
            return {k: move(v) for k, v in x.items()}
        return x

    for dirpath, _dirs, files in os.walk(dst):
        for fn in files:
            if fn.endswith(".json"):
                path = os.path.join(dirpath, fn)
                with open(path) as f:
                    doc = json.load(f)
                with open(path, "w") as f:
                    json.dump(move(doc), f)


def overhead_share(traced: list[PassResult], after: PassResult) -> float:
    """Mean traced pass time over the untraced pass run right after the
    traced ones, minus one.  Passes still speed up as the JIT warms, so this
    overstates the overhead by that pass-to-pass gain."""
    return statistics.mean(r.seconds for r in traced) / after.seconds - 1.0


def _median_of(fn, n: int = 3) -> float:
    ts = []
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return statistics.median(ts)


# ---------------------------------------------------------------------------
# crawl
# ---------------------------------------------------------------------------

_TABLES = ("fetch_log", "seen", "queued", "excluded")


class CrawlWorkload:
    """A pass copies the resume point (a store after ``resume_wave`` waves,
    built once in set-up) into a fresh store and times the next ``waves``
    calls to ``CrawlEngine.step`` on it, engine defaults unless
    ``sidecar`` turns the bloom seen filter on (``bloom_min_seen=0``)."""

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self._n = 0
        #: traced pass id -> snapshot store bytes after the pass
        self.store_bytes: dict[str, int] = {}

    def prepare(self) -> None:
        self.inp = BI.crawl_inputs(self.seed)
        self.ref = self.inp["reference"]

    def load(self, spark) -> None:
        self.spark = spark
        self.graph = spark.read.parquet(self.inp["graph"]).cache()
        self.graph.count()
        self.robots = spark.read.parquet(self.inp["robots"]).cache()
        self.robots.count()
        self.seeds = spark.read.parquet(self.inp["seeds"]).cache()
        self.seeds.count()

    def _engine(self, store_dir: str, sidecar: bool = False) -> CrawlEngine:
        return CrawlEngine(
            self.spark, SnapshotStore(store_dir), n_buckets=BI.CRAWL["n_buckets"],
            wave_budget=BI.CRAWL["wave_budget"],
            **({"bloom_min_seen": 0} if sidecar else {}),
        )

    def warmup(self) -> PassResult:
        """Build the resume point: bootstrap and the first ``resume_wave``
        waves.  They run the same ``step`` code as a timed pass, for as many
        waves; a further warm-up pass did not fit the run budget."""
        self.base = os.path.join(self.work, "stores", "base")
        shutil.rmtree(self.base, ignore_errors=True)
        eng = self._engine(self.base)
        t0 = time.perf_counter()
        eng.bootstrap(self.seeds)
        seq, steps, urls = 0, [], 0
        for wave in range(BI.CRAWL["resume_wave"]):
            t = time.perf_counter()
            st, seq = eng.step(wave, seq, self.graph, self.robots)
            steps.append(time.perf_counter() - t)
            urls += st.fetched + st.errors
        return PassResult(time.perf_counter() - t0, urls, steps, True)

    def run_pass(self, tracer=None, sidecar: bool = False) -> PassResult:
        self._n += 1
        store_dir = os.path.join(self.work, "stores", f"pass{self._n}")
        shutil.rmtree(store_dir, ignore_errors=True)
        clone_store(self.base, store_dir)
        eng = self._engine(store_dir, sidecar)
        meta = eng.store.manifest("queued")["meta"]
        seq = meta["next_seq"]
        steps: list[float] = []
        urls = 0
        t0 = time.perf_counter()
        for wave in range(meta["wave"] + 1, meta["wave"] + 1 + BI.CRAWL["waves"]):
            if tracer:
                tracer.wave = wave
            t = time.perf_counter()
            with _span(tracer, "crawl.step"):
                st, seq = eng.step(wave, seq, self.graph, self.robots)
            steps.append(time.perf_counter() - t)
            urls += st.fetched + st.errors
        seconds = time.perf_counter() - t0
        if tracer:
            tracer.wave = None
        res = PassResult(seconds, urls, steps, True)
        self._check(eng, res)
        if tracer:
            self.store_bytes[tracer.pass_id] = _dir_bytes(store_dir)
        shutil.rmtree(store_dir, ignore_errors=True)
        return res

    def _check(self, eng: CrawlEngine, res: PassResult) -> None:
        order = eng.crawl_order().select(
            "seq", "url", "host", "wave", "status", "fetch_ts"
        ).collect()
        seen = [r["url"] for r in eng.seen_set().select("url").collect()]
        checks = {
            "fetches": len(order) == self.ref["fetches"],
            "crawl order": BI.crawl_order_digest(r.asDict() for r in order)
            == self.ref["order_digest"],
            "seen set": len(seen) == self.ref["seen"]
            and BI.seen_digest(seen) == self.ref["seen_digest"],
        }
        for what, ok in checks.items():
            if not ok:
                res.ok = False
                res.notes.append(f"{what} differs from fixtures/simulator.py")

    def summary(self, good: list[PassResult]) -> str:
        secs = sum(r.seconds for r in good)
        return (f"urls_per_s={sum(r.items for r in good) / secs:.1f} (= items_per_s), "
                f"wave_p50_s = step_p50_s, read against spec.WAVE_SECONDS = "
                f"{spec.WAVE_SECONDS:g} s")

    # -- traced run -------------------------------------------------------------
    def install(self, tracer) -> None:
        def stage_attrs(a):
            return {"table": a["table"]}

        def stage_result(rec, man):
            new = man["files"][-man["new_files"]:] if man["new_files"] else []
            rec["rows"] = sum(f.get("rows", 0) for f in new)
            rec["bytes"] = sum(os.path.getsize(f["path"]) for f in new)

        tracer.wrap(Transaction, "stage", "snapshot.stage", stage_attrs, stage_result)
        tracer.wrap(Transaction, "commit", "snapshot.txn_commit")
        tracer.wrap(SnapshotStore, "commit", "snapshot.commit", stage_attrs)
        tracer.wrap(SnapshotStore, "compact", "snapshot.compact", stage_attrs)
        tracer.wrap(membership, "build_blooms", "membership.build_blooms",
                    lambda a: {"delta": a.get("min_m_by_key") is not None})
        tracer.wrap(membership, "merge_blooms", "membership.merge_blooms")
        tracer.wrap(membership, "build_cuckoos", "membership.build_cuckoos")
        tracer.wrap(membership, "cuckoo_update", "membership.cuckoo_update")

    def traced(self, tracer, seconds: float, deadline: float) -> tuple[dict, list[PassResult]]:
        """Traced passes, an untraced pass for the tracing overhead, then,
        traced, one pass with the bloom seen filter on (the membership
        layer's metrics) and one bootstrap into an empty store."""
        self.install(tracer)
        results: list[PassResult] = []
        t0 = time.perf_counter()
        try:
            while True:
                tracer.pass_id = f"p{len(results)}"
                results.append(self.run_pass(tracer))
                tracer.read_counts()
                spent = time.perf_counter() - t0
                # room for the untraced pass and the sidecar pass after these
                if spent >= seconds or time.time() + 4 * spent / len(results) > deadline:
                    break
        finally:
            tracer.restore()
        main = [f"p{i}" for i in range(len(results))]
        after = self.run_pass()
        self.install(tracer)
        try:
            tracer.pass_id = "sidecar"
            results.append(self.run_pass(tracer, sidecar=True))
            tracer.read_counts()
            tracer.pass_id = "bootstrap"
            boot = os.path.join(self.work, "stores", "boot")
            with tracer.span("crawl.bootstrap"):
                self._engine(boot).bootstrap(self.seeds)
            tracer.read_counts()
            shutil.rmtree(boot, ignore_errors=True)
        finally:
            tracer.restore()
        links = self.graph.select(F.explode("outlinks.url").alias("u"))

        def canon_once():
            links.select(U.canonicalize_expr(F.col("u")).alias("c")).agg(
                F.count(F.lit(1)), F.bit_xor(F.xxhash64("c"))
            ).collect()

        m = self._layer_metrics(tracer, main)
        m["urls.canon_s"] = _median_of(canon_once)
        m["trace.overhead_share"] = overhead_share(results[: len(main)], after)
        return m, results

    def _layer_metrics(self, tracer, main: list[str]) -> dict:
        kids = tracer.children()
        n_pass = len(main)

        def steps_of(passes):
            return [s for s in tracer.spans if s["name"] == "crawl.step" and s["pass"] in passes]

        def dur(spans):
            return sum(s["end"] - s["start"] for s in spans)

        steps = steps_of(main)
        waves = max(1, len(steps))
        under = [d for s in steps for d in tracer.descendants(s, kids)]
        boots = [s for s in tracer.spans if s["name"] == "crawl.bootstrap"]
        m: dict[str, float] = {
            "crawl.step_self_s": sum(tracer.self_time(s, kids) for s in steps) / waves,
            "crawl.jobs_per_wave": sum(tracer.inclusive(s, "jobs", kids) for s in steps) / waves,
            "crawl.stages_per_wave": sum(tracer.inclusive(s, "stages", kids) for s in steps) / waves,
            "crawl.tasks_per_wave": sum(tracer.inclusive(s, "tasks", kids) for s in steps) / waves,
            "crawl.bootstrap_s": dur(boots) / max(1, len(boots)),
        }
        for t in _TABLES:
            st = [s for s in under if s["name"] == "snapshot.stage" and s["table"] == t]
            m[f"snapshot.stage_s.{t}"] = dur(st) / waves
            m[f"snapshot.rows_written.{t}"] = sum(s["rows"] for s in st) / n_pass
            m[f"snapshot.bytes_written.{t}"] = sum(s["bytes"] for s in st) / n_pass
        new_urls = m["snapshot.rows_written.seen"]
        m["snapshot.queued_rows_written_per_new_url"] = (
            m["snapshot.rows_written.queued"] / new_urls if new_urls else 0.0
        )
        compacts = [s for s in under if s["name"] == "snapshot.compact"]
        m["snapshot.compact_s"] = dur(compacts) / waves
        m["snapshot.compactions"] = len(compacts) / n_pass
        m["snapshot.commit_s"] = dur(s for s in under if s["name"] == "snapshot.txn_commit") / waves
        m["snapshot.store_bytes"] = sum(self.store_bytes[p] for p in main) / n_pass

        # the membership layer works only in the sidecar pass
        side_steps = steps_of(["sidecar"])
        side_waves = max(1, len(side_steps))
        side_under = [d for s in side_steps for d in tracer.descendants(s, kids)]
        m["membership.sidecar_commit_s"] = dur(
            s for s in side_under
            if s["name"] == "snapshot.commit" and s["table"] in ("blooms", "cuckoos")
        ) / side_waves
        m["membership.full_builds"] = sum(
            1 for s in side_under
            if (s["name"] == "membership.build_blooms" and not s["delta"])
            or s["name"] == "membership.build_cuckoos"
        )
        m["membership.delta_merges"] = sum(
            1 for s in side_under
            if s["name"] in ("membership.merge_blooms", "membership.cuckoo_update")
        )
        side_seen = [s for s in side_under
                     if s["name"] == "snapshot.stage" and s["table"] == "seen"]
        m["membership.probe_extra_s"] = dur(side_seen) / side_waves - m["snapshot.stage_s.seen"]
        return m


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------

_POPCOUNT = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)


def union_find_labels(pairs: list[tuple[int, int]], n: int) -> np.ndarray:
    """Sequential union-find; label = smallest doc id of the component."""
    parent = list(range(n))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return np.array([find(x) for x in range(n)], dtype=np.int64)


def prune_reference(ids: list[str], phash: np.ndarray, t: int = spec.PHASH_HAMMING_T) -> set[str]:
    """Images kept by the keep-first rule, brute force: drop an image when a
    smaller image_id shares one of its four 16-bit phash bands and lies
    within Hamming ``t``."""
    order = sorted(range(len(ids)), key=lambda i: ids[i])
    ph = phash[order].astype(np.int64).view(np.uint64)
    n = len(ph)
    x = ph[:, None] ^ ph[None, :]
    dist = _POPCOUNT[x.view(np.uint8)].reshape(n, n, 8).sum(axis=2)
    share = np.zeros((n, n), dtype=bool)
    for k in range(4):
        b = (ph >> np.uint64(16 * k)) & np.uint64(0xFFFF)
        share |= b[:, None] == b[None, :]
    near = np.triu(share & (dist <= t), 1)
    dropped = near.any(axis=0)
    return {ids[order[i]] for i in range(n) if not dropped[i]}


def _digest(rows) -> str:
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(r).encode())
    return h.hexdigest()


class DedupWorkload:
    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work

    def prepare(self) -> None:
        self.inp = BI.dedup_inputs(self.seed)
        img = pq.read_table(self.inp["images"], columns=["image_id", "phash"])
        self.img_ids = img.column("image_id").to_pylist()
        self.img_phash = img.column("phash").to_numpy()
        self.kept_ref = prune_reference(self.img_ids, self.img_phash)
        self.n_docs = BI.DEDUP["n_docs"]
        self.pairs_digest = _digest(self.inp["pairs"])
        self.labels_ref = union_find_labels(self.inp["pairs"], self.n_docs)
        #: set by the warm-up when the run's pair set differs from the oracle's
        self.pairs_note: str | None = None

    def load(self, spark) -> None:
        self.spark = spark
        self.images = spark.read.parquet(self.inp["images"]).cache()
        self.images.count()

    def warmup(self) -> PassResult:
        """One full pass that also captures the pair set at the
        connected-components boundary (its input edges are cached and
        collected) and compares it with the brute-force oracle's.  Timed
        passes only return labels, so a differing pair set here fails every
        timed pass of the run."""
        pairs: list[tuple[int, int]] = []
        cached: list[DataFrame] = []
        orig_cc = graph.connected_components

        def cc(edges: DataFrame, src: str = "src", dst: str = "dst", max_iter: int = 25):
            edges = edges.cache()
            cached.append(edges)
            pairs.extend((r[0], r[1]) for r in edges.select(src, dst).collect())
            return orig_cc(edges, src, dst, max_iter)

        graph.connected_components = cc
        try:
            res, _labels = self._pass(None)
        finally:
            graph.connected_components = orig_cc
            for df in cached:
                df.unpersist()
        if _digest(sorted(pairs)) != self.pairs_digest:
            self.pairs_note = (f"pair set ({len(pairs)} pairs) differs from the brute-force "
                               f"oracle's ({len(self.inp['pairs'])} pairs)")
        return res

    def summary(self, good: list[PassResult]) -> str:
        secs = sum(r.seconds for r in good)
        return (f"docs_per_s={self.n_docs * len(good) / secs:.1f} "
                f"images_per_s={len(self.img_ids) * len(good) / secs:.1f} "
                f"(both over the whole pass wall)")

    def run_pass(self, tracer=None) -> PassResult:
        res, labels = self._pass(tracer)
        if not self._labels_ok(labels):
            res.ok = False
            res.notes.append("cluster labels differ from union-find over the oracle's pairs")
        if self.pairs_note:
            res.ok = False
            res.notes.append(self.pairs_note)
        return res

    def _pass(self, tracer) -> tuple[PassResult, list]:
        t0 = time.perf_counter()
        with _span(tracer, "dedup.clusters"):
            labels = dedupops.q_dedup_clusters(self.spark, self.inp["dir"]).select(
                "doc_id", "cluster_id", "keep"
            ).collect()
        with _span(tracer, "payload.decode"):
            dec = P.decode_and_phash(self.images).filter("decode_ok").select(
                "image_id", "phash_re"
            ).collect()
        with _span(tracer, "payload.prune"):
            kept = P.phash_prune_keep_first(self.images).select("image_id").collect()
        seconds = time.perf_counter() - t0
        res = PassResult(seconds, self.n_docs + len(self.img_ids), [seconds], True,
                         kept=len(kept))
        if len(dec) != len(self.img_ids) or {r["image_id"]: r["phash_re"] for r in dec} != dict(
            zip(self.img_ids, self.img_phash.tolist())
        ):
            res.ok = False
            res.notes.append("decoded phash differs from the generator's phash")
        if {r["image_id"] for r in kept} != self.kept_ref:
            res.ok = False
            res.notes.append("kept images differ from the brute-force keep-first rule")
        return res, labels

    def _labels_ok(self, labels) -> bool:
        got = np.full(self.n_docs, -1, dtype=np.int64)
        for r in labels:
            if r["keep"] != (r["doc_id"] == r["cluster_id"]):
                return False
            got[r["doc_id"]] = r["cluster_id"]
        return len(labels) == self.n_docs and np.array_equal(got, self.labels_ref)

    # -- traced run -------------------------------------------------------------
    def traced(self, tracer, seconds: float, deadline: float) -> tuple[dict, list[PassResult]]:
        state = {"rounds": 0, "observations": [], "pair_digests": [], "cached": []}
        orig_cc = graph.connected_components

        def cc(edges: DataFrame, src: str = "src", dst: str = "dst", max_iter: int = 25):
            # materialize the pair set first, so MinHash + banding time lands
            # in its own span instead of inside connected components' round 1
            with tracer.span("dedupops.pairs"):
                edges = edges.cache()
                rows = sorted((r[0], r[1]) for r in edges.select(src, dst).collect())
            state["cached"].append(edges)
            state["pair_digests"].append(_digest(rows))
            with tracer.span("graph.connected_components"):
                return orig_cc(edges, src, dst, max_iter)

        frame_cls = type(self.images)
        orig_lc = frame_cls.localCheckpoint

        def local_checkpoint(df, *a, **kw):
            if tracer.inside("graph.connected_components"):
                state["rounds"] += 1
            return orig_lc(df, *a, **kw)

        orig_bp = banding.band_pairs

        def band_pairs(*a, **kw):
            pairs, obs = orig_bp(*a, **kw)
            o = Observation(f"perfbench_pairs_{len(state['observations'])}")
            state["observations"].append(o)
            return pairs.observe(o, F.count(F.lit(1)).alias("pairs_out")), obs

        tracer.patch(graph, "connected_components", cc)
        tracer.patch(frame_cls, "localCheckpoint", local_checkpoint)
        tracer.patch(banding, "band_pairs", band_pairs)
        results: list[PassResult] = []
        rounds: list[int] = []
        t0 = time.perf_counter()
        try:
            while True:
                tracer.pass_id = f"p{len(results)}"
                state["rounds"] = 0
                results.append(self.run_pass(tracer))
                rounds.append(state["rounds"])
                tracer.read_counts()
                for df in state["cached"]:
                    df.unpersist()
                state["cached"] = []
                spent = time.perf_counter() - t0
                # room for the untraced pass after these
                if spent >= seconds or time.time() + 2 * spent / len(results) > deadline:
                    break
        finally:
            tracer.restore()
        after = self.run_pass()
        for d in state["pair_digests"]:
            if d != self.pairs_digest:
                results[-1].ok = False
                results[-1].notes.append("pair set differs between passes")
        kids = tracer.children()
        n = len(results)

        def mean_dur(name):
            spans = [s for s in tracer.spans if s["name"] == name]
            return sum(s["end"] - s["start"] for s in spans) / max(1, len(spans))

        ccs = [s for s in tracer.spans if s["name"] == "graph.connected_components"]
        m = {
            "dedupops.minhash_lsh_s": mean_dur("dedupops.pairs"),
            "banding.pairs_out": statistics.mean(
                o.get["pairs_out"] for o in state["observations"]
            ),
            "graph.cc_s": mean_dur("graph.connected_components"),
            "graph.cc_rounds": statistics.mean(rounds),
            "graph.cc_jobs": sum(tracer.inclusive(s, "jobs", kids) for s in ccs) / n,
            "payload.decode_s": mean_dur("payload.decode"),
            "payload.prune_s": mean_dur("payload.prune"),
            "payload.kept": statistics.mean(r.kept for r in results),
            "trace.overhead_share": overhead_share(results, after),
        }
        return m, results


WORKLOADS = {"crawl_frontier": CrawlWorkload, "dedup": DedupWorkload}
