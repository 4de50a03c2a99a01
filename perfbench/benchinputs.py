"""Seeded benchmark inputs and their reference answers, cached on disk.

Everything here runs before the ``setup_s`` clock starts.  Each input is
cached under ``perfbench/.cache/<kind>-<key>/`` where the key hashes the
seed, the generator parameters and the source of every module that shapes
the input or its reference answer (``CRAWL_SOURCES`` or ``DEDUP_SOURCES``,
and this file).  A changed generator therefore gets a fresh cache entry;
nothing is reused on a marker alone.

Inputs per workload:

* ``crawl_frontier``: one web graph per checkout (``generator.generate`` with
  a fixed seed), plus a per-``--seed`` seed list drawn from that graph's
  pages and the pure-Python simulator's crawl-order and seen-set digests
  for it;
* ``dedup``: a per-``--seed`` document corpus shaped like sf0.1's, with
  chains added (written here), its brute-force near-duplicate pair set, and
  a per-``--seed`` image table from ``generator.generate(with_images=True)``.
"""

from __future__ import annotations

import hashlib
import json
import os
import pickle
import shutil
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from csxj_crawler_spark import spec
from csxj_crawler_spark.fixtures import generator, simulator

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")

#: crawl fixture: the bench crawl web (1,000 hosts, hot host ~30% of pages)
#: at a third of bench.py's page count.  A pass resumes a crawl after
#: ``resume_wave`` waves and times the next ``waves``; with 2,000 seeds per
#: source those waves rewrite 5-9 queued rows per new URL, the late-wave
#: regime of bench.py's 12-wave crawl (see README.md).  16 buckets put the
#: seen table's first compaction in the last timed wave.
CRAWL = {
    "n_pages": 20_000,
    "hosts_per_source": 250,
    "graph_seed": 42,
    "seeds_per_source": 2_000,
    "resume_wave": 2,
    "waves": 2,
    "n_buckets": 16,
    "wave_budget": 50_000,
}

#: dedup corpus: sf0.1's documents.parquet as measured (5,000 documents of
#: 10-100 words over 31 distinct words; 90.5% singletons, the rest near-dup
#: clusters of 2-4 documents one inserted or deleted word from a base), plus
#: chains, a synthetic stress sf0.1 lacks (README.md, "Inputs")
DEDUP = {
    "n_docs": 5_000,
    "words": (10, 100),
    "vocab": 31,
    #: sf0.1's cluster-size counts: size -> clusters (4,525 singletons)
    "cluster_sizes": {1: 4_525, 2: 222, 3: 9, 4: 1},
    "chain_share": 0.10,
    "chain_len": (4, 24),
    "img_pages": 400,
}

#: modules whose source shapes the crawl inputs or their reference answers
CRAWL_SOURCES = (
    "csxj_crawler_spark/fixtures/generator.py",
    "csxj_crawler_spark/fixtures/simulator.py",
    "csxj_crawler_spark/spec.py",
)
#: ... and the dedup inputs (dedupops.py holds the brute-force pair oracle)
DEDUP_SOURCES = (
    "csxj_crawler_spark/fixtures/generator.py",
    "csxj_crawler_spark/queries/dedupops.py",
    "csxj_crawler_spark/spec.py",
)


def _source_hash(sources) -> str:
    h = hashlib.sha256()
    for rel in sources:
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(f.read())
    with open(os.path.abspath(__file__), "rb") as f:
        h.update(f.read())
    return h.hexdigest()


def cache_key(kind: str, params: dict, sources=CRAWL_SOURCES) -> str:
    blob = json.dumps({"kind": kind, "params": params, "src": _source_hash(sources)},
                      sort_keys=True)
    return f"{kind}-{hashlib.sha256(blob.encode()).hexdigest()[:16]}"


def _cached_dir(kind: str, params: dict, build, sources=CRAWL_SOURCES) -> str:
    """Return the cache directory for (kind, params), building it first if
    absent.  ``build(tmp_dir)`` writes into a private directory that is then
    renamed into place, so a crashed build never leaves a half entry."""
    final = os.path.join(CACHE, cache_key(kind, params, sources))
    if os.path.isdir(final):
        return final
    tmp = os.path.join(CACHE, f".tmp-{uuid.uuid4().hex[:8]}")
    os.makedirs(tmp)
    try:
        build(tmp)
        os.rename(tmp, final)
    except OSError:
        if not os.path.isdir(final):
            raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return final


# ---------------------------------------------------------------------------
# crawl inputs
# ---------------------------------------------------------------------------


def crawl_graph_dir() -> str:
    """The shared web graph (``web_graph`` / ``robots`` parquet) plus a
    pickle of the simulator's in-memory view of it (this module writes and
    reads that pickle; nothing else does)."""
    params = {k: CRAWL[k] for k in ("n_pages", "hosts_per_source", "graph_seed")}

    def build(d: str) -> None:
        generator.generate(
            d, n_pages=CRAWL["n_pages"], seed=CRAWL["graph_seed"],
            with_images=False, n_seeds_per_source=20,
            hosts_per_source=CRAWL["hosts_per_source"],
        )
        graph, _seeds, robots = simulator.load_fixture_inputs(d)
        with open(os.path.join(d, "sim_inputs.pkl"), "wb") as f:
            pickle.dump((graph, robots), f, protocol=pickle.HIGHEST_PROTOCOL)

    return _cached_dir("crawlgraph", params, build)


def make_seed_list(graph_urls: list[str], seed: int) -> list[dict]:
    """``seeds_per_source`` distinct pages per source, in a seeded order."""
    rng = np.random.RandomState(seed)
    rows: list[dict] = []
    for src in spec.SOURCE_ORDER:
        pool = sorted(u for u in graph_urls if u.split("//", 1)[1].startswith(src + "-"))
        for j in rng.choice(len(pool), CRAWL["seeds_per_source"], replace=False):
            rows.append({"url": pool[j], "source": src, "priority": 1.0,
                         "seed_rank": len(rows)})
    return rows


def crawl_order_digest(rows) -> str:
    """Digest of the judged crawl order: (seq, url, host, wave, status,
    fetch_ts) in seq order, as tests/test_crawl_golden.py compares it."""
    h = hashlib.sha256()
    for r in sorted(rows, key=lambda r: r["seq"]):
        h.update(repr((int(r["seq"]), r["url"], r["host"], int(r["wave"]),
                       int(r["status"]), float(r["fetch_ts"]))).encode())
    return h.hexdigest()


def seen_digest(urls) -> str:
    h = hashlib.sha256()
    for u in sorted(urls):
        h.update(u.encode() + b"\n")
    return h.hexdigest()


def crawl_inputs(seed: int) -> dict:
    """Seed list parquet + simulator reference for ``seed``.

    Returns paths and the reference: crawl-order digest, seen digest, and
    the simulator's fetch count and seen size."""
    gdir = crawl_graph_dir()
    params = {**CRAWL, "seed": seed}

    def build(d: str) -> None:
        with open(os.path.join(gdir, "sim_inputs.pkl"), "rb") as f:
            graph, robots = pickle.load(f)
        seeds = make_seed_list(list(graph), seed)
        pq.write_table(
            pa.table({
                "url": pa.array([r["url"] for r in seeds], pa.string()),
                "source": pa.array([r["source"] for r in seeds], pa.string()),
                "priority": pa.array([r["priority"] for r in seeds], pa.float64()),
                "seed_rank": pa.array([r["seed_rank"] for r in seeds], pa.int64()),
            }),
            os.path.join(d, "seeds.parquet"),
        )
        res = simulator.simulate(
            graph, seeds, robots, wave_budget=CRAWL["wave_budget"],
            max_waves=CRAWL["resume_wave"] + CRAWL["waves"],
        )
        ref = {
            "order_digest": crawl_order_digest(res.crawl_order),
            "seen_digest": seen_digest(res.seen),
            "fetches": len(res.crawl_order),
            "seen": len(res.seen),
        }
        with open(os.path.join(d, "reference.json"), "w") as f:
            json.dump(ref, f)

    d = _cached_dir("crawlseed", params, build)
    with open(os.path.join(d, "reference.json")) as f:
        ref = json.load(f)
    return {
        "graph": os.path.join(gdir, "web_graph.parquet"),
        "robots": os.path.join(gdir, "robots.parquet"),
        "seeds": os.path.join(d, "seeds.parquet"),
        "reference": ref,
    }


# ---------------------------------------------------------------------------
# dedup inputs
# ---------------------------------------------------------------------------


def make_corpus(n_docs: int, seed: int, **params) -> list[str]:
    """A seeded corpus shaped like sf0.1's documents (``DEDUP``, overridable
    by keyword).  Documents have a uniform 10-100 words drawn from a
    31-word lexicon.  Outside chains, clusters are drawn with sf0.1's
    cluster-size frequencies: a base document and size - 1 copies, each one
    word inserted into or deleted from the base, as sf0.1's near-duplicate
    pairs are.  A ``chain_share`` of the documents are chains of
    ``chain_len`` documents, each one word inserted or deleted from the
    previous, so a long chain's ends are no near-duplicates of each other and
    connected components needs more rounds.  Document ids are a seeded
    shuffle of positions, so cluster members are not id-adjacent."""
    p = {**DEDUP, **params}
    rng = np.random.RandomState(seed)
    words = np.array([f"w{i:02d}" for i in range(p["vocab"])])
    sizes = np.array(sorted(p["cluster_sizes"]))
    freq = np.array([p["cluster_sizes"][k] for k in sizes], dtype=float)
    freq /= freq.sum()
    lo, hi = p["words"]
    docs: list[np.ndarray] = []

    def fresh() -> np.ndarray:
        return rng.randint(0, p["vocab"], size=rng.randint(lo, hi + 1))

    def edit(base: np.ndarray) -> np.ndarray:
        if len(base) > lo and (len(base) >= hi or rng.rand() < 0.5):
            return np.delete(base, rng.randint(len(base)))
        return np.insert(base, rng.randint(len(base) + 1), rng.randint(p["vocab"]))

    n_chain = int(round(n_docs * p["chain_share"]))
    while len(docs) < n_chain:
        cur = fresh()
        docs.append(cur)
        for _ in range(rng.randint(p["chain_len"][0], p["chain_len"][1] + 1) - 1):
            cur = edit(cur)
            docs.append(cur)
    docs = docs[:n_chain]
    while len(docs) < n_docs:
        base = fresh()
        docs.append(base)
        for _ in range(rng.choice(sizes, p=freq) - 1):
            docs.append(edit(base))
    docs = docs[:n_docs]
    order = rng.permutation(n_docs)
    texts = [""] * n_docs
    for pos, doc_id in enumerate(order):
        texts[doc_id] = " ".join(words[docs[pos]])
    return texts


def reference_pairs(corpus_dir: str) -> list[tuple[int, int]]:
    """The near-duplicate pair set of ``corpus_dir/documents.parquet`` from
    ``dedupops``' brute-force oracle (per-document Python MinHash, dict
    banding, estimated Jaccard >= 0.5), which shares no code with the Spark
    plan; the oracle reads its directory from ``SPARK_GRAFT_ORACLE_SF``."""
    from csxj_crawler_spark.queries import dedupops

    old = os.environ.get("SPARK_GRAFT_ORACLE_SF")
    os.environ["SPARK_GRAFT_ORACLE_SF"] = corpus_dir
    try:
        return sorted((int(a), int(b)) for a, b, _est in dedupops._ref_minhash_pairs())
    finally:
        if old is None:
            os.environ.pop("SPARK_GRAFT_ORACLE_SF")
        else:
            os.environ["SPARK_GRAFT_ORACLE_SF"] = old


def dedup_inputs(seed: int) -> dict:
    """``documents.parquet`` (doc_id, text), ``images_captions.parquet`` and
    the reference pair set for ``seed``.  Documents and images live in one
    directory so ``q_dedup_clusters`` can take it as its ``sf_dir``."""
    params = {**DEDUP, "seed": seed}

    def build(d: str) -> None:
        texts = make_corpus(DEDUP["n_docs"], seed)
        pq.write_table(
            pa.table({
                "doc_id": pa.array(np.arange(len(texts)), pa.int64()),
                "text": pa.array(texts, pa.string()),
            }),
            os.path.join(d, "documents.parquet"),
        )
        with open(os.path.join(d, "pairs.json"), "w") as f:
            json.dump(reference_pairs(d), f)
        gen = os.path.join(d, "gen")
        generator.generate(gen, n_pages=DEDUP["img_pages"], seed=seed,
                           with_images=True)
        os.rename(os.path.join(gen, "images_captions.parquet"),
                  os.path.join(d, "images_captions.parquet"))
        shutil.rmtree(gen)

    d = _cached_dir("dedup", params, build, DEDUP_SOURCES)
    with open(os.path.join(d, "pairs.json")) as f:
        pairs = [tuple(p) for p in json.load(f)]
    return {"dir": d, "images": os.path.join(d, "images_captions.parquet"),
            "pairs": pairs}
