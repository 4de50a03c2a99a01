"""Partitioned URL-seen membership filters (SURVEY.md §2.3 D2-D5).

The bloom filter is the scale-path pre-filter for the exact anti-join dedup
(BASELINE.json:6 "partitioned bloom-filter (fallback cuckoo) URL-seen set
built with vectorized Arrow UDFs"): per ``host_bucket`` partition, a packed
bit array over seen ``url_hash`` values.  Probing drops most already-seen
candidates cheaply; exactness is still guaranteed by the anti-join (D1) —
blooms may false-positive, never false-negative.

All build/probe math is vectorized numpy over Arrow batches:

* build — ``groupBy(host_bucket, hash % salt).applyInPandas`` → one
  ``(bucket, salt, n, blob)`` row per sub-filter.  The salt sub-key splits a
  hot host's bucket across ``salt`` uniformly-loaded tasks (hash-derived, so
  load is uniform by construction); each sub-filter covers exactly the keys
  that will probe it, at the same bits/key — no replication, no widening;
* probe — ONE entry point, :func:`probe_maybe`, for both sidecar kinds; it
  returns the FP-rate-sized ``(host_bucket, url_hash)`` maybe-set.  A bloom
  sidecar small enough to broadcast is probed map-side in place; a larger
  one, and every cuckoo sidecar, is cogrouped per (bucket, hash % salt)
  with its one matching sub-filter (no driver collect, no blob
  replication per row).  The kinds differ only in that per-group test;
* merge — OR-reduce of per-commit blobs per (bucket, salt) (UDAF-style
  grouped map).

The cuckoo filter (D5) adds deletion support (frontier retractions) per the
public cuckoo-filter design: 16-bit fingerprints, 4-slot buckets, 2 candidate
buckets via partial-cuckoo hashing.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from csxj_crawler_spark import spec

_MIX = np.uint64(0x9E3779B97F4A7C15)

BLOOM_SCHEMA = "host_bucket int, salt int, n long, m long, k int, bloom binary"


def _u64(a) -> np.ndarray:
    return np.asarray(a, dtype=np.int64).view(np.uint64)


def _mix64(h: np.ndarray) -> np.ndarray:
    """splitmix64-style finalizer — makes positions independent of the input
    key distribution (production keys are xxhash64, but don't rely on it)."""
    h = (h + _MIX)
    h = (h ^ (h >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    h = (h ^ (h >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return h ^ (h >> np.uint64(31))


def _bloom_positions(hashes: np.ndarray, m: int, k: int) -> np.ndarray:
    """(n, k) bit positions via double hashing — fully vectorized."""
    h1 = _mix64(hashes)
    h2 = (h1 ^ (h1 >> np.uint64(33))) * _MIX | np.uint64(1)
    i = np.arange(k, dtype=np.uint64)[None, :]
    return ((h1[:, None] + i * h2[:, None]) % np.uint64(m)).astype(np.uint64)


def bloom_build_bits(
    hashes: np.ndarray,
    bits_per_key: int = spec.BLOOM_BITS_PER_KEY,
    k: int = spec.BLOOM_NUM_HASHES,
    min_m: int = 64,
) -> tuple[np.ndarray, int]:
    """``min_m`` lets a DELTA filter be built at the size of the filter it
    will be OR-merged into: merging then never tiles a dense small array
    across the big one (which would saturate the merged filter after a few
    waves — the delta's bits stay sparse at the full m)."""
    n = len(hashes)
    # power-of-two m: any smaller filter tiles exactly into a larger one,
    # which makes merge_blooms' widening sound (bm | m ⇒ tiling preserves
    # membership: h mod bm == (h mod m) mod bm)
    m = max(64, int(min_m))
    while m < n * bits_per_key:
        m *= 2
    words = np.zeros(m // 64, dtype=np.uint64)
    if n:
        pos = _bloom_positions(_u64(hashes), m, k)
        w = (pos >> np.uint64(6)).ravel()
        b = (pos & np.uint64(63)).ravel()
        np.bitwise_or.at(words, w, np.uint64(1) << b)
    return words, m


def bloom_probe_bits(
    hashes: np.ndarray, words: np.ndarray, m: int, k: int
) -> np.ndarray:
    """Boolean 'maybe seen' per hash — vectorized bit tests."""
    if len(hashes) == 0:
        return np.zeros(0, dtype=bool)
    pos = _bloom_positions(_u64(hashes), m, k)
    w = (pos >> np.uint64(6))
    b = pos & np.uint64(63)
    hit = (words[w] >> b) & np.uint64(1)
    return hit.all(axis=1)


def bloom_probe_bits_multi(
    hashes: np.ndarray,
    words: np.ndarray,
    off: np.ndarray,
    m: np.ndarray,
    k: int,
) -> np.ndarray:
    """Probe a BATCH of hashes against per-element sub-filters in one
    vectorized pass: ``words`` is every sub-filter's bit array concatenated,
    ``off[i]``/``m[i]`` the word offset and bit count of the filter hash i
    probes.  Same double-hash positions as :func:`bloom_probe_bits` — the two
    agree bit-for-bit for any single filter (property-tested)."""
    if len(hashes) == 0:
        return np.zeros(0, dtype=bool)
    h1 = _mix64(_u64(hashes))
    h2 = (h1 ^ (h1 >> np.uint64(33))) * _MIX | np.uint64(1)
    i = np.arange(k, dtype=np.uint64)[None, :]
    pos = (h1[:, None] + i * h2[:, None]) % m[:, None]
    w = off[:, None] + (pos >> np.uint64(6))
    b = pos & np.uint64(63)
    return ((words[w] >> b) & np.uint64(1)).all(axis=1)


def build_blooms(
    seen: DataFrame,
    hash_col: str = "url_hash",
    min_m_by_key: dict[tuple[int, int], int] | None = None,
    salt: int = spec.BLOOM_SALT,
) -> DataFrame:
    """D2: per-(host_bucket, hash%salt) bloom sub-filter blobs.

    The hash-derived salt sub-key makes every sub-filter's load uniform even
    when one host dominates a bucket — unsalted, the hot bucket's build ran
    as ONE Arrow task and bounded the stage (measured 2.8x instead of ~4x
    scaling 2→8 cores).  Each sub-filter is sized to ITS OWN key count at
    the standard bits/key, so total blob bytes match an unsalted build and
    the per-key FP rate is unchanged.

    ``min_m_by_key`` ((bucket, salt) → bit count) floors a DELTA build at
    the existing sub-filter's m so the subsequent merge is a plain
    equal-width OR (see :func:`bloom_build_bits`)."""
    mins = min_m_by_key or {}

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        hashes = pdf[hash_col].to_numpy()
        bucket = int(pdf["host_bucket"].iloc[0])
        s = int(pdf["_bsalt"].iloc[0])
        words, m = bloom_build_bits(hashes, min_m=mins.get((bucket, s), 64))
        return pd.DataFrame(
            {
                "host_bucket": [bucket],
                "salt": [s],
                "n": [len(hashes)],
                "m": [m],
                "k": [spec.BLOOM_NUM_HASHES],
                "bloom": [words.tobytes()],
            }
        )

    sub = seen.select("host_bucket", hash_col).withColumn(
        "_bsalt", F.pmod(F.col(hash_col), F.lit(max(1, salt))).cast("int")
    )
    return sub.groupBy("host_bucket", "_bsalt").applyInPandas(_build, BLOOM_SCHEMA)


def merge_blooms(blooms: DataFrame) -> DataFrame:
    """D4: OR-combine multiple blobs per (host_bucket, salt) sub-filter
    (equal m expected — delta builds floor at the merged m; the tiling
    fallback stays sound for width mismatches but merges should avoid it)."""

    def _merge(pdf: pd.DataFrame) -> pd.DataFrame:
        m = int(pdf["m"].max())
        acc = np.zeros(m // 64, dtype=np.uint64)
        for blob, bm in zip(pdf["bloom"], pdf["m"]):
            w = np.frombuffer(blob, dtype=np.uint64)
            if int(bm) == m:
                acc |= w
            else:  # re-add not possible from bits alone; widen by tiling
                reps = m // int(bm)
                acc |= np.tile(w, reps)
        return pd.DataFrame(
            {
                "host_bucket": [int(pdf["host_bucket"].iloc[0])],
                "salt": [int(pdf["salt"].iloc[0])],
                "n": [int(pdf["n"].sum())],
                "m": [m],
                "k": [int(pdf["k"].iloc[0])],
                "bloom": [acc.tobytes()],
            }
        )

    return blooms.groupBy("host_bucket", "salt").applyInPandas(_merge, BLOOM_SCHEMA)


# ---------------------------------------------------------------------------
# Cuckoo filter (D5): membership with deletion, per the public design
# ---------------------------------------------------------------------------


def cuckoo_slots(capacity: int) -> int:
    """ACTUAL slot count of a :class:`CuckooFilter` sized for ``capacity`` —
    the single source of truth shared by the constructor and the engine's
    occupancy precheck (plans/crawl.py).  Power-of-2 bucket rounding can make
    the real table up to ~2× ``capacity * 1.25``, so any precheck written
    against ``capacity`` alone silently diverges from the table the filter
    actually allocates (r4 verdict nit #4)."""
    n_buckets = 1
    while n_buckets * CuckooFilter.SLOTS < capacity * 1.25:
        n_buckets *= 2
    return n_buckets * CuckooFilter.SLOTS


class CuckooFilter:
    """Numpy cuckoo filter: 16-bit fingerprints, 4 slots/bucket, 2 buckets."""

    SLOTS = 4
    MAX_KICKS = 500

    def __init__(self, capacity: int, seed: int = 7):
        n_buckets = cuckoo_slots(capacity) // self.SLOTS
        self.n_buckets = n_buckets
        self.table = np.zeros((n_buckets, self.SLOTS), dtype=np.uint16)
        self._rng = np.random.RandomState(seed)

    def _fp(self, h: np.ndarray) -> np.ndarray:
        fp = ((h >> np.uint64(40)) & np.uint64(0xFFFF)).astype(np.uint16)
        fp[fp == 0] = 1  # 0 means empty slot
        return fp

    def _i1(self, h: np.ndarray) -> np.ndarray:
        return (h % np.uint64(self.n_buckets)).astype(np.int64)

    def _i2(self, i1: np.ndarray, fp: np.ndarray) -> np.ndarray:
        fh = fp.astype(np.uint64) * _MIX
        return ((i1.astype(np.uint64) ^ fh) % np.uint64(self.n_buckets)).astype(
            np.int64
        )

    def insert_many(self, hashes: np.ndarray) -> int:
        """Vectorized common path: scatter fingerprints into empty slots in
        2·SLOTS bounded passes (one per (bucket-choice, slot) column, each
        O(batch) numpy work); within a pass, one winner per distinct target
        bucket (``np.unique`` returns the smallest index per value —
        deterministic), losers retry in later passes against the updated
        table.  Only items whose BOTH buckets fill up fall through to the
        per-element kick-chain loop — kick chains are sequential by nature,
        but they are the rare tail, not the batch."""
        h = _u64(hashes)
        fps = self._fp(h)
        i1s = self._i1(h)
        i2s = self._i2(i1s, fps)
        n = len(fps)
        placed = np.zeros(n, dtype=bool)
        for buckets in (i1s, i2s):  # preference order matches _insert_one
            for s in range(self.SLOTS):
                rem = np.flatnonzero(~placed)
                if not len(rem):
                    break
                b = buckets[rem]
                cand = rem[self.table[b, s] == 0]
                if not len(cand):
                    continue
                _, first = np.unique(buckets[cand], return_index=True)
                win = cand[first]
                self.table[buckets[win], s] = fps[win]
                placed[win] = True
        inserted = int(placed.sum())
        for j in np.flatnonzero(~placed):
            if self._insert_one(int(fps[j]), int(i1s[j])):
                inserted += 1
        return inserted

    def _insert_one(self, fp: int, i1: int) -> bool:
        i2 = int(self._i2(np.array([i1]), np.array([fp], dtype=np.uint16))[0])
        for i in (i1, i2):
            row = self.table[i]
            empty = np.where(row == 0)[0]
            if len(empty):
                row[empty[0]] = fp
                return True
        i = i1 if self._rng.rand() < 0.5 else i2
        for _ in range(self.MAX_KICKS):
            slot = self._rng.randint(self.SLOTS)
            fp, self.table[i, slot] = int(self.table[i, slot]), fp
            i = int(self._i2(np.array([i]), np.array([fp], dtype=np.uint16))[0])
            row = self.table[i]
            empty = np.where(row == 0)[0]
            if len(empty):
                row[empty[0]] = fp
                return True
        return False  # table overflow

    def contains_many(self, hashes: np.ndarray) -> np.ndarray:
        h = _u64(hashes)
        fps = self._fp(h)
        i1 = self._i1(h)
        i2 = self._i2(i1, fps)
        in1 = (self.table[i1] == fps[:, None]).any(axis=1)
        in2 = (self.table[i2] == fps[:, None]).any(axis=1)
        return in1 | in2

    def delete_many(self, hashes: np.ndarray) -> int:
        """Vectorized like :meth:`insert_many`: per (bucket-choice, slot)
        pass, clear ONE matching slot per distinct bucket (each item deletes
        at most one copy; a same-fp duplicate in the batch re-probes the
        updated table in later passes, so two batch items never double-count
        a single stored copy)."""
        h = _u64(hashes)
        fps = self._fp(h)
        i1s = self._i1(h)
        i2s = self._i2(i1s, fps)
        n = len(fps)
        done = np.zeros(n, dtype=bool)
        for buckets in (i1s, i2s):
            for s in range(self.SLOTS):
                rem = np.flatnonzero(~done)
                if not len(rem):
                    break
                b = buckets[rem]
                cand = rem[self.table[b, s] == fps[rem]]
                if not len(cand):
                    continue
                _, first = np.unique(buckets[cand], return_index=True)
                win = cand[first]
                self.table[buckets[win], s] = 0
                done[win] = True
        return int(done.sum())

    def to_bytes(self) -> bytes:
        return self.table.tobytes()

    @classmethod
    def from_bytes(cls, blob: bytes, seed: int = 7) -> "CuckooFilter":
        table = np.frombuffer(blob, dtype=np.uint16).reshape(-1, cls.SLOTS).copy()
        obj = cls.__new__(cls)
        obj.n_buckets = table.shape[0]
        obj.table = table
        obj._rng = np.random.RandomState(seed)
        return obj


# ---------------------------------------------------------------------------
# Cuckoo sidecar as a Spark table (D5 WIRED): same partitioned-(bucket, salt)
# layout and narrow probe contract as the bloom sidecar, plus the one thing
# blooms cannot do — O(delta) DELETION.  This is the engine's fallback
# seen-filter for retraction-heavy crawls (frontier retractions on robots/
# policy change): a bloom sidecar must be rebuilt from the full seen table
# after any retraction, a cuckoo sidecar deletes just the retracted
# fingerprints.  Exactness is unaffected either way (the sidecar is a
# prefilter; the (url_hash, url) anti-join stays exact) — parity-tested in
# tests/test_retraction.py.
# ---------------------------------------------------------------------------

CUCKOO_SCHEMA = (
    "host_bucket int, salt int, n long, capacity long, table binary"
)
#: a fresh sub-filter is sized with 2× headroom so several waves of deltas
#: insert in place (amortized-doubling, like compaction); the engine
#: full-rebuilds a group whose live count approaches capacity
CUCKOO_HEADROOM = 2.0


def build_cuckoos(
    seen: DataFrame, hash_col: str = "url_hash", salt: int = spec.BLOOM_SALT
) -> DataFrame:
    """Full build: one cuckoo sub-filter per (host_bucket, hash%salt), the
    same uniform-load fan-out as :func:`build_blooms`."""

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        hashes = pdf[hash_col].to_numpy()
        cap = max(64, int(len(hashes) * CUCKOO_HEADROOM))
        cf = CuckooFilter(capacity=cap)
        ins = cf.insert_many(hashes)
        if ins < len(hashes):  # cannot happen at 2x headroom; hard-fail > FN
            raise RuntimeError("cuckoo full build overflow")
        return pd.DataFrame(
            {
                "host_bucket": [int(pdf["host_bucket"].iloc[0])],
                "salt": [int(pdf["_csalt"].iloc[0])],
                "n": [len(hashes)],
                "capacity": [cap],
                "table": [cf.to_bytes()],
            }
        )

    sub = seen.select("host_bucket", hash_col).withColumn(
        "_csalt", F.pmod(F.col(hash_col), F.lit(max(1, salt))).cast("int")
    )
    return sub.groupBy("host_bucket", "_csalt").applyInPandas(_build, CUCKOO_SCHEMA)


def cuckoo_update(
    cuckoos: DataFrame,
    adds: DataFrame | None = None,
    dels: DataFrame | None = None,
    salt: int = spec.BLOOM_SALT,
) -> DataFrame:
    """O(delta) sidecar maintenance: cogroup the (wave-sized) delta rows with
    their (bucket, salt) sub-filter, ``insert_many`` the additions and
    ``delete_many`` the retractions in place.

    Deletion precondition (the public cuckoo-filter rule): every deleted key
    MUST have been inserted — the engine guarantees it by semi-joining
    retractions against the seen table first.  A group seen only in the
    delta (no existing sub-filter) gets a fresh filter; a group whose
    additions no longer fit emits ``ok = false`` and the engine falls back
    to a full rebuild of the sidecar (never a silent false-negative).
    Output schema = CUCKOO_SCHEMA + ``ok boolean``; shuffle cost is
    O(sidecar bytes + delta rows) — vs the bloom path's full re-read of the
    seen table on any retraction."""
    spark = cuckoos.sparkSession
    empty = "host_bucket int, url_hash long, _op int"
    deltas = []
    if adds is not None:
        deltas.append(
            adds.select("host_bucket", "url_hash").withColumn("_op", F.lit(1))
        )
    if dels is not None:
        deltas.append(
            dels.select("host_bucket", "url_hash").withColumn("_op", F.lit(-1))
        )
    delta = (
        deltas[0] if len(deltas) == 1
        else deltas[0].unionByName(deltas[1]) if deltas
        else spark.createDataFrame([], empty)
    )
    out_schema = CUCKOO_SCHEMA + ", ok boolean"

    def _update(d: pd.DataFrame, tbl: pd.DataFrame) -> pd.DataFrame:
        if len(tbl) == 0:
            if len(d) == 0:
                return pd.DataFrame(
                    columns=["host_bucket", "salt", "n", "capacity", "table", "ok"]
                ).astype({"host_bucket": "int32", "salt": "int32", "n": "int64",
                          "capacity": "int64", "ok": "bool"})
            ins_h = d.loc[d["_op"] > 0, "url_hash"].to_numpy()
            cap = max(64, int(len(ins_h) * CUCKOO_HEADROOM))
            cf = CuckooFilter(capacity=cap)
            ok = cf.insert_many(ins_h) == len(ins_h)
            bucket = int(d["host_bucket"].iloc[0])
            s = int(d["_dsalt"].iloc[0])
            return pd.DataFrame(
                {"host_bucket": [bucket], "salt": [s], "n": [len(ins_h)],
                 "capacity": [cap], "table": [cf.to_bytes()], "ok": [ok]}
            )
        row = tbl.iloc[0]
        cf = CuckooFilter.from_bytes(row["table"])
        n = int(row["n"])
        ok = True
        if len(d):
            del_h = d.loc[d["_op"] < 0, "url_hash"].to_numpy()
            if len(del_h):
                n -= cf.delete_many(del_h)
            ins_h = d.loc[d["_op"] > 0, "url_hash"].to_numpy()
            if len(ins_h):
                done = cf.insert_many(ins_h)
                n += done
                ok = done == len(ins_h)
        return pd.DataFrame(
            {"host_bucket": [int(row["host_bucket"])], "salt": [int(row["salt"])],
             "n": [n], "capacity": [int(row["capacity"])],
             "table": [cf.to_bytes()], "ok": [ok]}
        )

    delta_s = delta.withColumn(
        "_dsalt", F.pmod(F.col("url_hash"), F.lit(max(1, salt))).cast("int")
    )
    return (
        delta_s.groupBy("host_bucket", "_dsalt")
        .cogroup(cuckoos.groupBy("host_bucket", "salt"))
        .applyInPandas(_update, out_schema)
    )


# ---------------------------------------------------------------------------
# Probe (D3): one entry point for both sidecar kinds
# ---------------------------------------------------------------------------

_MAYBE_SCHEMA = "host_bucket int, url_hash long"


def probe_maybe(
    candidates: DataFrame, sidecar: DataFrame, salt: int = spec.BLOOM_SALT
) -> DataFrame:
    """D3: the ``(host_bucket, url_hash)`` candidate rows the sidecar flags
    as 'maybe seen'.  Rows outside this set are DEFINITELY new (neither
    filter kind false-negatives); rows inside it go on to the exact
    anti-join (D1).  The kind comes from the sidecar's own columns:
    ``bloom`` (:func:`build_blooms`) or ``table`` (:func:`build_cuckoos`).
    ``salt`` must be the salt the sidecar was built with.

    The Arrow boundary carries 12 bytes/candidate in and an FP-rate-sized
    set out; callers re-attach the verdict with broadcast joins on the hash.

    Strategy (one size read, like a broadcast-vs-shuffle join pick):

    * a bloom sidecar of at most ``min(spec.BLOOM_BCAST_MAX_BYTES, driver
      heap / 8)`` bytes → map-side probe: the whole sidecar ships to
      executors once and every scan task probes its own batches in place —
      zero candidate shuffle, no cogroup sort.  The driver bound is a
      memory guard: the collect holds the blobs, their concatenation and
      the broadcast copy (~3× the sidecar) in the DRIVER heap;
    * a larger bloom sidecar, and every cuckoo sidecar → cogroup of each
      (bucket, hash%salt) candidate group with exactly its sub-filter — no
      driver collect, no blob replication, uniform tasks under host skew.
    """
    if "bloom" not in sidecar.columns:
        return _cogroup_probe(candidates, sidecar, salt, _cuckoo_hits)
    total = sidecar.select((F.sum("m") / 8).cast("long")).collect()[0][0] or 0
    limit = min(
        spec.BLOOM_BCAST_MAX_BYTES, _driver_mem_bytes(candidates.sparkSession) // 8
    )
    if total > limit:
        return _cogroup_probe(candidates, sidecar, salt, _bloom_hits)
    return _bloom_bcast_probe(candidates, sidecar, salt)


def _bloom_hits(hashes: np.ndarray, sub: pd.Series) -> np.ndarray:
    words = np.frombuffer(sub["bloom"], dtype=np.uint64)
    return bloom_probe_bits(hashes, words, int(sub["m"]), int(sub["k"]))


def _cuckoo_hits(hashes: np.ndarray, sub: pd.Series) -> np.ndarray:
    return CuckooFilter.from_bytes(sub["table"]).contains_many(hashes)


def _cogroup_probe(
    candidates: DataFrame, sidecar: DataFrame, salt: int, hits
) -> DataFrame:
    """Cogroup each (bucket, hash%salt) candidate group with its one
    sub-filter row; ``hits(hashes, sub_filter_row)`` is the kind's test."""

    def _probe(cand: pd.DataFrame, sub: pd.DataFrame) -> pd.DataFrame:
        if len(cand) == 0 or len(sub) == 0:
            return pd.DataFrame(
                {"host_bucket": pd.Series([], dtype="int32"),
                 "url_hash": pd.Series([], dtype="int64")}
            )
        hit = hits(cand["url_hash"].to_numpy(), sub.iloc[0])
        return cand[hit][["host_bucket", "url_hash"]]

    cand_s = candidates.select("host_bucket", "url_hash").withColumn(
        "_psalt", F.pmod(F.col("url_hash"), F.lit(max(1, salt))).cast("int")
    )
    return (
        cand_s.groupBy("host_bucket", "_psalt")
        .cogroup(sidecar.groupBy("host_bucket", "salt"))
        .applyInPandas(_probe, _MAYBE_SCHEMA)
    )


def _driver_mem_bytes(spark) -> int:
    """Configured driver heap in bytes (the JVM the collect lands in)."""
    raw = (spark.conf.get("spark.driver.memory", "1g") or "1g").strip().lower()
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    if raw[-1] in units:
        return int(float(raw[:-1]) * units[raw[-1]])
    return int(raw)  # plain bytes


def _bloom_bcast_probe(
    candidates: DataFrame, blooms: DataFrame, salt: int
) -> DataFrame:
    """Map-side probe against the collected, broadcast bloom sidecar.  All
    sub-filters are concatenated into ONE flat uint64 array with per-
    (bucket, salt) offsets, so a mixed-group batch probes in one vectorized
    gather (:func:`bloom_probe_bits_multi`) — no per-group Python loop."""
    spark = candidates.sparkSession
    rows = blooms.select("host_bucket", "salt", "n", "m", "k", "bloom").collect()
    if not rows:
        return spark.createDataFrame([], _MAYBE_SCHEMA)
    k = int(rows[0]["k"])
    n_b = max(int(r["host_bucket"]) for r in rows) + 1
    n_groups = n_b * salt
    off = np.zeros(n_groups, dtype=np.uint64)
    m_arr = np.zeros(n_groups, dtype=np.uint64)  # m == 0 → no sub-filter
    parts: list[np.ndarray] = []
    cursor = 0
    for r in rows:
        gid = int(r["host_bucket"]) * salt + int(r["salt"])
        w = np.frombuffer(r["bloom"], dtype=np.uint64)
        off[gid] = cursor
        m_arr[gid] = int(r["m"])
        parts.append(w)
        cursor += len(w)
    words = np.concatenate(parts) if parts else np.zeros(0, dtype=np.uint64)
    bc = spark.sparkContext.broadcast((words, off, m_arr, k, salt, n_b))

    def _probe(batches):
        w_b, off_b, m_b, k_b, salt_b, nb_b = bc.value
        for pdf in batches:
            h = pdf["url_hash"].to_numpy()
            bucket = pdf["host_bucket"].to_numpy()
            gid = bucket.astype(np.int64) * salt_b + (h % salt_b)
            ok = (bucket >= 0) & (bucket < nb_b)
            gid = np.where(ok, gid, 0)
            m_row = m_b[gid]
            present = ok & (m_row > 0)
            hit = np.zeros(len(h), dtype=bool)
            if present.any():
                idx = np.flatnonzero(present)
                hit[idx] = bloom_probe_bits_multi(
                    h[idx], w_b, off_b[gid[idx]], m_b[gid[idx]], k_b
                )
            yield pdf[hit]

    return candidates.select("host_bucket", "url_hash").mapInPandas(
        _probe, _MAYBE_SCHEMA
    )
