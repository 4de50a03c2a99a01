"""Occupancy-capped LSH band self-join — the shared scale guard for every
banding family (MinHash J6, SimHash, pHash D6, hyperplane-ANN): one band
join, ``band_pairs`` for narrow band frames and ``hamming_pairs`` for 64-bit
Hamming hashes.

Why: a band self-join generates k·(k-1)/2 pairs for a bucket of occupancy
k.  With 16-bit band values there are at most 65,536 buckets per band, so a
single degenerate value (empty documents all SimHash to 0; a boilerplate
page class shares one MinHash band; a flat image phash-bands to 0) turns
into one quadratic straggler task at 100 TB while every other task is
milliseconds.  The public fix (used by large-scale dedup pipelines and
DataSketches-style LSH) is a per-bucket occupancy cap: a bucket keeps its
``cap`` smallest ids (deterministic), overflow is DROPPED FROM THAT BUCKET
ONLY — the member survives in its other bands, so recall degrades gracefully
instead of the job dying.

No silent caps: the number of dropped band rows is attached to the SAME
action via ``DataFrame.observe`` (zero extra Spark jobs); callers receive an
``Observation`` whose ``band_rows_dropped`` / ``max_bucket_occupancy``
metrics are available after any action on the result, and tests assert them
on a skewed fixture (tests/test_plans.py).

Plan shape: the ranking window partitions by the SAME keys the self-join
hashes on, so the window's exchange is reused by the join (no extra
shuffle) — asserted in tests/test_plans.py.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from csxj_crawler_spark import spec

_obs_counter = itertools.count()


def cap_band_buckets(
    bands: DataFrame,
    key_cols: list[str],
    id_col: str,
    cap: int | None = None,
) -> tuple[DataFrame, Observation]:
    """Bound every band bucket to its ``cap`` lowest-``id_col`` members.

    Returns ``(capped_bands, observation)``; the observation's metrics
    (``band_rows``, ``band_rows_dropped``, ``max_bucket_occupancy``) are
    collected by whatever action later runs the returned frame."""
    cap = spec.BAND_BUCKET_CAP if cap is None else cap
    w = Window.partitionBy(*key_cols).orderBy(id_col)
    ranked = bands.withColumn("_brank", F.row_number().over(w))
    obs = Observation(f"band_cap_{next(_obs_counter)}")
    observed = ranked.observe(
        obs,
        F.count(F.lit(1)).alias("band_rows"),
        F.sum((F.col("_brank") > cap).cast("long")).alias("band_rows_dropped"),
        F.max("_brank").alias("max_bucket_occupancy"),
    )
    return observed.filter(F.col("_brank") <= cap).drop("_brank"), obs


def _bucket_self_join(capped: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """``a``/``b``-aliased equi-join of capped band rows sharing a bucket,
    ``a.id < b.id``."""
    a, b = capped.alias("a"), capped.alias("b")
    cond = (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    for k in key_cols:
        cond = cond & (F.col(f"a.{k}") == F.col(f"b.{k}"))
    return a.join(b, cond)


def band_pairs(
    bands: DataFrame,
    key_cols: list[str],
    id_col: str,
    cap: int | None = None,
) -> tuple[DataFrame, Observation]:
    """Occupancy-capped band self-join: distinct candidate id pairs
    (``id_a < id_b``) sharing any band bucket.

    ``bands`` must be the NARROW banding frame (id + band keys only —
    payload columns are re-attached by the caller after pair dedup; see
    dedupops.minhash_band_keys for why)."""
    capped, obs = cap_band_buckets(bands, key_cols, id_col, cap)
    pairs = (
        _bucket_self_join(capped, key_cols, id_col)
        .select(
            F.col(f"a.{id_col}").alias(f"{id_col}_a"),
            F.col(f"b.{id_col}").alias(f"{id_col}_b"),
        )
        .dropDuplicates([f"{id_col}_a", f"{id_col}_b"])
    )
    return pairs, obs


def hamming_pairs(
    frame: DataFrame, id_col: str, hash_col: str, t: int
) -> tuple[DataFrame, Observation]:
    """Pairs of a 64-bit hash column (SimHash, pHash) within Hamming ``t``:
    four 16-bit bands → occupancy-capped equi-join on ``(band_id,
    band_val)`` → exact verify with ``bit_count(a ^ b)``.  Returns
    ``({id_col}_a, {id_col}_b, hamming)`` rows with ``id_a < id_b``, and the
    cap's observation.  The hash rides the band rows (one long is cheaper
    than two re-attach joins), so this is not :func:`band_pairs`.

    Pigeonhole: with ≤ 3 differing bits at least one of the 4 bands is
    untouched, so recall = 1 for t ≤ 3.  For 4 ≤ t ≤ 6 a pathological pair
    could spread flips across all 4 bands and be missed; tests measure
    recall against brute force on the fixtures (the generator's near-dups
    cluster their flips, so fixture recall is 1)."""
    h = F.col(hash_col)
    bands = frame.select(
        id_col,
        hash_col,
        F.posexplode(
            F.array(*[F.shiftright(h, k * 16).bitwiseAND(F.lit(0xFFFF)) for k in range(4)])
        ).alias("band_id", "band_val"),
    )
    keys = ["band_id", "band_val"]
    capped, obs = cap_band_buckets(bands, keys, id_col)
    id_a, id_b = f"{id_col}_a", f"{id_col}_b"
    pairs = (
        _bucket_self_join(capped, keys, id_col)
        .select(
            F.col(f"a.{id_col}").alias(id_a),
            F.col(f"b.{id_col}").alias(id_b),
            F.bit_count(F.col(f"a.{hash_col}").bitwiseXOR(F.col(f"b.{hash_col}")))
            .alias("hamming"),
        )
        .dropDuplicates([id_a, id_b])
        .filter(F.col("hamming") <= t)
    )
    return pairs, obs
