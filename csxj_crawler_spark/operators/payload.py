"""Image payload path: decode → validate → pHash → near-dup prune over
``banding.hamming_pairs`` (BASELINE.json:6/15; SURVEY.md §2.3 D6, §2.10).

All per-image work happens inside Arrow-batched ``mapInPandas`` /
``applyInPandas`` over the ``images_captions`` table (exact input_hint
schema) — numpy on decoded buffers, no per-row Python in Spark's row space.
The decode step is format-pluggable: raw/ppm/png decode with pure numpy in
this container (no PIL/cv2 — verified); lossy formats (jpeg) would gate on
PSNR ≥ 40 dB via the same ``validate_payloads`` plan and raise
``NotImplementedError`` here only at decode time.

Multimodal plumbing (task brief): ``extract_image_features`` shows the
schema/batch shape for feature extraction over opaque binary columns with a
deterministic stand-in for the library-backed featurizer.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from csxj_crawler_spark import spec
from csxj_crawler_spark.functions import images as I
from csxj_crawler_spark.operators import banding


def decode_phash_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas core: decode bytes per fmt, recompute w/h/phash."""
    for pdf in it:
        n = len(pdf)
        out = {
            "image_id": pdf["image_id"],
            "dec_w": np.zeros(n, dtype=np.int32),
            "dec_h": np.zeros(n, dtype=np.int32),
            "phash_re": np.zeros(n, dtype=np.int64),
            "decode_ok": np.zeros(n, dtype=bool),
        }
        for i, (blob, fmt, w, h) in enumerate(
            zip(pdf["bytes"], pdf["fmt"], pdf["w"], pdf["h"])
        ):
            try:
                pix = I.decode_image(bytes(blob), fmt, int(w), int(h))
                out["dec_h"][i], out["dec_w"][i] = pix.shape[0], pix.shape[1]
                out["phash_re"][i] = I.phash64(pix)
                out["decode_ok"][i] = True
            except Exception:
                out["decode_ok"][i] = False
        yield pd.DataFrame(out)


DECODE_SCHEMA = "image_id string, dec_w int, dec_h int, phash_re long, decode_ok boolean"


def decode_and_phash(images: DataFrame) -> DataFrame:
    """Recompute (w, h, phash) from the encoded payload — Arrow batches."""
    return images.select("image_id", "bytes", "fmt", "w", "h").mapInPandas(
        decode_phash_batches, DECODE_SCHEMA
    )


def validate_payloads(images: DataFrame, golden: DataFrame) -> DataFrame:
    """Per-row fidelity vs the reference pixels (BASELINE.json:15):
    decoded-pixel allclose for lossless fmts, PSNR ≥ 40 dB for lossy;
    cogrouped per image_id bucket so blobs never shuffle twice."""

    def _check(img: pd.DataFrame, gold: pd.DataFrame) -> pd.DataFrame:
        g = {r.image_id: r for r in gold.itertuples()}
        rows = []
        for r in img.itertuples():
            ok = False
            psnr_v = None
            try:
                pix = I.decode_image(bytes(r.bytes), r.fmt, int(r.w), int(r.h))
                gr = g.get(r.image_id)
                if gr is not None:
                    ref = np.frombuffer(bytes(gr.pixels), dtype=np.uint8).reshape(
                        int(gr.h), int(gr.w), 3
                    )
                    if pix.shape == ref.shape:
                        p = I.psnr(pix, ref)
                        psnr_v = None if np.isinf(p) else float(p)
                        if r.fmt in I.LOSSLESS_FMTS:
                            ok = bool(np.allclose(pix, ref))
                        else:
                            ok = p >= 40.0
            except Exception:
                ok = False
            rows.append((r.image_id, ok, psnr_v))
        return pd.DataFrame(rows, columns=["image_id", "pixels_ok", "psnr"])

    n_buckets = 16
    ib = images.withColumn("b", F.pmod(F.xxhash64("image_id"), F.lit(n_buckets)))
    gb = golden.withColumn("b", F.pmod(F.xxhash64("image_id"), F.lit(n_buckets)))
    return (
        ib.groupBy("b")
        .cogroup(gb.groupBy("b"))
        .applyInPandas(
            lambda left, right: _check(left, right),
            "image_id string, pixels_ok boolean, psnr double",
        )
    )


def phash_prune_keep_first(images: DataFrame, t: int = spec.PHASH_HAMMING_T) -> DataFrame:
    """D6 prune rule: drop an image when a lexicographically-smaller image_id
    shares one of its four 16-bit phash bands and lies within Hamming t
    (greedy keep-first, matching the frontier's keep-min-discovered_seq
    semantics).  The pairs come from :func:`banding.hamming_pairs`, the band
    join SimHash uses; its cap bounds the bucket flat images share."""
    pairs, _obs = banding.hamming_pairs(images, "image_id", "phash", t)
    dropped = pairs.select(F.col("image_id_b").alias("image_id")).distinct()
    return images.join(dropped, "image_id", "left_anti")


# ---------------------------------------------------------------------------
# Multimodal plumbing (decode / feature-extract / resize / frame-sample)
# ---------------------------------------------------------------------------

FEATURE_SCHEMA = (
    "image_id string, feat array<double>, thumb_w int, thumb_h int, backend string"
)


def extract_image_features(images: DataFrame, thumb: int = 8) -> DataFrame:
    """Feature extraction over opaque binary payloads via mapInPandas.

    Real image libs are absent in this container, so the featurizer is a
    deterministic stand-in (per-channel means of an area-resampled thumb);
    swap ``_featurize`` for a model-backed one (same schema, same batching).
    A genuinely undecodable format raises ``NotImplementedError`` up front.
    """

    def _featurize(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for r in pdf.itertuples():
                fmt = r.fmt
                if fmt not in I.DECODERS:
                    raise NotImplementedError(
                        f"no decoder for fmt={fmt!r} in this environment"
                    )
                pix = I.decode_image(bytes(r.bytes), fmt, int(r.w), int(r.h))
                gray = pix.astype(np.float64)
                small = np.stack(
                    [I._resize_area(gray[:, :, c], thumb) for c in range(3)], -1
                )
                feat = np.round(small.mean(axis=(0, 1)) / 255.0, 6)
                rows.append((r.image_id, feat.tolist(), thumb, thumb, "numpy-stub"))
            yield pd.DataFrame(
                rows, columns=["image_id", "feat", "thumb_w", "thumb_h", "backend"]
            )

    return images.select("image_id", "bytes", "fmt", "w", "h").mapInPandas(
        _featurize, FEATURE_SCHEMA
    )
