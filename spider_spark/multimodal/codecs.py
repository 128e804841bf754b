"""Real in-sandbox media codecs: 24-bit BMP and PCM-16 WAV, stdlib-only.

The container has no image/audio libraries, but two real container
formats need none: uncompressed Windows BMP (struct-packed headers +
raw BGR rows, 4-byte row padding, bottom-up) and RIFF WAVE PCM-16
(stdlib ``wave``). These make the multimodal decode path END-TO-END
real for the image and audio modalities: the corpus carries genuine
BMP/WAV bytes, and the Arrow decode kernels parse actual containers
instead of a deterministic fake. Video stays a stub (every real video
container needs external codecs) — honestly labelled where used.

Synthesis is deterministic (hash-seeded), so every table derived from
payload bytes is reproducible across engines and runs.
"""

from __future__ import annotations

import hashlib
import io
import struct
import wave

import numpy as np

# ------------------------------------------------------------------ BMP

_BMP_HEADER = struct.Struct("<2sIHHI")  # magic, file size, res, res, px offset
_DIB_HEADER = struct.Struct("<IiiHHIIiiII")  # BITMAPINFOHEADER


def encode_bmp(pixels: np.ndarray) -> bytes:
    """(H, W, 3) uint8 RGB -> 24-bit uncompressed BMP bytes."""
    h, w, c = pixels.shape
    if c != 3:
        raise ValueError("encode_bmp wants (H, W, 3) RGB")
    row_len = (w * 3 + 3) & ~3  # each row padded to a 4-byte boundary
    px_offset = _BMP_HEADER.size + _DIB_HEADER.size
    # one vectorised fill: rows land pre-padded, no per-row Python loop
    body = np.zeros((h, row_len), dtype=np.uint8)
    body[:, : w * 3] = pixels[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up, BGR
    n_body = row_len * h
    return (
        _BMP_HEADER.pack(b"BM", px_offset + n_body, 0, 0, px_offset)
        + _DIB_HEADER.pack(_DIB_HEADER.size, w, h, 1, 24, 0, n_body, 2835, 2835, 0, 0)
        + body.tobytes()
    )


def decode_bmp(data: bytes) -> np.ndarray:
    """BMP bytes -> (H, W, 3) uint8 RGB. Supports the 24-bit
    uncompressed BITMAPINFOHEADER layout encode_bmp writes (the
    overwhelmingly common on-disk BMP)."""
    magic, _, _, _, px_offset = _BMP_HEADER.unpack_from(data, 0)
    if magic != b"BM":
        raise ValueError("not a BMP")
    _, w, h, _, bpp, comp = struct.unpack_from("<IiiHHI", data, _BMP_HEADER.size)
    if bpp != 24 or comp != 0:
        raise ValueError(f"unsupported BMP variant: bpp={bpp} compression={comp}")
    flip = h > 0  # positive height = bottom-up storage
    h = abs(h)
    row_len = (w * 3 + 3) & ~3
    rows = np.frombuffer(data, dtype=np.uint8, count=row_len * h, offset=px_offset)
    rows = rows.reshape(h, row_len)[:, : w * 3].reshape(h, w, 3)
    rgb = rows[:, :, ::-1]
    return (rgb[::-1] if flip else rgb).copy()


# ------------------------------------------------------------------ WAV

WAV_RATE = 8000


def encode_wav(samples: np.ndarray) -> bytes:
    """int16 mono samples -> RIFF WAVE PCM-16 bytes."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(WAV_RATE)
        w.writeframes(samples.astype("<i2").tobytes())
    return buf.getvalue()


def decode_wav(data: bytes) -> tuple[int, np.ndarray]:
    """WAV bytes -> (sample_rate, int16 mono samples)."""
    with wave.open(io.BytesIO(data), "rb") as w:
        rate = w.getframerate()
        n = w.getnframes()
        raw = w.readframes(n)
        arr = np.frombuffer(raw, dtype="<i2")
        if w.getnchannels() > 1:  # fold multi-channel to mono
            arr = arr.reshape(-1, w.getnchannels()).mean(axis=1).astype(np.int16)
    return rate, arr


# ----------------------------------------------------- deterministic synth

IMG_W, IMG_H = 128, 96
WAV_SECONDS = 0.25


def _seed_floats(key: str, n: int) -> np.ndarray:
    """n deterministic floats in [0, 1) from a sha256 hash chain."""
    out = np.empty(n, dtype=np.float64)
    i, block = 0, 0
    while i < n:
        d = hashlib.sha256(f"{key}:{block}".encode()).digest()
        take = min((n - i), 8)
        for j in range(take):
            out[i + j] = int.from_bytes(d[j * 4 : j * 4 + 4], "big") / 2**32
        i += take
        block += 1
    return out


def synth_image(asset: int, variant: int = 0) -> np.ndarray:
    """Deterministic smooth test image (H, W, 3) for asset id ``asset``:
    a RICH low-frequency random field — 8×8 hash-drawn DCT coefficients
    (1/(1+u+v) amplitude decay, no DC) inverse-transformed to pixels.

    Design rationale (margins measured across the full 60-asset ring):
    pHash thresholds the low-frequency DCT block at its MEDIAN, so the
    block must carry signal in every cell — sparse content (a couple of
    gratings) leaves most coefficients noise-dominated and the bits
    flip under any perturbation (measured same-asset hamming 22 there).
    A full random low-freq field gives same-asset variants ≤ 2, 1-px
    shift ≤ 4, 1.08× brightness ≤ 2, while distinct assets sit ≥ 16.
    ``variant`` adds a small local brightness dent — the stand-in for a
    lightly-edited copy."""
    p = _seed_floats(f"img:{asset}", 64).reshape(8, 8)
    coef = (p - 0.5) * 2 / (1.0 + np.add.outer(np.arange(8), np.arange(8)))
    coef[0, 0] = 0.0
    by = np.cos(np.pi / IMG_H * np.outer(np.arange(8), np.arange(IMG_H) + 0.5))
    bx = np.cos(np.pi / IMG_W * np.outer(np.arange(8), np.arange(IMG_W) + 0.5))
    field = by.T @ coef @ bx
    lum = 128 + 90 * field / np.abs(field).max()
    if variant:
        q = _seed_floats(f"var:{asset}:{variant}", 2)
        cy, cx = int(q[0] * IMG_H), int(q[1] * IMG_W)
        lum[max(0, cy - 2) : cy + 3, max(0, cx - 2) : cx + 3] += 12.0
    img = np.empty((IMG_H, IMG_W, 3), dtype=np.uint8)
    p2 = _seed_floats(f"chan:{asset}", 2)
    chan_gain = (1.0, 0.9 + 0.2 * p2[0], 0.9 + 0.2 * p2[1])
    for c, gain in enumerate(chan_gain):
        img[:, :, c] = np.clip(lum * gain, 0, 255).astype(np.uint8)
    return img


def synth_audio(asset: int, variant: int = 0) -> np.ndarray:
    """Deterministic test waveform: two hash-derived tones + a variant
    amplitude tweak. int16 mono, WAV_SECONDS long."""
    p = _seed_floats(f"aud:{asset}", 4)
    n = int(WAV_RATE * WAV_SECONDS)
    t = np.arange(n) / WAV_RATE
    f1, f2 = 200 + p[0] * 800, 1000 + p[1] * 2000
    sig = 0.6 * np.sin(2 * np.pi * f1 * t + p[2] * 6.28) + 0.3 * np.sin(
        2 * np.pi * f2 * t + p[3] * 6.28
    )
    if variant:
        sig *= 1.0 + 0.05 * (variant % 3)
    return (sig * 12000).astype(np.int16)
