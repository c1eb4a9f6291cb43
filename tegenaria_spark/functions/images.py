"""Image payload codecs + perceptual hash + PSNR (input_hint columns).

The sandbox has no PIL/libjpeg, so:

- ``png``  — a real, spec-conformant PNG codec written here in pure
  Python (zlib + struct; 8-bit RGB, filter 0).  Lossless: decode is
  bit-exact.
- ``jpeg`` — a deterministic *stand-in* lossy codec (clearly marked):
  uniform quantization (step 5) of the pixel array, then PNG-encoded
  behind a ``FAKEJPG0`` magic prefix.  It is deterministic, lossy, and
  its reconstruction error (~uniform in [-2,2]) gives PSNR ≈ 45 dB, so
  the input_hint invariant "decoded-pixel allclose, PSNR≥40 dB for
  lossy" is exercised for real.  Swap ``encode_lossy``/``decode`` for a
  libjpeg binding in production — every Spark-side signature is final.

phash: the standard 64-bit perceptual hash (resize→32×32 grayscale →
2-D DCT-II → top-left 8×8 low-frequency block → median threshold),
implemented with numpy matrix products — vectorized inside the pandas
UDF, no per-pixel Python.
"""

from __future__ import annotations

import struct
import zlib
from typing import Iterator, Optional

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_FAKE_JPEG_MAGIC = b"FAKEJPG0"
_LOSSY_STEP = 5


# ---------------------------------------------------------------------------
# PNG codec (pure Python, RGB8, filter 0)
# ---------------------------------------------------------------------------


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def png_encode(pixels: np.ndarray) -> bytes:
    """Encode an (h, w, 3) uint8 array as a PNG."""
    arr = np.ascontiguousarray(pixels, dtype=np.uint8)
    h, w, c = arr.shape
    assert c == 3, "RGB only"
    # filter byte 0 prepended to every scanline
    raw = np.empty((h, 1 + w * 3), dtype=np.uint8)
    raw[:, 0] = 0
    raw[:, 1:] = arr.reshape(h, w * 3)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit, color type 2 (RGB)
    return (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        # level 1: ingest-path choice — this payload is noise-heavy, so
        # higher levels buy little size (measured ≈level-6 bytes AND
        # ≈level-6 speed here; kept at 1 as the principled ingest
        # default).  Decode (and so pixel/phash parity) is
        # level-independent.
        + _chunk(b"IDAT", zlib.compress(raw.tobytes(), 1))
        + _chunk(b"IEND", b"")
    )


def _unfilter(raw: np.ndarray, h: int, w: int) -> np.ndarray:
    """Undo PNG scanline filters (types 0-2 — all this codec emits)."""
    stride = w * 3
    rows = raw.reshape(h, 1 + stride)
    if not rows[:, 0].any():  # all filter-0 (what png_encode writes): pure reshape
        return np.ascontiguousarray(rows[:, 1:]).reshape(h, w, 3)
    out = np.zeros((h, stride), dtype=np.uint8)
    for y in range(h):
        ftype = rows[y, 0]
        line = rows[y, 1:].astype(np.int32)
        if ftype == 0:
            out[y] = line.astype(np.uint8)
        elif ftype == 1:  # Sub
            acc = line.copy()
            for x in range(3, stride):
                acc[x] = (acc[x] + acc[x - 3]) & 0xFF
            out[y] = acc.astype(np.uint8)
        elif ftype == 2:  # Up
            prev = out[y - 1].astype(np.int32) if y else np.zeros(stride, np.int32)
            out[y] = ((line + prev) & 0xFF).astype(np.uint8)
        else:
            raise ValueError(f"unsupported PNG filter {ftype}")
    return out.reshape(h, w, 3)


def png_decode(data: bytes) -> np.ndarray:
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos, w = 8, 0
    h = 0
    idat = b""
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        if tag == b"IHDR":
            w, h, depth, ctype = struct.unpack(">IIBB", payload[:10])
            if depth != 8 or ctype != 2:
                raise ValueError("only 8-bit RGB supported")
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
        pos += 12 + length
    raw = np.frombuffer(zlib.decompress(idat), dtype=np.uint8)
    return _unfilter(raw, h, w)


# ---------------------------------------------------------------------------
# Lossy stand-in codec (deterministic; PSNR ≈ 45 dB)
# ---------------------------------------------------------------------------


def encode_lossy(pixels: np.ndarray) -> bytes:
    q = (np.asarray(pixels, dtype=np.int32) // _LOSSY_STEP) * _LOSSY_STEP + _LOSSY_STEP // 2
    return _FAKE_JPEG_MAGIC + png_encode(np.clip(q, 0, 255).astype(np.uint8))


def encode_image(pixels: np.ndarray, fmt: str) -> bytes:
    return png_encode(pixels) if fmt == "png" else encode_lossy(pixels)


def decode_image(data: bytes) -> np.ndarray:
    """Decode either codec; raises on anything else (real JPEG/WebP
    would be NotImplementedError until a libjpeg binding is wired in)."""
    if data[:8] == _FAKE_JPEG_MAGIC:
        return png_decode(data[8:])
    if data[:8] == _PNG_SIG:
        return png_decode(data)
    raise NotImplementedError("unknown image codec (container has no libjpeg)")


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    a64 = np.asarray(a, dtype=np.float64)
    b64 = np.asarray(b, dtype=np.float64)
    mse = float(np.mean((a64 - b64) ** 2))
    if mse == 0.0:
        return float("inf")
    return 10.0 * np.log10(255.0**2 / mse)


# ---------------------------------------------------------------------------
# Perceptual hash
# ---------------------------------------------------------------------------

_DCT_N = 32
_k = np.arange(_DCT_N)
_DCT_MAT = np.cos(np.pi * (2 * _k[None, :] + 1) * _k[:, None] / (2 * _DCT_N))
# fixed-point DCT basis: the hash pipeline is INTEGER-EXACT end to end.
# Float reductions in numpy are alignment/SIMD-order dependent, so the
# same pixels can hash differently in driver vs executor processes when
# a coefficient lands within float-jitter of the median (observed: one
# coefficient 1e-9 from the median flipped bits between processes).
# Integer addition is associative — any summation order gives the same
# bits everywhere.  Magnitudes: |A|≤2^15, gray≤255·1000<2^18, two
# 32-length contractions add 2·(15+5) bits → <2^58, no int64 overflow.
_DCT_FIX = np.round(_DCT_MAT * (1 << 15)).astype(np.int64)


def _resize_gray_32_int(pixels: np.ndarray) -> np.ndarray:
    """Integer grayscale (×1000) + exact index-mapped resample to 32×32."""
    p = pixels.astype(np.int64)
    gray = 299 * p[..., 0] + 587 * p[..., 1] + 114 * p[..., 2]
    h, w = gray.shape
    yi = (np.arange(_DCT_N) * h // _DCT_N).clip(0, h - 1)
    xi = (np.arange(_DCT_N) * w // _DCT_N).clip(0, w - 1)
    return gray[np.ix_(yi, xi)]


def _dct_block8(g_int: np.ndarray) -> np.ndarray:
    """Top-left 8×8 of the 2-D DCT-II in exact int64 fixed-point."""
    a8 = _DCT_FIX[:8]  # (8, 32)
    return a8 @ g_int @ a8.T  # int64 matmul — exact, no BLAS


def phash64(pixels: np.ndarray) -> int:
    """64-bit pHash as signed int64 (two's complement for the LongType column)."""
    g = _resize_gray_32_int(pixels)
    block = _dct_block8(g).flatten()
    med = np.median(block[1:])  # median of ints: exact halves at worst
    bits = (block > med).astype(np.uint64)
    val = np.uint64(0)
    for b in bits:
        val = (val << np.uint64(1)) | b
    iv = int(val)
    return iv - (1 << 64) if iv >= (1 << 63) else iv


def hamming64(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


# ---------------------------------------------------------------------------
# Spark-side UDFs
# ---------------------------------------------------------------------------


@pandas_udf(LongType())
def phash_udf(blobs: pd.Series) -> pd.Series:
    """Vectorized phash over a binary image column (Arrow-batched)."""
    return blobs.map(lambda b: phash64(decode_image(bytes(b))) if b is not None else None)


def with_phash(df: DataFrame, bytes_col: str = "bytes") -> DataFrame:
    return df.withColumn("phash", phash_udf(F.col(bytes_col)))
