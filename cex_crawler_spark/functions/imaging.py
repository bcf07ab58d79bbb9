"""Deterministic image codecs for the binary payload column.

The engine treats images as opaque ``binary`` columns with typed metadata
(w, h, fmt) — cf. BASELINE input_hint.  This container ships no imaging
libraries, so:

- ``png``: a REAL, self-contained PNG codec (stdlib ``zlib`` + ``struct``,
  8-bit RGB, filter type 0).  Lossless — decode(encode(x)) == x exactly.
- ``jpeg``: a DETERMINISTIC FAKE lossy codec (STUB standing in for a real
  JPEG library).  It quantizes each channel to multiples of 4 and
  zlib-compresses, giving a bounded reconstruction error (PSNR ≈ 44 dB,
  comfortably ≥ the 40 dB invariant) with byte-stable output.  The Spark
  plumbing around it — binary column, Arrow batches, validation UDF — is
  real; swap ``_fake_jpeg_*`` for Pillow/libjpeg calls in production.

All functions are pure and vectorization-friendly (numpy in, bytes out);
they run inside pandas UDFs / mapInPandas, never per-row Python UDFs.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def png_encode(arr: np.ndarray) -> bytes:
    """Encode an (h, w, 3) uint8 array as a valid RGB8 PNG."""
    if arr.dtype != np.uint8 or arr.ndim != 3 or arr.shape[2] != 3:
        raise ValueError("png_encode expects (h, w, 3) uint8")
    h, w, _ = arr.shape
    # filter type 0 (None) per scanline
    raw = (
        np.concatenate([np.zeros((h, 1), np.uint8), arr.reshape(h, w * 3)], axis=1)
        .tobytes()
    )
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw, 6))
        + _png_chunk(b"IEND", b"")
    )


def png_decode(data: bytes) -> np.ndarray:
    """Decode a PNG produced by :func:`png_encode` (filter-0 RGB8 only)."""
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos, w, h, idat = 8, None, None, b""
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        if tag == b"IHDR":
            w, h, bit_depth, color_type = struct.unpack(">IIBB", payload[:10])
            if (bit_depth, color_type) != (8, 2):
                raise ValueError("only 8-bit RGB supported")
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
        pos += 12 + length
    raw = np.frombuffer(zlib.decompress(idat), np.uint8).reshape(h, w * 3 + 1)
    if (raw[:, 0] != 0).any():
        raise ValueError("only filter type 0 supported")
    return raw[:, 1:].reshape(h, w, 3).copy()


_FJPG_SIG = b"FJPG"
_Q = 4  # quantization step of the fake lossy codec


def fake_jpeg_encode(arr: np.ndarray) -> bytes:
    """STUB lossy codec: channel quantization to multiples of 4 + zlib.

    Stands in for a real JPEG encoder (not available in this sandbox).
    Deterministic; reconstruction error ≤ 2/255 per channel → PSNR ≈ 44 dB.
    """
    if arr.dtype != np.uint8 or arr.ndim != 3 or arr.shape[2] != 3:
        raise ValueError("fake_jpeg_encode expects (h, w, 3) uint8")
    h, w, _ = arr.shape
    q = np.clip((arr.astype(np.int32) + _Q // 2) // _Q * _Q, 0, 255).astype(np.uint8)
    return _FJPG_SIG + struct.pack(">II", w, h) + zlib.compress(q.tobytes(), 6)


def fake_jpeg_decode(data: bytes) -> np.ndarray:
    if data[:4] != _FJPG_SIG:
        raise ValueError("not a fake-jpeg payload")
    w, h = struct.unpack(">II", data[4:12])
    return np.frombuffer(zlib.decompress(data[12:]), np.uint8).reshape(h, w, 3).copy()


def decode_image(data: bytes, fmt: str) -> np.ndarray:
    if fmt == "png":
        return png_decode(data)
    if fmt == "jpeg":
        return fake_jpeg_decode(data)
    raise NotImplementedError(f"unsupported image format: {fmt!r}")


def encode_image(arr: np.ndarray, fmt: str) -> bytes:
    if fmt == "png":
        return png_encode(arr)
    if fmt == "jpeg":
        return fake_jpeg_encode(arr)
    raise NotImplementedError(f"unsupported image format: {fmt!r}")


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB between two uint8 arrays."""
    if a.shape != b.shape:
        return 0.0
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0.0:
        return float("inf")
    return float(10.0 * np.log10(255.0**2 / mse))


def reference_pixels(image_id: str, w: int, h: int) -> np.ndarray:
    """The ground-truth pixel pattern for an image_id — a seeded PRNG field.

    Pure function of (image_id, w, h): identical on every executor and in
    the single-node replayer, so payload validation can recompute the
    reference decode without shipping golden files.
    """
    seed = zlib.crc32(image_id.encode("utf-8")) & 0xFFFFFFFF
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)


def phash64(arr: np.ndarray) -> int:
    """Perceptual-hash stand-in: 64-bit average-hash over an 8×8 downsample.

    A real pHash uses a DCT; the average-hash variant is deterministic,
    pure-numpy, and adequate as a near-dup signal for the synthetic corpus.
    Returns a signed int64 (Spark LongType-compatible).
    """
    h, w, _ = arr.shape
    gray = arr.astype(np.float64).mean(axis=2)
    # average-pool to 8×8 via index binning (works for any h, w >= 8)
    ys = (np.arange(8 + 1) * h // 8).clip(1)
    xs = (np.arange(8 + 1) * w // 8).clip(1)
    cells = np.empty((8, 8))
    for i in range(8):
        for j in range(8):
            cells[i, j] = gray[ys[i] : max(ys[i + 1], ys[i] + 1), xs[j] : max(xs[j + 1], xs[j] + 1)].mean()
    bits = (cells > cells.mean()).flatten()
    val = 0
    for b in bits:
        val = (val << 1) | int(b)
    if val >= 1 << 63:
        val -= 1 << 64
    return val
