"""Deterministic payload synthesis — the sandbox stand-in for the network.

``page_for(image_id)`` is a pure function mapping an image_id to the
exact page body a fetch of that URL yields: encoded image bytes + typed
metadata + caption.  It is the fetch simulator's network stand-in
(operators/fetch.py, via mapInPandas) — the analog of the reference's
browser fetch (exchange/base_scraper.py:78-143), which in this sandbox
must be deterministic and network-free.

``payload_for(image_id)`` is that page plus the perceptual hash of its
pixels — the full payload-table row, used by the payload-table
generator (synth.gen_payloads, via mapInPandas) and the image queries.
A crawl round stores no hash, so the fetch stage never computes one.

The validator recomputes the reference decode (``reference_decode``)
and caption (``caption_for``) independently of the page, and the
single-node replayer oracle uses the same ``caption_for``, so the
per-row invariant (decoded-pixel PSNR ≥ 40 dB + caption equality,
BASELINE input_hint) is checkable without golden files.
"""

from __future__ import annotations

from datetime import datetime, timedelta

import numpy as np

from .functions.hashing import xxh64_str
from .functions.imaging import encode_image, phash64, reference_pixels

# Fixed "now" — mirrors synth.BASE_TIME (no wall-clock in the data path).
BASE_TIME = datetime(2025, 9, 12, 0, 0, 0)

ACTIONS = ["Listing", "Delisting", "上架", "下架", "removal", "上线"]


def _u(tag: str, image_id: str) -> int:
    """Unsigned 64-bit hash of (tag, image_id)."""
    return xxh64_str(f"{tag}|{image_id}") & ((1 << 64) - 1)


def caption_for(image_id: str) -> str:
    action = ACTIONS[_u("cact", image_id) % len(ACTIONS)]
    sym = _u("csym", image_id) % 500
    day = (BASE_TIME - timedelta(days=_u("cday", image_id) % 60)).strftime("%Y-%m-%d")
    batch = _u("cb", image_id) % 100
    return f"{action} of SYM{sym}/USDT scheduled {day} batch {batch}"


def shape_for(image_id: str) -> tuple[int, int, str]:
    w = 16 + _u("w", image_id) % 49
    h = 16 + _u("h", image_id) % 49
    fmt = "png" if _u("fmt", image_id) % 2 == 0 else "jpeg"
    return w, h, fmt


def _page_and_pixels(image_id: str) -> tuple[dict, np.ndarray]:
    w, h, fmt = shape_for(image_id)
    arr = reference_pixels(image_id, w, h)
    page = {
        "image_id": image_id,
        "bytes": encode_image(arr, fmt),
        "w": w,
        "h": h,
        "fmt": fmt,
        "caption": caption_for(image_id),
    }
    return page, arr


def page_for(image_id: str) -> dict:
    """What a fetch of the URL returns: image_id, bytes, w, h, fmt, caption."""
    return _page_and_pixels(image_id)[0]


def payload_for(image_id: str) -> dict:
    """Full payload row: the fetched page plus its ``phash``."""
    page, arr = _page_and_pixels(image_id)
    page["phash"] = phash64(arr)
    return page


def reference_decode(image_id: str) -> np.ndarray:
    """Ground-truth pixels the validator compares decodes against."""
    w, h, _ = shape_for(image_id)
    return reference_pixels(image_id, w, h)
