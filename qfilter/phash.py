"""64-bit average perceptual hash.

Gray -> 8x8 block-mean downsample -> bit per cell (cell > mean) -> big-
endian bit pack -> signed int64.  Consistent between the fixture
generator (`tools/make_fixtures.py`) and the pipeline, as FIXTURES.md §1
requires.  The north rule's dedup (`salted groupBy on phash`) keys on
this value; hot buckets come from visually-identical images.
"""

from __future__ import annotations

import numpy as np

from .imageops import grayscale

__all__ = ["average_hash", "hamming64"]


def average_hash(px: np.ndarray) -> int:
    """Average hash of an RGB (or gray) image -> signed int64.

    Cell means come from one int64 integral image — exact integer
    window sums, so the quotients are bit-identical to the previous
    per-cell ``slice.mean()`` (uint8 sums are exact in either
    accumulator).  The pipeline computes the same hash batched
    (`batch_image.average_hash_b`).
    """
    gray = grayscale(px)
    h, w = gray.shape
    ii = np.zeros((h + 1, w + 1), dtype=np.int64)
    np.cumsum(np.cumsum(gray, axis=0, dtype=np.int64), axis=1, out=ii[1:, 1:])
    # area-mean resize to 8x8 via bucketed means (handles any h, w >= 1)
    ys = (np.arange(8 + 1) * h) // 8
    xs = (np.arange(8 + 1) * w) // 8
    ys = np.maximum(ys, np.arange(9))  # guarantee non-empty buckets for h < 8
    xs = np.maximum(xs, np.arange(9))
    ys = np.minimum(ys, h)
    xs = np.minimum(xs, w)
    cells = np.empty((8, 8), dtype=np.float64)
    for i in range(8):
        y0, y1 = ys[i], max(ys[i + 1], ys[i] + 1)
        y0 = min(y0, h - 1)
        y1 = min(max(y1, y0 + 1), h) if h > 0 else 1
        for j in range(8):
            x0, x1 = xs[j], max(xs[j + 1], xs[j] + 1)
            x0 = min(x0, w - 1)
            x1 = min(max(x1, x0 + 1), w) if w > 0 else 1
            cells[i, j] = (
                ii[y1, x1] - ii[y0, x1] - ii[y1, x0] + ii[y0, x0]
            ) / float((y1 - y0) * (x1 - x0))
    bits = (cells > cells.mean()).reshape(-1)
    val = int.from_bytes(np.packbits(bits).tobytes(), "big")
    if val >= 1 << 63:
        val -= 1 << 64
    return int(val)


def hamming64(a: int, b: int) -> int:
    return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")
