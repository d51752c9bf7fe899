"""Shared pure-NumPy pixel primitives.

`enhance`, `polish`, `ocrprep` and `batch_image` build on these
kernels: grayscale, box/median filters, Otsu and adaptive thresholds,
binary morphology and connected components.  The per-image feature
recipe that composes them (blur score, ROI, density, skew, ...) has
one production implementation, `batch_image.image_features_batch`;
its per-row reference twin is `oracle/features.py`.

Semantics transcribed from the reference classifier
(`/root/reference/src/methods/classificator/classificator_extended_paddleocr.py:89-203`
and `dark_document_classifier.py:53-74`), re-implemented from scratch on
NumPy (the sandbox has no OpenCV).  Bit-exactness vs OpenCV is NOT a
goal — the correctness invariant is Spark-pipeline == single-node
oracle, and both share these kernels; thresholds and rule ordering come
from the reference citations.

Replacement choices (documented deviations from OpenCV):
* GaussianBlur(5,5)        -> separable 5-tap binomial kernel
* adaptiveThreshold(G/M)   -> box-mean block threshold (integral image)
* findContours + bboxes    -> run-based connected components (8-conn)
* contourArea              -> component pixel count
* minAreaRect angle        -> PCA principal-axis angle of the component
* medianBlur(3)            -> 3x3 window median

All functions take/return uint8 or float numpy arrays and are safe for
the fixture size range (1..512 px sides).
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "grayscale",
    "box_filter",
    "median3",
    "otsu_threshold",
    "adaptive_threshold_inv",
    "erode",
    "dilate",
    "morph_open",
    "morph_close",
    "min_label_roots",
    "connected_components",
    "connected_component_stats",
]


# ------------------------------------------------------------- basics

def _pad_edge(a: np.ndarray, top: int, bottom: int, left: int, right: int) -> np.ndarray:
    """Edge-replicate pad — same result as np.pad(mode="edge") but
    without its generic-machinery overhead (the kernels below call this
    thousands of times per image batch)."""
    h, w = a.shape
    out = np.empty((h + top + bottom, w + left + right), dtype=a.dtype)
    out[top : top + h, left : left + w] = a
    if top:
        out[:top, left : left + w] = a[0]
    if bottom:
        out[top + h :, left : left + w] = a[-1]
    if left:
        out[:, :left] = out[:, left : left + 1]
    if right:
        out[:, left + w :] = out[:, left + w - 1 : left + w]
    return out


def grayscale(px: np.ndarray) -> np.ndarray:
    """ITU-R BT.601 luma (matches cv2.cvtColor RGB2GRAY weights)."""
    if px.ndim == 2:
        return px.astype(np.uint8)
    f = px[..., 0] * 0.299 + px[..., 1] * 0.587 + px[..., 2] * 0.114
    return np.clip(np.round(f), 0, 255).astype(np.uint8)


def _integral_means(gray: np.ndarray, block: int) -> np.ndarray:
    """Local box mean with replicate border, via integral image.

    Integer cumsum when the total fits int32/int64 (uint8 window sums
    are exact integers either way, so the float64 quotient is
    bit-identical to the previous all-float64 version, just cheaper)."""
    r = block // 2
    g = _pad_edge(gray, r, r, r, r)
    if gray.dtype != np.uint8:
        # integer fast path assumes uint8 values (max 255 in the
        # overflow bound below); any other dtype gets exact float64
        # accumulation instead of silent truncation
        acc = np.float64
    else:
        acc = np.int32 if g.size * 255 < 2**31 else np.int64
    ii = np.zeros((g.shape[0] + 1, g.shape[1] + 1), dtype=acc)
    np.cumsum(np.cumsum(g, axis=0, dtype=acc), axis=1, out=ii[1:, 1:])
    h, w = gray.shape
    s = (
        ii[block:, block:]
        - ii[:-block, block:]
        - ii[block:, :-block]
        + ii[:-block, :-block]
    )
    return s[:h, :w] / float(block * block)


def box_filter(gray: np.ndarray, k: int) -> np.ndarray:
    return np.clip(np.round(_integral_means(gray, k)), 0, 255).astype(np.uint8)


def _window_view(gray: np.ndarray, kh: int, kw: int) -> np.ndarray:
    p = _pad_edge(gray, kh // 2, kh - 1 - kh // 2, kw // 2, kw - 1 - kw // 2)
    return np.lib.stride_tricks.sliding_window_view(p, (kh, kw))


def median3(gray: np.ndarray) -> np.ndarray:
    """3x3 median (cv2.medianBlur(g, 3) analogue).

    Median-of-9 sorting network over the 9 shifted planes — ~10x
    faster than np.median over a sliding-window view, bit-identical.
    """
    if gray.shape[0] < 3 or gray.shape[1] < 3:
        return gray.copy()
    p = _pad_edge(gray, 1, 1, 1, 1)
    h, w = gray.shape
    v = [p[y : y + h, x : x + w] for y in range(3) for x in range(3)]

    def ex(i, j):
        v[i], v[j] = np.minimum(v[i], v[j]), np.maximum(v[i], v[j])

    # classic 19-exchange median-of-9 network (Smith, Graphics Gems)
    ex(1, 2); ex(4, 5); ex(7, 8)
    ex(0, 1); ex(3, 4); ex(6, 7)
    ex(1, 2); ex(4, 5); ex(7, 8)
    ex(0, 3); ex(5, 8); ex(4, 7)
    ex(3, 6); ex(1, 4); ex(2, 5)
    ex(4, 7); ex(4, 2); ex(6, 4)
    ex(4, 2)
    return v[4]


def otsu_threshold(gray: np.ndarray) -> int:
    """Otsu global threshold over a 256-bin histogram."""
    hist = np.bincount(gray.reshape(-1), minlength=256).astype(np.float64)
    total = hist.sum()
    if total == 0:
        return 127
    omega = np.cumsum(hist)
    mu = np.cumsum(hist * np.arange(256))
    mu_t = mu[-1]
    with np.errstate(divide="ignore", invalid="ignore"):
        # between-class variance with count-based cumulatives:
        # ((muT/N)*omega - mu)^2 / (omega * (N - omega)) * N  — constant
        # factors dropped, so maximize (muT*omega - mu*N)^2 / (omega*(N-omega))
        sigma_b = (mu_t * omega - mu * total) ** 2 / (omega * (total - omega))
    sigma_b[~np.isfinite(sigma_b)] = 0.0
    return int(np.argmax(sigma_b))


def adaptive_threshold_inv(
    gray: np.ndarray, block: int, c: float, _means: np.ndarray | None = None
) -> np.ndarray:
    """BINARY_INV adaptive threshold: 255 where px <= local_mean - C.

    Box mean stands in for both cv2 MEAN_C and GAUSSIAN_C variants.
    ``_means`` lets callers reuse a precomputed box mean.
    """
    means = _integral_means(gray, block) if _means is None else _means
    return ((gray.astype(np.float64) <= means - c) * 255).astype(np.uint8)


# --------------------------------------------------------- morphology
#
# All erode/dilate call sites operate on 0/255 binary masks, so
# rectangular-kernel min/max reduces to a window *count* of set pixels
# over one 2D integral image (dilate = count > 0, erode = count ==
# kh*kw) — bit-identical to moving min/max on binary input and ~3x
# faster than the previous van Herk implementation (one int32 double
# cumsum instead of four ufunc.accumulate passes).

def _window_count(binary: np.ndarray, kh: int, kw: int) -> np.ndarray:
    """Count of set pixels in each centered kh x kw window, edge-padded
    (edge replication == clamped windows of the original mask border).

    1-D kernels (the line-morphology hot path: 1 x klen / klen x 1) use
    a single-axis cumsum — same counts, half the integral work."""
    h, w = binary.shape
    b = (binary != 0).view(np.uint8)
    if kh == 1:
        pw = kw // 2
        p = _pad_edge(b, 0, 0, pw, kw - 1 - pw)
        ii = np.zeros((h, p.shape[1] + 1), dtype=np.int32)
        np.cumsum(p, axis=1, out=ii[:, 1:])
        return (ii[:, kw:] - ii[:, :-kw])[:, :w]
    if kw == 1:
        ph = kh // 2
        p = _pad_edge(b, ph, kh - 1 - ph, 0, 0)
        ii = np.zeros((p.shape[0] + 1, w), dtype=np.int32)
        np.cumsum(p, axis=0, out=ii[1:, :])
        return (ii[kh:, :] - ii[:-kh, :])[:h, :]
    ph, pw = kh // 2, kw // 2
    p = _pad_edge(b, ph, kh - 1 - ph, pw, kw - 1 - pw)
    ii = np.zeros((p.shape[0] + 1, p.shape[1] + 1), dtype=np.int32)
    np.cumsum(np.cumsum(p, axis=0, dtype=np.int32), axis=1,
              out=ii[1:, 1:])
    s = (
        ii[kh:, kw:]
        - ii[:-kh, kw:]
        - ii[kh:, :-kw]
        + ii[:-kh, :-kw]
    )
    return s[:h, :w]


def erode(binary: np.ndarray, kh: int, kw: int) -> np.ndarray:
    if kh <= 1 and kw <= 1:
        return binary
    return ((_window_count(binary, kh, kw) == kh * kw) * np.uint8(255))


def dilate(binary: np.ndarray, kh: int, kw: int) -> np.ndarray:
    if kh <= 1 and kw <= 1:
        return binary
    return ((_window_count(binary, kh, kw) > 0) * np.uint8(255))


def morph_open(binary: np.ndarray, kh: int, kw: int) -> np.ndarray:
    return dilate(erode(binary, kh, kw), kh, kw)


def morph_close(binary: np.ndarray, kh: int, kw: int) -> np.ndarray:
    return erode(dilate(binary, kh, kw), kh, kw)


# ------------------------------------------- connected components

def min_label_roots(n: int, i: np.ndarray, j: np.ndarray) -> np.ndarray:
    """Vectorized union-find over vertices ``0..n-1`` joined by the
    edges ``(i[k], j[k])``: returns ``roots`` with ``roots[v]`` = the
    minimum vertex index of v's component (the root convention of a
    parent[max]=min DSU).

    Each round hooks every edge's larger ROOT under the smaller one,
    then pointer-jumps until every vertex points at a root.  Hooking
    roots (not the edge endpoints themselves) merges whole trees per
    round, so a randomly numbered path finishes in O(log n) rounds; the
    fixpoint (every edge inside one tree, rooted at its minimum) is
    unique, so the result does not depend on the edge order."""
    roots = np.arange(n, dtype=np.int64)
    if len(i) == 0:
        return roots
    while True:
        before = roots
        ri, rj = roots[i], roots[j]
        m = np.minimum(ri, rj)
        roots = roots.copy()
        np.minimum.at(roots, ri, m)
        np.minimum.at(roots, rj, m)
        while True:
            hop = roots[roots]
            if np.array_equal(hop, roots):
                break
            roots = hop
        if np.array_equal(roots, before):
            return roots


def connected_components(binary: np.ndarray):
    """8-connected components of a 0/255 mask via row runs + union-find.

    Returns a list of dicts: {area (pixel count), bbox (x1, y1, x2, y2
    exclusive), sum_x, sum_y, sxx, syy, sxy} — enough for bounding boxes
    and PCA orientation without storing pixel lists.
    """
    st = connected_component_stats(binary)
    if st is None:
        return []
    return [
        {
            "area": int(st["area"][i]),
            "bbox": (
                int(st["x1"][i]), int(st["y1"][i]),
                int(st["x2"][i]), int(st["y2"][i]),
            ),
            "x1": int(st["x1"][i]), "y1": int(st["y1"][i]),
            "x2": int(st["x2"][i]), "y2": int(st["y2"][i]),
            "sum_x": float(st["sum_x"][i]), "sum_y": float(st["sum_y"][i]),
            "sxx": float(st["sxx"][i]), "syy": float(st["syy"][i]),
            "sxy": float(st["sxy"][i]),
        }
        for i in range(len(st["area"]))
    ]


def connected_component_stats(
    binary: np.ndarray, band_h: int | None = None, assume01: bool = False
):
    """Array-form component stats (the batched hot path consumes these
    directly — no per-component dict building): dict of parallel numpy
    arrays  area / x1 / y1 / x2 / y2 / sum_x / sum_y / sxx / syy / sxy
    ordered by component root run index (the same order the dict list
    has), or None for an empty mask.

    ``band_h``: the mask is a vertical concatenation of independent
    images of ``band_h`` rows each (the batch path's
    many-images-one-CC trick; r6 — no separator rows needed: runs in
    the first row of a band are barred from matching the previous
    band's last row when overlap pairs are generated, which is
    exactly what a blank separator row achieved, so callers can pass
    a zero-copy ``(n*h, w)`` reshape of their stack).  Components
    then never span bands; y statistics (y1/y2/sum_y/syy/sxy) are
    computed in band-LOCAL coordinates (identical values to a
    per-image call — the same runs contribute the same integer rows
    in the same bincount order), and the result gains a ``band``
    array mapping each component to its image index, non-decreasing.

    Vectorized: all runs extracted in one diff pass; per-row overlap
    matching via searchsorted (runs within a row are sorted and
    disjoint); per-component stats via bincount over resolved roots.
    """
    h, w = binary.shape
    if assume01:
        # caller guarantees a 0/1 plane (the batched pipeline) — the
        # `!= 0` normalization pass would be a no-op
        b01 = binary if binary.dtype == np.uint8 else binary.view(np.uint8)
    else:
        b01 = (binary != 0).view(np.uint8)
    # run-boundary diff built directly from the mask (r6): column 0 is
    # the mask's first column, column w its negated last — identical
    # values to diff(zero-padded mask) without materializing the
    # (h, w+2) padded copy first
    s8 = b01.view(np.int8)
    d = np.empty((h, w + 1), dtype=np.int8)
    d[:, 0] = s8[:, 0]
    if w > 1:
        np.subtract(s8[:, 1:], s8[:, :-1], out=d[:, 1:w])
    np.negative(s8[:, -1], out=d[:, w])
    # ONE flat nonzero pass over the diff plane (r6; was two 2-D
    # nonzeros — `d == 1` then `d == -1`): d holds only 0/±1, and
    # flatnonzero is row-major, so unraveling the hits and splitting
    # by sign yields the exact same start/end lists in the same order.
    flat = d.reshape(-1)
    idx = np.flatnonzero(flat)
    is_start = flat[idx] == 1
    sidx = idx[is_start]
    wd = d.shape[1]
    sy = sidx // wd
    sx = sidx - sy * wd
    ex = idx[~is_start] % wd       # run ends (exclusive), same order
    n_runs = len(sy)
    if n_runs == 0:
        return None

    # Vectorized overlap-pair generation: runs are row-major and sorted
    # within each row, so the global keys  row*W + start  /  row*W + end
    # are globally sorted (0 <= start < end <= w+1 < W).  For run i in
    # row y, its 8-conn partners j in row y-1 satisfy ex[j] >= sx[i]
    # and sx[j] <= ex[i]; both bounds fall out of two array-wide
    # searchsorted calls against the previous row's key range.
    W = np.int64(w + 2)
    key_start = sy.astype(np.int64) * W + sx
    key_end = sy.astype(np.int64) * W + ex
    prev_base = (sy.astype(np.int64) - 1) * W
    jlo = np.searchsorted(key_end, prev_base + sx, side="left")
    jhi = np.searchsorted(key_start, prev_base + ex, side="right")
    counts = np.maximum(jhi - jlo, 0)
    if band_h is not None:
        # bar a band's first row from matching the previous band's
        # last row — the separator-free form of the old blank-row
        # layout (under which these counts were already zero)
        counts[sy % band_h == 0] = 0
    total = int(counts.sum())

    pairs_i = np.repeat(np.arange(n_runs), counts)
    offsets = np.concatenate(([0], np.cumsum(counts)[:-1]))
    pairs_j = jlo.repeat(counts) + (np.arange(total) - offsets.repeat(counts))
    roots = min_label_roots(n_runs, pairs_i, pairs_j)
    uniq, inv = np.unique(roots, return_inverse=True)
    k = len(uniq)

    if band_h is not None:
        band_run = sy // band_h
        sy = sy - band_run * band_h  # band-local rows for all y stats
        band = band_run[uniq]
    sxf = sx.astype(np.float64)
    exf = ex.astype(np.float64)
    syf = sy.astype(np.float64)
    n = exf - sxf
    run_sum_x = (sxf + exf - 1.0) * n / 2.0
    run_sx2 = (
        (exf - 1.0) * exf * (2.0 * exf - 1.0)
        - (sxf - 1.0) * sxf * (2.0 * sxf - 1.0)
    ) / 6.0

    area = np.bincount(inv, weights=n, minlength=k)
    sum_x = np.bincount(inv, weights=run_sum_x, minlength=k)
    sum_y = np.bincount(inv, weights=syf * n, minlength=k)
    sxx = np.bincount(inv, weights=run_sx2, minlength=k)
    syy = np.bincount(inv, weights=syf * syf * n, minlength=k)
    sxy = np.bincount(inv, weights=syf * run_sum_x, minlength=k)
    x1 = np.full(k, w, dtype=np.int64)
    x2 = np.zeros(k, dtype=np.int64)
    y1 = np.full(k, h, dtype=np.int64)
    y2 = np.zeros(k, dtype=np.int64)
    np.minimum.at(x1, inv, sx)
    np.maximum.at(x2, inv, ex)
    np.minimum.at(y1, inv, sy)
    np.maximum.at(y2, inv, sy + 1)

    out = {
        "area": area, "x1": x1, "y1": y1, "x2": x2, "y2": y2,
        "sum_x": sum_x, "sum_y": sum_y, "sxx": sxx, "syy": syy, "sxy": sxy,
    }
    if band_h is not None:
        out["band"] = band
    return out
