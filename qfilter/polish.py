"""P11 polish steps — CLAHE, NL-means denoise, Gaussian unsharp on
Canny edges — from scratch in numpy.

The reference's full lightener (`document_lightener.py:77-95`
`lighten_document_image`) runs, after the blur-divide flatten that
`enhance.lighten_basic` already covers:

    CLAHE(clip=2.0, tiles 8x8)
    fastNlMeansDenoising(h=6, template 7, search 21)
    usm = den*(1+1.4) - GaussianBlur(den, sigma=1.0)*1.4
    edges = dilate(Canny(den, 50, 150), 3x3)
    out[edges] = usm[edges]; minmax-normalize
    fastNlMeansDenoising(h=4)

Rounds 1-2 documented these as skipped cosmetic steps; this module
closes that gap with deterministic from-scratch kernels (no OpenCV):

* `clahe` — clip-limited tile histograms, integer excess
  redistribution, per-tile CDF LUTs, bilinear interpolation between
  the four surrounding tile mappings (the standard algorithm).
* `nl_means` — classic NL-means: integer squared patch distances
  (7x7 box sums of uint8 diffs — exact int32), Gaussian-free
  exponential weights exp(-max(d2 - 2*sigma2, 0) / h2), accumulated
  over the search window in fixed (dy, dx) order so the float sums
  are reproducible anywhere.
* `gaussian_blur_sigma` — separable exp kernel (ksize = 2*ceil(3
  sigma)+1, edge-replicate border like every other kernel here).
* `canny` — int Sobel, L1 magnitude, 4-sector non-max suppression,
  double-threshold hysteresis via iterative dilation (all integer /
  boolean, machinery-independent).
* `lighten_full` — the full reference chain over our luma plane,
  using the repo's documented stand-ins (box-filter background like
  lighten_basic).

Bit-identity: tests/test_polish.py compares every kernel against an
independently-coded twin in `oracle/imageref.py` (different gather /
window machinery, same per-element float op order); the `qf_polish
_stats` driver oracle is built from the twin, so the parity gate
compares two implementations end to end.

Deviation policy (same as enhance.py, documented): luma stands in
for LAB L, box filter for the large median blur, replicate borders
for cv2's reflect-101; parameters are the reference's.
"""

from __future__ import annotations

import numpy as np

from .enhance import with_image_stage
from .imageops import _pad_edge, box_filter, grayscale

__all__ = [
    "clahe",
    "gaussian_blur_sigma",
    "unsharp",
    "canny",
    "nl_means",
    "lighten_full",
    "polish_stats_one",
]


# ---------------------------------------------------------------- CLAHE

def clahe(gray: np.ndarray, clip: float = 2.0, tiles: tuple[int, int] = (8, 8)) -> np.ndarray:
    """Clip-limited adaptive histogram equalization.

    Tile grid of ceil-divided regions; each tile's 256-bin histogram
    is clipped at ``clip * n_tile / 256`` (floor, min 1), the clipped
    excess redistributed evenly (integer quotient to every bin, the
    remainder one-per-bin from bin 0 — deterministic), CDF mapped to
    [0, 255] with the usual (cdf - cdfmin)/(n - cdfmin) scale, and
    each pixel bilinearly blends the LUTs of its four surrounding
    tile centers (clamped at the border half-tiles).
    """
    h, w = gray.shape
    ty, tx = tiles
    th = (h + ty - 1) // ty
    tw = (w + tx - 1) // tx
    luts = np.empty((ty, tx, 256), dtype=np.float64)
    for i in range(ty):
        for j in range(tx):
            tile = gray[i * th : min((i + 1) * th, h), j * tw : min((j + 1) * tw, w)]
            n = tile.size
            hist = np.bincount(tile.reshape(-1), minlength=256)
            limit = max(1, int(clip * n / 256.0))
            excess = int(np.maximum(hist - limit, 0).sum())
            hist = np.minimum(hist, limit)
            hist += excess // 256
            rem = excess % 256
            if rem:
                hist[:rem] += 1
            cdf = np.cumsum(hist)
            cdfmin = cdf[np.nonzero(cdf)[0][0]] if cdf[-1] else 0
            denom = max(int(cdf[-1]) - int(cdfmin), 1)
            luts[i, j] = np.clip(
                np.round((cdf - cdfmin) * (255.0 / denom)), 0, 255
            )
    # bilinear blend between tile-center LUTs
    yy = np.arange(h, dtype=np.float64)
    xx = np.arange(w, dtype=np.float64)
    fy = (yy - (th - 1) / 2.0) / th
    fx = (xx - (tw - 1) / 2.0) / tw
    i0 = np.clip(np.floor(fy).astype(np.int64), 0, ty - 1)
    j0 = np.clip(np.floor(fx).astype(np.int64), 0, tx - 1)
    i1 = np.minimum(i0 + 1, ty - 1)
    j1 = np.minimum(j0 + 1, tx - 1)
    wy = np.clip(fy - np.floor(fy), 0.0, 1.0)
    wx = np.clip(fx - np.floor(fx), 0.0, 1.0)
    # border half-tiles: weight 0 toward the (clamped) far tile
    wy = np.where(fy < 0, 0.0, wy)
    wy = np.where(fy > ty - 1, 0.0, wy)
    wx = np.where(fx < 0, 0.0, wx)
    wx = np.where(fx > tx - 1, 0.0, wx)
    g = gray.astype(np.int64)
    WY = wy[:, None]
    WX = wx[None, :]
    v00 = luts[i0[:, None], j0[None, :], g]
    v01 = luts[i0[:, None], j1[None, :], g]
    v10 = luts[i1[:, None], j0[None, :], g]
    v11 = luts[i1[:, None], j1[None, :], g]
    out = (
        v00 * (1.0 - WY) * (1.0 - WX)
        + v01 * (1.0 - WY) * WX
        + v10 * WY * (1.0 - WX)
        + v11 * WY * WX
    )
    return np.clip(np.round(out), 0, 255).astype(np.uint8)


# ----------------------------------------------------- Gaussian + USM

def _gauss_kernel(sigma: float) -> np.ndarray:
    r = int(np.ceil(3.0 * sigma))
    x = np.arange(-r, r + 1, dtype=np.float64)
    k = np.exp(-(x * x) / (2.0 * sigma * sigma))
    return k / k.sum()


def gaussian_blur_sigma(gray: np.ndarray, sigma: float) -> np.ndarray:
    """Separable Gaussian blur, edge-replicate border; result stays
    float64 (rounded only by the consumer) so USM subtracts the
    unquantized blur like cv2.addWeighted on the float path."""
    k = _gauss_kernel(sigma)
    r = len(k) // 2
    h, w = gray.shape
    p = _pad_edge(gray.astype(np.float64), r, r, 0, 0)
    v = np.zeros((h, w), dtype=np.float64)
    for i, kv in enumerate(k):
        v += kv * p[i : i + h, :]
    p = _pad_edge(v, 0, 0, r, r)
    o = np.zeros((h, w), dtype=np.float64)
    for i, kv in enumerate(k):
        o += kv * p[:, i : i + w]
    return o


def unsharp(gray: np.ndarray, sigma: float, amount: float) -> np.ndarray:
    """usm = gray*(1+amount) - blur*amount, rounded+clipped to uint8."""
    blur = gaussian_blur_sigma(gray, sigma)
    out = gray.astype(np.float64) * (1.0 + amount) - blur * amount
    return np.clip(np.round(out), 0, 255).astype(np.uint8)


# ----------------------------------------------------------------- Canny

def canny(gray: np.ndarray, low: int, high: int) -> np.ndarray:
    """Canny edges: 3x3 Sobel, L1 magnitude (cv2's default), 4-sector
    non-max suppression, double-threshold hysteresis (weak pixels kept
    iff 8-connected to a strong pixel, resolved by iterative
    dilation).  Integer/boolean throughout."""
    h, w = gray.shape
    if h < 3 or w < 3:
        return np.zeros((h, w), dtype=np.uint8)
    g = gray.astype(np.int32)
    p = _pad_edge(g, 1, 1, 1, 1)
    # Sobel x: [[-1,0,1],[-2,0,2],[-1,0,1]], y: [[-1,-2,-1],[0,0,0],[1,2,1]]
    gx = (
        p[:-2, 2:] + 2 * p[1:-1, 2:] + p[2:, 2:]
        - p[:-2, :-2] - 2 * p[1:-1, :-2] - p[2:, :-2]
    )
    gy = (
        p[2:, :-2] + 2 * p[2:, 1:-1] + p[2:, 2:]
        - p[:-2, :-2] - 2 * p[:-2, 1:-1] - p[:-2, 2:]
    )
    mag = np.abs(gx) + np.abs(gy)
    # sector: 0 = horizontal gradient (compare left/right), 1 = 45deg,
    # 2 = vertical, 3 = 135deg — via integer cross-products with
    # tan(22.5) ~ 13573/32768 to stay in exact integer arithmetic
    ax = np.abs(gx)
    ay = np.abs(gy)
    TAN22 = 13573  # round(tan(22.5 deg) * 2^15)
    TAN67 = 79109  # round(tan(67.5 deg) * 2^15)
    diag = (ay.astype(np.int64) << 15) > TAN22 * ax.astype(np.int64)
    vert = (ay.astype(np.int64) << 15) > TAN67 * ax.astype(np.int64)
    same_sign = (gx >= 0) == (gy >= 0)
    sector = np.where(
        ~diag, 0, np.where(vert, 2, np.where(same_sign, 3, 1))
    )
    pm = _pad_edge(mag, 1, 1, 1, 1)
    n1 = np.choose(
        sector,
        [pm[1:-1, 2:], pm[:-2, 2:], pm[:-2, 1:-1], pm[:-2, :-2]],
    )
    n2 = np.choose(
        sector,
        [pm[1:-1, :-2], pm[2:, :-2], pm[2:, 1:-1], pm[2:, 2:]],
    )
    keep = (mag >= n1) & (mag > n2)
    strong = keep & (mag > high)
    weak = keep & (mag > low) & ~strong
    # hysteresis: grow strong into weak until fixpoint
    grown = strong.copy()
    while True:
        pb = np.zeros((h + 2, w + 2), dtype=bool)
        pb[1:-1, 1:-1] = grown
        nb = (
            pb[:-2, :-2] | pb[:-2, 1:-1] | pb[:-2, 2:]
            | pb[1:-1, :-2] | pb[1:-1, 2:]
            | pb[2:, :-2] | pb[2:, 1:-1] | pb[2:, 2:]
        )
        nxt = grown | (weak & nb)
        if np.array_equal(nxt, grown):
            break
        grown = nxt
    return (grown * np.uint8(255))


# -------------------------------------------------------------- NL-means

def nl_means(
    gray: np.ndarray,
    h_param: float,
    template: int = 7,
    search: int = 21,
) -> np.ndarray:
    """Classic NL-means denoising.

    For every offset (dy, dx) in the search window: integer squared
    pixel differences, box-summed over the template patch (exact
    int32 — uint8 diffs squared sum to < 2^22 for 7x7), weight
    w = exp(-max(d2 - 2*sigma2, 0) / (h*h*n_patch)) with sigma = 0
    (the classic Buades form without noise offset), accumulated in
    fixed scan order.  Self-offset weight is 1.  Deterministic:
    the (dy, dx) loop order fixes the float accumulation order.
    """
    h, w = gray.shape
    r = search // 2
    t = template // 2
    g = gray.astype(np.int32)
    gf = gray.astype(np.float64)
    h2n = float(h_param) * float(h_param) * float(template * template)
    num = gf.copy()          # self term: weight exactly 1
    den = np.ones((h, w), dtype=np.float64)
    pg = _pad_edge(g, r + t, r + t, r + t, r + t)
    pf = _pad_edge(gf, r, r, r, r)
    # center view of the (t-padded) image for patch distances
    ct = pg[r : r + h + 2 * t, r : r + w + 2 * t]
    for dy in range(-r, r + 1):
        for dx in range(-r, r + 1):
            if dy == 0 and dx == 0:
                continue
            sh = pg[r + dy : r + dy + h + 2 * t, r + dx : r + dx + w + 2 * t]
            d = ct - sh
            d2 = d * d
            # integer 7x7 box sum via double cumsum
            ii = np.zeros((h + 2 * t + 1, w + 2 * t + 1), dtype=np.int32)
            np.cumsum(np.cumsum(d2, axis=0, dtype=np.int32), axis=1, out=ii[1:, 1:])
            s = (
                ii[template:, template:]
                - ii[:-template, template:]
                - ii[template:, :-template]
                + ii[:-template, :-template]
            )[:h, :w]
            wgt = np.exp(-(s.astype(np.float64)) / h2n)
            num += wgt * pf[r + dy : r + dy + h, r + dx : r + dx + w]
            den += wgt
    return np.clip(np.round(num / den), 0, 255).astype(np.uint8)


# ----------------------------------------------------------- full chain

# NL-means search window: 11, not the reference's 21.  The classic
# NL-means cost is quadratic in the search radius and 21 makes the
# fixture-tier oracle minutes-slow; the recipe and weights are
# otherwise identical.
NLM_SEARCH = 11


def lighten_full(px: np.ndarray) -> np.ndarray:
    """The reference's full polish chain (`document_lightener.py:77-95`)
    over the luma plane with this repo's documented stand-ins (NL-means
    search window `NLM_SEARCH`).
    Returns a 3-channel image (gray replicated — keep_color=False is
    the reference default for this path)."""
    lum = grayscale(px)
    k = max(15, (min(lum.shape) // 8) | 1)
    bg = box_filter(lum, k).astype(np.float64)
    flat = np.clip(
        np.round(255.0 * lum.astype(np.float64) / np.maximum(bg, 1.0)), 0, 255
    ).astype(np.uint8)
    eq = clahe(flat, clip=2.0, tiles=(8, 8))
    den = nl_means(eq, h_param=6.0, template=7, search=NLM_SEARCH)
    usm = unsharp(den, sigma=1.0, amount=1.4)
    edges = canny(den, 50, 150)
    # dilate 3x3 via window-or
    pb = np.zeros((edges.shape[0] + 2, edges.shape[1] + 2), dtype=bool)
    pb[1:-1, 1:-1] = edges != 0
    em = (
        pb[:-2, :-2] | pb[:-2, 1:-1] | pb[:-2, 2:]
        | pb[1:-1, :-2] | pb[1:-1, 1:-1] | pb[1:-1, 2:]
        | pb[2:, :-2] | pb[2:, 1:-1] | pb[2:, 2:]
    )
    out = np.where(em, usm, den)
    lo, hi = int(out.min()), int(out.max())
    if hi > lo:
        out = np.clip(
            np.round((out.astype(np.float64) - lo) * (255.0 / (hi - lo))), 0, 255
        ).astype(np.uint8)
    out = nl_means(out, h_param=4.0, template=7, search=NLM_SEARCH)
    return np.repeat(out[..., None], 3, axis=2)


def polish_stats_one(px: np.ndarray) -> dict:
    """Scalar summaries of the polish chain for the driver query
    (`qf_polish_stats`): mean/std of the polished luma plus the edge
    fraction the unsharp step touched."""
    lum = grayscale(lighten_full(px))
    edges = canny(lum, 50, 150)
    return {
        "polished_mean": float(lum.mean(dtype=np.float64)),
        "polished_std": float(lum.std()),
        "edge_frac": float(np.count_nonzero(edges)) / float(edges.size),
    }


def with_polish_stats(df):
    """(image_id, bytes, fmt, w, h, ...) -> + polished_mean,
    polished_std, edge_frac (the P11 full-polish summaries), Arrow
    batched; decode/kernel failures null the three columns (error
    channel, same contract as with_enhance_stats)."""
    return with_image_stage(
        df,
        "polished_mean double, polished_std double, edge_frac double",
        lambda px, image_id, fmt: polish_stats_one(px),
    )
