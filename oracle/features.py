"""Per-row reference twins of the pipeline's feature kernels.

`qfilter.batch_image.image_features_batch` and
`qfilter.batch_text.caption_features_frame` are the only feature
implementations in `qfilter/`.  This module keeps the scalar,
one-row-at-a-time forms of the same recipes:

* `image_features` — every pixel metric of one decoded image, built
  from the shared `qfilter.imageops` primitives one image at a time
  (no shape grouping, float box means, 0/255 masks, per-component
  dicts);
* `ocr_features` — the caption-path OCR-analogue statistics of one
  row, scored token by token through `NgramLM.token_logprobs` and
  `LangIdModel.scores` (no flat token arrays, no searchsorted tables,
  no word cache).

`oracle/rows.py` assesses rows with them (and so does
`tools/make_fixtures.py`, through `assess_row`, for the golden
`labels_ref`), and the parity tests assert the batched forms equal
them bit for bit.  Deliberately simple — an oracle, not a pipeline.
"""

from __future__ import annotations

import numpy as np

from qfilter.batch_text import CONF_BIAS, W_CHAR, W_WORD, block_geometry
from qfilter.imageops import (
    _pad_edge,
    adaptive_threshold_inv,
    connected_components,
    dilate,
    grayscale,
    median3,
    morph_close,
    morph_open,
    otsu_threshold,
)
from qfilter.textops import TextBundle, tokenize_words

__all__ = [
    "IMAGE_FEATURE_NAMES",
    "image_features",
    "token_confidences",
    "ocr_features",
]


# ------------------------------------------------------ image kernels

def laplacian_variance(gray: np.ndarray) -> float:
    """Var of the 3x3 Laplacian [[0,1,0],[1,-4,1],[0,1,0]] (blur score).

    Reference: `_blur_score` classificator_extended_paddleocr.py:117-119.
    Border: replicate (cv2 BORDER_REFLECT_101 differs at edges only).
    """
    # int16 arithmetic: every Laplacian value is an exact integer in
    # [-1020, 1020], and np.var converts to float64 before any rounding
    # op, so the result is bit-identical to the float64 pipeline at
    # ~2x the elementwise speed
    g = gray.astype(np.int16)
    p = _pad_edge(g, 1, 1, 1, 1)
    lap = p[:-2, 1:-1] + p[2:, 1:-1] + p[1:-1, :-2] + p[1:-1, 2:] - 4 * g
    return float(lap.var())


def _box_means_shared(gray: np.ndarray, blocks: tuple[int, ...]) -> dict[int, np.ndarray]:
    """Local box means for several odd block sizes from ONE integral.

    Edge-replicated pads nest — ``pad_r(g)[d:-d] == pad_(r-d)(g)`` —
    so one cumsum pair at the largest radius serves every block size
    via index offsets.  Integer window sums are exact, so each result
    is bit-identical to ``_integral_means(gray, b)`` (tested).
    """
    rmax = max(b // 2 for b in blocks)
    p = _pad_edge(gray, rmax, rmax, rmax, rmax)
    if gray.dtype != np.uint8:
        acc = np.float64
    else:
        acc = np.int32 if p.size * 255 < 2**31 else np.int64
    ii = np.zeros((p.shape[0] + 1, p.shape[1] + 1), dtype=acc)
    np.cumsum(np.cumsum(p, axis=0, dtype=acc), axis=1, out=ii[1:, 1:])
    h, w = gray.shape
    out = {}
    for b in blocks:
        d = rmax - b // 2
        s = (
            ii[d + b : d + b + h, d + b : d + b + w]
            - ii[d : d + h, d + b : d + b + w]
            - ii[d + b : d + b + h, d : d + w]
            + ii[d : d + h, d : d + w]
        )
        out[b] = s / float(b * b)
    return out


def binomial5_blur(gray: np.ndarray) -> np.ndarray:
    """Separable [1,4,6,4,1]/16 blur ~= cv2.GaussianBlur(5,5,0).

    Integer convolution: every intermediate of the float form is an
    exact dyadic rational (uint8 * k/16 products and their sums), so
    ``int_conv / 256`` is bit-identical to the float64 separable
    pipeline — at int32 speed and half the memory traffic.
    """
    h, w = gray.shape
    g = gray.astype(np.int32)
    p = _pad_edge(g, 2, 2, 0, 0)
    v = p[:h] + 4 * p[1 : h + 1] + 6 * p[2 : h + 2] + 4 * p[3 : h + 3] + p[4 : h + 4]
    p = _pad_edge(v, 0, 0, 2, 2)
    o = (
        p[:, :w] + 4 * p[:, 1 : w + 1] + 6 * p[:, 2 : w + 2]
        + 4 * p[:, 3 : w + 3] + p[:, 4 : w + 4]
    )
    return np.clip(np.round(o / 256.0), 0, 255).astype(np.uint8)


def _component_angle_deg(c: dict) -> float:
    """Principal-axis angle in degrees in (-90, 90] via second moments."""
    n = c["area"]
    mx = c["sum_x"] / n
    my = c["sum_y"] / n
    vxx = c["sxx"] / n - mx * mx
    vyy = c["syy"] / n - my * my
    vxy = c["sxy"] / n - mx * my
    ang = 0.5 * np.degrees(np.arctan2(2.0 * vxy, vxx - vyy))
    return float(ang)


def brightness_stats(gray: np.ndarray) -> tuple[float, float, float, float, float]:
    """(mean, median, contrast=std, %px<100, %px<50).

    Reference: `_analyze_brightness` dark_document_classifier.py:53-74.
    """
    # one 256-bin histogram replaces mean/median/counts passes.  All
    # bit-identical to the direct forms: uint8 sums are exact integers
    # in float64 (any summation order), the median is an order
    # statistic ((a + b) / 2 of integers for even sizes — numpy's
    # exact expression), and the < 100 / < 50 counts are cumulative
    # histogram reads.  std keeps the two-pass numpy path (its
    # deviations round, so summation order matters there).
    total = gray.size
    hist = np.bincount(gray.reshape(-1), minlength=256)
    cum = np.cumsum(hist)
    mean_b = float(np.dot(hist.astype(np.float64), np.arange(256.0)) / total)
    half = total // 2
    upper = int(np.searchsorted(cum, half + 1))  # value of order stat half
    if total % 2:
        median_b = float(upper)
    else:
        lower = int(np.searchsorted(cum, half))  # order stat half-1
        median_b = (float(lower) + float(upper)) / 2.0
    contrast = float(gray.std())
    dark = float(cum[99]) / total * 100.0
    very_dark = float(cum[49]) / total * 100.0
    return mean_b, median_b, contrast, dark, very_dark


def roi_fraction(gray: np.ndarray):
    """(bbox, roi_frac): largest bright-region bbox after blur+Otsu.

    Reference: `_find_document_roi` :92-107 — Gaussian blur, Otsu
    BINARY (bright = document), external contours, max-bbox-area.
    """
    h, w = gray.shape
    blur = binomial5_blur(gray)
    t = otsu_threshold(blur)
    th = ((blur > t) * 255).astype(np.uint8)
    comps = connected_components(th)
    best = (0, 0, w, h)
    best_area = 0
    for c in comps:
        x1, y1, x2, y2 = c["bbox"]
        area = (x2 - x1) * (y2 - y1)
        if area > best_area:
            best_area = area
            best = (x1, y1, x2, y2)
    frac = best_area / float(w * h) if w * h else 1.0
    return best, float(frac)


def crop_roi(gray: np.ndarray):
    """ROI crop unless box < 20% of a dimension (reference :109-115)."""
    (x1, y1, x2, y2), frac = roi_fraction(gray)
    h, w = gray.shape
    if (x2 - x1) < w * 0.2 or (y2 - y1) < h * 0.2:
        return gray, frac
    return gray[y1:y2, x1:x2], frac


def text_density(
    gray: np.ndarray,
    _med: np.ndarray | None = None,
    _means: np.ndarray | None = None,
) -> float:
    """Ink fraction: median3 -> adaptive INV (35, 15) -> open 3x3.

    Reference: `_text_density` :121-128.  ``_med`` lets callers reuse a
    precomputed ``median3(gray)`` (same array is needed by
    ``core_content_fraction``), ``_means`` its shared box mean.
    """
    g = median3(gray) if _med is None else _med
    thr = adaptive_threshold_inv(g, 35, 15, _means=_means)
    thr = morph_open(thr, 3, 3)
    return float(np.count_nonzero(thr)) / float(thr.size)


def table_line_fraction(gray: np.ndarray) -> float:
    """Long-line pixel fraction: adaptive INV (31, 10) -> open 40x1 / 1x40.

    Reference: `_is_table_like` :130-144.
    """
    thr = adaptive_threshold_inv(gray, 31, 10)
    h_lines = morph_open(thr, 1, 40)
    v_lines = morph_open(thr, 40, 1)
    return float(np.count_nonzero(h_lines) + np.count_nonzero(v_lines)) / thr.size


def is_table_like(gray: np.ndarray) -> bool:
    return table_line_fraction(gray) > 0.010


def estimate_skew_deg(gray: np.ndarray) -> float:
    """Median axial deviation of dilated text-line components.

    Reference: `_estimate_skew_deg` :146-172 — 6% margin crop, adaptive
    INV (31, 11), dilate (max(20, w/50) x 3), components >= 3e-4 area,
    per-component orientation angle -> axial distance -> median.
    """
    h, w = gray.shape
    m = int(min(h, w) * 0.06)
    roi = gray[m : h - m, m : w - m] if min(h, w) - 2 * m > 4 else gray
    thr = adaptive_threshold_inv(roi, 31, 11)
    kw = max(20, roi.shape[1] // 50)
    lines = dilate(thr, 3, kw)
    comps = connected_components(lines)
    area_min = roi.shape[0] * roi.shape[1] * 3e-4
    dists = []
    for c in comps:
        if c["area"] < area_min:
            continue
        x1, y1, x2, y2 = c["bbox"]
        if (x2 - x1) <= 1 or (y2 - y1) <= 1:
            continue
        a = _component_angle_deg(c)
        aa = abs(a)
        dists.append(min(aa, abs(90.0 - aa)))
    return float(np.median(dists)) if dists else 0.0


def core_content_fraction(
    gray: np.ndarray,
    _med: np.ndarray | None = None,
    _means: np.ndarray | None = None,
) -> float:
    """Largest merged content blob pixel-area fraction.

    Reference: `_core_content_fraction` :174-188 — median3, adaptive INV
    (41, 15), close 15x15 x2, largest component area / (h*w).
    """
    g = median3(gray) if _med is None else _med
    thr = adaptive_threshold_inv(g, 41, 15, _means=_means)
    # the reference closes twice; closing with an odd (symmetric)
    # structuring element is idempotent — clamped-window dilate/erode
    # form an adjunction, so close(close(x)) == close(x) pointwise
    # (property-tested in tests/test_imageops.py) — so one close
    # computes the identical mask at half the cost
    merged = morph_close(thr, 15, 15)
    comps = connected_components(merged)
    if not comps:
        return 0.0
    h, w = gray.shape
    largest = max(c["area"] for c in comps)
    return float(largest) / float(h * w)


# ------------------------------------------------------ one-pass API

IMAGE_FEATURE_NAMES = [
    "roi_frac",
    "avg_blur",
    "text_density",
    "is_table_like",
    "avg_skew_deg",
    "core_frac",
    "mean_brightness",
    "median_brightness",
    "contrast",
    "dark_pixels_percent",
    "very_dark_pixels_percent",
]


def image_features(px: np.ndarray) -> dict:
    """All image-path features for one decoded RGB image, one pass.

    Mirrors the reference per-page order: ROI crop first, then metrics
    on the cropped working array (`assess_pdf` :395-403); brightness
    stats on the full image (the dark classifier is a separate stage).
    """
    gray = grayscale(px)
    cropped, roi_frac_v = crop_roi(gray)
    mean_b, median_b, contrast, dark, very_dark = brightness_stats(gray)
    med = median3(cropped)  # shared by text_density + core_content_fraction
    means = _box_means_shared(med, (35, 41))  # one integral, both blocks
    return {
        "roi_frac": roi_frac_v,
        "avg_blur": laplacian_variance(cropped),
        "text_density": text_density(cropped, _med=med, _means=means[35]),
        "is_table_like": bool(is_table_like(cropped)),
        "avg_skew_deg": estimate_skew_deg(cropped),
        "core_frac": core_content_fraction(cropped, _med=med, _means=means[41]),
        "mean_brightness": mean_b,
        "median_brightness": median_b,
        "contrast": contrast,
        "dark_pixels_percent": dark,
        "very_dark_pixels_percent": very_dark,
    }


# ---------------------------------------------------- caption path

def token_confidences(bundle: TextBundle, caption: str) -> np.ndarray:
    """Per-token confidence in [0, 100] — monotone in both LM scores."""
    word_lps = bundle.lm.token_logprobs(caption)
    if word_lps.size == 0:
        return np.empty(0, dtype=np.float64)
    char_lps = np.array(
        [
            bundle.langid.scores(w).max() if w else -12.0
            for w in tokenize_words(caption)
        ],
        dtype=np.float64,
    )
    z = W_WORD * word_lps + W_CHAR * char_lps + CONF_BIAS
    return 100.0 / (1.0 + np.exp(-z))


def ocr_features(bundle: TextBundle, caption: str, blocks, page_w: int, page_h: int) -> dict:
    """OCR-analogue features for one row.

    ``blocks``: iterable of (top, left, width, height) tuples/sequences
    (the fixture sidecar), or None/empty.
    """
    caption = caption or ""
    confs = token_confidences(bundle, caption)
    words = tokenize_words(caption)
    n = confs.size
    if n:
        med = float(np.median(confs))
        mean = float(confs.mean())
        pct80 = float(np.count_nonzero(confs >= 80.0)) / n
        iqr = float(np.percentile(confs, 75) - np.percentile(confs, 25))
    else:
        med = mean = pct80 = iqr = 0.0

    nb, bbox_frac, lh_med, lh_var, ls_med, ls_var, avg_w, avg_h = block_geometry(
        blocks, page_w, page_h
    )

    return {
        "median_ocr_conf": med,
        "mean_ocr_conf": mean,
        "pct80": pct80,
        "words_count": len(words),
        "conf_iqr": iqr,
        "bbox_area_text_frac": bbox_frac,
        "line_height_med": lh_med,
        "line_height_var": lh_var,
        "line_spacing_med": ls_med,
        "line_spacing_var": ls_var,
        "text_blocks_count": nb,
        "avg_block_width": avg_w,
        "avg_block_height": avg_h,
    }
