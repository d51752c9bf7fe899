"""P8 OCR preparation (`classificator_extended_paddleocr.py:190-203`
`_prep_for_ocr`): upscale the long side to >= 1800 (Lanczos), CLAHE
(2.0, 8x8 tiles), Otsu BINARY threshold, 3x3 median blur.

The repo has no OCR engine by design (SURVEY 7.4) — the caption-path
engine replaces OCR consumption — but the PREPARATION operator itself
is pure image processing, so it is implemented to complete the 2
operator sweep: a user who runs `_prep_for_ocr` for an external OCR
service gets the same contract here.

From-scratch pieces:
* `lanczos_resize` — separable Lanczos-3 resampling in float64
  (per-output-pixel 6-tap windows, weights sinc(d) * sinc(d/3)
  normalized per pixel, edge-clamped; PIL's int16 fixed-point
  arithmetic is NOT replicated — documented deviation, our floats).
* CLAHE / Otsu / median3 come from `qfilter.polish` / `imageops`.

Oracle: the `qf_ocr_prep` sidecar is built from the independently-
coded twins (`oracle.imageref.ocr_prep_ref` — per-pixel math.sin
weight loops, flat-index gathers), so the driver parity row compares
two implementations (same policy as qf_polish_stats).
"""

from __future__ import annotations

import numpy as np

from .enhance import with_image_stage
from .imageops import grayscale, median3, otsu_threshold
from .polish import clahe

__all__ = ["lanczos_resize", "prep_for_ocr", "ocr_prep_stats_one", "with_ocr_prep"]

OCR_LONG_SIDE = 1800
_LANCZOS_A = 3


def _axis_weights(in_len: int, out_len: int):
    """(J, W): per-output-pixel source indices (out_len, 6) clamped to
    the image, and normalized Lanczos-3 weights (out_len, 6).

    Center mapping c = (i + 0.5) * in/out - 0.5 (the standard
    area-consistent convention); taps j = floor(c)-2 .. floor(c)+3.
    """
    c = (np.arange(out_len, dtype=np.float64) + 0.5) * (in_len / out_len) - 0.5
    j0 = np.floor(c).astype(np.int64) - (_LANCZOS_A - 1)
    taps = np.arange(2 * _LANCZOS_A, dtype=np.int64)
    J = j0[:, None] + taps[None, :]
    d = c[:, None] - J.astype(np.float64)
    with np.errstate(invalid="ignore"):
        W = np.sinc(d) * np.sinc(d / _LANCZOS_A)
    W[np.abs(d) >= _LANCZOS_A] = 0.0
    W = W / W.sum(axis=1, keepdims=True)
    return np.clip(J, 0, in_len - 1), W


def lanczos_resize(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Separable Lanczos-3 resize of a gray (h, w) or color (h, w, c)
    uint8 image -> uint8, float64 accumulation, taps summed in fixed
    k = 0..5 order (the twin mirrors this order for bit-identity)."""
    a = img.astype(np.float64)
    h, w = a.shape[:2]
    Jv, Wv = _axis_weights(h, out_h)
    out = np.zeros((out_h,) + a.shape[1:], dtype=np.float64)
    for k in range(2 * _LANCZOS_A):
        wk = Wv[:, k][:, None] if a.ndim == 2 else Wv[:, k][:, None, None]
        out += wk * a[Jv[:, k]]
    a = out
    Jh, Wh = _axis_weights(w, out_w)
    out = np.zeros((out_h, out_w) + a.shape[2:], dtype=np.float64)
    for k in range(2 * _LANCZOS_A):
        wk = Wh[:, k][None, :] if a.ndim == 2 else Wh[:, k][None, :, None]
        out += wk * a[:, Jh[:, k]]
    return np.clip(np.round(out), 0, 255).astype(np.uint8)


def prep_for_ocr(px: np.ndarray) -> np.ndarray:
    """P8: the reference's OCR-prep chain (upscale to `OCR_LONG_SIDE`);
    returns the 0/255 binary page (BINARY polarity: 255 = brighter than
    Otsu, i.e. paper)."""
    h, w = px.shape[:2]
    ls = max(h, w)
    if ls < OCR_LONG_SIDE:
        scale = OCR_LONG_SIDE / float(ls)
        px = lanczos_resize(px, int(h * scale), int(w * scale))
    g = grayscale(px)
    g = clahe(g, clip=2.0, tiles=(8, 8))
    t = otsu_threshold(g)
    thr = ((g > t) * 255).astype(np.uint8)
    return median3(thr)


def ocr_prep_stats_one(px: np.ndarray) -> dict:
    """Driver-query summaries of the prep output."""
    thr = prep_for_ocr(px)
    return {
        "prep_h": int(thr.shape[0]),
        "prep_w": int(thr.shape[1]),
        "white_frac": float(np.count_nonzero(thr)) / float(thr.size),
    }


def with_ocr_prep(df):
    """(image_id, bytes, fmt, w, h, ...) -> + prep_h, prep_w,
    white_frac; decode failures null the columns (error channel)."""
    return with_image_stage(
        df,
        "prep_h int, prep_w int, white_frac double",
        lambda px, image_id, fmt: ocr_prep_stats_one(px),
    )
