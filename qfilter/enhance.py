"""Enhancement / preprocessing operators (the reference's `improver`
package) re-expressed as numpy kernels + one Arrow UDF stage.

Reference parity (semantics transcribed, OpenCV replaced by numpy):

* P13 line detect   `line_cleaner.py:151-225` (`detect_extra_line_image`):
  Otsu-inv -> open with (min_len_ratio*w x 1) / (1 x min_len_ratio*h)
  kernels -> bbox extraction with length/thickness predicates ->
  border-band checks (1% band, dark ratio > 0.12) -> table suppression
  (>= threshold boxes spread > 0.6) -> score = 0.8*len + 0.2*thin.
* P14 line removal  `line_cleaner.py:53-84`: mask = hor | ver | bands,
  dilate, inpaint.  cv2.INPAINT_TELEA is replaced by local-background
  fill (median of unmasked neighborhood) — visually different, same
  contract (line pixels replaced by paper estimate).
* P11 lighten       `document_lightener.py:77-95`: background estimate
  by large blur -> divide -> normalize (CLAHE/NlMeans/unsharp steps of
  the reference are denoise refinements, out of decision-path scope).
* P15 deskew search `rotate_any_angle.py:43-119`: ink mask -> initial
  angle (weighted median of component angles, W2) -> coarse-to-fine
  projection-profile search (0.5, 0.2, 0.05 deg stages, W3) maximizing
  the row-projection gradient energy.
* P16 rotate        `rotate_any_angle.py:31-41`: bound-expanding
  affine rotation with white fill (bilinear).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from . import codecs
from .imageops import (
    _window_view,
    adaptive_threshold_inv,
    box_filter,
    connected_components,
    dilate,
    grayscale,
    morph_open,
    otsu_threshold,
)

__all__ = [
    "detect_lines",
    "remove_lines",
    "lighten_basic",
    "lighten_background_only",
    "lighten_stretch",
    "percentile_stretch",
    "rotate_bound_white",
    "deskew_angle_search",
    "orientation_vote",
    "orientation_one",
    "with_image_stage",
    "with_orientation",
    "with_line_features",
    "with_enhance_stats",
    "with_enhanced_bytes",
    "enhance_stats_one",
]


# P13/P14 line predicates, as `line_cleaner.py` hard-codes them
LINE_MAX_THICKNESS_PX = 8  # a detected line box is at most this thick
TABLE_MANY_LINES = 3  # this many spread-out boxes read as a table, not a stray rule
REMOVE_MIN_LEN_RATIO = 0.5  # P14 opening kernel length, as a fraction of the page side
REMOVE_LINE_THICKNESS = 3  # P14 mask dilation, px


def _otsu_inv(gray: np.ndarray) -> np.ndarray:
    t = otsu_threshold(gray)
    return ((gray <= t) * 255).astype(np.uint8)


def detect_lines(gray: np.ndarray, min_len_ratio: float) -> dict:
    """P13: stray ruled-line detector (see module doc for the recipe)."""
    h, w = gray.shape
    binv = _otsu_inv(gray)
    klen_h = max(10, int(min_len_ratio * w))
    klen_v = max(10, int(min_len_ratio * h))
    hor = morph_open(binv, 1, klen_h)
    ver = morph_open(binv, klen_v, 1)

    def extract_boxes(mask: np.ndarray, orient: str):
        comps = connected_components(dilate(mask, 3, 3))
        boxes = []
        for c in comps:
            x, y, x2, y2 = c["bbox"]
            ww, hh = x2 - x, y2 - y
            if orient == "h" and ww >= int(min_len_ratio * w) and hh <= LINE_MAX_THICKNESS_PX:
                boxes.append((x, y, ww, hh))
            if orient == "v" and hh >= int(min_len_ratio * h) and ww <= LINE_MAX_THICKNESS_PX:
                boxes.append((x, y, ww, hh))
        return boxes

    h_boxes = extract_boxes(hor, "h")
    v_boxes = extract_boxes(ver, "v")

    band = max(4, int(0.01 * min(w, h)))
    thr = 0.12
    if np.count_nonzero(binv[:band, :]) / binv[:band, :].size > thr:
        h_boxes.append((0, 0, w, band))
    if np.count_nonzero(binv[h - band :, :]) / binv[h - band :, :].size > thr:
        h_boxes.append((0, h - band, w, band))
    if np.count_nonzero(binv[:, :band]) / binv[:, :band].size > thr:
        v_boxes.append((0, 0, band, h))
    if np.count_nonzero(binv[:, w - band :]) / binv[:, w - band :].size > thr:
        v_boxes.append((w - band, 0, band, h))

    def is_table(boxes, orient):
        if len(boxes) < TABLE_MANY_LINES:
            return False
        coords = [b[1] for b in boxes] if orient == "h" else [b[0] for b in boxes]
        spread = (max(coords) - min(coords)) / (h if orient == "h" else w)
        return spread > 0.6

    if is_table(h_boxes, "h"):
        h_boxes = []
    if is_table(v_boxes, "v"):
        v_boxes = []

    def score(boxes, orient):
        if not boxes:
            return 0.0
        lengths = [(b[2] / w) if orient == "h" else (b[3] / h) for b in boxes]
        thicks = [b[3] if orient == "h" else b[2] for b in boxes]
        s_len = max(lengths)
        s_th = max(0.0, 1.0 - min(thicks) / max(1.0, float(LINE_MAX_THICKNESS_PX)))
        return 0.8 * s_len + 0.2 * s_th

    hs, vs = score(h_boxes, "h"), score(v_boxes, "v")
    if hs == 0 and vs == 0:
        return {"has_line": False, "orientation": None, "score": 0.0, "bboxes": []}
    if hs >= vs:
        return {"has_line": True, "orientation": "h", "score": float(hs), "bboxes": h_boxes}
    return {"has_line": True, "orientation": "v", "score": float(vs), "bboxes": v_boxes}


def remove_lines(px: np.ndarray, fill: str = "paper") -> np.ndarray:
    """P14: erase detected line pixels.

    ``fill`` picks the reconstruction:
    * ``"paper"`` (default) — local-background weighted-mean fill
      (rounds 1-2's documented stand-in; fully vectorized, the e2e
      path's choice);
    * ``"telea"`` — the reference's actual algorithm
      (`line_cleaner.py:84` cv2.INPAINT_TELEA), from-scratch
      fast-marching `telea_inpaint`.  Slower (per-masked-pixel heap)
      but boundary-aware; pixel outputs differ from "paper" by
      design, decision path (ink fraction) unaffected either way.
    """
    gray = grayscale(px)
    h, w = gray.shape
    binv = _otsu_inv(gray)
    hor = morph_open(binv, 1, max(10, int(REMOVE_MIN_LEN_RATIO * w)))
    ver = morph_open(binv, max(10, int(REMOVE_MIN_LEN_RATIO * h)), 1)
    mask = np.maximum(hor, ver)
    band = max(4, int(0.01 * min(w, h)))
    thr = 0.12
    if np.count_nonzero(binv[:band, :]) / binv[:band, :].size > thr:
        mask[:band, :] = 255
    if np.count_nonzero(binv[h - band :, :]) / binv[h - band :, :].size > thr:
        mask[h - band :, :] = 255
    if np.count_nonzero(binv[:, :band]) / binv[:, :band].size > thr:
        mask[:, :band] = 255
    if np.count_nonzero(binv[:, w - band :]) / binv[:, w - band :].size > thr:
        mask[:, w - band :] = 255
    mask = dilate(mask, REMOVE_LINE_THICKNESS, REMOVE_LINE_THICKNESS) != 0

    if fill == "telea":
        return telea_inpaint(px, mask.astype(np.uint8) * 255, radius=3)
    if fill != "paper":
        raise ValueError(f"unknown fill {fill!r}")
    out = px.copy()
    # paper estimate: large box blur of unmasked pixels (weighted mean)
    keep = (~mask).astype(np.float64)
    k = max(9, (min(h, w) // 10) | 1)
    for c in range(3):
        chan = px[..., c].astype(np.float64) * keep
        num = box_filter(np.clip(chan, 0, 255).astype(np.uint8), k).astype(np.float64)
        den = box_filter((keep * 255).astype(np.uint8), k).astype(np.float64) / 255.0
        bg = np.where(den > 1e-3, num / np.maximum(den, 1e-3), 255.0)
        out[..., c] = np.where(mask, np.clip(bg, 0, 255), px[..., c]).astype(np.uint8)
    return out


def lighten_basic(px: np.ndarray) -> np.ndarray:
    """P11: background-flattening lightener (blur-divide-normalize):
    the blurred background maps to paper level 235."""
    gray = grayscale(px).astype(np.float64)
    k = max(15, (min(gray.shape) // 8) | 1)
    bg = box_filter(gray.astype(np.uint8), k).astype(np.float64)
    ratio = np.clip(235 * gray / np.maximum(bg, 1.0), 0, 255)
    gain = np.where(gray > 0, ratio / np.maximum(gray, 1.0), 1.0)
    out = np.clip(px.astype(np.float64) * gain[..., None], 0, 255)
    return np.round(out).astype(np.uint8)


def _stretch_between(gray: np.ndarray, lo: float, hi: float) -> np.ndarray:
    if hi <= lo:
        return gray.copy()
    out = (gray.astype(np.float64) - lo) / (hi - lo)
    return (np.clip(out, 0.0, 1.0) * 255.0).astype(np.uint8)


def percentile_stretch(gray: np.ndarray, p_low: float, p_high: float) -> np.ndarray:
    """Linear stretch between the p_low/p_high percentiles, identity
    when degenerate (`document_lightener.py:67-74` _percentile_stretch,
    incl. its truncating uint8 cast)."""
    lo = float(np.percentile(gray, p_low))
    hi = float(np.percentile(gray, p_high))
    return _stretch_between(gray, lo, hi)


def _gray_dilate(gray: np.ndarray, k: int) -> np.ndarray:
    """Grayscale k x k max filter (separable, edge-replicate pad)."""
    a = _window_view(gray, k, 1).max(axis=(2, 3))
    return _window_view(a, 1, k).max(axis=(2, 3))


def _gray_erode(gray: np.ndarray, k: int) -> np.ndarray:
    a = _window_view(gray, k, 1).min(axis=(2, 3))
    return _window_view(a, 1, k).min(axis=(2, 3))


def _minmax_normalize(gray: np.ndarray) -> np.ndarray:
    """cv2.normalize(..., 0, 255, NORM_MINMAX) analogue."""
    g = gray.astype(np.float64)
    lo, hi = float(g.min()), float(g.max())
    if hi <= lo:
        return gray.astype(np.uint8).copy()
    return np.clip(np.round((g - lo) * (255.0 / (hi - lo))), 0, 255).astype(np.uint8)


def lighten_background_only(px: np.ndarray) -> np.ndarray:
    """P12a: background-only lightener
    (`document_lightener.py:98-115` _lighten_background_only_bgr).

    Transcribed semantics: L-channel background estimate (large blur)
    -> divide-flatten (scale 255) -> percentile stretch (2.0, 99.8)
    applied on the sub-Otsu mask -> min-max normalize -> gray output
    replicated to 3 channels (the reference's keep_color defaults to
    False here).  Deviations (documented, same policy as lighten_basic):
    luma grayscale stands in for LAB L, box filter for medianBlur, and
    the Gaussian/Canny/unsharp polish steps are omitted."""
    lum = grayscale(px)
    gray = lum.astype(np.float64)
    k = max(15, (min(lum.shape) // 8) | 1)
    bg = box_filter(lum, k).astype(np.float64)
    flat = np.clip(np.round(255.0 * gray / np.maximum(bg, 1.0)), 0, 255).astype(np.uint8)
    stretched = percentile_stretch(flat, 2.0, 99.8)
    mask = lum <= otsu_threshold(lum)
    out_l = np.where(mask, stretched, flat)
    out_l = _minmax_normalize(out_l)
    return np.repeat(out_l[..., None], 3, axis=2)


def lighten_stretch(px: np.ndarray) -> np.ndarray:
    """P12b: advanced lightener core
    (`document_lightener.py:117-163` lighten_document_image_advanced).

    Transcribed semantics: morphological paper estimate (large close =
    dilate-then-erode; the reference's OPEN-on-L via OpenCV estimates
    the dark envelope — we estimate paper, the stated intent) ->
    divide-flatten with a floor of 10 -> adaptive-threshold text mask
    -> percentile stretch (2.0, 99.0) on the non-text (paper) pixels
    -> min-max normalize -> color preserved via per-pixel gain (the
    reference's keep_color=True LAB merge).  NlMeans/CLAHE/Canny
    refinements omitted (denoise polish outside the decision path)."""
    lum = grayscale(px)
    h, w = lum.shape
    smin = min(h, w)
    k = max(9, (int(smin * 0.08) * 2 + 1))
    bg = _gray_erode(_gray_dilate(lum, k), k)
    bg = box_filter(bg, max(9, (smin // 16) | 1)).astype(np.float64)
    gray = lum.astype(np.float64)
    flat = np.clip(
        np.round(255.0 * gray / np.maximum(bg, 10.0)), 0, 255
    ).astype(np.uint8)
    blk = max(15, (int(smin * 0.035)) | 1)
    text_mask = adaptive_threshold_inv(flat, blk, 10) != 0
    # stretch floor clamped to the Otsu split: on low-ink pages the raw
    # 2nd percentile lands INSIDE the paper cluster and would map edge
    # paper to black (robustness guard over the reference's plain
    # percentile, which assumes ink > 2% of pixels)
    lo = min(float(np.percentile(flat, 2.0)), float(otsu_threshold(flat)))
    stretched = _stretch_between(flat, lo, float(np.percentile(flat, 99.0)))
    out_l = np.where(text_mask, flat, stretched)
    out_l = _minmax_normalize(out_l).astype(np.float64)
    gain = np.where(gray > 0, out_l / np.maximum(gray, 1.0), 1.0)
    out = np.clip(np.round(px.astype(np.float64) * gain[..., None]), 0, 255)
    return out.astype(np.uint8)


def rotate_bound_white(px: np.ndarray, angle_deg: float) -> np.ndarray:
    """P16: rotate by angle with canvas expansion and white border
    (bilinear resampling)."""
    h, w = px.shape[:2]
    th = np.deg2rad(angle_deg)
    c, s = np.cos(th), np.sin(th)
    nw = int(np.ceil(abs(w * c) + abs(h * s) - 1e-9))
    nh = int(np.ceil(abs(w * s) + abs(h * c) - 1e-9))
    yy, xx = np.mgrid[0:nh, 0:nw].astype(np.float64)
    # map output coords back to input (inverse rotation about centers)
    xo = xx - (nw - 1) / 2.0
    yo = yy - (nh - 1) / 2.0
    xi = c * xo + s * yo + (w - 1) / 2.0
    yi = -s * xo + c * yo + (h - 1) / 2.0
    x0 = np.floor(xi).astype(np.int64)
    y0 = np.floor(yi).astype(np.int64)
    fx = xi - x0
    fy = yi - y0
    valid = (xi >= 0) & (xi <= w - 1) & (yi >= 0) & (yi <= h - 1)
    x0c = np.clip(x0, 0, w - 2)
    y0c = np.clip(y0, 0, h - 2)
    out = np.full((nh, nw, 3), 255.0)
    for ch in range(3):
        p = px[..., ch].astype(np.float64)
        v = (
            p[y0c, x0c] * (1 - fx) * (1 - fy)
            + p[y0c, x0c + 1] * fx * (1 - fy)
            + p[y0c + 1, x0c] * (1 - fx) * fy
            + p[y0c + 1, x0c + 1] * fx * fy
        )
        out[..., ch] = np.where(valid, v, 255.0)
    return np.clip(np.round(out), 0, 255).astype(np.uint8)


def _projection_score(binv: np.ndarray) -> float:
    """Row-projection gradient energy (`rotate_any_angle.py:56-61`)."""
    proj = binv.sum(axis=1).astype(np.float64)
    d = np.diff(proj)
    return float((d * d).sum())


def _rotate_gray_white(gray: np.ndarray, angle_deg: float) -> np.ndarray:
    """Single-channel rotate_bound_white — identical arithmetic on one
    plane (the deskew search scores only one channel, so rotating a
    3-channel stack there was 3x wasted gathers; outputs are
    bit-identical to rotate_bound_white(...)[..., 0], tested)."""
    h, w = gray.shape
    th = np.deg2rad(angle_deg)
    c, s = np.cos(th), np.sin(th)
    nw = int(np.ceil(abs(w * c) + abs(h * s) - 1e-9))
    nh = int(np.ceil(abs(w * s) + abs(h * c) - 1e-9))
    yy, xx = np.mgrid[0:nh, 0:nw].astype(np.float64)
    xo = xx - (nw - 1) / 2.0
    yo = yy - (nh - 1) / 2.0
    xi = c * xo + s * yo + (w - 1) / 2.0
    yi = -s * xo + c * yo + (h - 1) / 2.0
    x0 = np.floor(xi).astype(np.int64)
    y0 = np.floor(yi).astype(np.int64)
    fx = xi - x0
    fy = yi - y0
    valid = (xi >= 0) & (xi <= w - 1) & (yi >= 0) & (yi <= h - 1)
    x0c = np.clip(x0, 0, w - 2)
    y0c = np.clip(y0, 0, h - 2)
    p = gray.astype(np.float64)
    v = (
        p[y0c, x0c] * (1 - fx) * (1 - fy)
        + p[y0c, x0c + 1] * fx * (1 - fy)
        + p[y0c + 1, x0c] * (1 - fx) * fy
        + p[y0c + 1, x0c + 1] * fx * fy
    )
    out = np.where(valid, v, 255.0)
    return np.clip(np.round(out), 0, 255).astype(np.uint8)


# (step, span) in degrees of the coarse, mid and fine deskew passes
DESKEW_PASSES = ((0.5, 8.0), (0.2, 3.0), (0.05, 1.0))


def deskew_angle_search(gray: np.ndarray) -> float:
    """P15 (+W3): coarse-to-fine search for the angle maximizing the
    row-projection gradient of the ink mask.  Returns degrees to rotate
    BY to deskew (positive = counterclockwise content skew)."""
    binv = adaptive_threshold_inv(gray, 31, 11)
    plane = (255 - binv).astype(np.uint8)

    def score_at(a: float) -> float:
        r = _rotate_gray_white(plane, a)
        rb = ((r < 128) * 255).astype(np.uint8)
        return _projection_score(rb)

    best = 0.0
    for step, span in DESKEW_PASSES:
        angles = np.arange(best - span, best + span + step / 2, step)
        scores = [score_at(float(a)) for a in angles]
        best = float(angles[int(np.argmax(scores))])
    return best


# ------------------------------------------------------------ UDF stage

def with_image_stage(df, schema: str, one):
    """(image_id, bytes, fmt, w, h, ...) -> df's columns + the columns of
    the DDL ``schema``: the one batched Arrow stage every per-image
    operator runs through.  Each row is decoded once and handed to
    ``one(px, image_id, fmt)``, which returns a dict keyed by the schema's
    columns; a row whose decode or kernel raises gets all-NULL columns
    (error channel, never a task failure)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    struct = T.StructType.fromDDL(schema)

    @F.pandas_udf(struct)
    def stage(
        image_id: pd.Series, data: pd.Series, fmt: pd.Series,
        w: pd.Series, h: pd.Series,
    ) -> pd.DataFrame:
        rows = []
        for iid, b, f, ww, hh in zip(image_id, data, fmt, w, h):
            try:
                rows.append(one(codecs.decode(b, f, int(ww), int(hh)), str(iid), f))
            except Exception:  # noqa: BLE001
                rows.append(dict.fromkeys(struct.names))
        return pd.DataFrame(rows, columns=struct.names)

    out = df.withColumn("_stage", stage("image_id", "bytes", "fmt", "w", "h"))
    return out.select(*df.columns, "_stage.*")


def _line_row(px: np.ndarray, image_id: str, fmt: str) -> dict:
    d = detect_lines(grayscale(px), min_len_ratio=0.5)
    return {
        "has_line": bool(d["has_line"]),
        "line_orientation": d["orientation"],
        "line_score": float(d["score"]),
        "n_line_boxes": len(d["bboxes"]),
    }


def with_line_features(df):
    """(image_id, bytes, fmt, w, h, ...) -> + has_line, line_orientation,
    line_score, n_line_boxes columns (P13 as a batched stage); an error
    row reads (False, NULL, 0.0, 0)."""
    from pyspark.sql import functions as F

    out = with_image_stage(
        df,
        "has_line boolean, line_orientation string, line_score double, n_line_boxes int",
        _line_row,
    )
    return out.withColumns(
        {c: F.coalesce(c, F.lit(v))
         for c, v in (("has_line", False), ("line_score", 0.0), ("n_line_boxes", 0))}
    )


def enhance_stats_one(px: np.ndarray) -> dict:
    """Scalar summaries of the three enhancement transforms on one
    image — shared verbatim by the Spark stage below and the
    single-node oracle sidecar (tools/make_oracle_sidecars.py), so the
    driver's DuckDB comparison is bit-exact.

    * deskew_deg          P15/W3 (`rotate_any_angle.py:43-119`)
    * lightened_mean      mean gray after P11 lighten (`document_lightener.py:77-95`)
    * lightened_bg_mean   after P12a background-only (`document_lightener.py:98-115`)
    * lightened_adv_mean  after P12b advanced stretch (`document_lightener.py:117-163`)
    * delined_ink_frac    Otsu-ink fraction after P14 removal (`line_cleaner.py:53-84`)
    """
    gray = grayscale(px)
    deg = float(deskew_angle_search(gray))
    lit = grayscale(lighten_basic(px))
    lmean = float(lit.mean(dtype=np.float64))
    bg_mean = float(grayscale(lighten_background_only(px)).mean(dtype=np.float64))
    adv_mean = float(grayscale(lighten_stretch(px)).mean(dtype=np.float64))
    cleaned = grayscale(remove_lines(px))
    binv = _otsu_inv(cleaned)
    ink = float(np.count_nonzero(binv)) / float(binv.size)
    return {
        "deskew_deg": deg,
        "lightened_mean": lmean,
        "lightened_bg_mean": bg_mean,
        "lightened_adv_mean": adv_mean,
        "delined_ink_frac": ink,
    }


def with_enhance_stats(df):
    """(image_id, bytes, fmt, w, h, ...) -> + deskew_deg,
    lightened_mean, lightened_bg_mean, lightened_adv_mean,
    delined_ink_frac (P11/P12/P14/P15 as one batched stage; decode
    errors -> NULLs, no task failure)."""
    return with_image_stage(
        df,
        "deskew_deg double, lightened_mean double, lightened_bg_mean double, "
        "lightened_adv_mean double, delined_ink_frac double",
        lambda px, image_id, fmt: enhance_stats_one(px),
    )


# ------------------------------------- P17/P18: orientation heuristic

def _flip_asymmetry(binv: np.ndarray) -> float:
    """Per-text-line ink asymmetry: sum over detected line bands of
    (bottom-half ink - top-half ink).  Upright body text is
    bottom-heavy inside its line box (the dense x-height region sits on
    the baseline; ascenders above it are sparse), so upright pages
    score >= 0 and 180-rotated pages score < 0."""
    ink = binv > 0
    rows = ink.sum(axis=1).astype(np.float64)
    mx = rows.max()
    if mx <= 0:
        return 0.0
    on = rows > 0.1 * mx
    s = 0.0
    i, n = 0, len(on)
    while i < n:
        if not on[i]:
            i += 1
            continue
        j = i
        while j < n and on[j]:
            j += 1
        seg = rows[i:j]
        m = len(seg)
        if m >= 4:  # ignore 1-3 px specks
            top = float(seg[: m // 2].sum())
            bot = float(seg[(m + 1) // 2 :].sum())
            s += bot - top
        i = j
    return s


def orientation_vote(gray: np.ndarray) -> dict:
    """P17/P18 heuristic stand-in.  The reference decides page
    orientation with a PaddleOCR classification model
    (`rotate_right.py:73-163`) — unavailable offline by design (SURVEY
    §7.6); this keeps the operator CONTRACT (choose k in {0, 90, 180,
    270} and the rotation that uprights the page) with a model-free
    vote:

    * 0/90 axis: row-projection gradient energy of the ink mask — text
      lines maximize it when horizontal (same score as the P15 deskew
      search, `rotate_any_angle.py:56-61`);
    * 0 vs 180 flip: per-line ink asymmetry (`_flip_asymmetry`).

    Returns ``rot_ccw_deg`` — degrees to rotate counterclockwise
    (np.rot90 steps, exact, no resampling) to upright the page — plus
    the diagnostic scores.

    Honesty note (measured on the smoke fixtures): the axis pick is
    ~97% correct on clean pages; the flip pick NEEDS glyph asymmetry —
    on the synthetic fixtures' vertically-symmetric glyphs 0-vs-180 is
    information-theoretically undecidable and the flip vote is chance
    there (it recovers real asymmetric text, see
    test_orientation_vote_recovers_quarter_turns)."""
    binv0 = adaptive_threshold_inv(gray, 31, 11)
    h_score = _projection_score(binv0)
    g90 = np.rot90(gray, 1)
    binv90 = adaptive_threshold_inv(g90, 31, 11)
    v_score = _projection_score(binv90)
    k_axis = 0 if h_score >= v_score else 1
    binv_up = binv0 if k_axis == 0 else binv90
    asym = _flip_asymmetry(binv_up)
    k = k_axis if asym >= 0.0 else k_axis + 2
    return {
        "rot_ccw_deg": 90 * k,
        "h_score": float(h_score),
        "v_score": float(v_score),
        "flip_asym": float(asym),
    }


def orientation_one(px: np.ndarray, image_id: str) -> dict:
    """Plant a deterministic rotation (crc32(image_id) % 4 quarter
    turns), detect it, report recovery — shared verbatim by the Spark
    stage and the single-node oracle sidecar."""
    import zlib

    planted = zlib.crc32(image_id.encode("utf-8")) % 4
    rotated = np.rot90(px, planted, axes=(0, 1))
    v = orientation_vote(grayscale(rotated))
    detected = v["rot_ccw_deg"] // 90
    return {
        "planted_deg": 90 * planted,
        "detected_deg": 90 * detected,
        "recovered": (planted + detected) % 4 == 0,
    }


def with_orientation(df):
    """(image_id, bytes, fmt, w, h, ...) -> + planted_deg, detected_deg,
    recovered (P17/P18 as a batched Arrow stage; errors -> NULLs)."""
    return with_image_stage(
        df,
        "planted_deg int, detected_deg int, recovered boolean",
        lambda px, image_id, fmt: orientation_one(px, image_id),
    )


# ------------------------------------------------- K5 analog: writeback

def with_enhanced_bytes(df):
    """(image_id, bytes, fmt, w, h, ...) -> + ``enhanced`` (re-encoded
    transformed bytes, same format).  Decode -> P11 lighten -> re-encode
    in the SAME format: the transformed-bytes writeback contract of the
    reference's enhancement scripts (`document_lightener.py:247-254`,
    `rotate_any_angle.py:151-158` save the transformed pixels back to
    image files).  Decode/encode errors -> NULL (the error-channel
    contract); bytes stay inside one Arrow stage — the downstream query
    hashes them (md5) before any shuffle."""
    return with_image_stage(
        df,
        "enhanced binary",
        lambda px, image_id, fmt: {"enhanced": codecs.encode(lighten_basic(px), fmt)},
    )


def telea_inpaint(px: np.ndarray, mask: np.ndarray, radius: int = 3) -> np.ndarray:
    """P14 fill, Telea fast-marching inpaint (from scratch).

    The reference erases detected lines with `cv2.inpaint(...,
    INPAINT_TELEA)` (`line_cleaner.py:84`); rounds 1-2 substituted a
    local-background paper fill (documented deviation).  This is the
    actual Telea FMM algorithm: masked pixels are filled in order of
    increasing eikonal distance T from the known boundary (|grad T| =
    1, quadratic neighbor solve), each estimated as a weighted average
    of already-known pixels within ``radius`` — weight = direction
    factor (alignment of the offset with grad T) x geometric distance
    factor (1/|r|^2) x level factor (1/(1 + |T_n - T_p|)).  Telea's
    optional image-gradient term is omitted (the common
    simplification; documented).

    Deterministic: the heap orders by (T, insertion counter); all
    arithmetic is straight float64.  Complexity O(M log M + M r^2)
    for M masked pixels — the line masks this fills are a few percent
    of the page.
    """
    import heapq

    h, w = mask.shape
    m = mask != 0
    out = px.astype(np.float64).copy()
    if not m.any():
        return px.copy()
    KNOWN, BAND, INSIDE = 0, 1, 2
    flags = np.where(m, INSIDE, KNOWN).astype(np.int8)
    T = np.where(m, 1e6, 0.0)
    # initial band: known 4-neighbors of the mask
    band_mask = np.zeros((h, w), dtype=bool)
    pm = np.zeros((h + 2, w + 2), dtype=bool)
    pm[1:-1, 1:-1] = m
    nb = pm[:-2, 1:-1] | pm[2:, 1:-1] | pm[1:-1, :-2] | pm[1:-1, 2:]
    band_mask = nb & ~m
    heap: list = []
    counter = 0
    for y, x in zip(*np.nonzero(band_mask)):
        flags[y, x] = BAND
        heapq.heappush(heap, (0.0, counter, int(y), int(x)))
        counter += 1

    def _solve(y1, x1, y2, x2) -> float:
        ok1 = 0 <= y1 < h and 0 <= x1 < w and flags[y1, x1] == KNOWN
        ok2 = 0 <= y2 < h and 0 <= x2 < w and flags[y2, x2] == KNOWN
        if ok1 and ok2:
            t1, t2 = T[y1, x1], T[y2, x2]
            d = 2.0 - (t1 - t2) * (t1 - t2)
            if d > 0.0:
                r = np.sqrt(d)
                s = (t1 + t2 + r) / 2.0
                if s >= t1 and s >= t2:
                    return s
                s += r
                if s >= t1 and s >= t2:
                    return s
            return 1e6
        if ok1:
            return T[y1, x1] + 1.0
        if ok2:
            return T[y2, x2] + 1.0
        return 1e6

    def _inpaint_pixel(y, x):
        gy = T[min(y + 1, h - 1), x] - T[max(y - 1, 0), x]
        gx = T[y, min(x + 1, w - 1)] - T[y, max(x - 1, 0)]
        num = np.zeros(out.shape[2] if out.ndim == 3 else 1)
        den = 0.0
        for ny in range(max(0, y - radius), min(h, y + radius + 1)):
            for nx in range(max(0, x - radius), min(w, x + radius + 1)):
                if flags[ny, nx] != KNOWN:
                    continue
                ry, rx = y - ny, x - nx
                r2 = ry * ry + rx * rx
                if r2 == 0 or r2 > radius * radius:
                    continue
                rlen = np.sqrt(r2)
                dir_f = abs(ry * gy + rx * gx) / rlen
                if dir_f <= 1e-6:
                    dir_f = 1e-6
                dst_f = 1.0 / r2
                lev_f = 1.0 / (1.0 + abs(T[ny, nx] - T[y, x]))
                wgt = dir_f * dst_f * lev_f
                num += wgt * (out[ny, nx] if out.ndim == 3 else out[ny, nx : nx + 1])
                den += wgt
        if den > 0:
            if out.ndim == 3:
                out[y, x] = num / den
            else:
                out[y, x] = (num / den)[0]

    while heap:
        t, _, y, x = heapq.heappop(heap)
        if flags[y, x] == KNOWN:
            continue
        flags[y, x] = KNOWN
        T[y, x] = t
        for dy, dx in ((-1, 0), (1, 0), (0, -1), (0, 1)):
            ny, nx = y + dy, x + dx
            if not (0 <= ny < h and 0 <= nx < w):
                continue
            if flags[ny, nx] == KNOWN:
                continue
            if flags[ny, nx] == INSIDE:
                _inpaint_pixel(ny, nx)
            tn = min(
                _solve(ny - 1, nx, ny, nx - 1),
                _solve(ny + 1, nx, ny, nx - 1),
                _solve(ny - 1, nx, ny, nx + 1),
                _solve(ny + 1, nx, ny, nx + 1),
            )
            if tn < T[ny, nx]:
                T[ny, nx] = tn
            flags[ny, nx] = BAND
            heapq.heappush(heap, (float(T[ny, nx]), counter, ny, nx))
            counter += 1

    return np.clip(np.round(out), 0, 255).astype(px.dtype)
