"""Independently-coded reference twins of the enhance / line /
orientation kernels (`qfilter/enhance.py`).

Why this exists: the driver's oracle for `qf_enhance_stats`,
`qf_line_features` and `qf_orientation` is a single-node sidecar that
runs the SAME kernels without Spark — which proves Spark-plumbing
determinism, not kernel semantics.  This module is the second
implementation (the `batch_text` vs `engine` pattern): the same
mathematical recipe re-coded on different machinery —

* `np.pad(mode="edge")` + `sliding_window_view` min/max/mean/median
  instead of the kernels' custom pads, integral images and sorting
  networks;
* BFS flood-fill connected components (Python deque) instead of the
  run-based vectorized union-find;
* histogram-loop Otsu over the classic ``w0*w1*(mu0-mu1)^2``
  between-class variance instead of the count-based closed form;
* flattened-index gathers in the bilinear rotation instead of 2-D
  fancy indexing.

Float sections keep the same per-element operation ORDER (required
for bit-identity — IEEE ops round deterministically, so same ops on
same values give same doubles no matter which indexing machinery
feeds them); everything integer-valued is exact under any order.
`tests/test_enhance_twin.py` asserts exact equality against the live
kernels over fixture images — a 1-ulp kernel edit fails it loudly,
independent of the (auto-invalidating) sidecars.

Deliberately simple and slow — this is an oracle, not a pipeline.
"""

from __future__ import annotations

from collections import deque

import numpy as np

__all__ = [
    "detect_lines_ref",
    "enhance_stats_ref",
    "orientation_ref",
]


# ----------------------------------------------------- base machinery

def _win(gray: np.ndarray, kh: int, kw: int) -> np.ndarray:
    p = np.pad(
        gray,
        ((kh // 2, kh - 1 - kh // 2), (kw // 2, kw - 1 - kw // 2)),
        mode="edge",
    )
    return np.lib.stride_tricks.sliding_window_view(p, (kh, kw))


def grayscale_ref(px: np.ndarray) -> np.ndarray:
    if px.ndim == 2:
        return px.astype(np.uint8)
    # same weights, same elementwise expression order as the kernel
    f = px[..., 0] * 0.299 + px[..., 1] * 0.587 + px[..., 2] * 0.114
    return np.clip(np.round(f), 0, 255).astype(np.uint8)


def otsu_ref(gray: np.ndarray) -> int:
    """Histogram-loop Otsu (running scalar cumulatives instead of the
    kernel's vectorized cumsums) over the SAME count-based objective
    expression ``(muT*omega - mu*N)^2 / (omega*(N - omega))``.

    The expression must match the kernel's, not just its real value:
    the classic ``w0*w1*(mu0-mu1)^2`` form rounds differently and was
    observed to flip the argmax by one grey level on a near-tie
    (1800 px CLAHE'd plane in the ocr-prep fixtures).  All cumulative
    inputs are exact integers in float64 (< 2^53), so loop vs cumsum
    machinery yields identical doubles; first-max tie-break mirrors
    np.argmax."""
    hist = np.bincount(gray.reshape(-1), minlength=256).astype(np.float64)
    total = float(hist.sum())
    if total == 0:
        return 127
    mu_t = float(np.dot(hist, np.arange(256.0)))
    best_t, best_v = 0, -np.inf
    omega = 0.0
    mu = 0.0
    for t in range(256):
        omega += hist[t]
        mu += hist[t] * t
        denom = omega * (total - omega)
        if denom <= 0.0:
            v = 0.0
        else:
            v = (mu_t * omega - mu * total) ** 2 / denom
        if v > best_v:
            best_v, best_t = v, t
    return best_t


def box_filter_ref(gray: np.ndarray, k: int) -> np.ndarray:
    means = _win(gray, k, k).mean(axis=(2, 3), dtype=np.float64)
    return np.clip(np.round(means), 0, 255).astype(np.uint8)


def median3_ref(gray: np.ndarray) -> np.ndarray:
    if gray.shape[0] < 3 or gray.shape[1] < 3:
        return gray.copy()
    return np.median(_win(gray, 3, 3), axis=(2, 3)).astype(np.uint8)


def erode_ref(b: np.ndarray, kh: int, kw: int) -> np.ndarray:
    if kh <= 1 and kw <= 1:
        return b
    return _win(b, kh, kw).min(axis=(2, 3))


def dilate_ref(b: np.ndarray, kh: int, kw: int) -> np.ndarray:
    if kh <= 1 and kw <= 1:
        return b
    return _win(b, kh, kw).max(axis=(2, 3))


def morph_open_ref(b: np.ndarray, kh: int, kw: int) -> np.ndarray:
    return dilate_ref(erode_ref(b, kh, kw), kh, kw)


def adaptive_inv_ref(gray: np.ndarray, block: int, c: float) -> np.ndarray:
    means = _win(gray, block, block).mean(axis=(2, 3), dtype=np.float64)
    return ((gray.astype(np.float64) <= means - c) * 255).astype(np.uint8)


def cc_ref(binary: np.ndarray) -> list[dict]:
    """8-connected components by BFS flood fill.  Component order =
    scan order of each component's first (row-major) pixel, which
    equals the run-based implementation's root-run order."""
    h, w = binary.shape
    mask = binary != 0
    seen = np.zeros((h, w), dtype=bool)
    comps = []
    for sy in range(h):
        row = mask[sy]
        for sx in range(w):
            if not row[sx] or seen[sy, sx]:
                continue
            q = deque([(sy, sx)])
            seen[sy, sx] = True
            xs, ys = [], []
            while q:
                y, x = q.popleft()
                xs.append(x)
                ys.append(y)
                for dy in (-1, 0, 1):
                    for dx in (-1, 0, 1):
                        ny, nx = y + dy, x + dx
                        if (
                            0 <= ny < h and 0 <= nx < w
                            and mask[ny, nx] and not seen[ny, nx]
                        ):
                            seen[ny, nx] = True
                            q.append((ny, nx))
            xa = np.array(xs, dtype=np.float64)
            ya = np.array(ys, dtype=np.float64)
            comps.append(
                {
                    "area": len(xs),
                    "bbox": (
                        int(xa.min()), int(ya.min()),
                        int(xa.max()) + 1, int(ya.max()) + 1,
                    ),
                    "sum_x": float(xa.sum()),
                    "sum_y": float(ya.sum()),
                    "sxx": float((xa * xa).sum()),
                    "syy": float((ya * ya).sum()),
                    "sxy": float((ya * xa).sum()),
                }
            )
    return comps


def _otsu_inv_ref(gray: np.ndarray) -> np.ndarray:
    t = otsu_ref(gray)
    return ((gray <= t) * 255).astype(np.uint8)


# --------------------------------------------------------- line twin

MAX_THICKNESS = 8  # px, thickest box still read as a line
TABLE_LINES = 3  # boxes from which a spread-out set is a table
DELINE_RATIO = 0.5  # line-removal opening length / page side
DELINE_DILATE = 3  # line-removal mask dilation, px


def detect_lines_ref(gray: np.ndarray, min_len_ratio: float) -> dict:
    h, w = gray.shape
    binv = _otsu_inv_ref(gray)
    hor = morph_open_ref(binv, 1, max(10, int(min_len_ratio * w)))
    ver = morph_open_ref(binv, max(10, int(min_len_ratio * h)), 1)

    def extract(mask, orient):
        boxes = []
        for c in cc_ref(dilate_ref(mask, 3, 3)):
            x, y, x2, y2 = c["bbox"]
            ww, hh = x2 - x, y2 - y
            if orient == "h" and ww >= int(min_len_ratio * w) and hh <= MAX_THICKNESS:
                boxes.append((x, y, ww, hh))
            if orient == "v" and hh >= int(min_len_ratio * h) and ww <= MAX_THICKNESS:
                boxes.append((x, y, ww, hh))
        return boxes

    h_boxes = extract(hor, "h")
    v_boxes = extract(ver, "v")

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
        if len(boxes) < TABLE_LINES:
            return False
        coords = [b[1] for b in boxes] if orient == "h" else [b[0] for b in boxes]
        return (max(coords) - min(coords)) / (h if orient == "h" else w) > 0.6

    if is_table(h_boxes, "h"):
        h_boxes = []
    if is_table(v_boxes, "v"):
        v_boxes = []

    def score(boxes, orient):
        if not boxes:
            return 0.0
        lengths = [(b[2] / w) if orient == "h" else (b[3] / h) for b in boxes]
        thicks = [b[3] if orient == "h" else b[2] for b in boxes]
        return 0.8 * max(lengths) + 0.2 * max(
            0.0, 1.0 - min(thicks) / max(1.0, float(MAX_THICKNESS))
        )

    hs, vs = score(h_boxes, "h"), score(v_boxes, "v")
    if hs == 0 and vs == 0:
        return {"has_line": False, "orientation": None, "score": 0.0, "bboxes": []}
    if hs >= vs:
        return {"has_line": True, "orientation": "h", "score": float(hs), "bboxes": h_boxes}
    return {"has_line": True, "orientation": "v", "score": float(vs), "bboxes": v_boxes}


# ------------------------------------------------------ enhance twin

def _stretch_between_ref(gray, lo, hi):
    if hi <= lo:
        return gray.copy()
    out = (gray.astype(np.float64) - lo) / (hi - lo)
    return (np.clip(out, 0.0, 1.0) * 255.0).astype(np.uint8)


def _minmax_normalize_ref(gray):
    g = gray.astype(np.float64)
    lo, hi = float(g.min()), float(g.max())
    if hi <= lo:
        return gray.astype(np.uint8).copy()
    return np.clip(np.round((g - lo) * (255.0 / (hi - lo))), 0, 255).astype(np.uint8)


def lighten_basic_ref(px, target_paper: int = 235):
    gray = grayscale_ref(px).astype(np.float64)
    k = max(15, (min(gray.shape) // 8) | 1)
    bg = box_filter_ref(gray.astype(np.uint8), k).astype(np.float64)
    ratio = np.clip(target_paper * gray / np.maximum(bg, 1.0), 0, 255)
    gain = np.where(gray > 0, ratio / np.maximum(gray, 1.0), 1.0)
    out = np.clip(px.astype(np.float64) * gain[..., None], 0, 255)
    return np.round(out).astype(np.uint8)


def lighten_background_only_ref(px):
    lum = grayscale_ref(px)
    gray = lum.astype(np.float64)
    k = max(15, (min(lum.shape) // 8) | 1)
    bg = box_filter_ref(lum, k).astype(np.float64)
    flat = np.clip(np.round(255.0 * gray / np.maximum(bg, 1.0)), 0, 255).astype(np.uint8)
    lo = float(np.percentile(flat, 2.0))
    hi = float(np.percentile(flat, 99.8))
    stretched = _stretch_between_ref(flat, lo, hi)
    mask = lum <= otsu_ref(lum)
    out_l = np.where(mask, stretched, flat)
    out_l = _minmax_normalize_ref(out_l)
    return np.repeat(out_l[..., None], 3, axis=2)


def lighten_stretch_ref(px):
    lum = grayscale_ref(px)
    h, w = lum.shape
    smin = min(h, w)
    k = max(9, (int(smin * 0.08) * 2 + 1))
    bg = erode_ref(dilate_ref(lum, k, k), k, k)
    bg = box_filter_ref(bg, max(9, (smin // 16) | 1)).astype(np.float64)
    gray = lum.astype(np.float64)
    flat = np.clip(np.round(255.0 * gray / np.maximum(bg, 10.0)), 0, 255).astype(np.uint8)
    blk = max(15, (int(smin * 0.035)) | 1)
    text_mask = adaptive_inv_ref(flat, blk, 10) != 0
    lo = min(float(np.percentile(flat, 2.0)), float(otsu_ref(flat)))
    stretched = _stretch_between_ref(flat, lo, float(np.percentile(flat, 99.0)))
    out_l = np.where(text_mask, flat, stretched)
    out_l = _minmax_normalize_ref(out_l).astype(np.float64)
    gain = np.where(gray > 0, out_l / np.maximum(gray, 1.0), 1.0)
    out = np.clip(np.round(px.astype(np.float64) * gain[..., None]), 0, 255)
    return out.astype(np.uint8)


def remove_lines_ref(px):
    gray = grayscale_ref(px)
    h, w = gray.shape
    binv = _otsu_inv_ref(gray)
    hor = morph_open_ref(binv, 1, max(10, int(DELINE_RATIO * w)))
    ver = morph_open_ref(binv, max(10, int(DELINE_RATIO * h)), 1)
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
    mask = dilate_ref(mask, DELINE_DILATE, DELINE_DILATE) != 0

    out = px.copy()
    keep = (~mask).astype(np.float64)
    k = max(9, (min(h, w) // 10) | 1)
    for c in range(3):
        chan = px[..., c].astype(np.float64) * keep
        num = box_filter_ref(np.clip(chan, 0, 255).astype(np.uint8), k).astype(np.float64)
        den = box_filter_ref((keep * 255).astype(np.uint8), k).astype(np.float64) / 255.0
        bg = np.where(den > 1e-3, num / np.maximum(den, 1e-3), 255.0)
        out[..., c] = np.where(mask, np.clip(bg, 0, 255), px[..., c]).astype(np.uint8)
    return out


def rotate_gray_ref(gray: np.ndarray, angle_deg: float) -> np.ndarray:
    """Bilinear rotate with white fill — flattened-index gathers, same
    per-pixel blend expression order as the kernel."""
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
    p = gray.astype(np.float64).ravel()
    base = y0c * w + x0c
    v = (
        p[base] * (1 - fx) * (1 - fy)
        + p[base + 1] * fx * (1 - fy)
        + p[base + w] * (1 - fx) * fy
        + p[base + w + 1] * fx * fy
    )
    out = np.where(valid, v, 255.0)
    return np.clip(np.round(out), 0, 255).astype(np.uint8)


def _projection_score_ref(binv: np.ndarray) -> float:
    proj = binv.astype(np.float64).sum(axis=1)
    d = proj[1:] - proj[:-1]
    return float(np.dot(d, d))


def deskew_ref(
    gray: np.ndarray,
    coarse=(0.5, 8.0),
    mid=(0.2, 3.0),
    fine=(0.05, 1.0),
) -> float:
    binv = adaptive_inv_ref(gray, 31, 11)
    plane = (255 - binv).astype(np.uint8)

    def score_at(a):
        r = rotate_gray_ref(plane, a)
        rb = ((r < 128) * 255).astype(np.uint8)
        return _projection_score_ref(rb)

    best = 0.0
    for step, span in (coarse, mid, fine):
        angles = np.arange(best - span, best + span + step / 2, step)
        scores = [score_at(float(a)) for a in angles]
        best = float(angles[int(np.argmax(scores))])
    return best


def enhance_stats_ref(px: np.ndarray) -> dict:
    gray = grayscale_ref(px)
    deg = float(deskew_ref(gray))
    lmean = float(grayscale_ref(lighten_basic_ref(px)).mean(dtype=np.float64))
    bg_mean = float(
        grayscale_ref(lighten_background_only_ref(px)).mean(dtype=np.float64)
    )
    adv_mean = float(grayscale_ref(lighten_stretch_ref(px)).mean(dtype=np.float64))
    cleaned = grayscale_ref(remove_lines_ref(px))
    binv = _otsu_inv_ref(cleaned)
    ink = float(np.count_nonzero(binv)) / float(binv.size)
    return {
        "deskew_deg": deg,
        "lightened_mean": lmean,
        "lightened_bg_mean": bg_mean,
        "lightened_adv_mean": adv_mean,
        "delined_ink_frac": ink,
    }


# -------------------------------------------------- orientation twin

def _flip_asymmetry_ref(binv: np.ndarray) -> float:
    """Segment detection via np.diff on the on/off profile instead of
    the kernel's index walk; per-segment arithmetic identical."""
    ink = binv > 0
    rows = ink.sum(axis=1).astype(np.float64)
    mx = rows.max()
    if mx <= 0:
        return 0.0
    on = rows > 0.1 * mx
    padded = np.concatenate(([False], on, [False]))
    d = np.diff(padded.astype(np.int8))
    starts = np.nonzero(d == 1)[0]
    ends = np.nonzero(d == -1)[0]
    s = 0.0
    for i, j in zip(starts, ends):
        seg = rows[i:j]
        m = len(seg)
        if m >= 4:
            s += float(seg[(m + 1) // 2 :].sum()) - float(seg[: m // 2].sum())
    return s


def orientation_ref(px: np.ndarray, image_id: str) -> dict:
    import zlib

    planted = zlib.crc32(image_id.encode("utf-8")) % 4
    rotated = np.rot90(px, planted, axes=(0, 1))
    gray = grayscale_ref(rotated)
    binv0 = adaptive_inv_ref(gray, 31, 11)
    h_score = _projection_score_ref(binv0)
    binv90 = adaptive_inv_ref(np.rot90(gray, 1), 31, 11)
    v_score = _projection_score_ref(binv90)
    k_axis = 0 if h_score >= v_score else 1
    binv_up = binv0 if k_axis == 0 else binv90
    asym = _flip_asymmetry_ref(binv_up)
    k = k_axis if asym >= 0.0 else k_axis + 2
    detected = (90 * k) // 90
    return {
        "planted_deg": 90 * planted,
        "detected_deg": 90 * detected,
        "recovered": (planted + detected) % 4 == 0,
    }


# ------------------------------------------------- polish-chain twins
#
# Twins of qfilter/polish.py (CLAHE / Gaussian USM / Canny / NL-means
# / full chain).  Same per-element float expressions and accumulation
# orders; different machinery: flat-index LUT gathers, np.pad +
# sliding-window patch sums, BFS hysteresis.

def clahe_ref(gray: np.ndarray, clip: float = 2.0, tiles=(8, 8)) -> np.ndarray:
    h, w = gray.shape
    ty, tx = tiles
    th = (h + ty - 1) // ty
    tw = (w + tx - 1) // tx
    luts = np.empty((ty * tx, 256), dtype=np.float64)
    for i in range(ty):
        for j in range(tx):
            tile = gray[i * th : min((i + 1) * th, h), j * tw : min((j + 1) * tw, w)]
            n = tile.size
            hist = np.bincount(tile.reshape(-1), minlength=256)
            limit = max(1, int(clip * n / 256.0))
            excess = int(np.maximum(hist - limit, 0).sum())
            hist = np.minimum(hist, limit)
            hist = hist + excess // 256
            rem = excess % 256
            if rem:
                hist[:rem] += 1
            cdf = np.cumsum(hist)
            cdfmin = cdf[np.nonzero(cdf)[0][0]] if cdf[-1] else 0
            denom = max(int(cdf[-1]) - int(cdfmin), 1)
            luts[i * tx + j] = np.clip(
                np.round((cdf - cdfmin) * (255.0 / denom)), 0, 255
            )
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
    wy = np.where(fy < 0, 0.0, wy)
    wy = np.where(fy > ty - 1, 0.0, wy)
    wx = np.where(fx < 0, 0.0, wx)
    wx = np.where(fx > tx - 1, 0.0, wx)
    g = gray.astype(np.int64)
    flat = luts.reshape(-1)
    # flattened-index gathers instead of 3-D fancy indexing
    def _gather(iy, jx):
        idx = (iy[:, None] * tx + jx[None, :]) * 256 + g
        return flat[idx]

    WY = wy[:, None]
    WX = wx[None, :]
    out = (
        _gather(i0, j0) * (1.0 - WY) * (1.0 - WX)
        + _gather(i0, j1) * (1.0 - WY) * WX
        + _gather(i1, j0) * WY * (1.0 - WX)
        + _gather(i1, j1) * WY * WX
    )
    return np.clip(np.round(out), 0, 255).astype(np.uint8)


def gaussian_blur_sigma_ref(gray: np.ndarray, sigma: float) -> np.ndarray:
    r = int(np.ceil(3.0 * sigma))
    x = np.arange(-r, r + 1, dtype=np.float64)
    k = np.exp(-(x * x) / (2.0 * sigma * sigma))
    k = k / k.sum()
    h, w = gray.shape
    p = np.pad(gray.astype(np.float64), ((r, r), (0, 0)), mode="edge")
    v = np.zeros((h, w), dtype=np.float64)
    for i, kv in enumerate(k):
        v += kv * p[i : i + h, :]
    p = np.pad(v, ((0, 0), (r, r)), mode="edge")
    o = np.zeros((h, w), dtype=np.float64)
    for i, kv in enumerate(k):
        o += kv * p[:, i : i + w]
    return o


def unsharp_ref(gray: np.ndarray, sigma: float, amount: float) -> np.ndarray:
    blur = gaussian_blur_sigma_ref(gray, sigma)
    out = gray.astype(np.float64) * (1.0 + amount) - blur * amount
    return np.clip(np.round(out), 0, 255).astype(np.uint8)


def canny_ref(gray: np.ndarray, low: int, high: int) -> np.ndarray:
    """Integer Sobel + L1 magnitude + sector NMS, hysteresis by BFS
    flood from strong pixels (deque) instead of iterative dilation."""
    h, w = gray.shape
    if h < 3 or w < 3:
        return np.zeros((h, w), dtype=np.uint8)
    g = gray.astype(np.int64)
    p = np.pad(g, 1, mode="edge")
    gx = (
        p[:-2, 2:] + 2 * p[1:-1, 2:] + p[2:, 2:]
        - p[:-2, :-2] - 2 * p[1:-1, :-2] - p[2:, :-2]
    )
    gy = (
        p[2:, :-2] + 2 * p[2:, 1:-1] + p[2:, 2:]
        - p[:-2, :-2] - 2 * p[:-2, 1:-1] - p[:-2, 2:]
    )
    mag = np.abs(gx) + np.abs(gy)
    ax, ay = np.abs(gx), np.abs(gy)
    TAN22, TAN67 = 13573, 79109
    diag = (ay << 15) > TAN22 * ax
    vert = (ay << 15) > TAN67 * ax
    same_sign = (gx >= 0) == (gy >= 0)
    sector = np.where(~diag, 0, np.where(vert, 2, np.where(same_sign, 3, 1)))
    pm = np.pad(mag, 1, mode="edge")
    off = {0: ((0, 1), (0, -1)), 1: ((-1, 1), (1, -1)),
           2: ((-1, 0), (1, 0)), 3: ((-1, -1), (1, 1))}
    keep = np.zeros((h, w), dtype=bool)
    for s, ((dy1, dx1), (dy2, dx2)) in off.items():
        n1 = pm[1 + dy1 : 1 + dy1 + h, 1 + dx1 : 1 + dx1 + w]
        n2 = pm[1 + dy2 : 1 + dy2 + h, 1 + dx2 : 1 + dx2 + w]
        keep |= (sector == s) & (mag >= n1) & (mag > n2)
    strong = keep & (mag > high)
    weak = keep & (mag > low) & ~strong
    out = strong.copy()
    from collections import deque

    q = deque(zip(*np.nonzero(strong)))
    while q:
        y, x = q.popleft()
        for dy in (-1, 0, 1):
            for dx in (-1, 0, 1):
                ny, nx = y + dy, x + dx
                if 0 <= ny < h and 0 <= nx < w and weak[ny, nx] and not out[ny, nx]:
                    out[ny, nx] = True
                    q.append((ny, nx))
    return out.astype(np.uint8) * 255


def nl_means_ref(gray: np.ndarray, h_param: float, template: int = 7, search: int = 11) -> np.ndarray:
    """Same (dy, dx) accumulation order; patch distances via
    sliding-window sums over np.pad (exact int32, order-free)."""
    h, w = gray.shape
    r = search // 2
    t = template // 2
    g = gray.astype(np.int32)
    gf = gray.astype(np.float64)
    h2n = float(h_param) * float(h_param) * float(template * template)
    num = gf.copy()
    den = np.ones((h, w), dtype=np.float64)
    pg = np.pad(g, r + t, mode="edge")
    pf = np.pad(gf, r, mode="edge")
    ct = pg[r : r + h + 2 * t, r : r + w + 2 * t]
    for dy in range(-r, r + 1):
        for dx in range(-r, r + 1):
            if dy == 0 and dx == 0:
                continue
            sh = pg[r + dy : r + dy + h + 2 * t, r + dx : r + dx + w + 2 * t]
            d = ct - sh
            d2 = (d * d).astype(np.int32)
            win = np.lib.stride_tricks.sliding_window_view(d2, (template, template))
            s = win.sum(axis=(2, 3), dtype=np.int32)[:h, :w]
            wgt = np.exp(-(s.astype(np.float64)) / h2n)
            num += wgt * pf[r + dy : r + dy + h, r + dx : r + dx + w]
            den += wgt
    return np.clip(np.round(num / den), 0, 255).astype(np.uint8)


def lighten_full_ref(px: np.ndarray, search: int = 11) -> np.ndarray:
    lum = grayscale_ref(px)
    k = max(15, (min(lum.shape) // 8) | 1)
    bg = box_filter_ref(lum, k).astype(np.float64)
    flat = np.clip(
        np.round(255.0 * lum.astype(np.float64) / np.maximum(bg, 1.0)), 0, 255
    ).astype(np.uint8)
    eq = clahe_ref(flat, clip=2.0, tiles=(8, 8))
    den = nl_means_ref(eq, h_param=6.0, template=7, search=search)
    usm = unsharp_ref(den, sigma=1.0, amount=1.4)
    edges = canny_ref(den, 50, 150)
    em = dilate_ref(edges, 3, 3) != 0
    out = np.where(em, usm, den)
    lo, hi = int(out.min()), int(out.max())
    if hi > lo:
        out = np.clip(
            np.round((out.astype(np.float64) - lo) * (255.0 / (hi - lo))), 0, 255
        ).astype(np.uint8)
    out = nl_means_ref(out, h_param=4.0, template=7, search=search)
    return np.repeat(out[..., None], 3, axis=2)


def polish_stats_ref(px: np.ndarray) -> dict:
    lum = grayscale_ref(lighten_full_ref(px))
    edges = canny_ref(lum, 50, 150)
    return {
        "polished_mean": float(lum.mean(dtype=np.float64)),
        "polished_std": float(lum.std()),
        "edge_frac": float(np.count_nonzero(edges)) / float(edges.size),
    }


# --------------------------------------------------- OCR-prep twins

def _lanczos_axis_ref(in_len: int, out_len: int):
    """Per-output-pixel taps/weights computed with scalar math.sin in a
    Python loop (vs the production np.sinc vector form — same reals,
    same normalization expression)."""
    import math

    A = 3
    J = np.empty((out_len, 2 * A), dtype=np.int64)
    W = np.empty((out_len, 2 * A), dtype=np.float64)
    for i in range(out_len):
        c = (i + 0.5) * (in_len / out_len) - 0.5
        j0 = math.floor(c) - (A - 1)
        ws = []
        for k in range(2 * A):
            j = j0 + k
            d = c - j
            if abs(d) >= A:
                ws.append(0.0)
            elif d == 0.0:
                ws.append(1.0)
            else:
                # np.sinc(x) = sin(pi x) / (pi x); NOTE pi * (d / A),
                # not (pi * d) / A — np.sinc(d / A) divides FIRST, and
                # the two orders round differently (observed 123-pixel
                # divergence at 14x upscale before this fix)
                da = d / A
                ws.append(
                    (math.sin(math.pi * d) / (math.pi * d))
                    * (math.sin(math.pi * da) / (math.pi * da))
                )
            J[i, k] = min(max(j, 0), in_len - 1)
        s = sum(ws)
        # same normalization as the vector form: elementwise divide by
        # the row sum (np.sum over the 6 taps = this left-to-right sum
        # only if pairwise blocking matches; 6 elements -> sequential
        # in numpy too)
        sv = np.float64(0.0)
        arr = np.asarray(ws, dtype=np.float64)
        sv = arr.sum()
        W[i] = arr / sv
    return J, W


def lanczos_resize_ref(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Flat-index gather machinery, same k = 0..5 tap accumulation."""
    a = img.astype(np.float64)
    h, w = a.shape[:2]
    Jv, Wv = _lanczos_axis_ref(h, out_h)
    out = np.zeros((out_h,) + a.shape[1:], dtype=np.float64)
    for k in range(6):
        rows = a.reshape(h, -1)[Jv[:, k]].reshape((out_h,) + a.shape[1:])
        wk = Wv[:, k][:, None] if a.ndim == 2 else Wv[:, k][:, None, None]
        out += wk * rows
    a = out
    Jh, Wh = _lanczos_axis_ref(w, out_w)
    out = np.zeros((out_h, out_w) + a.shape[2:], dtype=np.float64)
    for k in range(6):
        cols = a[:, Jh[:, k]]
        wk = Wh[:, k][None, :] if a.ndim == 2 else Wh[:, k][None, :, None]
        out += wk * cols
    return np.clip(np.round(out), 0, 255).astype(np.uint8)


def prep_for_ocr_ref(px: np.ndarray, long_side: int = 1800) -> np.ndarray:
    h, w = px.shape[:2]
    ls = max(h, w)
    if ls < long_side:
        scale = long_side / float(ls)
        px = lanczos_resize_ref(px, int(h * scale), int(w * scale))
    g = grayscale_ref(px)
    g = clahe_ref(g, clip=2.0, tiles=(8, 8))
    t = otsu_ref(g)
    thr = ((g > t) * 255).astype(np.uint8)
    return median3_ref(thr)


def ocr_prep_ref(px: np.ndarray) -> dict:
    thr = prep_for_ocr_ref(px)
    return {
        "prep_h": int(thr.shape[0]),
        "prep_w": int(thr.shape[1]),
        "white_frac": float(np.count_nonzero(thr)) / float(thr.size),
    }
