"""Shape-batched image feature kernels — the e2e hot path.

This is the only image-feature implementation in `qfilter/`.  The
per-image scalar recipe (`oracle/features.image_features` +
`phash.average_hash`) costs ~5 ms/image run one image at a time; an
Arrow batch of 64 fixture images spans only a handful of distinct
(h, w) shapes, so this module groups a batch by shape, stacks each
group into one ``(n, h, w)`` ndarray, and runs every kernel ONCE per
shape-group.  Per-image Python/numpy dispatch overhead (dozens of
tiny ufunc calls per image) collapses into a few large array ops.

Bit-identity contract: every value equals the scalar twin EXACTLY —
same integer arithmetic, same reduction orders.  The batched forms
reuse the scalar code's exact expressions over a leading batch axis;
the only reductions that feed float rounding (var/std/mean) are
evaluated per-image on the contiguous ``stack[i]`` slice, which holds
the same values in the same memory order as the scalar call, so
numpy's pairwise summation blocks identically.  Connected-components
(data-dependent run lists) runs once per stack over a banded plane.
Parity against the twin is enforced by tests/test_batch_image.py over
every fixture image and by tests/test_properties.py on random mixes.

Reference: the per-page metric loop in
`classificator_extended_paddleocr.py:368-512` (what to compute);
batching across pages is this repo's Spark-scale addition.
"""

from __future__ import annotations

import numpy as np

from .imageops import connected_component_stats

__all__ = ["image_features_batch"]


# ------------------------------------------------- batched primitives

def _pad_edge_b(a: np.ndarray, top: int, bottom: int, left: int, right: int) -> np.ndarray:
    """Edge-replicate pad of a (n, h, w) stack along the image axes."""
    n, h, w = a.shape
    out = np.empty((n, h + top + bottom, w + left + right), dtype=a.dtype)
    out[:, top : top + h, left : left + w] = a
    if top:
        out[:, :top, left : left + w] = a[:, 0:1, :]
    if bottom:
        out[:, top + h :, left : left + w] = a[:, -1:, :]
    if left:
        out[:, :, :left] = out[:, :, left : left + 1]
    if right:
        out[:, :, left + w :] = out[:, :, left + w - 1 : left + w]
    return out


def grayscale_b(px: np.ndarray) -> np.ndarray:
    """BT.601 luma over a (n, h, w, 3) stack — same expression as
    `imageops.grayscale` (elementwise, so trivially identical).

    Processed in ~1 MB slices: the float64 temporaries of the luma
    expression must stay L2-resident — one full-group temporary would
    stream tens of MB through DRAM per op and run slower than the
    scalar loop (measured 17x).  Integer-only variants of the weights
    ((299r+587g+114b)/1000, rounded half to even) are NOT used: over
    all 16.7M RGB triples they give 1807 rounding mismatches vs the
    float accumulation order (both checked exhaustively in
    tests/test_batch_image.py)."""
    if px.ndim == 3:  # already gray (n, h, w)
        return px.astype(np.uint8)
    n, h, w, _ = px.shape
    out = np.empty((n, h, w), dtype=np.uint8)
    step = max(1, (1 << 20) // (h * w * 8) or 1)
    for i in range(0, n, step):
        c = px[i : i + step]
        # in-place accumulation (one f64 temporary instead of four);
        # the clip of the scalar path is provably redundant: round(luma)
        # lies in [0, 255] for every RGB triple (exhaustive check in
        # tests/test_batch_image.py), so uint8 assignment is exact
        f = c[..., 0] * 0.299
        f += c[..., 1] * 0.587
        f += c[..., 2] * 0.114
        np.round(f, out=f)
        out[i : i + step] = f
    return out


def _hist256_b(gray: np.ndarray) -> np.ndarray:
    """(n, 256) per-image histograms.  A per-image bincount loop beats
    the offset-bincount trick: the latter materializes an n*h*w int64
    index array (tens of MB per group) just to merge what are
    independent 16 K-element histograms."""
    n = gray.shape[0]
    out = np.empty((n, 256), dtype=np.int64)
    for i in range(n):
        out[i] = np.bincount(gray[i].reshape(-1), minlength=256)
    return out


def brightness_stats_b(gray: np.ndarray):
    """Batched `oracle.features.brightness_stats`: (mean, median, contrast,
    %<100, %<50) arrays.  Histogram stats are exact integer math;
    std runs per-image on the contiguous slice (same reduction order
    as the scalar call)."""
    n, h, w = gray.shape
    total = h * w
    hist = _hist256_b(gray)
    cum = np.cumsum(hist, axis=1)
    mean_b = hist.astype(np.float64) @ np.arange(256.0) / total
    half = total // 2
    # value of order statistic `half` (0-based) per image
    upper = (cum <= half).sum(axis=1).astype(np.float64)  # first cum > half
    if total % 2:
        median_b = upper
    else:
        lower = (cum <= half - 1).sum(axis=1).astype(np.float64)
        median_b = (lower + upper) / 2.0
    contrast = np.array([float(gray[i].std()) for i in range(n)])
    dark = cum[:, 99].astype(np.float64) / total * 100.0
    very_dark = cum[:, 49].astype(np.float64) / total * 100.0
    return mean_b, median_b, contrast, dark, very_dark


def binomial5_blur_b(gray: np.ndarray) -> np.ndarray:
    """Batched `oracle.features.binomial5_blur` (identical integer conv).

    uint16 throughout (r5): the vertical pass peaks at 16*255 = 4080
    and the horizontal at 16*4080 = 65280 < 2^16, so every
    intermediate fits uint16 exactly — the int32 form moved 2x the
    bytes through the same arithmetic (the 8->32 scaling ask).

    r6: each (1,4,6,4,1) tap is evaluated as four cascaded two-tap
    adds ((1,1)^4 — binomial factorization, exact integer algebra,
    asserted in tests/test_batch_image.py), replacing 4 adds + 2
    scalar multiplies per axis with 4 adds; and the final banker's
    rounding of o/256 is the branch-free shift form
    (o + 127 + ((o>>8)&1)) >> 8 — equal to the divmod form for every
    o in [0, 65280] (exhaustive test), with no bool temporaries.
    o + 128 <= 65408 < 2^16, so the add cannot wrap."""
    n, h, w = gray.shape
    p = _pad_edge_b(gray, 2, 2, 0, 0).astype(np.uint16)
    v = p[:, :-1] + p[:, 1:]
    v = v[:, :-1] + v[:, 1:]
    v = v[:, :-1] + v[:, 1:]
    v = v[:, :-1] + v[:, 1:]
    p = _pad_edge_b(v, 0, 0, 2, 2)
    o = p[:, :, :-1] + p[:, :, 1:]
    o = o[:, :, :-1] + o[:, :, 1:]
    o = o[:, :, :-1] + o[:, :, 1:]
    o = o[:, :, :-1] + o[:, :, 1:]
    o += 127 + ((o >> 8) & np.uint16(1))
    o >>= 8
    return o.astype(np.uint8)


def otsu_threshold_b(gray: np.ndarray) -> np.ndarray:
    """Batched Otsu — same count-based between-class variance as
    `imageops.otsu_threshold`, argmax per histogram row."""
    hist = _hist256_b(gray).astype(np.float64)
    total = hist.sum(axis=1, keepdims=True)
    omega = np.cumsum(hist, axis=1)
    mu = np.cumsum(hist * np.arange(256.0), axis=1)
    mu_t = mu[:, -1:]
    with np.errstate(divide="ignore", invalid="ignore"):
        sigma_b = (mu_t * omega - mu * total) ** 2 / (omega * (total - omega))
    sigma_b[~np.isfinite(sigma_b)] = 0.0
    out = np.argmax(sigma_b, axis=1)
    out[total[:, 0] == 0] = 127
    return out


def median3_b(gray: np.ndarray) -> np.ndarray:
    """Batched 19-exchange median-of-9 network (`imageops.median3`)."""
    n, h, w = gray.shape
    if h < 3 or w < 3:
        return gray.copy()
    p = _pad_edge_b(gray, 1, 1, 1, 1)
    v = [p[:, y : y + h, x : x + w] for y in range(3) for x in range(3)]

    # exchange with buffer recycling (r6): slots start as views into
    # the padded plane (not writable targets); once a slot owns an
    # array, a replaced array returns to a small pool and becomes the
    # next exchange's output buffer — ~10 allocations for the 19
    # exchanges instead of 38.  Values are untouched: same np.minimum
    # / np.maximum per exchange, written to fresh or recycled buffers.
    owned = [False] * 9
    pool: list = []
    def ex(i, j):
        vi, vj = v[i], v[j]
        lo = np.minimum(vi, vj, out=pool.pop() if pool else None)
        hi = np.maximum(vi, vj, out=vj if owned[j] else None)
        if owned[i]:
            pool.append(vi)
        v[i], v[j] = lo, hi
        owned[i] = owned[j] = True

    ex(1, 2); ex(4, 5); ex(7, 8)
    ex(0, 1); ex(3, 4); ex(6, 7)
    ex(1, 2); ex(4, 5); ex(7, 8)
    ex(0, 3); ex(5, 8); ex(4, 7)
    ex(3, 6); ex(1, 4); ex(2, 5)
    ex(4, 7); ex(4, 2); ex(6, 4)
    ex(4, 2)
    return v[4]


def _double_cumsum_b(p: np.ndarray, dtype) -> np.ndarray:
    """(n, H+1, W+1) integral images of a (n, H, W) stack.

    For uint8 input whose column prefix sums provably fit uint16
    (H * 255 <= 65535), the first cumsum runs in uint16 — half the
    intermediate bytes of the int32 form; the second cumsum widens to
    the target dtype with identical integer values."""
    n, H, W = p.shape
    ii = np.zeros((n, H + 1, W + 1), dtype=dtype)
    if p.dtype == np.uint8 and H * 255 <= 65535:
        # vertical prefix as a row-add loop: each np.add is one SIMD
        # pass over a contiguous (n, W) row pair — measured 2x faster
        # than np.cumsum's generic accumulate loop; integer adds in
        # any association are exact, so values are identical
        v = np.empty((n, H, W), dtype=np.uint16)
        v[:, 0] = p[:, 0]
        for i in range(1, H):
            np.add(v[:, i - 1], p[:, i], out=v[:, i])
        np.cumsum(v, axis=2, dtype=dtype, out=ii[:, 1:, 1:])
    else:
        np.cumsum(np.cumsum(p, axis=1, dtype=dtype), axis=2, out=ii[:, 1:, 1:])
    return ii


def _eprefix_rows(p: np.ndarray, dtype) -> np.ndarray:
    """Exclusive prefix sums along axis 1 as a loop of contiguous
    (n, W) row adds — each np.add is one SIMD pass, measured 2x
    faster than np.cumsum's generic accumulate loop; integer adds in
    any association are exact."""
    n, H, W = p.shape
    e = np.empty((n, H + 1, W), dtype=dtype)
    e[:, 0] = 0
    for i in range(H):
        np.add(e[:, i], p[:, i], out=e[:, i + 1])
    return e


def box_sums_shared_b(gray: np.ndarray, blocks: tuple[int, ...]) -> dict:
    """Batched integer window SUMS for several odd block sizes
    (`oracle.features._box_means_shared` without the float division — the
    adaptive-threshold consumer compares in integer space, so the
    float64 means array never needs to exist).

    Two exact strategies (r6), picked by call shape:
    * single block — separable "transpose sandwich": uint16 exclusive
      row-prefix + window diff vertically, transpose, int32 row-prefix
      + diff horizontally, transpose back.  Both scans run on the fast
      axis as SIMD row adds; measured ~25 % faster than the integral
      for one block.
    * multiple blocks — one shared integral image (the transposes and
      prefixes would repeat per block and lose).
    Both are pure integer sums — identical values either way
    (cross-checked in tests)."""
    n, h, w = gray.shape
    rmax = max(b // 2 for b in blocks)
    p = _pad_edge_b(gray, rmax, rmax, rmax, rmax)
    if len(blocks) == 1 and p.shape[1] * 255 <= 65535:
        b = blocks[0]
        ev = _eprefix_rows(p, np.uint16)
        vs = ev[:, b : b + h] - ev[:, 0:h]          # (n, h, Wp) uint16
        vt = np.ascontiguousarray(vs.transpose(0, 2, 1))
        # the int32 prefix of column sums (each <= b*255) wraps once
        # Wp > 2^31 / (b*255) (~271k px at b = 31), but each window is a
        # difference of two prefixes and <= b*b*255 < 2^31, so the
        # wrapped subtraction is still exact (tested)
        eh = _eprefix_rows(vt, np.int32)
        hs = eh[:, b : b + w] - eh[:, 0:w]          # (n, w, h) int32
        return {b: np.ascontiguousarray(hs.transpose(0, 2, 1))}
    acc = np.int32 if p.shape[1] * p.shape[2] * 255 < 2**31 else np.int64
    ii = _double_cumsum_b(p, acc)
    out = {}
    for b in blocks:
        d = rmax - b // 2
        out[b] = (
            ii[:, d + b : d + b + h, d + b : d + b + w]
            - ii[:, d : d + h, d + b : d + b + w]
            - ii[:, d + b : d + b + h, d : d + w]
            + ii[:, d : d + h, d : d + w]
        )
    return out


def adaptive_threshold_inv_b(
    gray: np.ndarray, block: int, c: float, _sums: np.ndarray | None = None
) -> np.ndarray:
    """BINARY_INV adaptive threshold, integer form, as a 0/1 mask.

    Scalar form: 255 where px <= window_sum/b^2 - c.  With integer
    window sums s and integer c*b^2 this is equivalent to
    px*b^2 <= s - c*b^2 in EXACT arithmetic; the float64 rounding of
    s/b^2 - c (error ~1e-13) cannot flip the comparison because the
    real-valued gap to the integer px is either 0 (then s/b^2 is an
    exact float) or >= 1/b^2 ~ 6e-4 — proven exhaustively for every
    reachable window sum at each call-site (block, c) pair in
    tests/test_batch_image.py.

    The sums buffer (``_sums``, else computed here) is consumed:
    transformed IN PLACE into the per-pixel threshold
    t = floor((s - c*b^2) / b^2) — for integers, px*b^2 <= s - c*b^2
    iff px <= t (floor division by the positive b^2) — and the final
    compare runs uint8-vs-int32 through numpy's buffered casting: no
    full-plane int32 `gray * b^2` temporary ever exists (r5, the
    8->32 scaling ask).  numpy's scalar integer division is SIMD
    (npyv divisor), so the floordiv costs what the multiply did."""
    cb2 = c * block * block
    assert cb2 == int(cb2), "integer-form adaptive threshold needs integral c*b^2"
    s = box_sums_shared_b(gray, (block,))[block] if _sums is None else _sums
    np.subtract(s, int(cb2), out=s)
    np.floor_divide(s, block * block, out=s)
    return (gray <= s).view(np.uint8)


# 0/1-plane morphology (r6): the feature pipeline only ever consumes
# masks through `count_nonzero` or connected components (`!= 0`), so
# the 0/255 convention of the scalar `imageops` morphology is wasted
# work here — these forms keep everything uint8 0/1 end to end:
# identical nonzero patterns, so every downstream value is
# bit-identical — asserted against the scalar twin by
# tests/test_batch_image.py.

def _axis_win01(p: np.ndarray, k: int, axis: int, op) -> np.ndarray:
    """Sliding-window OR/AND of length k along one axis of a
    pre-padded 0/1 stack via run doubling: q_{r+s}(i) = op(q_r(i),
    q_r(i+s)) with s = min(r, k-r) — ceil(log2 k)+1 SIMD passes
    instead of k-1 adds or a sequential cumsum.  Output length =
    padded length - k + 1 (= the unpadded length)."""
    run = 1
    while run < k:
        s = min(run, k - run)
        if axis == 1:
            p = op(p[:, : p.shape[1] - s], p[:, s:])
        else:
            p = op(p[:, :, : p.shape[2] - s], p[:, :, s:])
        run += s
    return p


def _erode01(b01: np.ndarray, kh: int, kw: int) -> np.ndarray:
    out = b01
    if kh > 1:
        ph = kh // 2
        p = _pad_edge_b(out, ph, kh - 1 - ph, 0, 0)
        out = _axis_win01(p, kh, 1, np.bitwise_and)
    if kw > 1:
        pw = kw // 2
        p = _pad_edge_b(out, 0, 0, pw, kw - 1 - pw)
        out = _axis_win01(p, kw, 2, np.bitwise_and)
    return out


def _dilate01(b01: np.ndarray, kh: int, kw: int) -> np.ndarray:
    out = b01
    if kh > 1:
        ph = kh // 2
        p = _pad_edge_b(out, ph, kh - 1 - ph, 0, 0)
        out = _axis_win01(p, kh, 1, np.bitwise_or)
    if kw > 1:
        pw = kw // 2
        p = _pad_edge_b(out, 0, 0, pw, kw - 1 - pw)
        out = _axis_win01(p, kw, 2, np.bitwise_or)
    return out


def _open01(b01: np.ndarray, kh: int, kw: int) -> np.ndarray:
    return _dilate01(_erode01(b01, kh, kw), kh, kw)


def _close01(b01: np.ndarray, kh: int, kw: int) -> np.ndarray:
    return _erode01(_dilate01(b01, kh, kw), kh, kw)


def laplacian_variance_b(gray: np.ndarray) -> np.ndarray:
    """Batched Laplacian; per-image var on the contiguous slice (same
    values, same memory order as the scalar `lap.var()`)."""
    n, h, w = gray.shape
    # pad the uint8 plane (1 byte/px) and widen once; the center view
    # of the padded plane replaces the separate int16 copy of gray —
    # same values, one less full-plane temporary (r6)
    p = _pad_edge_b(gray, 1, 1, 1, 1).astype(np.int16)
    g = p[:, 1:-1, 1:-1]
    lap = (
        p[:, :-2, 1:-1] + p[:, 2:, 1:-1] + p[:, 1:-1, :-2] + p[:, 1:-1, 2:]
        - 4 * g
    )
    return np.array([float(lap[i].var()) for i in range(n)])


def average_hash_b(gray: np.ndarray) -> np.ndarray:
    """Batched `phash.average_hash` over a same-shape gray stack.

    The 8x8 cell index grid depends only on (h, w), so it is computed
    ONCE with the scalar code's exact clamping logic and gathered for
    all images; cell quotients and the >mean bit test are identical.
    """
    n, h, w = gray.shape
    ys = (np.arange(8 + 1) * h) // 8
    xs = (np.arange(8 + 1) * w) // 8
    ys = np.maximum(ys, np.arange(9))
    xs = np.maximum(xs, np.arange(9))
    ys = np.minimum(ys, h)
    xs = np.minimum(xs, w)
    y0g = np.empty(8, dtype=np.int64); y1g = np.empty(8, dtype=np.int64)
    x0g = np.empty(8, dtype=np.int64); x1g = np.empty(8, dtype=np.int64)
    for i in range(8):
        y0, y1 = ys[i], max(ys[i + 1], ys[i] + 1)
        y0 = min(y0, h - 1)
        y1 = min(max(y1, y0 + 1), h) if h > 0 else 1
        y0g[i], y1g[i] = y0, y1
    for j in range(8):
        x0, x1 = xs[j], max(xs[j + 1], xs[j] + 1)
        x0 = min(x0, w - 1)
        x1 = min(max(x1, x0 + 1), w) if w > 0 else 1
        x0g[j], x1g[j] = x0, x1
    Y0 = y0g[:, None]; Y1 = y1g[:, None]
    X0 = x0g[None, :]; X1 = x1g[None, :]
    areas = ((Y1 - Y0) * (X1 - X0)).astype(np.float64)
    if (
        h >= 8 and w >= 8
        and y0g[0] == 0 and y1g[-1] == h
        and x0g[0] == 0 and x1g[-1] == w
        and np.array_equal(y0g[1:], y1g[:-1])
        and np.array_equal(x0g[1:], x1g[:-1])
    ):
        # cells tile the plane exactly (every h, w >= 8): sum each
        # cell directly with two reduceat passes — same exact integer
        # sums as the integral-difference form, without allocating and
        # double-cumsumming the (n, h+1, w+1) int32 integral (r6)
        acc = np.int32 if h * w * 255 < 2**31 else np.int64
        rows = np.add.reduceat(gray.astype(acc), y0g, axis=1)
        cells = np.add.reduceat(rows, x0g, axis=2) / areas  # (n, 8, 8)
    else:
        acc = np.int32 if h * w * 255 < 2**31 else np.int64
        ii = _double_cumsum_b(gray, acc)
        cells = (
            ii[:, Y1, X1] - ii[:, Y0, X1] - ii[:, Y1, X0] + ii[:, Y0, X0]
        ) / areas  # (n, 8, 8)
    flat = cells.reshape(n, 64)
    means = np.array([float(flat[i].mean()) for i in range(n)])
    bits = flat > means[:, None]
    packed = np.packbits(bits, axis=1)  # (n, 8) big-endian byte rows
    u = np.frombuffer(packed.tobytes(), dtype=">u8").astype(np.uint64)
    return u.view(np.int64)


def _cc_stats_batch(masks: np.ndarray) -> list:
    """Component stats for every image of a (n, h, w) 0/1 stack via
    ONE union-find: the stack is viewed as one (n*h, w) plane (a
    zero-copy reshape — r6; CC's band_h logic bars runs in a band's
    first row from matching the previous band's last row, which is
    what the old blank separator rows achieved with an extra
    allocate-and-copy of the whole stack), run once through
    `connected_component_stats(band_h=h)`, and the result is sliced
    back per image by its band index.  y statistics come back in
    band-local coordinates, bit-identical to a per-image call (same
    runs, same integer rows, same bincount accumulation order).
    Returns a list of n per-image stats dicts (None where empty)."""
    n, h, w = masks.shape
    tall = np.ascontiguousarray(masks).reshape(n * h, w)
    # every caller now passes 0/1 masks (the r6 binary pipeline)
    st = connected_component_stats(tall, band_h=h, assume01=True)
    out: list = [None] * n
    if st is None:
        return out
    band = st["band"]
    bounds = np.searchsorted(band, np.arange(n + 1))
    for i in range(n):
        lo, hi = bounds[i], bounds[i + 1]
        if lo == hi:
            continue
        out[i] = {k: a[lo:hi] for k, a in st.items() if k != "band"}
    return out


# --------------------------------------------- per-shape-group driver

def _roi_crop_b(gray: np.ndarray):
    """Batched `oracle.features.crop_roi`: blur/Otsu/threshold batched, the
    component scan per image (data-dependent).  Returns
    (list_of_cropped_arrays, roi_frac array)."""
    n, h, w = gray.shape
    blur = binomial5_blur_b(gray)
    ts = otsu_threshold_b(blur)
    # 0/1 mask straight into CC (it keys on `!= 0`): the 0/255
    # materialization pass of the r5 form carried no information
    th = (blur > ts[:, None, None]).view(np.uint8)
    cropped = []
    fracs = np.empty(n)
    stats = _cc_stats_batch(th)
    for i in range(n):
        st = stats[i]
        if st is None:
            best, best_area = (0, 0, w, h), 0
        else:
            # bbox areas; np.argmax = FIRST max, same winner as the
            # scalar strictly-greater scan in component order
            areas = (st["x2"] - st["x1"]) * (st["y2"] - st["y1"])
            j = int(np.argmax(areas))
            best_area = int(areas[j])
            best = (int(st["x1"][j]), int(st["y1"][j]),
                    int(st["x2"][j]), int(st["y2"][j]))
            if best_area <= 0:  # scalar keeps the full frame then
                best, best_area = (0, 0, w, h), 0
        fracs[i] = best_area / float(w * h) if w * h else 1.0
        x1, y1, x2, y2 = best
        if (x2 - x1) < w * 0.2 or (y2 - y1) < h * 0.2:
            cropped.append(gray[i])
        else:
            cropped.append(gray[i, y1:y2, x1:x2])
    return cropped, fracs


def _cropped_group_features(c3: np.ndarray) -> dict:
    """All cropped-plane features for one same-shape stack; returns
    dict of per-image arrays, mirroring `oracle.features.image_features`'s
    cropped-path calls exactly."""
    n, h, w = c3.shape
    out = {}
    out["avg_blur"] = laplacian_variance_b(c3)

    med = median3_b(c3)
    sums = box_sums_shared_b(med, (35, 41))

    # text_density: adaptive INV (35, 15) -> open 3x3 -> ink fraction
    # (each sums entry is single-use -> consume in place; 0/1 masks
    # throughout — count_nonzero and CC see identical patterns)
    thr = adaptive_threshold_inv_b(med, 35, 15, _sums=sums.pop(35))
    thr = _open01(thr, 3, 3)
    out["text_density"] = (
        np.count_nonzero(thr.reshape(n, -1), axis=1) / float(h * w)
    )

    # is_table_like: adaptive INV (31, 10) -> open 1x40 / 40x1
    thr_t = adaptive_threshold_inv_b(c3, 31, 10)
    h_lines = _open01(thr_t, 1, 40)
    v_lines = _open01(thr_t, 40, 1)
    frac = (
        np.count_nonzero(h_lines.reshape(n, -1), axis=1)
        + np.count_nonzero(v_lines.reshape(n, -1), axis=1)
    ) / float(h * w)
    out["is_table_like"] = frac > 0.010

    # estimate_skew_deg: margin crop (same shape within the group),
    # adaptive INV (31, 11), dilate (3, kw), per-image components
    m = int(min(h, w) * 0.06)
    roi = c3[:, m : h - m, m : w - m] if min(h, w) - 2 * m > 4 else c3
    thr_s = adaptive_threshold_inv_b(np.ascontiguousarray(roi), 31, 11)
    kw = max(20, roi.shape[2] // 50)
    lines = _dilate01(thr_s, 3, kw)
    area_min = roi.shape[1] * roi.shape[2] * 3e-4
    skew = np.empty(n)
    line_stats = _cc_stats_batch(lines)
    for i in range(n):
        st = line_stats[i]
        if st is None:
            skew[i] = 0.0
            continue
        keep = (
            (st["area"] >= area_min)
            & (st["x2"] - st["x1"] > 1)
            & (st["y2"] - st["y1"] > 1)
        )
        if not keep.any():
            skew[i] = 0.0
            continue
        # vectorized `_component_angle_deg` — identical elementwise
        # float ops per component, so bit-identical to the scalar loop
        na = st["area"][keep]
        mx = st["sum_x"][keep] / na
        my = st["sum_y"][keep] / na
        vxx = st["sxx"][keep] / na - mx * mx
        vyy = st["syy"][keep] / na - my * my
        vxy = st["sxy"][keep] / na - mx * my
        aa = np.abs(0.5 * np.degrees(np.arctan2(2.0 * vxy, vxx - vyy)))
        skew[i] = float(np.median(np.minimum(aa, np.abs(90.0 - aa))))
    out["avg_skew_deg"] = skew

    # core_content_fraction: adaptive INV (41, 15) -> close 15x15 ->
    # largest component area fraction (single close: idempotent)
    thr_c = adaptive_threshold_inv_b(med, 41, 15, _sums=sums.pop(41))
    merged = _close01(thr_c, 15, 15)
    core = np.empty(n)
    merged_stats = _cc_stats_batch(merged)
    for i in range(n):
        st = merged_stats[i]
        core[i] = (
            float(st["area"].max()) / float(h * w) if st is not None else 0.0
        )
    out["core_frac"] = core
    return out


def image_features_batch(pxs: list) -> list[dict]:
    """Features + phash for a list of decoded images (any mix of
    shapes, RGB or gray).  Returns one dict per input, in input order,
    with the keys of `oracle.features.IMAGE_FEATURE_NAMES` + ``phash64``.

    Bit-identical to `oracle.features.image_features(px)` +
    `phash.average_hash(px)` per image (tests/test_batch_image.py).
    """
    n = len(pxs)
    results: list[dict | None] = [None] * n

    groups: dict[tuple, list[int]] = {}
    for i, p in enumerate(pxs):
        groups.setdefault(p.shape, []).append(i)

    # stage 1 per full-shape group: gray + brightness + phash + ROI crop
    cropped_by_shape: dict[tuple, list[int]] = {}
    cropped_arrays: list[np.ndarray | None] = [None] * n
    for shape, idxs in groups.items():
        g3 = grayscale_b(np.stack([pxs[i] for i in idxs]))
        mean_b, median_b, contrast, dark, very_dark = brightness_stats_b(g3)
        ph = average_hash_b(g3)
        cropped, fracs = _roi_crop_b(g3)
        for k, i in enumerate(idxs):
            results[i] = {
                "roi_frac": float(fracs[k]),
                "mean_brightness": float(mean_b[k]),
                "median_brightness": float(median_b[k]),
                "contrast": float(contrast[k]),
                "dark_pixels_percent": float(dark[k]),
                "very_dark_pixels_percent": float(very_dark[k]),
                "phash64": int(ph[k]),
            }
            cropped_arrays[i] = cropped[k]
            cropped_by_shape.setdefault(cropped[k].shape, []).append(i)

    # stage 2 per cropped-shape group: blur/density/table/skew/core
    for shape, idxs in cropped_by_shape.items():
        c3 = np.stack([cropped_arrays[i] for i in idxs])
        feats = _cropped_group_features(c3)
        for k, i in enumerate(idxs):
            results[i]["avg_blur"] = float(feats["avg_blur"][k])
            results[i]["text_density"] = float(feats["text_density"][k])
            results[i]["is_table_like"] = bool(feats["is_table_like"][k])
            results[i]["avg_skew_deg"] = float(feats["avg_skew_deg"][k])
            results[i]["core_frac"] = float(feats["core_frac"][k])
    return results  # type: ignore[return-value]
