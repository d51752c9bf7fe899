"""Unit tests for the numpy pixel primitives and the per-row feature
twins built on them (no Spark)."""

import numpy as np

from oracle import features as twin
from qfilter import imageops as ops
from qfilter.phash import average_hash, hamming64


def test_grayscale_weights():
    px = np.zeros((2, 2, 3), dtype=np.uint8)
    px[0, 0] = [255, 0, 0]
    px[0, 1] = [0, 255, 0]
    px[1, 0] = [0, 0, 255]
    px[1, 1] = [255, 255, 255]
    g = ops.grayscale(px)
    assert g[0, 0] == round(0.299 * 255)
    assert g[0, 1] == round(0.587 * 255)
    assert g[1, 0] == round(0.114 * 255)
    assert g[1, 1] == 255


def test_laplacian_variance_known():
    # uniform image -> zero variance
    assert twin.laplacian_variance(np.full((16, 16), 100, dtype=np.uint8)) == 0.0
    # single center impulse on zeros: interior laplacian values known
    g = np.zeros((5, 5), dtype=np.uint8)
    g[2, 2] = 100
    lap = twin.laplacian_variance(g)
    # manual: lap = neighbors_sum - 4*center
    p = np.pad(g.astype(float), 1, mode="edge")
    man = p[:-2, 1:-1] + p[2:, 1:-1] + p[1:-1, :-2] + p[1:-1, 2:] - 4.0 * g.astype(float)
    assert abs(lap - man.var()) < 1e-12
    assert lap > 0


def test_sharp_vs_blurred_ordering():
    rng = np.random.default_rng(0)
    sharp = (rng.integers(0, 2, size=(64, 64)) * 255).astype(np.uint8)
    soft = ops.box_filter(sharp, 5)
    assert twin.laplacian_variance(sharp) > twin.laplacian_variance(soft) * 2


def test_otsu_bimodal():
    g = np.concatenate([np.full(500, 30, np.uint8), np.full(500, 200, np.uint8)])
    t = ops.otsu_threshold(g.reshape(25, 40))
    assert 30 <= t < 200


def test_adaptive_threshold_inv_marks_dark_text():
    g = np.full((64, 64), 220, dtype=np.uint8)
    g[30:34, 8:56] = 20  # dark bar
    th = ops.adaptive_threshold_inv(g, 35, 15)
    assert th[31, 30] == 255
    assert th[5, 5] == 0


def test_morphology_open_removes_speckle_keeps_bar():
    m = np.zeros((40, 40), dtype=np.uint8)
    m[5, 5] = 255  # speckle
    m[20:23, 2:38] = 255  # bar
    o = ops.morph_open(m, 3, 3)
    assert o[5, 5] == 0
    assert o[21, 20] == 255


def test_connected_components_counts_and_bboxes():
    m = np.zeros((20, 20), dtype=np.uint8)
    m[2:5, 2:6] = 255
    m[10:12, 10:15] = 255
    m[18, 0] = 255
    comps = sorted(ops.connected_components(m), key=lambda c: -c["area"])
    assert len(comps) == 3
    assert comps[0]["area"] == 12 and comps[0]["bbox"] == (2, 2, 6, 5)
    assert comps[1]["area"] == 10 and comps[1]["bbox"] == (10, 10, 15, 12)
    assert comps[2]["area"] == 1


def test_connected_components_8conn_diagonal():
    m = np.zeros((4, 4), dtype=np.uint8)
    m[0, 0] = m[1, 1] = m[2, 2] = 255
    comps = ops.connected_components(m)
    assert len(comps) == 1
    assert comps[0]["area"] == 3


def test_brightness_stats():
    g = np.zeros((10, 10), dtype=np.uint8)
    g[:5] = 40   # 50% at 40 (<50 and <100)
    g[5:] = 200
    mean_b, med, contrast, dark, very_dark = twin.brightness_stats(g)
    assert abs(mean_b - 120.0) < 1e-9
    assert dark == 50.0 and very_dark == 50.0
    assert contrast == 80.0


def test_roi_fraction_small_doc_vs_full_page():
    # small bright document on a dark scanner bed -> roi_frac < 0.45
    small = np.full((64, 64), 30, dtype=np.uint8)
    small[10:40, 10:40] = 230  # 30x30 patch = ~22% of frame
    _, frac_small = twin.roi_fraction(small)
    assert frac_small < 0.45
    # full bright page with dark text -> roi_frac ~ 1
    page = np.full((64, 64), 250, dtype=np.uint8)
    page[20:24, 12:52] = 10
    _, frac_page = twin.roi_fraction(page)
    assert frac_page > 0.9


def test_text_density_orders_pages():
    dense = np.full((96, 96), 230, dtype=np.uint8)
    for y in range(10, 90, 8):
        dense[y : y + 3, 8:88] = 15
    sparse = np.full((96, 96), 230, dtype=np.uint8)
    sparse[40:43, 20:60] = 15
    assert twin.text_density(dense) > twin.text_density(sparse) * 2


def test_table_like_detects_grid():
    grid = np.full((128, 128), 235, dtype=np.uint8)
    for y in range(10, 120, 20):
        grid[y, 5:123] = 10
    for x in range(10, 120, 20):
        grid[5:123, x] = 10
    assert twin.is_table_like(grid)
    text = np.full((128, 128), 235, dtype=np.uint8)
    text[60:63, 40:80] = 10
    assert not twin.is_table_like(text)


def test_skew_zero_for_straight_lines():
    page = np.full((160, 160), 240, dtype=np.uint8)
    for y in range(30, 130, 18):
        page[y : y + 4, 15:145] = 10
    assert twin.estimate_skew_deg(page) < 3.0


def test_skew_detects_rotation():
    # draw bars rotated ~15 degrees via coordinate transform
    h = w = 200
    page = np.full((h, w), 240, dtype=np.uint8)
    theta = np.radians(15)
    yy, xx = np.mgrid[0:h, 0:w]
    cy, cx = h / 2, w / 2
    ry = -(xx - cx) * np.sin(theta) + (yy - cy) * np.cos(theta)
    for band in range(-60, 80, 24):
        page[(ry >= band) & (ry < band + 5)] = 10
    skew = twin.estimate_skew_deg(page)
    assert 8.0 < skew < 25.0


def test_core_fraction_miniature_vs_full():
    mini = np.full((128, 128), 240, dtype=np.uint8)
    mini[56:68, 56:76] = 10
    full = np.full((128, 128), 240, dtype=np.uint8)
    for y in range(12, 116, 10):
        full[y : y + 4, 10:118] = 10
    assert twin.core_content_fraction(mini) < 0.12
    assert twin.core_content_fraction(full) > 0.3


def test_image_features_keys():
    rng = np.random.default_rng(2)
    px = rng.integers(0, 256, (64, 64, 3), dtype=np.uint8)
    feats = twin.image_features(px)
    assert set(feats) == set(twin.IMAGE_FEATURE_NAMES)
    for v in feats.values():
        assert v is not None


def test_phash_identical_and_different():
    rng = np.random.default_rng(3)
    a = rng.integers(0, 256, (64, 64, 3), dtype=np.uint8)
    b = a.copy()
    assert average_hash(a) == average_hash(b)
    c = 255 - a
    assert hamming64(average_hash(a), average_hash(c)) > 16
    # int64 range
    v = average_hash(a)
    assert -(1 << 63) <= v < (1 << 63)


def test_phash_tiny_images():
    for h, w in [(1, 1), (3, 5), (7, 7), (8, 8)]:
        px = np.full((h, w, 3), 128, dtype=np.uint8)
        v = average_hash(px)
        assert isinstance(v, int)


def test_morph_close_idempotent_odd_kernels():
    """core_content_fraction computes ONE close where the reference
    closes twice: with an odd (symmetric) structuring element the
    clamped-window dilate/erode pair is an adjunction, so closing is
    idempotent — close(close(x)) == close(x) pointwise.  (Even kernels
    have asymmetric windows and do NOT satisfy this; the pipeline only
    ever closes with odd kernels.)"""
    rng = np.random.default_rng(7)
    for _ in range(60):
        h, w = int(rng.integers(1, 90)), int(rng.integers(1, 90))
        m = ((rng.random((h, w)) < rng.random()) * 255).astype(np.uint8)
        for kh, kw in ((15, 15), (3, 3), (15, 1), (1, 7), (5, 9)):
            c1 = ops.morph_close(m, kh, kw)
            assert (ops.morph_close(c1, kh, kw) == c1).all(), (kh, kw)


def test_box_means_shared_matches_integral_means():
    """one padded-to-max integral must reproduce _integral_means for
    every block size bit-exactly (edge pads nest; int sums are exact)."""
    rng = np.random.default_rng(8)
    for _ in range(20):
        h, w = int(rng.integers(1, 120)), int(rng.integers(1, 120))
        g = rng.integers(0, 256, (h, w), dtype=np.uint8)
        shared = twin._box_means_shared(g, (35, 41, 3))
        for b in (35, 41, 3):
            ref = ops._integral_means(g, b)
            assert (shared[b] == ref).all(), b


def test_brightness_stats_matches_direct_forms():
    rng = np.random.default_rng(9)
    for _ in range(30):
        h, w = int(rng.integers(1, 100)), int(rng.integers(1, 100))
        g = rng.integers(0, 256, (h, w), dtype=np.uint8)
        mean_b, median_b, contrast, dark, very_dark = twin.brightness_stats(g)
        assert mean_b == float(g.mean())
        assert median_b == float(np.median(g))
        assert contrast == float(g.std())
        assert dark == float(np.count_nonzero(g < 100)) / g.size * 100.0
        assert very_dark == float(np.count_nonzero(g < 50)) / g.size * 100.0


def test_laplacian_variance_matches_float64_form():
    rng = np.random.default_rng(10)
    for _ in range(20):
        h, w = int(rng.integers(2, 80)), int(rng.integers(2, 80))
        g = rng.integers(0, 256, (h, w), dtype=np.uint8)
        gf = g.astype(np.float64)
        p = ops._pad_edge(gf, 1, 1, 1, 1)
        lap = p[:-2, 1:-1] + p[2:, 1:-1] + p[1:-1, :-2] + p[1:-1, 2:] - 4.0 * gf
        assert twin.laplacian_variance(g) == float(lap.var())
