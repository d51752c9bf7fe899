"""Bit-identity of the shape-batched image kernels vs the oracle twin.

`qfilter.batch_image.image_features_batch` (the image-UDF interior)
must produce EXACTLY the values of the per-row twin
(`oracle.features.image_features` + `phash.average_hash`) — exact
float equality: the oracle parity gate hashes values, so one ULP of
drift is a red row.  Also proves, exhaustively over their full input
domains, the integer-form shortcuts the batch path relies on
(banker's-rounded /256 in the blur; integer-space adaptive-threshold
comparison; the unclipped luma), and covers the UDF's per-row
fallback when a batch call raises.
"""

from __future__ import annotations

import numpy as np
import pytest

from oracle.features import image_features
from qfilter import codecs, imageops
from qfilter.batch_image import box_sums_shared_b, grayscale_b, image_features_batch
from qfilter.phash import average_hash


def _scalar_feats(px):
    d = image_features(px)
    d["phash64"] = average_hash(px)
    return d


def _decode_fixture_images(limit=400):
    import pyarrow.parquet as pq

    from make_fixtures import ensure_fixtures
    import os

    tdir = ensure_fixtures("smoke")
    t = (
        pq.read_table(
            os.path.join(tdir, "images.parquet"),
            columns=["bytes", "fmt", "w", "h"],
        )
        .to_pandas()
        .head(limit)
    )
    pxs = []
    for b, f, w, h in zip(t["bytes"], t["fmt"], t["w"], t["h"]):
        try:
            pxs.append(codecs.decode(b, f, int(w), int(h)))
        except Exception:
            pass
    return pxs


def _assert_identical(ref: dict, got: dict):
    for k, v in ref.items():
        gv = got[k]
        if isinstance(v, float):
            assert (v == gv) or (np.isnan(v) and np.isnan(gv)), (k, v, gv)
        else:
            assert v == gv, (k, v, gv)


def test_batch_matches_scalar_on_fixtures():
    pxs = _decode_fixture_images()
    assert len(pxs) > 100
    got = image_features_batch(pxs)
    for px, g in zip(pxs, got):
        _assert_identical(_scalar_feats(px), g)


def test_batch_matches_scalar_random_shapes():
    """Random sizes (including degenerate < 3 px dims) and random
    noise/structured content — every Arrow batch mix must agree."""
    rng = np.random.default_rng(7)
    pxs = []
    for _ in range(60):
        h = int(rng.integers(1, 70))
        w = int(rng.integers(1, 70))
        px = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
        if rng.random() < 0.5:  # paper-like: bright page + dark strokes
            px[:] = 235
            for _ in range(int(rng.integers(0, 6))):
                y = int(rng.integers(0, h))
                px[y : y + 2, :] = 40
        pxs.append(px)
    got = image_features_batch(pxs)
    for px, g in zip(pxs, got):
        _assert_identical(_scalar_feats(px), g)


def test_blur_integer_rounding_exhaustive():
    """round(o/256) with np.round (half-to-even; o/256 is exact in
    float64) == the integer banker's rounding the batch blur uses,
    for EVERY reachable o in [0, 255*256]."""
    o = np.arange(0, 255 * 256 + 1, dtype=np.int32)
    ref = np.clip(np.round(o / 256.0), 0, 255).astype(np.uint8)
    q, r = np.divmod(o, 256)
    q += (r > 128) | ((r == 128) & ((q & 1) == 1))
    assert np.array_equal(ref, q.astype(np.uint8))


@pytest.mark.parametrize("block,c", [(35, 15), (41, 15), (31, 10), (31, 11)])
def test_adaptive_threshold_integer_form_exhaustive(block, c):
    """px <= s/b^2 - c (float64, the scalar form) == px*b^2 <= s - c*b^2
    (integer, the batch form) for EVERY reachable window sum s at the
    call site's (block, c) — so the integer comparison is not an
    approximation but an identity."""
    b2 = block * block
    s = np.arange(0, 255 * b2 + 1, dtype=np.int64)
    thr_f = s / float(b2) - c
    rhs = s - c * b2
    for px in range(256):
        assert np.array_equal(px <= thr_f, px * b2 <= rhs), px


def test_cc_banded_stats_match_per_image():
    """connected_component_stats(band_h=...) over a stacked mask must
    return per-image stats identical (incl. float moments) to separate
    per-image calls."""
    rng = np.random.default_rng(3)
    h, w, n = 23, 31, 7
    masks = (rng.random((n, h, w)) < 0.35).astype(np.uint8) * 255
    tall = np.zeros((n * (h + 1), w), dtype=np.uint8)
    tall.reshape(n, h + 1, w)[:, :h, :] = masks
    st = imageops.connected_component_stats(tall, band_h=h + 1)
    assert st is not None
    band = st["band"]
    assert np.all(np.diff(band) >= 0)
    for i in range(n):
        sel = band == i
        ref = imageops.connected_component_stats(masks[i])
        if ref is None:
            assert not sel.any()
            continue
        for k in ref:
            assert np.array_equal(ref[k], st[k][sel]), (i, k)


def test_error_rows_interleaved_with_batch(spark, smoke_dir):
    """The UDF splits decode errors out, batches the rest, and must
    reassemble rows in order with the schema's column order."""
    import os

    from pyspark.sql import functions as F

    from qfilter.features import with_image_features

    img = spark.read.parquet(os.path.join(smoke_dir, "images.parquet"))
    # corrupt ~1/5 of the byte streams
    broken = img.withColumn(
        "bytes",
        F.when(
            F.crc32(F.col("image_id")) % 5 == 0,
            F.lit(b"\x00\x01broken"),
        ).otherwise(F.col("bytes")),
    )
    out = with_image_features(broken).select("image_id", "error", "phash64")
    rows = out.collect()
    n_err = sum(1 for r in rows if r.error is not None)
    assert n_err > 0
    for r in rows:
        if r.error is not None:
            assert r.phash64 == 0
        else:
            assert isinstance(r.phash64, int)


def test_grayscale_b_exhaustive_luma():
    """All 2^24 RGB triples, laid out as 256 images of 256x256:
    `grayscale_b` equals the scalar `imageops.grayscale`, which clips —
    so the clip the batch form drops never fires.  The integer-weight
    variant (299r+587g+114b)/1000, rounded half to even, differs on
    exactly 1807 triples, which is why it is not used."""
    v = np.arange(1 << 24, dtype=np.uint32).reshape(256, 256, 256)
    px = np.empty((256, 256, 256, 3), dtype=np.uint8)
    px[..., 0] = v >> 16
    px[..., 1] = (v >> 8) & 255
    px[..., 2] = v & 255
    got = grayscale_b(px)
    mismatches = 0
    for i in range(256):
        ref = imageops.grayscale(px[i])
        assert np.array_equal(got[i], ref), i
        x = px[i].astype(np.int32) @ np.array([299, 587, 114], dtype=np.int32)
        q, r = np.divmod(x, 1000)
        alt = q + ((r > 500) | ((r == 500) & (q % 2 == 1)))
        mismatches += int(np.count_nonzero(alt != ref))
    assert mismatches == 1807


@pytest.mark.parametrize("h", [1, 3])
def test_single_block_box_sums_exact_past_int32_prefix_wrap(h):
    """At block 31 the single-block path's int32 horizontal prefix wraps
    once the padded width passes ~271k px; each window sum is a
    difference of two prefixes and < 2^31, so the wrap cancels.  Both
    box-sum paths must equal an int64 sliding-window sum."""
    rng = np.random.default_rng(12)
    g = rng.integers(250, 256, (1, h, 280_000), dtype=np.uint8)
    r = 15
    p = np.pad(g[0].astype(np.int64), r, mode="edge")
    ii = np.zeros((p.shape[0] + 1, p.shape[1] + 1), dtype=np.int64)
    np.cumsum(np.cumsum(p, axis=0), axis=1, out=ii[1:, 1:])
    ref = ii[31:, 31:] - ii[:-31, 31:] - ii[31:, :-31] + ii[:-31, :-31]
    # the int32 prefix really wraps: a full row of vertical window sums
    # exceeds int32 for some output row
    assert max(int(p[y : y + 31].sum()) for y in range(h)) > 2**31 - 1
    single = box_sums_shared_b(g, (31,))[31]
    multi = box_sums_shared_b(g, (31, 35))[31]
    assert np.array_equal(single[0], ref)
    assert np.array_equal(multi[0], ref)


def test_udf_fallback_keeps_per_row_error_channel(smoke_dir, monkeypatch):
    """When the batch call raises, the image UDF reruns the single
    implementation one decoded image at a time: only the image that
    still fails becomes an error row; decode errors and every other
    row are unchanged, and columns stay in schema order."""
    import os

    import pandas as pd
    import pyarrow.parquet as pq

    from qfilter import features

    t = pq.read_table(
        os.path.join(smoke_dir, "images.parquet"), columns=["bytes", "fmt", "w", "h"]
    ).to_pandas()

    def decodes(r):
        try:
            codecs.decode(r.bytes, r.fmt, int(r.w), int(r.h))
            return True
        except Exception:  # noqa: BLE001
            return False

    ok = [i for i, r in enumerate(t.itertuples()) if decodes(r)]
    bad = sorted(set(range(len(t))) - set(ok))
    assert bad, "smoke fixtures plant decode-error rows"
    b = t.iloc[ok[:12] + [bad[0]] + ok[12:24]].reset_index(drop=True)
    err_row = 12
    # the 17th decoded image (call 16) sits after the decode-error row
    planted_row, planted_call = 17, 16
    udf = features._image_features_udf.func
    cols = [f.name for f in features.IMAGE_FEATURES_SCHEMA]

    ref = udf(b["bytes"], b["fmt"], b["w"], b["h"])
    assert list(ref.columns) == cols
    assert ref["error"].notna().tolist() == [i == err_row for i in range(len(b))]

    real = features.image_features_batch
    calls = []

    def flaky(pxs):
        if len(pxs) > 1:
            raise MemoryError("whole batch")
        calls.append(1)
        if len(calls) - 1 == planted_call:
            raise RuntimeError("planted")
        return real(pxs)

    monkeypatch.setattr(features, "image_features_batch", flaky)
    got = udf(b["bytes"], b["fmt"], b["w"], b["h"])

    assert list(got.columns) == cols
    assert len(calls) == len(b) - 1  # one call per decoded row, no re-decode
    row = got.iloc[planted_row]
    assert row["error"] == "RuntimeError: planted"
    assert row["phash64"] == 0
    assert all(row[c] == 0 for c in cols[:-2])
    assert got.iloc[err_row].equals(ref.iloc[err_row])
    assert got.drop(index=planted_row).equals(ref.drop(index=planted_row))
