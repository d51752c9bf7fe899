"""Codec round-trip and robustness tests (no Spark)."""

import numpy as np
import pytest

from qfilter import codecs


def _rand_img(h, w, seed):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)


def _doc_img(h, w, seed):
    """Document-like content: white page, dark text bars (smooth chroma)."""
    rng = np.random.default_rng(seed)
    px = np.full((h, w, 3), 245, dtype=np.uint8)
    for y in range(h // 8, h - h // 8, max(8, h // 16)):
        v = int(rng.integers(10, 60))
        px[y : y + 3, w // 10 : w - w // 10] = v
    return px


@pytest.mark.parametrize("fmt", ["raw", "bmp", "png"])
@pytest.mark.parametrize("hw", [(1, 1), (3, 5), (64, 64), (33, 47), (128, 200)])
def test_lossless_roundtrip(fmt, hw):
    h, w = hw
    px = _rand_img(h, w, seed=h * 1000 + w)
    data = codecs.encode(px, fmt)
    out = codecs.decode(data, fmt, w, h)
    np.testing.assert_array_equal(px, out)


@pytest.mark.parametrize("hw", [(64, 64), (33, 47), (128, 200), (200, 128)])
def test_qjpg_psnr_gate(hw):
    h, w = hw
    px = _doc_img(h, w, seed=h + w)
    data = codecs.encode(px, "qjpg")
    out = codecs.decode(data, "qjpg", w, h)
    assert codecs.psnr(px, out) >= 40.0


def test_qjpg_grayscale_content_psnr():
    # gray content (R=G=B) is the worst case for our fixtures' lossy rows
    px = np.repeat(_rand_img(96, 96, 7)[:, :, :1], 3, axis=2)
    out = codecs.decode(codecs.encode(px, "qjpg"), "qjpg", 96, 96)
    assert codecs.psnr(px, out) >= 40.0


def test_png_all_filter_types_decode():
    """Decoder must handle filter types 1/3/4 it never emits."""
    import struct
    import zlib

    rng = np.random.default_rng(3)
    px = rng.integers(0, 256, size=(6, 8, 3), dtype=np.uint8)
    h, w = px.shape[:2]
    # hand-build a PNG using Sub(1), Average(3), Paeth(4), None(0), Up(2)
    fts = [0, 1, 3, 4, 2, 1]
    prev = np.zeros(w * 3, dtype=np.int32)
    lines = []
    for y, f in enumerate(fts):
        cur = px[y].reshape(-1).astype(np.int32)
        c3 = cur.reshape(w, 3)
        p3 = prev.reshape(w, 3)
        enc = np.zeros((w, 3), dtype=np.int32)
        left = np.zeros(3, dtype=np.int32)
        ul = np.zeros(3, dtype=np.int32)
        for x in range(w):
            if f == 0:
                pred = 0
            elif f == 1:
                pred = left
            elif f == 2:
                pred = p3[x]
            elif f == 3:
                pred = (left + p3[x]) >> 1
            else:
                p = left + p3[x] - ul
                pa, pb, pc = np.abs(p - left), np.abs(p - p3[x]), np.abs(p - ul)
                pred = np.where((pa <= pb) & (pa <= pc), left,
                                np.where(pb <= pc, p3[x], ul))
            enc[x] = (c3[x] - pred) & 0xFF
            left = c3[x]
            ul = p3[x]
        lines.append(bytes([f]) + enc.astype(np.uint8).tobytes())
        prev = cur

    def chunk(tag, body):
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    data = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(b"".join(lines)))
            + chunk(b"IEND", b""))
    out = codecs.decode(data, "png", w, h)
    np.testing.assert_array_equal(px, out)


def test_metadata_mismatch_raises():
    px = _rand_img(10, 12, 1)
    data = codecs.encode(px, "png")
    with pytest.raises(ValueError):
        codecs.decode(data, "png", 12, 11)


def test_unknown_fmt_raises():
    with pytest.raises(ValueError):
        codecs.encode(_rand_img(4, 4, 0), "gif")
    with pytest.raises(ValueError):
        codecs.decode(b"xx", "gif", 4, 4)


def test_pixel_budget_rejects_claimed_dims():
    """Admission control (100 TB robustness): a row whose metadata
    claims > MAX_PIXELS is rejected BEFORE any allocation or stream
    parsing, for every fmt — the caller's error channel turns it into
    an error row instead of an executor OOM."""
    big = 10_000  # 100 MP > 64 MP budget
    for fmt in ("raw", "bmp", "png", "qjpg"):
        with pytest.raises(ValueError, match="pixel budget"):
            codecs.decode(b"\x00" * 64, fmt, big, big)
    with pytest.raises(ValueError, match="pixel budget"):
        codecs.decode(b"", "raw", 0, 4)  # non-positive dims too


def test_pixel_budget_rejects_stream_dims():
    """A stream whose OWN header claims huge dims is rejected inside
    the decoder (metadata could lie small while the header lies big)."""
    import struct

    px = _rand_img(6, 6, 3)
    data = bytearray(codecs.encode(px, "png"))
    struct.pack_into(">II", data, 16, 100_000, 100_000)  # patch IHDR w,h
    with pytest.raises(ValueError, match="pixel budget"):
        codecs.decode(bytes(data), "png", 6, 6)


def test_zlib_bomb_bounded():
    """An IDAT inflating past h*(1+3w) raises instead of allocating:
    small claimed dims cannot smuggle a gigabyte decompression."""
    import struct
    import zlib

    def chunk(tag, body):
        return struct.pack(">I", len(body)) + tag + body

    w = h = 2
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    bomb = zlib.compress(b"\x00" * 1_000_000)
    data = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", bomb) + chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="decompressed size"):
        codecs.decode(data, "png", w, h)


def test_budget_violation_routes_to_error_channel():
    """The feature UDF turns a budget violation into an error row with
    zeroed features, not an exception."""
    import pandas as pd

    from qfilter.features import _image_features_udf

    out = _image_features_udf.func(
        pd.Series([b"\x00" * 12]), pd.Series(["raw"]),
        pd.Series([100_000]), pd.Series([100_000]),
    )
    assert len(out) == 1
    assert "pixel budget" in out.iloc[0]["error"]
    assert out.iloc[0]["phash64"] == 0
