"""Image codecs in pure NumPy + stdlib zlib.

Four formats (the fixture generator emits exactly these ``fmt`` values):

* ``raw``  — headerless RGB8, ``h*w*3`` bytes, row-major.
* ``bmp``  — standard 24-bit uncompressed BI_RGB (BGR, bottom-up, 4-byte
  row padding).  Interoperable with any BMP reader.
* ``png``  — real PNG subset: 8-bit RGB (color type 2), zlib deflate.
  Encoder emits scanline filters 0 (None) / 2 (Up); decoder implements
  all five filter types for robustness.
* ``qjpg`` — this repo's own simple *lossy* codec: BT.601 YCbCr,
  2x2 chroma subsampling, uniform quantization (Y step 2, C step 4),
  zlib-compressed planes.  Round-trip PSNR >= 40 dB on fixture content
  (the BASELINE.json lossy-format gate).

The reference renders PDF pages via poppler subprocess
(`classificator_extended_paddleocr.py:370`); here decoding happens
inside the Arrow-batched UDF (`qfilter.features`) — no subprocess, no
per-row Python at the Spark level.

Decode is the hot path at 100 TB scale: everything below is vectorized
numpy; the only per-scanline Python loop is PNG un-filtering for filter
types 1/3/4, which the encoder never emits.
"""

from __future__ import annotations

import os
import struct
import zlib

import numpy as np

__all__ = ["encode", "decode", "psnr", "MAX_PIXELS"]

_PNG_SIG = b"\x89PNG\r\n\x1a\n"

# Admission control (100 TB robustness): at 10^12-image scale a single
# corrupt/adversarial row claiming 65k x 65k — or a 1 KB zlib stream
# inflating to gigabytes — must become an error-channel row, never an
# executor OOM followed by a doomed task-retry loop.  Checked BEFORE
# any allocation: on the claimed metadata in `decode`, on the parsed
# header dims inside each self-describing decoder, and on every zlib
# stream via `_bounded_decompress`.  64 MP passes any sane photo
# (9x larger than a 48 MP phone sensor) at ~192 MB decoded.
MAX_PIXELS = int(os.environ.get("QFILTER_MAX_PIXELS", str(64_000_000)))


def _check_pixel_budget(w: int, h: int, fmt: str) -> None:
    if w <= 0 or h <= 0 or w * h > MAX_PIXELS:
        raise ValueError(
            f"{fmt}: pixel budget ({w}x{h} vs max {MAX_PIXELS} px)"
        )


def _bounded_decompress(blob: bytes, expected: int, tag: str) -> bytes:
    """zlib-decompress exactly ``expected`` bytes; anything shorter,
    longer, or with pending output raises instead of allocating — the
    defense against decompression bombs whose headers claim small
    dims."""
    d = zlib.decompressobj()
    out = d.decompress(blob, expected)
    if len(out) != expected or d.decompress(b"", 1) or d.flush(1):
        raise ValueError(f"{tag}: decompressed size != expected {expected}")
    return out


# ---------------------------------------------------------------- raw

def _encode_raw(px: np.ndarray) -> bytes:
    return px.astype(np.uint8).tobytes()


def _decode_raw(data: bytes, w: int, h: int) -> np.ndarray:
    arr = np.frombuffer(data, dtype=np.uint8)
    if arr.size != h * w * 3:
        raise ValueError(f"raw: expected {h * w * 3} bytes, got {arr.size}")
    return arr.reshape(h, w, 3)


# ---------------------------------------------------------------- bmp

def _encode_bmp(px: np.ndarray) -> bytes:
    h, w, _ = px.shape
    row_size = (w * 3 + 3) & ~3
    img_size = row_size * h
    # BGR, bottom-up, padded rows
    bgr = px[::-1, :, ::-1].astype(np.uint8)
    rows = np.zeros((h, row_size), dtype=np.uint8)
    rows[:, : w * 3] = bgr.reshape(h, w * 3)
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + img_size, 0, 0, 14 + 40)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0)
    return header + info + rows.tobytes()


def _decode_bmp(data: bytes) -> np.ndarray:
    if data[:2] != b"BM":
        raise ValueError("bmp: bad magic")
    offset = struct.unpack_from("<I", data, 10)[0]
    hdr_size = struct.unpack_from("<I", data, 14)[0]
    if hdr_size < 40:
        raise ValueError("bmp: unsupported header")
    w, h = struct.unpack_from("<ii", data, 18)
    bpp = struct.unpack_from("<H", data, 28)[0]
    comp = struct.unpack_from("<I", data, 30)[0]
    if bpp != 24 or comp != 0:
        raise ValueError("bmp: only 24-bit BI_RGB supported")
    flip = h > 0
    h = abs(h)
    _check_pixel_budget(w, h, "bmp")
    row_size = (w * 3 + 3) & ~3
    rows = np.frombuffer(data, dtype=np.uint8, count=row_size * h, offset=offset)
    rows = rows.reshape(h, row_size)[:, : w * 3].reshape(h, w, 3)
    if flip:
        rows = rows[::-1]
    return rows[:, :, ::-1].copy()  # BGR -> RGB


# ---------------------------------------------------------------- png

def _png_chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def _encode_png(px: np.ndarray, level: int = 6) -> bytes:
    h, w, _ = px.shape
    px = px.astype(np.uint8)
    # Per-scanline filter choice: 0 (None) for row 0, 2 (Up) elsewhere —
    # both vectorize on encode AND decode.
    raw = np.zeros((h, 1 + w * 3), dtype=np.uint8)
    flat = px.reshape(h, w * 3)
    raw[0, 0] = 0
    raw[0, 1:] = flat[0]
    if h > 1:
        raw[1:, 0] = 2
        raw[1:, 1:] = flat[1:] - flat[:-1]  # uint8 wraparound == mod 256
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    idat = zlib.compress(raw.tobytes(), level)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", idat)
        + _png_chunk(b"IEND", b"")
    )


def _png_unfilter(raw: np.ndarray, h: int, w: int) -> np.ndarray:
    """Undo PNG scanline filters.  raw: (h, 1+w*3) uint8."""
    bpp = 3
    stride = w * 3
    out = np.zeros((h, stride), dtype=np.uint8)
    ftypes = raw[:, 0]
    data = raw[:, 1:]
    for y in range(h):
        f = int(ftypes[y])
        line = data[y]
        prev = out[y - 1] if y > 0 else np.zeros(stride, dtype=np.uint8)
        if f == 0:
            out[y] = line
        elif f == 2:  # Up — vectorized (the encoder's hot filter)
            out[y] = line + prev
        elif f == 1:  # Sub — sequential in x, vectorize over channels
            cur = line.astype(np.uint16).reshape(w, bpp)
            acc = np.zeros(bpp, dtype=np.uint16)
            for x in range(w):
                acc = (cur[x] + acc) & 0xFF
                cur[x] = acc
            out[y] = cur.astype(np.uint8).reshape(stride)
        elif f == 3:  # Average
            cur = line.astype(np.int32).reshape(w, bpp)
            pv = prev.astype(np.int32).reshape(w, bpp)
            left = np.zeros(bpp, dtype=np.int32)
            for x in range(w):
                left = (cur[x] + ((left + pv[x]) >> 1)) & 0xFF
                cur[x] = left
            out[y] = cur.astype(np.uint8).reshape(stride)
        elif f == 4:  # Paeth
            cur = line.astype(np.int32).reshape(w, bpp)
            pv = prev.astype(np.int32).reshape(w, bpp)
            left = np.zeros(bpp, dtype=np.int32)
            ul = np.zeros(bpp, dtype=np.int32)
            for x in range(w):
                p = left + pv[x] - ul
                pa, pb, pc = np.abs(p - left), np.abs(p - pv[x]), np.abs(p - ul)
                pred = np.where(
                    (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, pv[x], ul)
                )
                left = (cur[x] + pred) & 0xFF
                ul = pv[x]
                cur[x] = left
            out[y] = cur.astype(np.uint8).reshape(stride)
        else:
            raise ValueError(f"png: bad filter type {f}")
    return out.reshape(h, w, 3)


def _decode_png(data: bytes) -> np.ndarray:
    if data[:8] != _PNG_SIG:
        raise ValueError("png: bad signature")
    pos = 8
    w = h = None
    idat = bytearray()
    while pos + 8 <= len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            w, h, depth, ctype, comp, filt, interlace = struct.unpack(">IIBBBBB", body)
            if depth != 8 or ctype != 2 or comp != 0 or filt != 0 or interlace != 0:
                raise ValueError("png: only 8-bit RGB non-interlaced supported")
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
    if w is None:
        raise ValueError("png: missing IHDR")
    _check_pixel_budget(w, h, "png")
    raw = np.frombuffer(
        _bounded_decompress(bytes(idat), h * (1 + w * 3), "png"),
        dtype=np.uint8,
    )
    raw = raw.reshape(h, 1 + w * 3)
    # fast path: all filters in {0,2} (what our encoder emits) — fully
    # vectorized.  Plain boolean test, not np.isin: isin's sort-based
    # machinery cost ~80 us per call on a 128-row filter column.
    ftypes = raw[:, 0]
    if not (ftypes & np.uint8(0xFD)).any():  # f & ~2 == 0  <=>  f in {0, 2}
        out = raw[:, 1:].copy()
        up_rows = np.flatnonzero(ftypes == 2)
        if up_rows.size:
            # cumulative "Up" per contiguous run: one uint8 accumulate
            # (mod-256 == PNG's byte arithmetic) instead of a per-row
            # Python loop.  A run starting at row 0 accumulates from
            # zero (PNG spec: missing prior scanline is all-zero).
            breaks = np.flatnonzero(np.diff(up_rows) != 1) + 1
            for run in np.split(up_rows, breaks):
                s, e = int(run[0]), int(run[-1])
                lo = max(s - 1, 0)
                np.add.accumulate(
                    out[lo : e + 1], axis=0, dtype=np.uint8, out=out[lo : e + 1]
                )
        return out.reshape(h, w, 3)
    return _png_unfilter(raw, h, w)


# --------------------------------------------------------------- qjpg

_QY, _QC = 2, 4  # quantization steps; PSNR floor ~ 20*log10(255/sqrt(q^2/12))


def _rgb_to_ycbcr(px: np.ndarray) -> np.ndarray:
    f = px.astype(np.float32)
    y = 0.299 * f[..., 0] + 0.587 * f[..., 1] + 0.114 * f[..., 2]
    cb = 128.0 - 0.168736 * f[..., 0] - 0.331264 * f[..., 1] + 0.5 * f[..., 2]
    cr = 128.0 + 0.5 * f[..., 0] - 0.418688 * f[..., 1] - 0.081312 * f[..., 2]
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_planes_to_rgb(y: np.ndarray, cbp: np.ndarray, crp: np.ndarray) -> np.ndarray:
    """Per-plane YCbCr -> RGB: the same float32 expressions as the
    historical stacked form (same per-element op order per channel, so
    identical rounding).  Each channel is clipped/rounded/narrowed on
    its own contiguous plane and only the final uint8 values are
    interleaved — the strided writes move 1 byte per sample instead of
    4, and clip/round run on contiguous data."""
    cb = cbp - 128.0
    cr = crp - 128.0
    out = np.empty(y.shape + (3,), dtype=np.uint8)
    for i, ch in enumerate(
        (y + 1.402 * cr, y - 0.344136 * cb - 0.714136 * cr, y + 1.772 * cb)
    ):
        np.clip(ch, 0, 255, out=ch)
        np.round(ch, out=ch)
        out[..., i] = ch
    return out


def _encode_qjpg(px: np.ndarray, level: int = 6) -> bytes:
    h, w, _ = px.shape
    ycc = _rgb_to_ycbcr(px)
    yq = np.round(ycc[..., 0] / _QY).astype(np.int16)
    # pad to even dims for 2x2 chroma pooling
    he, we = (h + 1) & ~1, (w + 1) & ~1
    cpad = np.empty((he, we, 2), dtype=np.float32)
    cpad[:h, :w] = ycc[..., 1:]
    if he > h:
        cpad[h:, :w] = ycc[h - 1 :, :w, 1:]
    if we > w:
        cpad[:, w:] = cpad[:, w - 1 : w]
    sub = cpad.reshape(he // 2, 2, we // 2, 2, 2).mean(axis=(1, 3))
    cq = np.round(sub / _QC).astype(np.int16)
    header = struct.pack("<4sHH", b"QJPG", w, h)
    return (
        header
        + struct.pack("<I", 0)  # reserved
        + zlib.compress(yq.tobytes(), level)
        + b"\x00SPLT\x00"
        + zlib.compress(cq.tobytes(), level)
    )


def _decode_qjpg(data: bytes) -> np.ndarray:
    if data[:4] != b"QJPG":
        raise ValueError("qjpg: bad magic")
    w, h = struct.unpack_from("<HH", data, 4)
    _check_pixel_budget(w, h, "qjpg")
    body = data[12:]
    sep = body.index(b"\x00SPLT\x00")
    yq = np.frombuffer(
        _bounded_decompress(body[:sep], h * w * 2, "qjpg"), dtype=np.int16
    ).reshape(h, w)
    he, we = (h + 1) & ~1, (w + 1) & ~1
    cq = np.frombuffer(
        _bounded_decompress(body[sep + 6 :], (he // 2) * (we // 2) * 2 * 2,
                            "qjpg"),
        dtype=np.int16,
    )
    cq = cq.reshape(he // 2, we // 2, 2).astype(np.float32) * _QC
    # nearest-neighbor chroma upsample
    cup = np.repeat(np.repeat(cq, 2, axis=0), 2, axis=1)[:h, :w]
    return _ycbcr_planes_to_rgb(
        yq.astype(np.float32) * _QY, cup[..., 0], cup[..., 1]
    )


# ------------------------------------------------------------- public

_ENCODERS = {
    "raw": lambda px, level: _encode_raw(px),
    "bmp": lambda px, level: _encode_bmp(px),
    "png": lambda px, level: _encode_png(px, level),
    "qjpg": lambda px, level: _encode_qjpg(px, level),
}


def encode(px: np.ndarray, fmt: str, level: int = 6) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array into ``fmt`` bytes.

    ``level`` is the deflate effort for the compressed containers
    (png/qjpg); the DEFAULT (6) is frozen — registered queries
    (qf_enhanced_bytes) byte-compare against oracles built at this
    level.  Bulk re-encode stages whose output is not byte-pinned
    (augmentation shards) may pass a lower level for throughput; the
    pixels are identical either way for png (lossless) and qjpg's
    loss comes from quantization, not deflate."""
    if px.ndim != 3 or px.shape[2] != 3:
        raise ValueError(f"expected (h, w, 3) array, got {px.shape}")
    try:
        return _ENCODERS[fmt](px, level)
    except KeyError:
        raise ValueError(f"unknown fmt {fmt!r}") from None


def decode(data: bytes, fmt: str, w: int, h: int) -> np.ndarray:
    """Decode ``fmt`` bytes into an (h, w, 3) uint8 RGB array.

    ``w``/``h`` are the table's metadata columns; self-describing
    formats are validated against them.  Rows over the pixel budget
    (``MAX_PIXELS``) are rejected before any allocation — callers'
    error channels turn them into error rows.
    """
    _check_pixel_budget(w, h, fmt)
    if fmt == "raw":
        return _decode_raw(data, w, h)
    if fmt == "bmp":
        px = _decode_bmp(data)
    elif fmt == "png":
        px = _decode_png(data)
    elif fmt == "qjpg":
        px = _decode_qjpg(data)
    else:
        raise ValueError(f"unknown fmt {fmt!r}")
    if px.shape[:2] != (h, w):
        raise ValueError(f"{fmt}: metadata says {h}x{w}, stream says {px.shape[:2]}")
    return px


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB between two uint8 images."""
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0:
        return float("inf")
    return float(20.0 * np.log10(255.0) - 10.0 * np.log10(mse))
