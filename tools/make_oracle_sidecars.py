"""Single-node oracle sidecars for the driver's correctness gate.

The gate compares each Spark query against an ANSI-SQL oracle.  For
ops whose semantics live in our own code (the NLP models, JVM-side
xxhash64, the ANN indexes, the image kernels) the oracle is this
module's single-node run, persisted to parquet; the SQL just SELECTs
it.  The model-zoo oracles retrain here from labels_ref on every
build (about 1 s) and embed the weights in the SQL as literals.
Deterministic: same artifacts and kernels as the executors load, same
doubles bit-for-bit.

Every parquet sidecar is one `SIDECARS` entry: which directory it
reads, the function that returns its table, and the source files it
depends on.  `ensure(name, in_dir)` rebuilds it only when the recorded
hash of those files changed.

Run:  python tools/make_oracle_sidecars.py SF_DIR [SF_DIR ...]
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from oracle.xxh64 import (  # noqa: E402
    spark_xxhash64_longs,
    spark_xxhash64_str,
)

OUT_DIR = os.path.join(REPO, "oracle_out")  # read at call time: perfbench re-points it
_SELF_DEP = "tools/make_oracle_sidecars.py"
_U64 = (1 << 64) - 1


# --------------------------------------------------------- documents

def docs_nlp_table(sf_dir: str) -> pa.Table:
    """langid, BPE-ish token count and n-gram perplexity per document,
    from the same `textops.default_bundle` the executors load."""
    from qfilter.textops import default_bundle, text_heuristics

    bundle = default_bundle()
    rows = {"doc_id": [], "lang_pred": [], "token_count": [], "words_count": [],
            "perplexity": []}
    for d in _read_docs(sf_dir):
        text = d["text"] or ""
        lang, _ = bundle.langid.predict(text)
        heur = text_heuristics(text)
        ppl = bundle.lm.perplexity(text)
        rows["doc_id"].append(d["doc_id"])
        rows["lang_pred"].append(lang)
        rows["token_count"].append(heur["token_count"])
        rows["words_count"].append(heur["words_count"])
        rows["perplexity"].append(float(ppl) if np.isfinite(ppl) else None)
    return pa.table(rows)


# ------------------------------------------------- xxhash64-based oracles
#
# These replicate corpus.simhash64 / corpus.minhash_lsh_dup_pairs — whose
# hashing runs JVM-side via F.xxhash64 — with the pure-Python XXH64 in
# oracle/xxh64.py (empirically proven identical to Spark's in
# tests/test_oracle_parity.py::test_xxh64_matches_spark).

def _spark_words(text: str) -> list[str]:
    """= F.split(F.trim(text), r'\\s+') — [''] for blank text."""
    return re.split(r"\s+", (text or "").strip())


def _read_docs(sf_dir: str):
    return pq.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"]
    ).to_pylist()


def simhash_table(sf_dir: str) -> pa.Table:
    rows = {"doc_id": [], "simhash": []}
    for d in _read_docs(sf_dir):
        votes = [0] * 64
        for wrd in _spark_words(d["text"]):
            h = spark_xxhash64_str(wrd) & _U64
            for bit in range(64):
                votes[bit] += 1 if (h >> bit) & 1 else -1
        sh = 0
        for bit in range(64):
            if votes[bit] > 0:
                sh |= 1 << bit
        rows["doc_id"].append(d["doc_id"])
        # Spark sums shiftleft(1L, bit): bit 63 contributes Long.MIN
        rows["simhash"].append(sh - (1 << 64) if sh >> 63 else sh)
    return pa.table(rows)


def _doc_shingle_hashes(docs: list[dict], p: int) -> dict[int, set]:
    """doc_id -> {pmod(xxhash64(shingle), p)} over distinct word-3-grams,
    incl. the 80%-truncated planted copies (id + 1e6)."""
    out = {}
    planted = []
    for d in docs:
        ws = _spark_words(d["text"])
        k = max(int(len(ws) * 0.8), 1)
        planted.append({"doc_id": d["doc_id"] + 1_000_000, "text": " ".join(ws[:k])})
    for d in list(docs) + planted:
        ws = _spark_words(d["text"])
        if len(ws) < 3:
            continue
        shingles = {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}
        out[d["doc_id"]] = {spark_xxhash64_str(s) % p for s in shingles}
    return out


def minhash_pairs_table(sf_dir: str) -> pa.Table:
    """corpus.minhash_lsh_dup_pairs at the query's 32 permutations in
    8 bands."""
    from qfilter.corpus import _minhash_coeffs

    n_perm, bands, p = 32, 8, 2147483647
    a, b = _minhash_coeffs(n_perm)
    sigs = {}
    for doc_id, xs in _doc_shingle_hashes(_read_docs(sf_dir), p).items():
        sigs[doc_id] = [min((a[i] * x + b[i]) % p for x in xs) for i in range(n_perm)]

    r = n_perm // bands
    buckets: dict[tuple, list] = {}
    for doc_id, sig in sigs.items():
        for band in range(bands):
            key = (band, spark_xxhash64_longs(sig[band * r : (band + 1) * r]))
            buckets.setdefault(key, []).append(doc_id)
    cand = set()
    for ids in buckets.values():
        ids = sorted(ids)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                cand.add((ids[i], ids[j]))
    rows = {"id1": [], "id2": [], "est_jaccard": []}
    for id1, id2 in sorted(cand):
        s1, s2 = sigs[id1], sigs[id2]
        m = sum(1 for i in range(n_perm) if s1[i] == s2[i])
        rows["id1"].append(id1)
        rows["id2"].append(id2)
        rows["est_jaccard"].append(m / float(n_perm))
    return pa.table(rows)


# ---------------------------------------------------------- ANN top-k

def _read_embeddings(sf_dir: str) -> tuple[np.ndarray, np.ndarray]:
    tbl = pq.read_table(
        os.path.join(sf_dir, "embeddings.parquet"), columns=["vec_id", "embedding"]
    )
    ids = np.asarray(tbl.column("vec_id").to_pylist(), dtype=np.int64)
    mat = np.asarray(
        [np.asarray(v, dtype=np.float64) for v in tbl.column("embedding").to_pylist()]
    )
    return ids, mat


def _rerank_top5(ids: np.ndarray, mat: np.ndarray, cand: list) -> pa.Table:
    """Exact cosine rerank of (query row, neighbour row) candidates, in
    the fold order of the Spark HOF aggregate (cumsum = strict
    left-to-right sum); top 5 per query by (-cos, neighbour id), queries
    in row order."""
    qi = np.array([c[0] for c in cand])
    ni = np.array([c[1] for c in cand])
    av, bv = mat[qi], mat[ni]
    dots = np.cumsum(av * bv, axis=1)[:, -1]
    na = np.sqrt(np.cumsum(av * av, axis=1)[:, -1])
    nb = np.sqrt(np.cumsum(bv * bv, axis=1)[:, -1])
    order = np.lexsort((ids[ni], -(dots / (na * nb)), qi))
    qs = qi[order]
    pos = np.arange(len(qs))
    # 1-based position inside each query's run of the sorted candidates
    rank = pos - np.maximum.accumulate(np.where(np.r_[True, qs[1:] != qs[:-1]], pos, 0)) + 1
    top = rank <= 5
    return pa.table(
        {"q": ids[qs[top]], "rank": rank[top].astype(np.int32), "n": ids[ni[order][top]]},
        schema=pa.schema([("q", pa.int64()), ("rank", pa.int32()), ("n", pa.int64())]),
    )


def lsh_ann_table(sf_dir: str) -> pa.Table:
    """Replicates similarity.lsh_ann_topk: shared deterministic bucket
    fn, candidate union over tables, exact rerank."""
    from qfilter.similarity import LSH_TABLES, lsh_bucket_ids, lsh_planes_for_rows

    ids, mat = _read_embeddings(sf_dir)
    # adaptive plane count from the same corpus row count the Spark
    # side derives it from (len(mat) == the table count here)
    buckets = lsh_bucket_ids(mat, lsh_planes_for_rows(len(mat)))  # (n, L)
    byb: dict[tuple, list] = {}
    for row in range(len(ids)):
        for t in range(LSH_TABLES):
            byb.setdefault((t, int(buckets[row, t])), []).append(row)
    cand = {(i, j) for rows in byb.values() for i in rows for j in rows if i != j}
    return _rerank_top5(ids, mat, sorted(cand))


def ivf_ann_table(sf_dir: str) -> pa.Table:
    """Replicates similarity.ivf_ann_topk single-node: same sorted
    sample matrix -> same deterministic k-means centroids -> same
    fold-based assignment and exact rerank."""
    from qfilter.similarity import (
        IVF_NPROBE, _ivf_assign, ivf_fit_centroids, ivf_k_for_rows,
    )

    ids, mat = _read_embeddings(sf_dir)
    order = np.argsort(ids)
    ids, mat = ids[order], mat[order]
    # same adaptive K as the Spark side (len(mat) == the table count);
    # ivf_fit_centroids itself caps the training slice at IVF_SAMPLE_MAX
    cents = ivf_fit_centroids(mat, k=ivf_k_for_rows(len(mat)))
    probes = _ivf_assign(mat, cents, IVF_NPROBE)  # (n, nprobe)
    by_list: dict[int, list] = {}
    for row, lid in enumerate(probes[:, 0]):
        by_list.setdefault(int(lid), []).append(row)
    cand = [(i, j) for i in range(len(ids)) for lid in probes[i]
            for j in by_list.get(int(lid), ()) if j != i]
    return _rerank_top5(ids, mat, cand)


# ------------------------------------------------------- fixture images

def _image_rows(fixture_dir: str, schema: pa.Schema, one, error: dict,
                every: int) -> pa.Table:
    """The oracle side of `enhance.with_image_stage`: decode each
    fixture image once and hand it to ``one(px, row)``, which returns a
    dict keyed by schema columns; a row whose decode or kernel raises
    gets ``error`` (NULL in every column it leaves out), never a
    failure.  ``every`` > 1 keeps only the crc32(image_id) % every == 0
    subset, for the deliberately slow twins.  Schema columns the input
    row has (image_id, fmt) are copied from it."""
    import zlib

    from qfilter import codecs

    rows = []
    images = pq.read_table(os.path.join(fixture_dir, "images.parquet"),
                           columns=["image_id", "bytes", "fmt", "w", "h"])
    for r in images.to_pylist():
        if zlib.crc32(r["image_id"].encode("utf-8")) % every:
            continue
        try:
            out = one(codecs.decode(r["bytes"], r["fmt"], int(r["w"]), int(r["h"])), r)
        except Exception:  # noqa: BLE001 — error channel, as in the Spark stage
            out = error
        rows.append({c: r[c] if c in r else out.get(c) for c in schema.names})
    return pa.Table.from_pylist(rows, schema=schema)


def _md5(data: bytes) -> str:
    """Hex lowercase, as Spark's F.md5."""
    return hashlib.md5(data).hexdigest()


def thumbs_table(fixture_dir: str) -> pa.Table:
    """Replicates multimodal.image_thumbnail at 8x8 + md5 (single-node
    run of the same codec path); an error row keeps tw/th."""
    from qfilter import codecs
    from qfilter.multimodal import _block_mean_resize

    def one(px, r):
        return {"thumb_md5": _md5(codecs.encode(_block_mean_resize(px, 8, 8), "png")),
                "tw": 8, "th": 8}

    return _image_rows(
        fixture_dir,
        pa.schema([("image_id", pa.string()), ("thumb_md5", pa.string()),
                   ("tw", pa.int32()), ("th", pa.int32())]),
        one,
        {"tw": 8, "th": 8},
        1,
    )


def lines_table(fixture_dir: str) -> pa.Table:
    """`qf_line_features`: the P13 detector (enhance.detect_lines,
    reference line_cleaner.py:151-225) at the query's 0.5 length ratio;
    an error row reads (False, NULL, 0.0, 0), as the UDF's coalesce."""
    from qfilter.enhance import detect_lines
    from qfilter.imageops import grayscale

    def one(px, r):
        d = detect_lines(grayscale(px), 0.5)
        return {"has_line": bool(d["has_line"]), "line_orientation": d["orientation"],
                "line_score": float(d["score"]), "n_line_boxes": len(d["bboxes"])}

    return _image_rows(
        fixture_dir,
        pa.schema([("image_id", pa.string()), ("has_line", pa.bool_()),
                   ("line_orientation", pa.string()), ("line_score", pa.float64()),
                   ("n_line_boxes", pa.int32())]),
        one,
        {"has_line": False, "line_score": 0.0, "n_line_boxes": 0},
        1,
    )


def enhance_table(fixture_dir: str) -> pa.Table:
    """`qf_enhance_stats`: P11/P14/P15 scalar summaries
    (enhance.enhance_stats_one, the identical numpy code path run
    without Spark)."""
    from qfilter.enhance import enhance_stats_one

    cols = ["deskew_deg", "lightened_mean", "lightened_bg_mean",
            "lightened_adv_mean", "delined_ink_frac"]
    return _image_rows(
        fixture_dir,
        pa.schema([("image_id", pa.string()), *[(c, pa.float64()) for c in cols]]),
        lambda px, r: enhance_stats_one(px),
        {},
        1,
    )


def enhanced_bytes_table(fixture_dir: str) -> pa.Table:
    """`qf_enhanced_bytes` (the K5-analog transformed-bytes writeback):
    lighten -> re-encode in the row's format, as with_enhanced_bytes;
    stores the md5 of the re-encoded stream (the query hashes it)."""
    from qfilter import codecs
    from qfilter.enhance import lighten_basic

    return _image_rows(
        fixture_dir,
        pa.schema([("image_id", pa.string()), ("fmt", pa.string()),
                   ("enhanced_md5", pa.string())]),
        lambda px, r: {"enhanced_md5": _md5(codecs.encode(lighten_basic(px), r["fmt"]))},
        {},
        1,
    )


def orientation_table(fixture_dir: str) -> pa.Table:
    """`qf_orientation` (P17/P18 heuristic): enhance.orientation_one
    run without Spark over the same bytes and planted rotations."""
    from qfilter.enhance import orientation_one

    return _image_rows(
        fixture_dir,
        pa.schema([("image_id", pa.string()), ("planted_deg", pa.int32()),
                   ("detected_deg", pa.int32()), ("recovered", pa.bool_())]),
        lambda px, r: orientation_one(px, str(r["image_id"])),
        {},
        1,
    )


def polish_table(fixture_dir: str) -> pa.Table:
    """`qf_polish_stats`, built from the INDEPENDENTLY-CODED twin
    (`oracle.imageref.polish_stats_ref`, not the production
    `qfilter.polish` kernels), so the driver parity compares two
    implementations end to end.  Subset crc32 % 5 == 0: the twin is
    deliberately slow machinery (~0.8 s/image)."""
    from oracle.imageref import polish_stats_ref

    return _image_rows(
        fixture_dir,
        pa.schema([("image_id", pa.string()), ("polished_mean", pa.float64()),
                   ("polished_std", pa.float64()), ("edge_frac", pa.float64())]),
        lambda px, r: polish_stats_ref(px),
        {},
        5,
    )


def ocr_prep_table(fixture_dir: str) -> pa.Table:
    """`qf_ocr_prep` (P8), built from the independently-coded twin
    (`oracle.imageref.ocr_prep_ref`).  Subset crc32 % 20 == 0: the op
    upscales every page to 1800 px."""
    from oracle.imageref import ocr_prep_ref

    return _image_rows(
        fixture_dir,
        pa.schema([("image_id", pa.string()), ("prep_h", pa.int32()),
                   ("prep_w", pa.int32()), ("white_frac", pa.float64())]),
        lambda px, r: ocr_prep_ref(px),
        {},
        20,
    )


# ------------------------------------------------------ synthetic media

def _ulaw_decode_table() -> np.ndarray:
    """256-entry G.711 mu-law decode table, built scalar-by-scalar from
    the segment formula — deliberately a DIFFERENT implementation than
    the vectorized bit-ops in qfilter/multimodal.py, so oracle parity
    on mu-law rows is a real two-implementation check."""
    tab = np.empty(256, dtype=np.int16)
    for byte in range(256):
        b = (~byte) & 0xFF
        exponent = (b >> 4) & 0x07
        mantissa = b & 0x0F
        mag = (((mantissa << 3) + 0x84) << exponent) - 0x84
        tab[byte] = -mag if (b & 0x80) else mag
    return tab


def _adpcm_decode_scalar(data: bytes) -> np.ndarray:
    """Plain per-sample IMA-ADPCM decoder — deliberately the scalar
    textbook loop, NOT the time-step-vectorized batch kernel in
    qfilter/multimodal.py, so ADPCM parity is a real two-
    implementation check."""
    import struct

    assert data[:4] == b"QADP"
    pred, idx, n = struct.unpack_from("<hBxI", data, 4)
    packed = np.frombuffer(data, dtype=np.uint8, offset=12)
    index_table = [-1, -1, -1, -1, 2, 4, 6, 8] * 2
    step_table = [
        7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
        34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130,
        143, 157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408,
        449, 494, 544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282,
        1411, 1552, 1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327,
        3660, 4026, 4428, 4871, 5358, 5894, 6484, 7132, 7845, 8630,
        9493, 10442, 11487, 12635, 13899, 15289, 16818, 18500, 20350,
        22385, 24623, 27086, 29794, 32767,
    ]
    out = np.empty(n, dtype=np.int16)
    for t in range(n):
        byte = int(packed[t // 2])
        nib = byte & 0x0F if t % 2 == 0 else byte >> 4
        step = step_table[idx]
        vpdiff = step >> 3
        if nib & 4:
            vpdiff += step
        if nib & 2:
            vpdiff += step >> 1
        if nib & 1:
            vpdiff += step >> 2
        pred = pred - vpdiff if nib & 8 else pred + vpdiff
        pred = max(-32768, min(32767, pred))
        idx = max(0, min(88, idx + index_table[nib]))
        out[t] = pred
    return out


def audio_features_table(_synth: None) -> pa.Table:
    """Single-node oracle for `mm_audio_features`: same bytes
    (make_fixtures.synth_audio_rows), arithmetic transcribed from
    qfilter/multimodal.py:audio_features in the same operation order
    (identical float64 results bit-for-bit); mu-law rows decoded with
    the independent table above, ADPCM rows with the independent
    scalar loop above."""
    from make_fixtures import synth_audio_rows

    ulaw_tab = _ulaw_decode_table()
    rows = {"audio_id": [], "duration_s": [], "rms": [],
            "zero_crossings": [], "peak": []}
    for audio_id, pcm, sr, ch, fmt in synth_audio_rows():
        if fmt == "ulaw":
            x = ulaw_tab[np.frombuffer(pcm, dtype=np.uint8)].astype(
                np.float64) / 32768.0
        elif fmt == "adpcm_ima":
            x = _adpcm_decode_scalar(pcm).astype(np.float64) / 32768.0
        else:
            x = np.frombuffer(pcm, dtype="<i2").astype(np.float64) / 32768.0
        if ch > 1:
            x = x.reshape(-1, ch).mean(axis=1)
        rows["audio_id"].append(audio_id)
        rows["duration_s"].append(len(x) / float(sr))
        rows["rms"].append(float(np.sqrt(np.mean(x * x))) if len(x) else 0.0)
        rows["zero_crossings"].append(int(np.count_nonzero(np.diff(np.signbit(x)))))
        rows["peak"].append(float(np.abs(x).max()) if len(x) else 0.0)
    return pa.table(rows, schema=pa.schema([
        ("audio_id", pa.string()), ("duration_s", pa.float64()),
        ("rms", pa.float64()), ("zero_crossings", pa.int64()),
        ("peak", pa.float64()),
    ]))


def video_frames_table(_synth: None) -> pa.Table:
    """Single-node oracle for `mm_video_frames`: same frame bytes
    (make_fixtures.synth_video_rows), gray mean/std of every 5th frame
    (the query's sampling step) transcribed from
    qfilter/multimodal.py:video_frame_features."""
    from make_fixtures import synth_video_rows

    rows = {"video_id": [], "frame_idx": [], "mean_brightness": [],
            "contrast": []}
    for video_id, frames, n, w, h in synth_video_rows():
        frame_sz = w * h * 3
        for fi in range(0, n, 5):
            chunk = frames[fi * frame_sz : (fi + 1) * frame_sz]
            px = np.frombuffer(chunk, dtype=np.uint8).reshape(h, w, 3)
            f = px[..., 0] * 0.299 + px[..., 1] * 0.587 + px[..., 2] * 0.114
            g = np.clip(np.round(f), 0, 255).astype(np.uint8).astype(np.float64)
            rows["video_id"].append(video_id)
            rows["frame_idx"].append(fi)
            rows["mean_brightness"].append(float(g.mean()))
            rows["contrast"].append(float(g.std()))
    return pa.table(rows, schema=pa.schema([
        ("video_id", pa.string()), ("frame_idx", pa.int32()),
        ("mean_brightness", pa.float64()), ("contrast", pa.float64()),
    ]))


# ------------------------------------------------------------ registry

_IMG_DEPS = ("qfilter/enhance.py", "qfilter/imageops.py", "qfilter/codecs.py",
             "tools/make_fixtures.py")
_MEDIA_DEPS = ("qfilter/multimodal.py", "tools/make_fixtures.py")

# name -> (what it reads: a "driver" sf dir, the "fixture" dir or nothing
# ("synth"); its table builder; the source files besides this tool it
# depends on)
SIDECARS = {
    "docs_nlp": ("driver", docs_nlp_table, ("qfilter/textops.py",)),
    "simhash": ("driver", simhash_table, ("oracle/xxh64.py",)),
    "minhash_pairs": ("driver", minhash_pairs_table, ("oracle/xxh64.py",)),
    "lsh_ann": ("driver", lsh_ann_table, ("qfilter/similarity.py",)),
    "ivf_ann": ("driver", ivf_ann_table, ("qfilter/similarity.py",)),
    "thumbs": ("fixture", thumbs_table, ("qfilter/multimodal.py", "qfilter/codecs.py",
                                         "tools/make_fixtures.py")),
    "lines": ("fixture", lines_table, _IMG_DEPS),
    "enhance": ("fixture", enhance_table, _IMG_DEPS),
    "enhanced_bytes": ("fixture", enhanced_bytes_table, _IMG_DEPS),
    "orientation": ("fixture", orientation_table, _IMG_DEPS),
    "polish": ("fixture", polish_table,
               ("qfilter/polish.py", "oracle/imageref.py", *_IMG_DEPS)),
    "ocr_prep": ("fixture", ocr_prep_table,
                 ("qfilter/ocrprep.py", "qfilter/polish.py", "oracle/imageref.py",
                  *_IMG_DEPS)),
    "audio_features": ("synth", audio_features_table, _MEDIA_DEPS),
    "video_frames": ("synth", video_frames_table, _MEDIA_DEPS),
}


def _path(name: str, in_dir: str | None) -> str:
    """<name>_<basename(in_dir)>.parquet, or <name>_synth.parquet for
    the sidecars that read no directory."""
    tag = os.path.basename(os.path.normpath(in_dir)) if in_dir else "synth"
    return os.path.join(OUT_DIR, f"{name}_{tag}.parquet")


def build(name: str, in_dir: str | None) -> str:
    """Build sidecar ``name`` over ``in_dir`` unconditionally."""
    path = _path(name, in_dir)
    os.makedirs(OUT_DIR, exist_ok=True)
    pq.write_table(SIDECARS[name][1](in_dir), path)
    return path


def build_minhash_pairs(sf_dir: str) -> str:
    """The pure-Python MinHash twin alone, under the current OUT_DIR
    (perfbench/inputs.py rebuilds it over its seeded corpus)."""
    return build("minhash_pairs", sf_dir)


def _dep_hash(dep_files: tuple[str, ...]) -> str:
    h = hashlib.sha256()
    for rel in dep_files:
        h.update(rel.encode())
        h.update(b"\0")
        with open(os.path.join(REPO, rel), "rb") as f:
            h.update(f.read())
        h.update(b"\0")
    return h.hexdigest()


def ensure(name: str, in_dir: str | None) -> str:
    """Path of sidecar ``name`` over ``in_dir``, built unless it exists
    AND its recorded dependency hash (kernel sources + this tool)
    matches — a kernel change regenerates the single-node oracle
    automatically instead of failing loudly at parity-compare time
    with a stale committed sidecar."""
    path = _path(name, in_dir)
    dep_files = (_SELF_DEP, *SIDECARS[name][2])
    want = _dep_hash(dep_files)
    meta = path + ".deps.json"
    if os.path.exists(path):
        try:
            with open(meta) as f:
                if json.load(f)["sha256"] == want:
                    return path
        except (OSError, ValueError, KeyError, TypeError):  # missing/corrupt meta -> rebuild
            pass
    build(name, in_dir)
    with open(meta, "w") as f:
        json.dump({"sha256": want, "deps": list(dep_files)}, f, indent=1)
    return path


def ensure_all(sf_dir: str, fixture_dir: str) -> dict[str, str]:
    """Every registered sidecar, each over the directory it reads."""
    dirs = {"driver": sf_dir, "fixture": fixture_dir, "synth": None}
    return {name: ensure(name, dirs[reads]) for name, (reads, _, _) in SIDECARS.items()}


# ------------------------------------------------------------ model zoo

def _labels_ref_Xy(fixture_dir: str):
    """Shared sorted <=4096-row non-error sample with the derived
    feature columns — the single source for every model-oracle
    retrain below (bit-identical to the Spark-side sample: same rows,
    same order, hash-proven feature doubles)."""
    from qfilter.model import MODEL_FEATURES, TRAIN_SAMPLE_MAX

    df = (
        pq.read_table(os.path.join(fixture_dir, "labels_ref.parquet"))
        .to_pandas()
    )
    df = df[df["error"].isnull()].sort_values("image_id").head(TRAIN_SAMPLE_MAX)
    df = df.assign(
        conf_range=df.mean_ocr_conf - df.median_ocr_conf,
        blur_per_word=df.avg_blur / (df.words_count + 1.0),
        density_per_conf=df.text_density * df.median_ocr_conf,
        pct80_squared=df.pct80 * df.pct80,
        line_height_cv=df.line_height_var / (df.line_height_med + 1.0),
        line_spacing_cv=df.line_spacing_var / (df.line_spacing_med + 1.0),
    )
    X = df[MODEL_FEATURES].to_numpy(dtype=np.float64)
    y = df["keep"].to_numpy(dtype=np.float64)
    return X, y


def model_weights_from_labels_ref(fixture_dir: str) -> tuple:
    """Train the qf_model_infer logistic regression single-node from the
    committed labels_ref table — the oracle twin of
    ``fit_logreg(*qfilter.model.training_sample(features))``.
    labels_ref's feature columns are bit-identical to the
    Spark-computed ones (hash-proven via qf_derived_features), the sort
    order matches orderBy(image_id), and fit_logreg is BLAS-free — so
    the weights are bit-identical."""
    from qfilter.model import fit_logreg

    return fit_logreg(*_labels_ref_Xy(fixture_dir))


def cv_weights_from_labels_ref(fixture_dir: str, fit) -> list:
    """Oracle twin of ``qfilter.model.cv_models(features, fit)``: same
    sorted <=4096-row non-error sample, fold = position % CV_K, model f
    trained on every other fold — bit-identical models (same rows,
    same order, deterministic BLAS-free fits)."""
    from qfilter.model import CV_K

    X, y = _labels_ref_Xy(fixture_dir)
    folds = np.arange(len(X)) % CV_K
    return [fit(X[folds != f], y[folds != f]) for f in range(CV_K)]


if __name__ == "__main__":
    from make_fixtures import ensure_fixtures

    fixture = ensure_fixtures("smoke")  # the smoke tier is the driver gate's
    for sf in sys.argv[1:] or sys.exit("usage: make_oracle_sidecars.py SF_DIR [SF_DIR ...]"):
        for path in ensure_all(sf, fixture).values():
            print(path)
