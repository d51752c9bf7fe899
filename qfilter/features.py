"""Arrow-batched Spark UDF stages for the quality-filter pipeline.

Vectorized stages, mirroring the reference's per-document assessment
loop (`classificator_extended_paddleocr.py:368-512`) as batched
column transforms:

1. ``with_image_features``  — decode ``bytes`` + all pixel metrics
   (pandas UDF over BinaryType; one Arrow batch = tens of images,
   kernels run once per (h, w) shape-group — `qfilter.batch_image`).
2. ``with_caption_and_scrub`` — OCR-analogue conf/geometry features,
   langid, perplexity, Gopher/C4 heuristics AND the compiled-regex
   PII/toxicity scrub FUSED into one Arrow pass (the e2e path);
   `with_scrubbed_caption` remains as the scrub-only stage.

Each stage runs its batch kernels only (`batch_image`, `batch_text`,
`ScrubBundle.scrub_series`); the per-row scalar forms
(`oracle/features.py`, `ScrubBundle.scrub`) are reference twins, not
a pipeline execution mode.

Scale notes (100 TB design):
* No per-row Python at the Spark level — every UDF is a pandas UDF
  fed by Arrow batches (`spark.sql.execution.arrow.maxRecordsPerBatch`
  should be small, e.g. 64, because ``bytes`` cells are large).
* The text bundle (langid profiles + n-gram LM + regex bundle) is
  built deterministically ONCE per executor process and cached
  (`textops.default_bundle`); for spark-submit deployment the same
  artifacts can be shipped via ``--files`` (textops.save_bundle) and
  loaded with ``load_bundle`` — identical results either way.
* Error channel: decode failures produce zero-filled features plus an
  ``error`` string column (the reference's zero-result path,
  `classificator_extended_paddleocr.py:485-512`) — no task failures,
  so lineage/resume stays partition-granular.
* Drop ``bytes`` right after the image stage (`select`/`drop`) so no
  shuffle ever moves pixels.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import codecs
from .batch_image import image_features_batch
from .batch_text import caption_features_frame
from .textops import default_bundle

__all__ = [
    "IMAGE_FEATURES_SCHEMA",
    "CAPTION_FEATURES_SCHEMA",
    "SCRUB_SCHEMA",
    "with_image_features",
    "with_caption_and_scrub",
    "with_scrubbed_caption",
    "with_all_features",
]

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("roi_frac", T.DoubleType()),
        T.StructField("avg_blur", T.DoubleType()),
        T.StructField("text_density", T.DoubleType()),
        T.StructField("is_table_like", T.BooleanType()),
        T.StructField("avg_skew_deg", T.DoubleType()),
        T.StructField("core_frac", T.DoubleType()),
        T.StructField("mean_brightness", T.DoubleType()),
        T.StructField("median_brightness", T.DoubleType()),
        T.StructField("contrast", T.DoubleType()),
        T.StructField("dark_pixels_percent", T.DoubleType()),
        T.StructField("very_dark_pixels_percent", T.DoubleType()),
        T.StructField("phash64", T.LongType()),
        T.StructField("error", T.StringType()),
    ]
)

_ZERO_IMAGE_FEATURES = {
    "roi_frac": 0.0, "avg_blur": 0.0, "text_density": 0.0,
    "is_table_like": False, "avg_skew_deg": 0.0, "core_frac": 0.0,
    "mean_brightness": 0.0, "median_brightness": 0.0, "contrast": 0.0,
    "dark_pixels_percent": 0.0, "very_dark_pixels_percent": 0.0,
}


def _error_features(exc: Exception) -> dict:
    """Zero-filled error-channel row (the reference's zero-result
    path, `classificator_extended_paddleocr.py:485-512`)."""
    feats = dict(_ZERO_IMAGE_FEATURES)
    feats["phash64"] = 0
    feats["error"] = f"{type(exc).__name__}: {exc}"
    return feats


def _one_image_features(px) -> dict:
    try:
        return image_features_batch([px])[0]
    except Exception as exc:  # noqa: BLE001 — reference error channel
        return _error_features(exc)


@F.pandas_udf(IMAGE_FEATURES_SCHEMA)
def _image_features_udf(
    data: pd.Series, fmt: pd.Series, w: pd.Series, h: pd.Series
) -> pd.DataFrame:
    # decode per-row (variable-length bytes; the reference error
    # channel lives here), then run all pixel kernels ONCE per
    # (h, w) shape-group of the Arrow batch — see qfilter/batch_image.
    rows: list = [None] * len(data)
    pxs, ok_idx = [], []
    for i, (b, f, ww, hh) in enumerate(zip(data, fmt, w, h)):
        try:
            pxs.append(codecs.decode(b, f, int(ww), int(hh)))
            ok_idx.append(i)
        except Exception as exc:  # noqa: BLE001 — reference error channel
            rows[i] = _error_features(exc)
    try:
        ok_feats = image_features_batch(pxs)
    except Exception:  # noqa: BLE001 — keep per-row error granularity
        # rerun the same kernels one already-decoded image at a time,
        # so only the offending row lands in the error channel
        ok_feats = [_one_image_features(px) for px in pxs]
    for i, feats in zip(ok_idx, ok_feats):
        feats.setdefault("error", None)
        rows[i] = feats
    # fix the column order to the schema: the batch dicts insert keys
    # in stage order, not schema order, and Spark maps struct fields
    # positionally (explicit columns= also keeps a zero-row batch from
    # producing a column-less frame that the reindex would KeyError on)
    return pd.DataFrame(rows, columns=[f.name for f in IMAGE_FEATURES_SCHEMA])


CAPTION_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("median_ocr_conf", T.DoubleType()),
        T.StructField("mean_ocr_conf", T.DoubleType()),
        T.StructField("pct80", T.DoubleType()),
        T.StructField("words_count", T.IntegerType()),
        T.StructField("conf_iqr", T.DoubleType()),
        T.StructField("bbox_area_text_frac", T.DoubleType()),
        T.StructField("line_height_med", T.DoubleType()),
        T.StructField("line_height_var", T.DoubleType()),
        T.StructField("line_spacing_med", T.DoubleType()),
        T.StructField("line_spacing_var", T.DoubleType()),
        T.StructField("text_blocks_count", T.IntegerType()),
        T.StructField("avg_block_width", T.DoubleType()),
        T.StructField("avg_block_height", T.DoubleType()),
        T.StructField("lang", T.StringType()),
        T.StructField("lang_conf", T.DoubleType()),
        T.StructField("perplexity", T.DoubleType()),
        T.StructField("token_count", T.IntegerType()),
        T.StructField("char_count", T.IntegerType()),
        T.StructField("mean_word_len", T.DoubleType()),
        T.StructField("alpha_ratio", T.DoubleType()),
        T.StructField("digit_ratio", T.DoubleType()),
        T.StructField("symbol_ratio", T.DoubleType()),
        T.StructField("stopword_frac", T.DoubleType()),
        T.StructField("rep_2gram_frac", T.DoubleType()),
        T.StructField("rep_3gram_frac", T.DoubleType()),
        T.StructField("uniq_word_frac", T.DoubleType()),
    ]
)

_HEUR_KEEP = [
    "token_count", "char_count", "mean_word_len", "alpha_ratio",
    "digit_ratio", "symbol_ratio", "stopword_frac", "rep_2gram_frac",
    "rep_3gram_frac", "uniq_word_frac",
]


def _blocks_to_tuples(blocks) -> list | None:
    if blocks is None or (isinstance(blocks, float) and np.isnan(blocks)):
        return None
    out = []
    for b in blocks:
        if isinstance(b, dict):
            out.append((b["top"], b["left"], b["width"], b["height"]))
        else:  # Row / tuple-like
            out.append((b[0], b[1], b[2], b[3]))
    return out


SCRUB_SCHEMA = T.StructType(
    [
        T.StructField("caption_scrubbed", T.StringType()),
        T.StructField("pii_hits", T.IntegerType()),
        T.StructField("tox_hits", T.IntegerType()),
    ]
)


@F.pandas_udf(SCRUB_SCHEMA)
def _scrub_udf(caption: pd.Series) -> pd.DataFrame:
    # whole-column Series.str path; the scalar ScrubBundle.scrub stays
    # as the oracle twin (parity in tests/test_batch_text.py)
    out, n_pii, n_tox = default_bundle().scrub.scrub_series(caption)
    return pd.DataFrame(
        {"caption_scrubbed": out, "pii_hits": n_pii, "tox_hits": n_tox}
    )


# ------------------------------------------------------------ stage API

def with_image_features(df: DataFrame) -> DataFrame:
    """Decode + pixel metrics.  Drops ``bytes`` afterwards so
    downstream shuffles never move pixels."""
    out = df.withColumn(
        "_imgf", _image_features_udf(F.col("bytes"), F.col("fmt"), F.col("w"), F.col("h"))
    )
    cols = [c for c in df.columns if c != "bytes"]
    return out.select(*cols, "_imgf.*")


def with_scrubbed_caption(df: DataFrame) -> DataFrame:
    out = df.withColumn("_scr", _scrub_udf(F.col("caption")))
    return out.select(*df.columns, "_scr.*")


CAPTION_SCRUB_SCHEMA = T.StructType(
    list(CAPTION_FEATURES_SCHEMA.fields) + list(SCRUB_SCHEMA.fields)
)


@F.pandas_udf(CAPTION_SCRUB_SCHEMA)
def _caption_scrub_udf(
    caption: pd.Series, blocks: pd.Series, w: pd.Series, h: pd.Series
) -> pd.DataFrame:
    # fused caption-features + scrub: ONE Arrow round trip and one
    # Python-worker pass over the caption column instead of two
    capf = caption_features_frame(
        default_bundle(),
        list(caption),
        [_blocks_to_tuples(b) for b in blocks],
        w.to_numpy(),
        h.to_numpy(),
        _HEUR_KEEP,
    )
    out, n_pii, n_tox = default_bundle().scrub.scrub_series(caption)
    capf["caption_scrubbed"] = out.reset_index(drop=True)
    capf["pii_hits"] = n_pii.reset_index(drop=True)
    capf["tox_hits"] = n_tox.reset_index(drop=True)
    return capf


def with_caption_and_scrub(df: DataFrame) -> DataFrame:
    """Fused caption-features + scrub stage (the e2e hot path;
    `with_scrubbed_caption` remains for scrub-only callers)."""
    blocks_col = (
        F.col("blocks") if "blocks" in df.columns
        else F.lit(None).cast(
            "array<struct<top:double,left:double,width:double,height:double>>"
        )
    )
    out = df.withColumn(
        "_cs", _caption_scrub_udf(F.col("caption"), blocks_col, F.col("w"), F.col("h"))
    )
    return out.select(*df.columns, "_cs.*")


def with_all_features(df: DataFrame) -> DataFrame:
    """images table -> full feature table (no labels yet)."""
    return with_caption_and_scrub(with_image_features(df))
