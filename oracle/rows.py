"""Row-level oracle: full per-row assessment without Spark.

`assess_row` mirrors the Spark pipeline end-to-end for one image row:
decode bytes -> image features -> caption OCR-analogue features ->
extended cascade -> keep, plus dark flag, langid, perplexity, scrub
(the per-row twins in `oracle/features.py`).  Mirrors the reference's
`assess_pdf` error path (zero-filled features + error string -> trash,
`classificator_extended_paddleocr.py:485-512`).
"""

from __future__ import annotations

import numpy as np

from qfilter import codecs
from qfilter.textops import TextBundle, default_bundle

from .cascades import categorize_extended, is_dark_document, keep
from .features import IMAGE_FEATURE_NAMES, image_features, ocr_features

__all__ = ["assess_row", "label_rows"]


def assess_row(row: dict, bundle: TextBundle | None = None) -> dict:
    """Oracle labels + features for one row.

    ``row``: mapping with image_id, bytes, w, h, fmt, caption and
    optionally blocks (list of (top, left, width, height)).
    """
    bundle = bundle or default_bundle()
    caption = row.get("caption") or ""
    out: dict = {"image_id": row["image_id"]}

    error = None
    feats: dict = dict.fromkeys(IMAGE_FEATURE_NAMES, 0.0)
    feats["is_table_like"] = False
    try:
        px = codecs.decode(row["bytes"], row["fmt"], row["w"], row["h"])
        feats = image_features(px)
    except Exception as exc:  # noqa: BLE001 — mirror reference error channel
        error = f"{type(exc).__name__}: {exc}"

    ocr = ocr_features(
        bundle, caption, row.get("blocks"), row.get("w", 0), row.get("h", 0)
    )

    if error is not None:
        category, reason = "trash", error
    else:
        category, reason = categorize_extended(
            blur=feats["avg_blur"],
            conf_med=ocr["median_ocr_conf"],
            pct80=ocr["pct80"],
            words=ocr["words_count"],
            density=feats["text_density"],
            roi_frac=feats["roi_frac"],
            avg_skew_deg=feats["avg_skew_deg"],
            is_table=bool(feats["is_table_like"]),
            core_frac=feats["core_frac"],
            bbox_area_text_frac=ocr["bbox_area_text_frac"],
            conf_iqr=ocr["conf_iqr"],
            line_height_var=ocr["line_height_var"],
        )
    dark, dark_reason = is_dark_document(
        feats["mean_brightness"],
        feats["dark_pixels_percent"],
        feats["very_dark_pixels_percent"],
        feats["contrast"],
    )

    lang, lang_conf = bundle.langid.predict(caption)
    ppl = bundle.lm.perplexity(caption)
    scrubbed, n_pii, n_tox = bundle.scrub.scrub(caption)

    out.update(feats)
    out.update(ocr)
    out.update(
        category=category,
        reason=reason,
        keep=keep(category),
        is_dark=dark,
        dark_reason=dark_reason,
        lang=lang,
        lang_conf=lang_conf,
        perplexity=float(ppl) if np.isfinite(ppl) else None,
        caption_scrubbed=scrubbed,
        pii_hits=n_pii,
        tox_hits=n_tox,
        error=error,
    )
    return out


def label_rows(rows, bundle: TextBundle | None = None) -> list[dict]:
    bundle = bundle or default_bundle()
    return [assess_row(r, bundle) for r in rows]
