"""The reference decision cascades as pure Spark Column expressions.

Bit-exact transcriptions (ordered, first-match-wins) of:

* extended cascade  `classificator_extended_paddleocr.py:326-366`
  (canonical; identical text to the commented
  `classificator_extended.py:263-303`), defaults `:49-57`
  (blur_low=800, min_roi_area_frac=0.45, skew_bad_deg=12).
* base cascade      `classificator_paddleocr.py:243-269`
  (blur_low=300 default `:39`).
* EasyOCR cascade   `classificator_easyocr.py:256-297` (recalibrated
  thresholds + words-count conjuncts, blur_low=800 `:54`).
* dark-document cascade `dark_document_classifier.py:76-99` — NOTE:
  rule 2 (`mean < 220`) dominates rules 3 and 6; the dead-rule ordering
  is preserved exactly, as SURVEY.md §7.5 requires.
* threshold-tuning variant `tune_extended_classifier.py:81-97`.

Implemented as chained ``F.when`` CASE expressions — whole-stage
codegen'd by Catalyst, no UDF, short-circuit per row for free.  This is
the one operator where bit-exact reproduction is mandatory for the
F1 >= 0.99 gate, so every comparison keeps the reference's exact
operator (``<`` vs ``<=`` vs ``>=``) and ordering.

Keep/drop mapping: keep <=> category in {good, medium} — the
reference's action boundary (good/medium proceed, failed/trash are
quarantined into separate folders,
`classificator_extended_paddleocr.py:557-566`).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "extended_rules",
    "base_rules",
    "easyocr_rules",
    "dark_rules",
    "decide",
    "tuning_category",
    "keep_expr",
    "with_labels",
]

# A rule list is a first-match-wins cascade of (condition, category,
# reason) rows; its last row is the unconditional fallback, with
# condition None.  Thresholds are the reference assessors' constructor
# defaults: blur_low = 800 (extended, easyocr) or 300 (base),
# min_roi_area_frac = 0.45, skew_bad_deg = 12.


def extended_rules() -> list[tuple]:
    """The extended cascade, in order."""
    blur = F.col("avg_blur")
    conf = F.col("median_ocr_conf")
    pct80 = F.col("pct80")
    roi = F.col("roi_frac")
    skew = F.col("avg_skew_deg")
    table = F.col("is_table_like")
    core = F.col("core_frac")
    bbox = F.col("bbox_area_text_frac")
    iqr = F.col("conf_iqr")
    lhv = F.col("line_height_var")
    return [
        (roi < 0.45, "trash", "roi<min"),
        (skew >= 12.0, "trash", "skew_bad"),
        ((conf < 25) & (pct80 < 0.10), "trash", "ocr_dead"),
        ((blur < 120) & (pct80 < 0.20), "trash", "blur_dead"),
        ((bbox < 0.03) & (conf < 50), "trash", "no_text_content"),
        ((iqr >= 35) & (pct80 < 0.30), "failed", "unstable_ocr"),
        ((lhv > 100) & (conf < 70), "medium", "irregular_lines"),
        (
            (core < 0.12) & (pct80 < 0.25) & (blur < 260) & (conf < 55),
            "trash",
            "miniature_poor",
        ),
        (table & (conf >= 65) & (pct80 >= 0.45) & (blur >= 800), "good", "table_strong"),
        (table & (conf >= 55) & (pct80 >= 0.30) & (blur >= 220), "medium", "table_ok"),
        (table, "failed", "table_weak"),
        (
            (conf >= 90) & (pct80 >= 0.55) & (blur >= 800.0)
            & (bbox >= 0.15) & (iqr <= 20),
            "good",
            "text_strong",
        ),
        ((conf >= 70) & (pct80 >= 0.35) & (bbox >= 0.05), "medium", "text_ok"),
        (None, "failed", "text_weak"),
    ]


def base_rules() -> list[tuple]:
    """Base cascade `classificator_paddleocr.py:243-269` (no rules 5-7,
    no bbox/iqr conjuncts in text_strong/text_ok)."""
    blur = F.col("avg_blur")
    conf = F.col("median_ocr_conf")
    pct80 = F.col("pct80")
    roi = F.col("roi_frac")
    skew = F.col("avg_skew_deg")
    table = F.col("is_table_like")
    core = F.col("core_frac")
    return [
        (roi < 0.45, "trash", "roi<min"),
        (skew >= 12.0, "trash", "skew_bad"),
        ((conf < 25) & (pct80 < 0.10), "trash", "ocr_dead"),
        ((blur < 120) & (pct80 < 0.20), "trash", "blur_dead"),
        (
            (core < 0.12) & (pct80 < 0.25) & (blur < 260) & (conf < 55),
            "trash",
            "miniature_poor",
        ),
        (table & (conf >= 65) & (pct80 >= 0.45) & (blur >= 800), "good", "table_strong"),
        (table & (conf >= 55) & (pct80 >= 0.30) & (blur >= 220), "medium", "table_ok"),
        (table, "failed", "table_weak"),
        ((conf >= 90) & (pct80 >= 0.55) & (blur >= 300.0), "good", "text_strong"),
        ((conf >= 70) & (pct80 >= 0.35), "medium", "text_ok"),
        (None, "failed", "text_weak"),
    ]


def easyocr_rules() -> list[tuple]:
    """EasyOCR recalibration `classificator_easyocr.py:256-297`."""
    blur = F.col("avg_blur")
    conf = F.col("median_ocr_conf")
    pct80 = F.col("pct80")
    words = F.col("words_count")
    roi = F.col("roi_frac")
    skew = F.col("avg_skew_deg")
    table = F.col("is_table_like")
    core = F.col("core_frac")
    return [
        (roi < 0.45, "trash", "roi<min"),
        (skew >= 12.0, "trash", "skew_bad"),
        ((words < 10) & (conf < 10) & (pct80 < 0.05), "trash", "ocr_dead"),
        ((blur < 120) & (pct80 < 0.10), "trash", "blur_dead"),
        (
            (core < 0.12) & (pct80 < 0.15) & (blur < 260) & (conf < 20),
            "trash",
            "miniature_poor",
        ),
        (
            table & (conf >= 40) & (pct80 >= 0.20) & (blur >= 800) & (words >= 50),
            "good",
            "table_strong",
        ),
        (
            table & (conf >= 20) & (pct80 >= 0.08) & (blur >= 220) & (words >= 20),
            "medium",
            "table_ok",
        ),
        (table & (words >= 30), "medium", "table_readable"),
        (table, "failed", "table_weak"),
        ((conf >= 60) & (pct80 >= 0.30) & (blur >= 800.0), "good", "text_strong"),
        (
            (conf >= 35) & (pct80 >= 0.15) & (blur >= 400) & (words >= 30),
            "medium",
            "text_good",
        ),
        (
            (conf >= 20) & (pct80 >= 0.08) & (blur >= 200) & (words >= 20),
            "medium",
            "text_ok",
        ),
        ((words >= 50), "medium", "text_readable"),
        (None, "failed", "text_weak"),
    ]


# ------------------------------------------------------- dark documents

def dark_rules() -> list[tuple]:
    """`dark_document_classifier.py:76-99` as (condition, is_dark,
    reason) rows — all 7 rules in the original order, including rules 3
    and 6 which rule 2 (`mean < 220`) makes unreachable; preserved
    verbatim (SURVEY.md §7.5 item 5).  Reason strings carry the
    reference's f-string formatting (one decimal)."""
    mean_b = F.col("mean_brightness")
    dark = F.col("dark_pixels_percent")
    vdark = F.col("very_dark_pixels_percent")
    contrast = F.col("contrast")
    rows = [
        (mean_b < 100,
         F.format_string("very_low_brightness (%.1f < 100)", mean_b)),
        (mean_b < 220,
         F.format_string("medium_low_brightness (%.1f < 220)", mean_b)),
        ((mean_b < 150) & (dark > 20),
         F.format_string(
             "low_brightness_high_dark_pixels (brightness:%.1f < 150, dark:%.1f%% > 20%%)",
             mean_b, dark)),
        (dark > 40,
         F.format_string("too_many_dark_pixels (%.1f%% > 40%%)", dark)),
        (vdark > 25,
         F.format_string("too_many_very_dark_pixels (%.1f%% > 25%%)", vdark)),
        ((mean_b < 120) & (contrast < 20),
         F.format_string(
             "low_brightness_low_contrast (brightness:%.1f < 120, contrast:%.1f < 20)",
             mean_b, contrast)),
        (contrast < 10,
         F.format_string("extremely_low_contrast (%.1f < 10)", contrast)),
    ]
    return [(cond, True, reason) for cond, reason in rows] + [
        (None, False, "normal_brightness")
    ]


def _chain(rules: list[tuple], pick: int) -> Column:
    *rows, fallback = rules
    expr = None
    for row in rows:
        val = F.lit(row[pick])
        expr = F.when(row[0], val) if expr is None else expr.when(row[0], val)
    return expr.otherwise(F.lit(fallback[pick]))


def decide(rules: list[tuple]) -> tuple[Column, Column]:
    """The (category, reason) columns of a rule list: chained
    ``F.when`` CASE expressions, first match wins."""
    return _chain(rules, 1), _chain(rules, 2)


# --------------------------------------------------- tuning-variant rule

def tuning_category(
    pct80_failed: float, pct80_good: float, conf_failed: float, conf_good: float,
    bbox_failed: float, bbox_good: float, conf_iqr_max: float, line_var_max: float,
) -> Column:
    """4-way threshold function `tune_extended_classifier.py:81-97`."""
    pct80 = F.col("pct80")
    conf = F.col("median_ocr_conf")
    bbox = F.col("bbox_area_text_frac")
    iqr = F.col("conf_iqr")
    lhv = F.col("line_height_var")
    return (
        F.when(
            (pct80 < pct80_failed) | (conf < conf_failed) | (bbox < bbox_failed),
            F.lit("failed"),
        )
        .when((iqr > conf_iqr_max) & (pct80 < 0.4), F.lit("failed"))
        .when((lhv > line_var_max) & (conf < 70), F.lit("medium"))
        .when(
            (pct80 >= pct80_good) & (conf >= conf_good)
            & (bbox >= bbox_good) & (iqr <= 25),
            F.lit("good"),
        )
        .otherwise(F.lit("medium"))
    )


# ---------------------------------------------------------------- labels

def keep_expr(category: Column) -> Column:
    """keep <=> category in {good, medium} (the folder action boundary)."""
    return category.isin("good", "medium")


def with_labels(df):
    """Attach category/reason/keep/is_dark/dark_reason columns to a
    feature DataFrame.

    Error rows (non-null ``error``) become trash with reason = the error
    string, mirroring the reference's zero-filled+error result path
    (`classificator_extended_paddleocr.py:485-512`).
    """
    with_err = "error" in df.columns
    has_err = F.col("error").isNotNull() if with_err else F.lit(False)
    err_reason = F.col("error") if with_err else F.lit(None).cast("string")
    # each rule list is built once and feeds both of its columns
    ext_category, ext_reason = decide(extended_rules())
    is_dark, dark_reason = decide(dark_rules())
    category = F.when(has_err, F.lit("trash")).otherwise(ext_category)
    return df.withColumns({
        "category": category,
        "reason": F.when(has_err, err_reason).otherwise(ext_reason),
        "keep": keep_expr(category),
        "is_dark": is_dark,
        "dark_reason": dark_reason,
    })
