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

from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "CascadeParams",
    "extended_category",
    "extended_reason",
    "base_category",
    "base_reason",
    "easyocr_category",
    "easyocr_reason",
    "dark_flag",
    "dark_reason",
    "tuning_category",
    "keep_expr",
    "with_labels",
]


@dataclass(frozen=True)
class CascadeParams:
    """Constructor defaults of the reference assessor classes."""

    blur_low: float = 800.0          # extended/easyocr default; base uses 300
    min_roi_area_frac: float = 0.45
    skew_bad_deg: float = 12.0


_EXT_DEFAULTS = CascadeParams()
_BASE_DEFAULTS = CascadeParams(blur_low=300.0)


def _c(name_or_col) -> Column:
    return F.col(name_or_col) if isinstance(name_or_col, str) else name_or_col


def _ext_rules(m: dict, p: CascadeParams) -> list[tuple[Column, str, str]]:
    """(condition, category, reason) rows of the extended cascade, in order."""
    blur = _c(m.get("avg_blur", "avg_blur"))
    conf = _c(m.get("median_ocr_conf", "median_ocr_conf"))
    pct80 = _c(m.get("pct80", "pct80"))
    roi = _c(m.get("roi_frac", "roi_frac"))
    skew = _c(m.get("avg_skew_deg", "avg_skew_deg"))
    table = _c(m.get("is_table_like", "is_table_like"))
    core = _c(m.get("core_frac", "core_frac"))
    bbox = _c(m.get("bbox_area_text_frac", "bbox_area_text_frac"))
    iqr = _c(m.get("conf_iqr", "conf_iqr"))
    lhv = _c(m.get("line_height_var", "line_height_var"))
    return [
        (roi < p.min_roi_area_frac, "trash", "roi<min"),
        (skew >= p.skew_bad_deg, "trash", "skew_bad"),
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
            (conf >= 90) & (pct80 >= 0.55) & (blur >= p.blur_low)
            & (bbox >= 0.15) & (iqr <= 20),
            "good",
            "text_strong",
        ),
        ((conf >= 70) & (pct80 >= 0.35) & (bbox >= 0.05), "medium", "text_ok"),
    ]


def _chain(rules: list[tuple[Column, str, str]], pick: int, default: str) -> Column:
    expr = None
    for row in rules:
        val = F.lit(row[pick])
        expr = F.when(row[0], val) if expr is None else expr.when(row[0], val)
    return expr.otherwise(F.lit(default))


def extended_category(m: dict | None = None, p: CascadeParams = _EXT_DEFAULTS) -> Column:
    return _chain(_ext_rules(m or {}, p), 1, "failed")


def extended_reason(m: dict | None = None, p: CascadeParams = _EXT_DEFAULTS) -> Column:
    return _chain(_ext_rules(m or {}, p), 2, "text_weak")


def _base_rules(m: dict, p: CascadeParams) -> list[tuple[Column, str, str]]:
    """Base cascade `classificator_paddleocr.py:243-269` (no rules 5-7,
    no bbox/iqr conjuncts in text_strong/text_ok)."""
    blur = _c(m.get("avg_blur", "avg_blur"))
    conf = _c(m.get("median_ocr_conf", "median_ocr_conf"))
    pct80 = _c(m.get("pct80", "pct80"))
    roi = _c(m.get("roi_frac", "roi_frac"))
    skew = _c(m.get("avg_skew_deg", "avg_skew_deg"))
    table = _c(m.get("is_table_like", "is_table_like"))
    core = _c(m.get("core_frac", "core_frac"))
    return [
        (roi < p.min_roi_area_frac, "trash", "roi<min"),
        (skew >= p.skew_bad_deg, "trash", "skew_bad"),
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
        ((conf >= 90) & (pct80 >= 0.55) & (blur >= p.blur_low), "good", "text_strong"),
        ((conf >= 70) & (pct80 >= 0.35), "medium", "text_ok"),
    ]


def base_category(m: dict | None = None, p: CascadeParams = _BASE_DEFAULTS) -> Column:
    return _chain(_base_rules(m or {}, p), 1, "failed")


def base_reason(m: dict | None = None, p: CascadeParams = _BASE_DEFAULTS) -> Column:
    return _chain(_base_rules(m or {}, p), 2, "text_weak")


def _easy_rules(m: dict, p: CascadeParams) -> list[tuple[Column, str, str]]:
    """EasyOCR recalibration `classificator_easyocr.py:256-297`."""
    blur = _c(m.get("avg_blur", "avg_blur"))
    conf = _c(m.get("median_ocr_conf", "median_ocr_conf"))
    pct80 = _c(m.get("pct80", "pct80"))
    words = _c(m.get("words_count", "words_count"))
    roi = _c(m.get("roi_frac", "roi_frac"))
    skew = _c(m.get("avg_skew_deg", "avg_skew_deg"))
    table = _c(m.get("is_table_like", "is_table_like"))
    core = _c(m.get("core_frac", "core_frac"))
    return [
        (roi < p.min_roi_area_frac, "trash", "roi<min"),
        (skew >= p.skew_bad_deg, "trash", "skew_bad"),
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
        ((conf >= 60) & (pct80 >= 0.30) & (blur >= p.blur_low), "good", "text_strong"),
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
    ]


def easyocr_category(m: dict | None = None, p: CascadeParams = _EXT_DEFAULTS) -> Column:
    return _chain(_easy_rules(m or {}, p), 1, "failed")


def easyocr_reason(m: dict | None = None, p: CascadeParams = _EXT_DEFAULTS) -> Column:
    return _chain(_easy_rules(m or {}, p), 2, "text_weak")


# ------------------------------------------------------- dark documents

def _dark_rules(m: dict) -> list[tuple[Column, Column]]:
    """`dark_document_classifier.py:76-99` — all 7 rules in the original
    order, including rules 3 and 6 which rule 2 (`mean < 220`) makes
    unreachable; preserved verbatim (SURVEY.md §7.5 item 5).  Reason
    strings carry the reference's f-string formatting (one decimal)."""
    mean_b = _c(m.get("mean_brightness", "mean_brightness"))
    dark = _c(m.get("dark_pixels_percent", "dark_pixels_percent"))
    vdark = _c(m.get("very_dark_pixels_percent", "very_dark_pixels_percent"))
    contrast = _c(m.get("contrast", "contrast"))

    def f1(col: Column) -> Column:
        return F.format_string("%.1f", col)

    return [
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


def _dark_flag(rules: list[tuple[Column, Column]]) -> Column:
    return _chain([(cond, True) for cond, _ in rules], 1, False)


def _dark_reason(rules: list[tuple[Column, Column]]) -> Column:
    return _chain(rules, 1, "normal_brightness")


def dark_flag(m: dict | None = None) -> Column:
    return _dark_flag(_dark_rules(m or {}))


def dark_reason(m: dict | None = None) -> Column:
    return _dark_reason(_dark_rules(m or {}))


# --------------------------------------------------- tuning-variant rule

def tuning_category(
    pct80_failed: float, pct80_good: float, conf_failed: float, conf_good: float,
    bbox_failed: float, bbox_good: float, conf_iqr_max: float, line_var_max: float,
    m: dict | None = None,
) -> Column:
    """4-way threshold function `tune_extended_classifier.py:81-97`."""
    m = m or {}
    pct80 = _c(m.get("pct80", "pct80"))
    conf = _c(m.get("median_ocr_conf", "median_ocr_conf"))
    bbox = _c(m.get("bbox_area_text_frac", "bbox_area_text_frac"))
    iqr = _c(m.get("conf_iqr", "conf_iqr"))
    lhv = _c(m.get("line_height_var", "line_height_var"))
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

def keep_expr(category: Column | str = "category") -> Column:
    """keep <=> category in {good, medium} (the folder action boundary)."""
    return _c(category).isin("good", "medium")


def with_labels(df, error_col: str = "error", p: CascadeParams = _EXT_DEFAULTS):
    """Attach category/reason/keep columns to a feature DataFrame.

    Error rows (non-null ``error``) become trash with reason = the error
    string, mirroring the reference's zero-filled+error result path
    (`classificator_extended_paddleocr.py:485-512`).
    """
    with_err = error_col in df.columns
    has_err = F.col(error_col).isNotNull() if with_err else F.lit(False)
    err_reason = F.col(error_col) if with_err else F.lit(None).cast("string")
    # each rule list is built once and feeds both of its columns
    ext = _ext_rules({}, p)
    dark = _dark_rules({})
    category = F.when(has_err, F.lit("trash")).otherwise(_chain(ext, 1, "failed"))
    return df.withColumns({
        "category": category,
        "reason": F.when(has_err, err_reason).otherwise(_chain(ext, 2, "text_weak")),
        "keep": keep_expr(category),
        "is_dark": _dark_flag(dark),
        "dark_reason": _dark_reason(dark),
    })
