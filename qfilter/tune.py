"""Training-path operators (the reference's tune/infer scripts).

* `with_derived_features` — the 9 engineered features of
  `tune_extended_classifier.py:53-64` / `infer_quality.py:50-58` as
  pure Column expressions (conf_range, blur_per_word,
  density_per_conf, pct80_squared, conf_log, words_log, bbox_area_log,
  line_height_cv, line_spacing_cv).  ln(1+x) is used for the log1p
  terms so the SQL oracle computes bit-identical doubles.
* `threshold_grid_search` — A6 (`tune:103-123`): evaluate the 4-way
  tuning cascade over a broadcast parameter grid (crossJoin), score
  accuracy against the extended-cascade labels, argmax with a
  deterministic tiebreak.  The reference's 8 nested Python loops
  become one grid DataFrame x one pass over the features.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .cascade import decide, extended_rules

__all__ = ["DERIVED_NAMES", "with_derived_features", "threshold_grid_search"]

DERIVED_NAMES = [
    "conf_range", "blur_per_word", "density_per_conf", "pct80_squared",
    "conf_log", "words_log", "bbox_area_log", "line_height_cv",
    "line_spacing_cv",
]


def with_derived_features(df: DataFrame) -> DataFrame:
    ln1p = lambda c: F.log(F.lit(1.0) + c)
    return (
        df.withColumn("conf_range", F.col("mean_ocr_conf") - F.col("median_ocr_conf"))
        .withColumn("blur_per_word", F.col("avg_blur") / (F.col("words_count") + F.lit(1.0)))
        .withColumn("density_per_conf", F.col("text_density") * F.col("median_ocr_conf"))
        .withColumn("pct80_squared", F.col("pct80") * F.col("pct80"))
        .withColumn("conf_log", ln1p(F.col("median_ocr_conf")))
        .withColumn("words_log", ln1p(F.col("words_count").cast("double")))
        .withColumn("bbox_area_log", ln1p(F.col("bbox_area_text_frac") * F.lit(1000.0)))
        .withColumn(
            "line_height_cv",
            F.col("line_height_var") / (F.col("line_height_med") + F.lit(1.0)),
        )
        .withColumn(
            "line_spacing_cv",
            F.col("line_spacing_var") / (F.col("line_spacing_med") + F.lit(1.0)),
        )
    )


GRID = [
    (p80f, conff, bboxf, iqrm)
    for p80f in (0.10, 0.20)
    for conff in (20.0, 30.0)
    for bboxf in (0.02, 0.05)
    for iqrm in (30.0, 40.0)
]
FIXED = {"pct80_good": 0.5, "conf_good": 75.0, "bbox_good": 0.1, "line_var_max": 120.0}


def threshold_grid_search(spark: SparkSession, features: DataFrame) -> DataFrame:
    """Best grid cell by 3-way-collapsed accuracy vs the extended
    cascade's category (good/medium/failed-or-trash)."""
    category, _reason = decide(extended_rules())
    truth = features.withColumn(
        "true_cat",
        F.when(category == "trash", F.lit("failed")).otherwise(category),
    )
    grid = spark.createDataFrame(
        GRID, ["pct80_failed", "conf_failed", "bbox_failed", "conf_iqr_max"]
    )
    j = truth.crossJoin(F.broadcast(grid))
    pred = (
        F.when(
            (F.col("pct80") < F.col("pct80_failed"))
            | (F.col("median_ocr_conf") < F.col("conf_failed"))
            | (F.col("bbox_area_text_frac") < F.col("bbox_failed")),
            F.lit("failed"),
        )
        .when((F.col("conf_iqr") > F.col("conf_iqr_max")) & (F.col("pct80") < 0.4), "failed")
        .when(
            (F.col("line_height_var") > FIXED["line_var_max"])
            & (F.col("median_ocr_conf") < 70),
            "medium",
        )
        .when(
            (F.col("pct80") >= FIXED["pct80_good"])
            & (F.col("median_ocr_conf") >= FIXED["conf_good"])
            & (F.col("bbox_area_text_frac") >= FIXED["bbox_good"])
            & (F.col("conf_iqr") <= 25),
            "good",
        )
        .otherwise("medium")
    )
    scored = j.withColumn("correct", (pred == F.col("true_cat")).cast("int"))
    acc = scored.groupBy(
        "pct80_failed", "conf_failed", "bbox_failed", "conf_iqr_max"
    ).agg(
        F.sum("correct").alias("n_correct"), F.count(F.lit(1)).alias("n_total")
    )
    return acc.orderBy(
        F.desc("n_correct"), "pct80_failed", "conf_failed", "bbox_failed",
        "conf_iqr_max",
    ).limit(1)
