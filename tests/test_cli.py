"""`qfilter train`: the CLI fits each family on the shared training
sample and writes an artifact that loads back to the same model.
`qfilter enhance`: each mode writes its stage's output."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def features_parquet(spark, smoke_dir, tmp_path_factory):
    from qfilter.cascade import with_labels
    from qfilter.features import with_all_features
    from qfilter.model import MODEL_FEATURES
    from qfilter.tune import with_derived_features

    images = spark.read.parquet(os.path.join(smoke_dir, "images.parquet"))
    feats = with_derived_features(with_labels(with_all_features(images))).filter(
        F.col("error").isNull()
    )
    path = str(tmp_path_factory.mktemp("cli") / "features.parquet")
    feats.select("image_id", "keep", *MODEL_FEATURES).write.parquet(path)
    return path


@pytest.mark.parametrize("family", ["logreg", "gb", "svm"])
def test_train_writes_the_sample_fit(spark, features_parquet, tmp_path, family):
    from qfilter.cli import main
    from qfilter.model import (
        fit_gb_stumps,
        fit_logreg,
        fit_svm_linear,
        load_gb,
        load_model,
        training_sample,
    )

    out = str(tmp_path / f"{family}.npz")
    argv = ["train", "--input", features_parquet, "--model-out", out,
            "--family", family, "--master", spark.sparkContext.master]
    assert main(argv) == 0

    want = {"logreg": fit_logreg, "gb": fit_gb_stumps, "svm": fit_svm_linear}[
        family
    ](*training_sample(spark.read.parquet(features_parquet)))
    if family == "gb":
        got = load_gb(out)
        for k in ("f0", "feat", "thr", "val_l", "val_r"):
            assert np.array_equal(got[k], want[k]), k
    else:
        w, b = load_model(out)
        assert np.array_equal(w, want[0]) and b == want[1]


@pytest.fixture(scope="module")
def images_slice(spark, smoke_dir, tmp_path_factory):
    """Three decodable fixture rows plus one planted decode-error row."""
    import pyarrow.parquet as pq

    labels = pq.read_table(
        os.path.join(smoke_dir, "labels_ref.parquet"), columns=["image_id", "error"]
    ).to_pylist()
    ids = sorted(r["image_id"] for r in labels if r["error"] is None)[:3]
    ids += sorted(r["image_id"] for r in labels if r["error"] is not None)[:1]
    path = str(tmp_path_factory.mktemp("cli") / "images.parquet")
    spark.read.parquet(os.path.join(smoke_dir, "images.parquet")).filter(
        F.col("image_id").isin(ids)
    ).write.parquet(path)
    return path


@pytest.mark.parametrize("mode", ["stats", "bytes", "lines", "polish", "ocr-prep"])
def test_enhance_writes_the_stage_output(spark, images_slice, tmp_path, mode):
    from qfilter.cli import main
    from qfilter.enhance import with_enhance_stats, with_enhanced_bytes, with_line_features
    from qfilter.ocrprep import with_ocr_prep
    from qfilter.polish import with_polish_stats

    out = str(tmp_path / mode)
    argv = ["enhance", "--input", images_slice, "--out", out, "--mode", mode,
            "--master", spark.sparkContext.master]
    assert main(argv) == 0

    want = {
        "stats": with_enhance_stats,
        "bytes": with_enhanced_bytes,
        "lines": with_line_features,
        "polish": with_polish_stats,
        "ocr-prep": with_ocr_prep,
    }[mode](spark.read.parquet(images_slice))
    if mode != "bytes":
        want = want.drop("bytes")
    got = spark.read.parquet(out)
    assert got.dtypes == want.dtypes
    key = lambda r: r.image_id  # noqa: E731
    assert sorted(got.collect(), key=key) == sorted(want.collect(), key=key)
