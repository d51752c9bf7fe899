"""`qfilter train`: the CLI fits each family on the shared training
sample and writes an artifact that loads back to the same model."""

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
