"""Train -> artifact -> broadcast-infer path (qf_model_infer)."""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))


def _spark_features(spark):
    from make_fixtures import ensure_fixtures

    from qfilter.cascade import with_labels
    from qfilter.features import with_all_features
    from qfilter.tune import with_derived_features

    images = spark.read.parquet(
        os.path.join(ensure_fixtures("smoke"), "images.parquet")
    )
    return with_derived_features(with_labels(with_all_features(images))).filter(
        F.col("error").isNull()
    )


def test_spark_training_matches_labels_ref_training(spark):
    """The Spark-side sample (orderBy+limit collect) and the single-node
    labels_ref training must produce bit-identical weights — that is
    the whole basis of the qf_model_infer oracle."""
    from make_fixtures import ensure_fixtures
    from make_oracle_sidecars import model_weights_from_labels_ref

    from qfilter.model import fit_logreg, training_sample

    w_s, b_s = fit_logreg(*training_sample(_spark_features(spark)))
    w_o, b_o = model_weights_from_labels_ref(ensure_fixtures("smoke"))
    assert np.array_equal(w_s, w_o) and b_s == b_o


def test_model_artifact_roundtrip(tmp_path):
    from qfilter.model import MODEL_FEATURES, fit_logreg, load_model, save_model

    rng = np.random.default_rng(9)
    X = rng.standard_normal((200, len(MODEL_FEATURES)))
    y = (X[:, 0] + 0.5 * X[:, 3] > 0).astype(float)
    w, b = fit_logreg(X, y)
    path = str(tmp_path / "logreg.npz")
    save_model(path, (w, b))
    w2, b2 = load_model(path)
    assert np.array_equal(w, w2) and b == b2


def test_fit_logreg_learns_separable():
    """Sanity: GD actually learns a separable problem (accuracy >= 95%)."""
    from qfilter.model import MODEL_FEATURES, fit_logreg

    rng = np.random.default_rng(17)
    X = rng.standard_normal((500, len(MODEL_FEATURES)))
    y = (2.0 * X[:, 1] - X[:, 4] > 0).astype(float)
    w, b = fit_logreg(X, y)
    pred = (b + X @ w) > 0
    assert (pred == y.astype(bool)).mean() >= 0.95


def test_model_infer_predicts_cascade_keep(spark):
    """The trained model must substantially agree with the cascade's
    keep/drop on its own training table (the reference's in-sample
    accuracy check, tune_extended_classifier.py:243-259)."""
    import __spark_entry__ as E

    out = E.queries()["qf_model_infer"](spark, "/root/testdata/sf0.01")
    feats = _spark_features(spark).select("image_id", "keep")
    j = out.join(feats, "image_id")
    agg = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("pred_keep") == F.col("keep")).cast("int")).alias("ok"),
        F.sum(F.col("pred_keep").cast("int")).alias("n_pred_keep"),
    ).collect()[0]
    assert agg.n > 0
    assert 0 < agg.n_pred_keep < agg.n, "degenerate all-one-class prediction"
    assert agg.ok / agg.n >= 0.85, f"in-sample accuracy {agg.ok / agg.n}"


def test_cv_models_match_labels_ref_cv(spark):
    """Spark-side k-fold CV training (positional folds over the sorted
    sample) must be bit-identical to the labels_ref oracle twin — the
    basis of the qf_model_cv oracle."""
    from make_fixtures import ensure_fixtures
    from make_oracle_sidecars import cv_weights_from_labels_ref

    from qfilter.model import CV_K, cv_models, fit_logreg

    spark_models = cv_models(_spark_features(spark), fit_logreg)
    oracle_models = cv_weights_from_labels_ref(ensure_fixtures("smoke"), fit_logreg)
    assert len(spark_models) == len(oracle_models) == CV_K
    for (ws, bs), (wo, bo) in zip(spark_models, oracle_models):
        assert np.array_equal(ws, wo) and bs == bo
    # fold models must differ from each other (trained on different rows)
    assert not np.array_equal(spark_models[0][0], spark_models[1][0])


def test_cv_heldout_accuracy_reasonable(spark):
    """Held-out accuracy should be far above chance on every fold and
    the fleet std small — the labels are cascade-derived from the same
    features, so a sane LR generalizes across folds."""
    import __spark_entry__ as E

    rows = E.queries()["qf_model_cv"](spark, "/root/testdata/sf0.01").collect()
    assert len(rows) == 5
    for r in rows:
        assert r["n_test"] > 0
        assert r["acc_q9"] >= int(0.8e9), (r["fold"], r["acc_q9"])
    mean_acc = rows[0]["mean_acc_q9"]
    std_acc = rows[0]["std_acc_q9"]
    assert mean_acc >= int(0.8e9)
    assert 0 <= std_acc <= int(0.2e9)


def test_gb_spark_training_matches_labels_ref_training(spark):
    """Second model family: the Spark-side GB-stumps sample training and
    the single-node labels_ref retrain must produce bit-identical stump
    arrays — the basis of the qf_model_zoo oracle."""
    from make_fixtures import ensure_fixtures
    from make_oracle_sidecars import cv_weights_from_labels_ref

    from qfilter.model import cv_models, fit_gb_stumps

    ms = cv_models(_spark_features(spark), fit_gb_stumps)
    mo = cv_weights_from_labels_ref(ensure_fixtures("smoke"), fit_gb_stumps)
    assert len(ms) == len(mo)
    for a, b in zip(ms, mo):
        assert a["f0"] == b["f0"]
        assert np.array_equal(a["feat"], b["feat"])
        assert np.array_equal(a["thr"], b["thr"])
        assert np.array_equal(a["val_l"], b["val_l"])
        assert np.array_equal(a["val_r"], b["val_r"])


def test_gb_artifact_roundtrip_and_scores(tmp_path, spark):
    from qfilter.model import (
        MODEL_FEATURES,
        fit_gb_stumps,
        gb_score,
        load_gb,
        save_gb,
        with_model_scores,
    )

    rng = np.random.default_rng(11)
    X = rng.normal(size=(300, len(MODEL_FEATURES)))
    y = (X[:, 0] + 0.5 * X[:, 3] > 0).astype(np.float64)
    m = fit_gb_stumps(X, y)
    p = os.path.join(tmp_path, "gb.npz")
    save_gb(p, m)
    m2 = load_gb(p)
    assert m2["f0"] == m["f0"]
    for k in ("feat", "thr", "val_l", "val_r"):
        assert np.array_equal(m2[k], m[k])

    # accuracy on the training signal should be strong (separable-ish)
    z = np.full(len(X), m["f0"])
    for k in range(len(m["feat"])):
        z = z + np.where(X[:, m["feat"][k]] <= m["thr"][k], m["val_l"][k], m["val_r"][k])
    acc = float(((z > 0) == (y > 0.5)).mean())
    assert acc > 0.9

    # Spark batch inference matches the local accumulation bit-for-bit
    import pandas as pd

    pdf = pd.DataFrame(X, columns=MODEL_FEATURES)
    df = spark.createDataFrame(pdf)
    got = (
        with_model_scores(df, gb_score, m2)
        .select("score")
        .toPandas()["score"]
        .to_numpy()
    )
    # row order through Spark is not guaranteed; compare as multisets
    assert sorted(map(float, got)) == sorted(map(float, z))


def test_gb_beats_or_ties_logreg_on_nonlinear_signal():
    """Sanity for the zoo: a threshold-shaped (non-linear) label rule is
    learnable by stumps but not by a linear model."""
    from qfilter.model import MODEL_FEATURES, fit_gb_stumps, fit_logreg

    rng = np.random.default_rng(5)
    X = rng.normal(size=(600, len(MODEL_FEATURES)))
    y = ((np.abs(X[:, 0]) < 1.0)).astype(np.float64)  # band rule
    gb = fit_gb_stumps(X, y)
    z = np.full(len(X), gb["f0"])
    for k in range(len(gb["feat"])):
        z = z + np.where(X[:, gb["feat"][k]] <= gb["thr"][k], gb["val_l"][k], gb["val_r"][k])
    acc_gb = float(((z > 0) == (y > 0.5)).mean())
    w, b = fit_logreg(X, y)
    zl = b + X @ w
    acc_lr = float(((zl > 0) == (y > 0.5)).mean())
    assert acc_gb > acc_lr + 0.1


def test_rf_svm_spark_training_matches_labels_ref(spark):
    """RF-lite, linear-SVM and RFF kernel-SVC fold models: Spark-sample
    training == single-node labels_ref retraining, exactly (the
    qf_model_zoo oracle embeds these as literals)."""
    from make_fixtures import ensure_fixtures
    from make_oracle_sidecars import cv_weights_from_labels_ref

    from qfilter.model import CV_K, cv_models, fit_rf_lite, fit_svm_linear, fit_svm_rff

    feats = _spark_features(spark)
    fdir = ensure_fixtures("smoke")
    for a, b in zip(cv_models(feats, fit_rf_lite), cv_weights_from_labels_ref(fdir, fit_rf_lite)):
        assert len(a) == len(b)
        for ta, tb in zip(a, b):
            assert ta == tb
    for (wa, ba), (wb, bb) in zip(
        cv_models(feats, fit_svm_linear), cv_weights_from_labels_ref(fdir, fit_svm_linear)
    ):
        assert np.array_equal(wa, wb) and ba == bb
    rff_s = cv_models(feats, fit_svm_rff)
    rff_o = cv_weights_from_labels_ref(fdir, fit_svm_rff)
    assert len(rff_s) == len(rff_o) == CV_K
    for a, b in zip(rff_s, rff_o):
        for k in ("mu", "sd", "W", "B", "w", "b"):
            assert np.array_equal(a[k], b[k]), k


def test_rf_and_svm_learn_separable_signals():
    from qfilter.model import MODEL_FEATURES, fit_rf_lite, fit_svm_linear, rf_proba

    rng = np.random.default_rng(13)
    X = rng.normal(size=(500, len(MODEL_FEATURES)))
    y = (X[:, 2] > 0.2).astype(np.float64)
    forest = fit_rf_lite(X, y)
    acc_rf = float(((rf_proba(X, forest) > 0.5) == (y > 0.5)).mean())
    assert acc_rf > 0.9
    w, b = fit_svm_linear(X, y)
    acc_svm = float((((b + X @ w) > 0) == (y > 0.5)).mean())
    assert acc_svm > 0.9


def test_soft_vote_blends_families():
    from qfilter.model import (
        MODEL_FEATURES,
        fit_gb_stumps,
        fit_logreg,
        fit_rf_lite,
        fit_svm_rff,
        zoo_soft_vote_proba,
    )

    rng = np.random.default_rng(17)
    X = rng.normal(size=(400, len(MODEL_FEATURES)))
    y = (X[:, 0] + X[:, 1] > 0).astype(np.float64)
    p = zoo_soft_vote_proba(
        X,
        fit_logreg(X, y),
        fit_gb_stumps(X, y),
        fit_rf_lite(X, y),
        fit_svm_rff(X, y),
    )
    assert p.min() >= 0.0 and p.max() <= 1.0
    acc = float(((p > 0.5) == (y > 0.5)).mean())
    assert acc > 0.9
