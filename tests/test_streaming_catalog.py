"""Exactly-once streaming sink into the Iceberg-style catalog.

foreachBatch is at-least-once: after a crash between the sink write
and the checkpoint advance, the engine replays the micro-batch with
the SAME batchId.  ``Catalog.append`` with a ``txn_id`` turns that
into exactly-once by deduplicating commits on the txn id — including after
compaction expired the original append snapshot (replace snapshots
carry the superseded txn ids forward).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from qfilter.catalog import Catalog


@pytest.fixture(scope="module")
def landing(spark, smoke_dir, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("cland"))
    (
        spark.read.parquet(os.path.join(smoke_dir, "images.parquet"))
        .drop("blocks")
        .limit(200)
        .repartition(4)
        .write.mode("overwrite")
        .parquet(d)
    )
    return d


def test_stream_to_catalog_matches_batch(spark, landing, tmp_path_factory):
    from qfilter.cascade import with_labels
    from qfilter.features import with_all_features
    from qfilter.streaming import LABEL_OUT_COLS, stream_quality_filter_to_catalog

    wh = str(tmp_path_factory.mktemp("cwh"))
    ckpt = str(tmp_path_factory.mktemp("cckpt"))
    q = stream_quality_filter_to_catalog(
        spark, landing, wh, ckpt, max_files_per_trigger=1, maintain_every=2
    )
    q.awaitTermination(600)

    cat = Catalog(wh)
    streamed = cat.read(spark, "labels")
    batch = with_labels(with_all_features(spark.read.parquet(landing))).select(
        *LABEL_OUT_COLS
    )
    assert streamed.count() == batch.count() == 200
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0
    # maintain_every bounded the snapshot/file growth: 4 input files at
    # 1/trigger = 4 commits, but compaction collapsed the chain
    assert len(cat.table_data_files("labels")) <= 4

    # restart on the same checkpoint: backlog drained -> no new rows
    q2 = stream_quality_filter_to_catalog(spark, landing, wh, ckpt)
    q2.awaitTermination(600)
    assert cat.read(spark, "labels").count() == 200


def test_append_once_dedups_replay(spark, tmp_path):
    cat = Catalog(str(tmp_path / "wh"))
    df = spark.range(10).select(F.col("id"), F.lit("x").alias("tag"))

    sid = cat.append("t", df, txn_id="ck#0")
    again = cat.append("t", df, txn_id="ck#0")  # replayed micro-batch
    assert again == sid
    assert cat.read(spark, "t").count() == 10
    assert len(cat.snapshots("t")) == 1

    cat.append("t", df, txn_id="ck#1")
    assert cat.read(spark, "t").count() == 20


def test_txn_survives_compaction_and_expiry(spark, tmp_path):
    """The crash window: batch N committed + table maintained, THEN the
    engine dies before advancing the checkpoint and replays batch N."""
    cat = Catalog(str(tmp_path / "wh"))
    df = spark.range(10).select(F.col("id"), F.lit("x").alias("tag"))

    cat.append("t", df, txn_id="ck#0")
    cat.append("t", spark.range(10, 20).select(F.col("id"), F.lit("y").alias("tag")), txn_id="ck#1")
    cat.compact(spark, "t", target_file_bytes=1 << 30)
    cat.expire_snapshots("t", keep_last=1)
    assert len(cat.snapshots("t")) == 1  # only the replace snapshot left

    # replay of an already-committed, now-expired micro-batch: no-op
    cat.append("t", df, txn_id="ck#1")
    cat.append("t", df, txn_id="ck#0")
    assert cat.read(spark, "t").count() == 20
    assert len(cat.snapshots("t")) == 1


def test_txn_survives_expiry_without_compaction(spark, tmp_path):
    """ADVICE medium: expiring snapshots WITHOUT a compaction in
    between used to drop the expired appends' txn ids (only replace/
    overwrite manifests carried them) — a replayed micro-batch then
    double-committed.  The txn ref file closes that window."""
    cat = Catalog(str(tmp_path / "wh"))
    df = spark.range(10).select(F.col("id"), F.lit("x").alias("tag"))

    cat.append("t", df, txn_id="ck#0")
    cat.append(
        "t",
        spark.range(10, 20).select(F.col("id"), F.lit("y").alias("tag")),
        txn_id="ck#1",
    )
    cat.expire_snapshots("t", keep_last=1)  # no compact first
    assert len(cat.snapshots("t")) == 1

    # replay of both micro-batches after the crash window: no-ops
    cat.append("t", df, txn_id="ck#0")
    cat.append("t", df, txn_id="ck#1")
    assert cat.read(spark, "t").count() == 20
    assert len(cat.snapshots("t")) == 1
