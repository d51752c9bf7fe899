"""Kill-and-resume: pipeline output after a crash+rerun == single-shot run."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def images(spark, smoke_dir):
    return (
        spark.read.parquet(os.path.join(smoke_dir, "images.parquet"))
        .limit(200)
        .cache()
    )


def _run_full(spark, images, out_dir):
    from qfilter.pipeline import QualityFilterPipeline

    pipe = QualityFilterPipeline(spark, out_dir, n_parts=8, wave_size=3)
    return pipe, pipe.run(images, run_id="full")


def test_kill_and_resume_equivalence(spark, images, tmp_path_factory, monkeypatch):
    from qfilter.catalog import Catalog
    from qfilter.pipeline import PipelineKilled, QualityFilterPipeline

    d_full = str(tmp_path_factory.mktemp("full"))
    d_kill = str(tmp_path_factory.mktemp("killed"))

    _, full = _run_full(spark, images, d_full)

    reads: list[str] = []
    read = Catalog.read

    def counting_read(self, spark, table, *a, **k):
        reads.append(table)
        return read(self, spark, table, *a, **k)

    monkeypatch.setattr(Catalog, "read", counting_read)
    pipe = QualityFilterPipeline(spark, d_kill, n_parts=8, wave_size=3)
    with pytest.raises(PipelineKilled):
        pipe.run(images, run_id="r1", fail_after_wave=0)
    st = pipe.status()
    assert 0 < st["committed"] < 8  # partial progress committed

    resumed = pipe.run(run_id="r2")  # no input needed — resumes from tables
    # fresh waves observe their telemetry while writing: the only labels
    # read is the one run() returns
    assert reads.count("labels") == 1
    monkeypatch.undo()
    a = full.select("image_id", "category", "reason", "keep").orderBy("image_id")
    b = resumed.select("image_id", "category", "reason", "keep").orderBy("image_id")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    assert resumed.count() == images.count()

    # exactly-once: each partition committed exactly once in lineage
    lin = pipe.catalog.read(spark, "lineage")
    dupes = lin.groupBy("part_id").count().filter(F.col("count") > 1).count()
    assert dupes == 0
    _assert_telemetry_reconciles(spark, pipe, resumed)


def test_crash_between_labels_and_lineage_commits(
    spark, images, tmp_path_factory, monkeypatch
):
    """A process that dies after a wave's labels commit but before its
    lineage commit: the resume (a new pipeline object, another run id)
    replays the wave, and the labels append's idempotence key keeps it
    from appending the wave's rows a second time."""
    from qfilter.pipeline import QualityFilterPipeline

    d = str(tmp_path_factory.mktemp("crash"))
    commit = QualityFilterPipeline._commit_telemetry
    calls = []

    def crash_once(self, *a, **k):
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("killed between the labels and lineage commits")
        return commit(self, *a, **k)

    monkeypatch.setattr(QualityFilterPipeline, "_commit_telemetry", crash_once)
    first = QualityFilterPipeline(spark, d, n_parts=8, wave_size=3)
    with pytest.raises(RuntimeError, match="killed between"):
        first.run(images, run_id="c1")
    assert first.status()["committed"] == 0

    pipe = QualityFilterPipeline(spark, d, n_parts=8, wave_size=3)
    labels = pipe.run(run_id="c2")
    n = images.count()
    assert labels.count() == n
    assert labels.select("image_id").distinct().count() == n
    assert pipe.status()["pending"] == 0
    _assert_telemetry_reconciles(spark, pipe, labels)


_LINEAGE_DDL = (
    "part_id int, rows_out bigint not null, run_id string not null, "
    "stage string not null, status string not null, wall_ms int not null"
)
_METRICS_DDL = (
    "category string, rows bigint not null, kept bigint, pii_hits bigint, "
    "tox_hits bigint, run_id string not null, wave_wall_ms int not null"
)


def _assert_telemetry_reconciles(spark, pipe, labels):
    """lineage and metrics describe the labels table exactly: one
    lineage row per part, rows_out summing to the labels rows, and
    per-category rows/kept equal to a groupBy of labels.  Their
    manifest schemas, nullability included, are what Spark records
    for a frame of the tables' DDL."""
    for table, ddl in (("lineage", _LINEAGE_DDL), ("metrics", _METRICS_DDL)):
        assert pipe.catalog.current_snapshot(table)["schema"] == (
            spark.createDataFrame([], ddl).schema.jsonValue()
        )
    lin = pipe.catalog.read(spark, "lineage")
    metrics = pipe.catalog.read(spark, "metrics")
    assert lin.schema.simpleString() == (
        "struct<part_id:int,rows_out:bigint,run_id:string,stage:string,"
        "status:string,wall_ms:int>"
    )
    assert metrics.schema.simpleString() == (
        "struct<category:string,rows:bigint,kept:bigint,pii_hits:bigint,"
        "tox_hits:bigint,run_id:string,wave_wall_ms:int>"
    )
    assert sorted(r.part_id for r in lin.select("part_id").collect()) == list(
        range(pipe.n_parts)
    )
    assert lin.agg(F.sum("rows_out")).first()[0] == labels.count()
    got = {
        tuple(r)
        for r in metrics.groupBy("category")
        .agg(F.sum("rows"), F.sum("kept"))
        .collect()
    }
    want = {
        tuple(r)
        for r in labels.groupBy("category")
        .agg(F.count(F.lit(1)), F.sum(F.col("keep").cast("int")))
        .collect()
    }
    assert got == want


def test_metrics_written(spark, images, tmp_path_factory):
    from qfilter.pipeline import QualityFilterPipeline

    d = str(tmp_path_factory.mktemp("metrics"))
    pipe = QualityFilterPipeline(spark, d, n_parts=4, wave_size=4)
    labels = pipe.run(images, run_id="m")
    metrics = pipe.catalog.read(spark, "metrics")
    total = metrics.agg(F.sum("rows")).collect()[0][0]
    assert total == labels.count() == images.count()
    cats = {r.category for r in metrics.select("category").distinct().collect()}
    assert cats <= {"good", "medium", "failed", "trash"}


def test_empty_partitions_commit(spark, images, tmp_path_factory):
    """A part that receives no rows still commits: 3 rows over 8 parts
    leave nothing pending, and a second run recomputes no wave."""
    from qfilter.pipeline import QualityFilterPipeline

    d = str(tmp_path_factory.mktemp("sparse"))
    pipe = QualityFilterPipeline(spark, d, n_parts=8, wave_size=3)
    labels = pipe.run(images.orderBy("image_id").limit(3), run_id="s1")
    assert labels.count() == 3
    assert pipe.status()["pending"] == 0
    _assert_telemetry_reconciles(spark, pipe, labels)
    n_snaps = len(pipe.catalog.snapshots("labels"))
    pipe.run(run_id="s2")
    assert len(pipe.catalog.snapshots("labels")) == n_snaps


def test_fresh_wave_runs_one_spark_job(spark, images, tmp_path_factory):
    """A fresh wave's telemetry costs no Spark job: the labels write is
    the wave's only job."""
    from qfilter.pipeline import QualityFilterPipeline

    d = str(tmp_path_factory.mktemp("jobs"))
    pipe = QualityFilterPipeline(spark, d, n_parts=4, wave_size=4)
    pipe.ingest(images)
    sc = spark.sparkContext
    sc.setJobGroup("qfilter-one-wave", "one fresh wave")
    try:
        pipe.run(run_id="j")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("qfilter-one-wave")) == 1
    assert pipe.status()["pending"] == 0


def test_observed_telemetry_equals_labels_aggregate(spark, images, tmp_path_factory):
    """Each wave's observed lineage and metrics rows equal the
    grouping-sets aggregate of that wave's labels rows, sums of
    PII/toxicity hits included."""
    from qfilter.pipeline import QualityFilterPipeline

    d = str(tmp_path_factory.mktemp("observed"))
    pipe = QualityFilterPipeline(spark, d, n_parts=8, wave_size=4)
    labels = pipe.run(images, run_id="o")
    want_lineage, want_metrics = [], []
    for wave in ([0, 1, 2, 3], [4, 5, 6, 7]):
        agg = (
            labels.filter(F.col("part_id").isin(wave))
            .groupingSets([["part_id"], ["category"]], "part_id", "category")
            .agg(
                F.grouping("part_id").alias("by_category"),
                F.count(F.lit(1)).alias("rows"),
                F.sum(F.col("keep").cast("int")).alias("kept"),
                F.sum("pii_hits").alias("pii_hits"),
                F.sum("tox_hits").alias("tox_hits"),
            )
            .collect()
        )
        rows_out = {r.part_id: r.rows for r in agg if not r.by_category}
        want_lineage += [(p, rows_out.get(p, 0)) for p in wave]
        want_metrics += [
            (r.category, r.rows, r.kept, r.pii_hits, r.tox_hits)
            for r in agg if r.by_category
        ]
    got_lineage = [
        tuple(r) for r in pipe.catalog.read(spark, "lineage")
        .select("part_id", "rows_out").collect()
    ]
    got_metrics = [
        tuple(r) for r in pipe.catalog.read(spark, "metrics")
        .select("category", "rows", "kept", "pii_hits", "tox_hits").collect()
    ]
    assert sorted(got_lineage) == sorted(want_lineage)
    assert sorted(got_metrics, key=repr) == sorted(want_metrics, key=repr)
