"""Iceberg-analog table maintenance: compaction, snapshot expiry,
incremental append scans.

Why this matters at 100 TB: every pipeline wave and every streaming
micro-commit appends one snapshot dir; after 10^4 commits the table is
10^6+ small files and scans die on file-open overhead.  Compaction
(Iceberg rewrite_data_files) bin-packs the current snapshot, expiry
(expireSnapshots + orphan GC) reclaims the superseded bytes, and the
incremental scan lets downstream consumers read only the appended rows
instead of rescanning the table per run.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from qfilter.catalog import Catalog


def _hash(df):
    """Order-independent content hash of a DataFrame."""
    cols = [F.col(c).cast("string") for c in sorted(df.columns)]
    row = F.xxhash64(*cols).cast("decimal(38,0)")  # decimal sum: no ANSI overflow
    return df.agg(F.sum(row).alias("h"), F.count("*").alias("n")).collect()[0]


@pytest.fixture()
def cat(tmp_path):
    return Catalog(str(tmp_path / "wh"))


def _mk(spark, lo, hi, part=None):
    df = spark.range(lo, hi).select(
        F.col("id"),
        (F.col("id") % 3).alias("bucket"),
        F.concat(F.lit("cap-"), F.col("id")).alias("caption"),
    )
    return df


def test_compact_preserves_content_and_shrinks_files(spark, cat):
    for i in range(5):
        # repartition(4) per append -> 20 small files before compaction
        cat.append("t", _mk(spark, i * 100, (i + 1) * 100).repartition(4))
    before_files = len(cat.table_data_files("t"))
    assert before_files >= 20
    before = _hash(cat.read(spark, "t"))
    pre_sid = cat.current_snapshot("t")["id"]

    sid = cat.compact(spark, "t", target_file_bytes=1 << 30)
    assert sid == pre_sid + 1
    after_files = len(cat.table_data_files("t"))
    assert after_files == 1  # 500 tiny rows bin-pack into one file
    assert _hash(cat.read(spark, "t")) == before
    # time travel: the pre-compaction snapshot still reads identically
    assert _hash(cat.read(spark, "t", snapshot=pre_sid)) == before


def test_compact_partitioned_table(spark, cat):
    for i in range(3):
        cat.append(
            "p", _mk(spark, i * 90, (i + 1) * 90).repartition(4), partition_by=["bucket"]
        )
    before = _hash(cat.read(spark, "p"))
    cat.compact(spark, "p", target_file_bytes=1 << 30)
    after = cat.read(spark, "p")
    assert _hash(after) == before
    # partition layout survives the rewrite (partition column readable)
    assert after.filter(F.col("bucket") == 1).count() == 90
    # partition pruning still works on the compacted layout: each
    # bucket=K subdir holds only that partition's files
    files = cat.table_data_files("p")
    assert all("bucket=" in f for f in files)


def test_killed_compactor_leaves_table_intact(spark, cat, monkeypatch):
    cat.append("k", _mk(spark, 0, 50).repartition(3))
    before = _hash(cat.read(spark, "k"))
    n_snaps = len(cat.snapshots("k"))

    def boom(table, manifest):
        raise RuntimeError("killed before manifest commit")

    monkeypatch.setattr(cat, "_commit_manifest", boom)
    with pytest.raises(RuntimeError):
        cat.compact(spark, "k", target_file_bytes=1 << 30)
    monkeypatch.undo()

    # data dir was written but never committed: readers see no change
    assert len(cat.snapshots("k")) == n_snaps
    assert _hash(cat.read(spark, "k")) == before
    # ... and expiry GCs the orphan dir the killed compactor left —
    # but only past the orphan grace window (a fresh unreferenced dir
    # could be an in-flight writer's pre-commit data)
    assert cat.expire_snapshots("k", keep_last=1) == []
    deleted = cat.expire_snapshots("k", keep_last=1, orphan_grace_s=0.0)
    assert len(deleted) == 1
    assert _hash(cat.read(spark, "k")) == before


def test_expire_snapshots_gc(spark, cat):
    for i in range(4):
        cat.append("e", _mk(spark, i * 10, (i + 1) * 10))
    cat.compact(spark, "e", target_file_bytes=1 << 30)
    before = _hash(cat.read(spark, "e"))

    deleted = cat.expire_snapshots("e", keep_last=1)
    # the 4 append dirs are superseded by the compacted dir
    assert len(deleted) == 4
    assert all(not os.path.exists(d) for d in deleted)
    assert _hash(cat.read(spark, "e")) == before
    assert len(cat.snapshots("e")) == 1
    # expired snapshots are gone — time travel to them now fails
    with pytest.raises(ValueError, match="does not exist"):
        cat.read(spark, "e", snapshot=0)


def test_incremental_read_appends_only(spark, cat):
    cat.append("i", _mk(spark, 0, 10))      # snapshot 0
    cat.append("i", _mk(spark, 10, 30))     # snapshot 1
    cat.compact(spark, "i", 1 << 30)        # snapshot 2 (replace — no new rows)
    cat.append("i", _mk(spark, 30, 35))     # snapshot 3

    inc = cat.read_incremental(spark, "i", since_snapshot=0)
    got = sorted(r["id"] for r in inc.collect())
    assert got == list(range(10, 30)) + list(range(30, 35))

    # bounded window: only snapshot 1's rows
    inc01 = cat.read_incremental(spark, "i", since_snapshot=0, to_snapshot=1)
    assert sorted(r["id"] for r in inc01.collect()) == list(range(10, 30))

    # since == current -> empty, with the table's schema
    cur = cat.current_snapshot("i")["id"]
    empty = cat.read_incremental(spark, "i", since_snapshot=cur)
    assert empty.count() == 0
    assert set(empty.columns) == {"id", "bucket", "caption"}

    # since=-1 -> everything
    allrows = cat.read_incremental(spark, "i", since_snapshot=-1)
    assert allrows.count() == 35


def test_incremental_read_refuses_expired_chain(spark, cat):
    cat.append("x", _mk(spark, 0, 10))
    cat.append("x", _mk(spark, 10, 20))
    cat.compact(spark, "x", 1 << 30)
    cat.expire_snapshots("x", keep_last=1)
    with pytest.raises(ValueError, match="expired"):
        cat.read_incremental(spark, "x", since_snapshot=0)


def test_add_column_schema_evolution(spark, cat):
    """Iceberg add-column semantics: dirs written before a column
    existed read back as null for it; the CURRENT snapshot's schema
    governs column set and order."""
    cat.append("ev", _mk(spark, 0, 10))
    widened = _mk(spark, 10, 20).withColumn("lang", F.lit("en"))
    cat.append("ev", widened)

    df = cat.read(spark, "ev")
    assert df.columns == ["id", "bucket", "caption", "lang"]
    assert df.count() == 20
    assert df.filter(F.col("lang").isNull()).count() == 10  # pre-evolution rows
    assert df.filter(F.col("lang") == "en").count() == 10

    # compaction materializes the evolved schema; content preserved
    cat.compact(spark, "ev", 1 << 30)
    df2 = cat.read(spark, "ev")
    assert _hash(df2) == _hash(df)

    # time travel to the pre-evolution snapshot shows the OLD schema
    old = cat.read(spark, "ev", snapshot=0)
    assert old.columns == ["id", "bucket", "caption"]


def test_narrow_append_keeps_widened_schema(spark, cat):
    """An append never narrows the table schema: a frame without a
    column the table already has reads back null for it, and the rows
    that do carry it keep their values."""
    cat.append("nw", _mk(spark, 0, 10))
    cat.append("nw", _mk(spark, 10, 20).withColumn("lang", F.lit("en")))
    cat.append("nw", _mk(spark, 20, 30))

    df = cat.read(spark, "nw")
    assert df.columns == ["id", "bucket", "caption", "lang"]
    assert df.filter(F.col("lang") == "en").count() == 10
    assert df.filter(F.col("lang").isNull()).count() == 20


def test_incremental_read_aligns_add_column(spark, cat):
    """The incremental scan reads its dirs like a full read: aligned
    to the schema, older dirs null for the added column."""
    cat.append("ia", _mk(spark, 0, 10))
    cat.append("ia", _mk(spark, 10, 20).withColumn("lang", F.lit("en")))

    inc = cat.read_incremental(spark, "ia", since_snapshot=-1)
    rows = inc.collect()
    assert len(rows) == 20
    assert {r["id"] for r in rows if r["lang"] is None} == set(range(10))


def test_read_launches_no_spark_job(spark, cat):
    """Building a read is planning only: every dir is read with the
    manifest schema, so no dir pays a schema-inference job — across an
    unpartitioned dir, a ``partition_by`` dir and a dir written before
    an add-column."""
    cat.append("nj", _mk(spark, 0, 10))                                 # pre add-column
    cat.append("nj", _mk(spark, 10, 20).withColumn("lang", F.lit("en")))
    cat.append(
        "nj", _mk(spark, 20, 30).withColumn("lang", F.lit("de")), partition_by=["bucket"]
    )
    sc = spark.sparkContext
    sc.setJobGroup("catalog-read-no-job", "Catalog.read")
    try:
        df = cat.read(spark, "nj")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("catalog-read-no-job") == []
    assert df.columns == ["id", "bucket", "caption", "lang"]
    want = [
        (i, i % 3, f"cap-{i}", None if i < 10 else "en" if i < 20 else "de")
        for i in range(30)
    ]
    assert sorted(tuple(r) for r in df.collect()) == want


def test_table_data_files_unknown_snapshot_raises(spark, cat):
    cat.append("uk", _mk(spark, 0, 10))
    with pytest.raises(ValueError, match="does not exist"):
        cat.table_data_files("uk", snapshot=99)


def test_manifest_key_sets(spark, cat):
    """Pins the key set each operation commits, so a refactor of the
    manifest builder cannot drift the on-disk format unseen."""
    state = {"id", "parent", "dirs", "partition_by", "schema", "stats",
             "delete_specs", "dir_added"}

    def keys():
        return set(cat.current_snapshot("mk"))

    cat.append("mk", _mk(spark, 0, 10))
    assert keys() == state
    cat.append("mk", _mk(spark, 10, 20), txn_id="ck#0")
    assert keys() == state | {"txn_id"}
    cat.publish_staged("mk", cat.append_staged("mk", _mk(spark, 20, 30)))
    assert keys() == state | {"operation", "wap_id"}
    cat.compact(spark, "mk", target_file_bytes=1 << 30)
    assert keys() == state | {"operation", "replaced_dirs", "sort_by", "zorder_by", "txn_ids"}
    cat.delete_where(spark, "mk", "id = 1", mode="merge-on-read", equality_cols=["id"])
    assert keys() == state | {"operation", "txn_ids"}
    cat.delete_where(spark, "mk", "id = 2", mode="merge-on-read-position")
    assert keys() == state | {"operation", "txn_ids"}
    cat.merge_mor(spark, "mk", _mk(spark, 3, 5), on=["id"])
    assert keys() == state | {"operation", "txn_ids"}
    cat.merge(spark, "mk", _mk(spark, 5, 7), on=["id"])
    assert keys() == state | {"operation", "replaced_dirs", "txn_ids"}
    cat.delete_where(spark, "mk", "id = 8")
    assert keys() == state | {"operation", "replaced_dirs", "txn_ids"}
    cat.rollback("mk", 0)
    assert keys() == state | {"operation", "rolled_back_to", "txn_ids"}


def test_partition_evolution(spark, cat):
    """Iceberg partition evolution: the partition spec can change
    between appends; old dirs keep their layout, reads span both."""
    cat.append("pe", _mk(spark, 0, 30))                            # unpartitioned
    cat.append("pe", _mk(spark, 30, 60), partition_by=["bucket"])  # evolved spec
    df = cat.read(spark, "pe")
    assert df.count() == 60
    assert sorted(r["id"] for r in df.collect()) == list(range(60))
    # partition column readable across the mixed layout
    assert df.filter(F.col("bucket") == 1).count() == 20
    before = _hash(df)
    # compaction rewrites under the CURRENT (latest) spec
    cat.compact(spark, "pe", target_file_bytes=1 << 30)
    assert _hash(cat.read(spark, "pe")) == before
    files = cat.table_data_files("pe")
    assert all("bucket=" in f for f in files)


def test_history_metadata_table(spark, cat):
    cat.append("h", _mk(spark, 0, 10))
    cat.append("h", _mk(spark, 10, 20))
    cat.compact(spark, "h", target_file_bytes=1 << 30)
    hist = cat.history(spark, "h").orderBy("snapshot_id").collect()
    assert [r["snapshot_id"] for r in hist] == [0, 1, 2]
    assert [r["parent"] for r in hist] == [None, 0, 1]
    assert [r["operation"] for r in hist] == ["append", "append", "replace"]
    assert [r["n_dirs"] for r in hist] == [1, 2, 1]


def test_pipeline_maintain_then_resume(spark, smoke_dir, tmp_path_factory):
    """Compaction must not disturb resume: lineage, not file layout,
    carries the progress state."""
    from qfilter.pipeline import PipelineKilled, QualityFilterPipeline

    images = (
        spark.read.parquet(os.path.join(smoke_dir, "images.parquet")).limit(120).cache()
    )
    d = str(tmp_path_factory.mktemp("maint"))
    pipe = QualityFilterPipeline(spark, d, n_parts=6, wave_size=2)
    with pytest.raises(PipelineKilled):
        pipe.run(images, run_id="r1", fail_after_wave=0)

    stats = pipe.maintain(target_file_bytes=1 << 30)
    assert stats["files_after"] <= stats["files_before"]

    resumed = pipe.run(run_id="r2")
    assert resumed.count() == images.count()
    # exactly-once: no partition labeled twice even across the compaction
    dupes = (
        resumed.groupBy("image_id").count().filter(F.col("count") > 1).count()
    )
    assert dupes == 0

    # post-run maintenance again: single data dir, content intact
    before = resumed.count()
    pipe.maintain(target_file_bytes=1 << 30)
    assert pipe.catalog.read(spark, "labels").count() == before
    assert len(pipe.catalog.snapshots("labels")) == 1
