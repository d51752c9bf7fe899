"""Manifest-stats scan planning (Iceberg lower_bounds/upper_bounds).

Why this matters at 100 TB: deciding which files a predicate touches
must happen on manifest metadata alone — opening footers of millions
of files per query is itself a scan.  Each commit records per-file
min/max bounds; `plan_scan` prunes on them driver-side and `scan`
hands Spark only the surviving files, re-applying the predicate as a
residual filter so pruning is never a correctness lever.  Combined
with `compact(sort_by=...)` / `zorder_by`, a key-range query plans to
O(matching) files.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from qfilter.catalog import Catalog


def _hash(df):
    cols = [F.col(c).cast("string") for c in sorted(df.columns)]
    row = F.xxhash64(*cols).cast("decimal(38,0)")
    return df.agg(F.sum(row).alias("h"), F.count("*").alias("n")).collect()[0]


@pytest.fixture()
def cat(tmp_path):
    return Catalog(str(tmp_path / "wh"))


def _mk(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"),
        (F.col("id") % 3).alias("bucket"),
        F.concat(F.lit("cap-"), F.col("id")).alias("caption"),
    )


def _expect(spark, cat, table, where):
    """Oracle: unpruned read + the same predicate."""
    df = cat.read(spark, table)
    for col, op, val in where:
        c, lit = F.col(col), F.lit(val)
        df = df.filter(
            {"==": c == lit, "!=": c != lit, "<": c < lit,
             "<=": c <= lit, ">": c > lit, ">=": c >= lit}[op]
        )
    return df


WHERES = [
    [("id", ">=", 700)],
    [("id", "<", 120), ("bucket", "==", 1)],
    [("id", ">", 250), ("id", "<=", 600)],
    [("caption", "==", "cap-42")],
    [("bucket", "!=", 0)],
    [("id", ">", 10_000)],  # empty result, schema must survive
]


def test_scan_matches_filtered_read(spark, cat):
    for i in range(4):
        cat.append("t", _mk(spark, i * 250, (i + 1) * 250))
    for where in WHERES:
        got = cat.scan(spark, "t", where)
        want = _expect(spark, cat, "t", where)
        assert got.columns == want.columns
        assert _hash(got) == _hash(want), where


def test_sorted_compaction_prunes_files(spark, cat):
    for i in range(4):
        cat.append("t", _mk(spark, i * 250, (i + 1) * 250).repartition(4))
    cat.compact(spark, "t", target_file_bytes=4 << 10, sort_by=["id"])
    plan, kept, total = cat.plan_scan("t", [("id", ">=", 900), ("id", "<", 950)])
    assert total >= 4
    # range-partitioned on id: a 5% key slice plans to ~1 file
    assert kept <= max(1, total // 3)
    got = cat.scan(spark, "t", [("id", ">=", 900), ("id", "<", 950)])
    assert got.count() == 50
    assert _hash(got) == _hash(_expect(spark, cat, "t", [("id", ">=", 900), ("id", "<", 950)]))


def test_partition_path_bounds_prune(spark, cat):
    cat.append("p", _mk(spark, 0, 300), partition_by=["bucket"])
    plan, kept, total = cat.plan_scan("p", [("bucket", "==", 1)])
    assert kept < total
    assert all("bucket=1" in f for files in plan.values() for f in files)
    got = cat.scan(spark, "p", [("bucket", "==", 1)])
    assert got.count() == 100
    # partition column round-trips through the basePath leaf-file read
    assert got.select("bucket").distinct().collect()[0]["bucket"] == 1


def test_zorder_compaction_prunes_on_either_column(spark, cat):
    n = 16384
    df = spark.range(n).select(
        (F.col("id") % 128).alias("x"),
        (F.col("id") / 128).cast("long").alias("y"),
        F.col("id"),
    )
    cat.append("z", df)
    cat.compact(spark, "z", target_file_bytes=8 << 10, zorder_by=["x", "y"])
    for col in ("x", "y"):
        plan, kept, total = cat.plan_scan("z", [(col, "<", 16)])
        assert total >= 4
        assert kept < total, f"no pruning on {col}"
        got = cat.scan(spark, "z", [(col, "<", 16)])
        assert got.count() == 16 * 128


def test_scan_after_schema_evolution_is_conservative(spark, cat):
    cat.append("e", _mk(spark, 0, 100))
    cat.append("e", _mk(spark, 100, 200).withColumn("score", F.col("id") * 2))
    # old dir has no 'score' stats -> kept (conservative), and its null
    # rows are dropped by the residual filter, not by pruning
    plan, kept, total = cat.plan_scan("e", [("score", ">=", 300)])
    assert kept > 0
    got = cat.scan(spark, "e", [("score", ">=", 300)])
    assert got.count() == 50  # ids 150..199
    assert got.agg(F.min("score")).collect()[0][0] == 300


def test_files_metadata_table(spark, cat):
    for i in range(3):
        cat.append("f", _mk(spark, i * 100, (i + 1) * 100))
    inv = cat.files(spark, "f")
    n_fs = len(cat.table_data_files("f"))
    assert inv.count() == n_fs
    rows = inv.collect()
    assert all(r["bytes"] and r["bytes"] > 0 for r in rows)
    assert all(r["n_bounded_cols"] >= 2 for r in rows)  # id + bucket at least
    b = json.loads(rows[0]["bounds_json"])
    assert "id" in b and b["id"][0] <= b["id"][1]
    # small-file audit in plain SQL: the whole point of the table
    inv.createOrReplaceTempView("f_files")
    small = spark.sql("select count(*) n from f_files where bytes < 1024e3").collect()[0]["n"]
    assert small == n_fs


def test_rewrite_ops_refresh_stats(spark, cat):
    cat.append("m", _mk(spark, 0, 100))
    cat.delete_where(spark, "m", "id < 50")
    plan, kept, total = cat.plan_scan("m", [("id", "<", 25)])
    assert kept == 0  # post-delete bounds prove the range is gone
    assert cat.scan(spark, "m", [("id", "<", 25)]).count() == 0
    assert cat.scan(spark, "m", [("id", ">=", 50)]).count() == 50


def test_arrow_table_append(spark, cat):
    """A ``pyarrow.Table`` append writes one file without Spark.  Its
    manifest schema is what a Spark append of the same DDL frame
    records, nullability included; its rows and footer bounds read
    back; a replayed txn id writes nothing."""
    import pyarrow as pa

    ddl = "k int, n bigint not null, s string not null"
    schema = pa.schema([
        pa.field("k", pa.int32()),
        pa.field("n", pa.int64(), nullable=False),
        pa.field("s", pa.string(), nullable=False),
    ])
    rows = [(1, 10, "a"), (None, 30, "c"), (5, 20, "b")]
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=schema
    )
    sid = cat.append("a", table, txn_id="t0")
    snap = cat.current_snapshot("a")
    cat.append("b", spark.createDataFrame([(7, 40, "d")], ddl))
    assert snap["schema"] == cat.current_snapshot("b")["schema"]
    assert [f["nullable"] for f in snap["schema"]["fields"]] == [True, False, False]

    [data_dir] = snap["dirs"]
    assert list(snap["stats"][data_dir].values()) == [
        {"k": [1, 5], "n": [10, 30], "s": ["a", "c"]}
    ]
    assert cat.plan_scan("a", [("n", ">", 30)])[1] == 0
    got = cat.read(spark, "a").collect()
    assert sorted(map(tuple, got), key=lambda r: r[1]) == sorted(rows, key=lambda r: r[1])

    assert cat.append("a", table, txn_id="t0") == sid
    assert len(cat.snapshots("a")) == 1
    assert len(os.listdir(os.path.dirname(data_dir))) == 1
    with pytest.raises(ValueError, match="partition_by"):
        cat.append("a", table, partition_by=["k"])

    # Arrow- and Spark-written dirs read back as one table
    cat.append("a", spark.createDataFrame([(7, 40, "d")], ddl))
    assert cat.read(spark, "a").count() == 4
