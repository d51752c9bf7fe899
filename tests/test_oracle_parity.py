"""Replicates the driver's correctness gate locally: every queries()
entry with an oracle_sql() must match DuckDB row-for-row (schema-name,
row-count, exact values — doubles bit-exact) at sf0.01.
"""

from __future__ import annotations

import math
import os

import duckdb
import pandas as pd
import pytest

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _duck():
    # One thread: DuckDB 1.0 keeps each min(STRUCT) aggregate state
    # (the winnow_fingerprints twin's per-window arg-min) as a full
    # vector outside its buffer manager, so `memory_limit` does not
    # bound it and it costs ~4 GB per thread at sf0.01 (12 GB at 4
    # threads, beside a Spark driver JVM in the same process tree).
    con = duckdb.connect(config={"threads": 1})
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith(("int", "uint", "Int")):
            df[c] = df[c].astype("int64")
        elif str(df[c].dtype) == "bool":
            df[c] = df[c].astype(bool)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def _pairs():
    import __spark_entry__ as E

    q = E.queries()
    o = E.oracle_sql()
    assert set(o) <= set(q), f"oracle keys not in queries: {set(o) - set(q)}"
    return [(name, q[name], o[name]) for name in sorted(o)]


@pytest.mark.parametrize("name,fn,sql", _pairs(), ids=[p[0] for p in _pairs()])
def test_query_matches_oracle(spark, name, fn, sql):
    sdf = fn(spark, SF_DIR).toPandas()
    with _duck() as con:
        odf = con.execute(sql).df()
    a, b = _normalize(sdf), _normalize(odf)
    assert list(a.columns) == list(b.columns), f"{name}: columns {list(a.columns)} vs {list(b.columns)}"
    assert len(a) > 0, f"{name}: empty result — an empty-vs-empty comparison proves nothing"
    assert len(a) == len(b), f"{name}: rows {len(a)} vs {len(b)}"
    for c in a.columns:
        av, bv = a[c].tolist(), b[c].tolist()
        for i, (x, y) in enumerate(zip(av, bv)):
            if isinstance(x, float) and isinstance(y, float):
                if math.isnan(x) and math.isnan(y):
                    continue
                assert x == y, f"{name}.{c}[{i}]: {x!r} != {y!r} (diff {x - y!r})"
            else:
                assert x == y, f"{name}.{c}[{i}]: {x!r} != {y!r}"


def test_rows_only_queries_run(spark):
    """Queries without an oracle still must run and return sane rows."""
    import __spark_entry__ as E

    q = E.queries()
    o = E.oracle_sql()
    for name in sorted(set(q) - set(o)):
        df = q[name](spark, SF_DIR)
        n = df.count()
        assert n >= 0, name
        assert df.columns, name


def test_entry_smoke(spark):
    import __spark_entry__ as E

    df = E.entry(spark)
    assert df.count() > 0
    assert "category" in df.columns


def _dereg_pairs():
    import __spark_entry__ as E

    return sorted(E.deregistered_checks().items())


@pytest.mark.parametrize(
    "name,pair", _dereg_pairs(), ids=[p[0] for p in _dereg_pairs()]
)
def test_deregistered_query_matches_oracle(spark, name, pair):
    """Queries rotated out of the 50-slot driver registry keep the
    identical DuckDB compare here (full hash-grade: columns, rows,
    exact values)."""
    fn, sql = pair
    sdf = fn(spark, SF_DIR).toPandas()
    with _duck() as con:
        odf = con.execute(sql).df()
    a, b = _normalize(sdf), _normalize(odf)
    assert list(a.columns) == list(b.columns), name
    assert len(a) > 0 and len(a) == len(b), (name, len(a), len(b))
    for c in a.columns:
        for i, (x, y) in enumerate(zip(a[c].tolist(), b[c].tolist())):
            if isinstance(x, float) and isinstance(y, float) and (
                math.isnan(x) and math.isnan(y)
            ):
                continue
            assert x == y, f"{name}.{c}[{i}]: {x!r} != {y!r}"


def test_xxh64_matches_spark(spark):
    """The pure-Python XXH64 (oracle/xxh64.py) must equal Spark's
    `xxhash64` on strings (all tail-length paths), longs, and the
    multi-column chained form the minhash banding uses."""
    import random

    from pyspark.sql import functions as F

    from oracle.xxh64 import (
        spark_xxhash64_long,
        spark_xxhash64_longs,
        spark_xxhash64_str,
    )

    rnd = random.Random(7)
    strs = [""] + [
        "".join(chr(rnd.choice([65, 97, 1072, 233, 32])) for _ in range(ln))
        for ln in list(range(1, 40)) + [63, 64, 65, 100]
        for _ in range(3)
    ]
    df = spark.createDataFrame([(s,) for s in strs], ["s"])
    got = [r[0] for r in df.select(F.xxhash64("s")).collect()]
    assert got == [spark_xxhash64_str(s) for s in strs]

    longs = [0, 1, -1, 2**31, -(2**63), 2**63 - 1] + [
        rnd.randrange(-(2**63), 2**63) for _ in range(50)
    ]
    ldf = spark.createDataFrame([(v,) for v in longs], "v long")
    got = [r[0] for r in ldf.select(F.xxhash64("v")).collect()]
    assert got == [spark_xxhash64_long(v) for v in longs]

    quads = [tuple(rnd.randrange(0, 2**31) for _ in range(4)) for _ in range(20)]
    qdf = spark.createDataFrame(quads, "a long, b long, c long, d long")
    got = [r[0] for r in qdf.select(F.xxhash64("a", "b", "c", "d")).collect()]
    assert got == [spark_xxhash64_longs(list(q)) for q in quads]
