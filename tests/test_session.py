"""Session factory: building a session leaves the driver's environment
alone, and the allocator thresholds still reach the Python workers."""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import functions as F

from qfilter.session import get_spark

_VARS = ("MALLOC_MMAP_THRESHOLD_", "MALLOC_TRIM_THRESHOLD_")


def test_get_spark_does_not_touch_os_environ(spark, monkeypatch):
    for var in _VARS:
        monkeypatch.delenv(var, raising=False)
    before = dict(os.environ)
    assert get_spark(app="qfilter-tests", master="local[4]") is spark
    assert dict(os.environ) == before


def test_malloc_thresholds_reach_python_workers(spark):
    @F.pandas_udf("string")
    def worker_env(ids: pd.Series) -> pd.Series:
        return pd.Series(
            [",".join(os.environ.get(v, "unset") for v in _VARS)] * len(ids)
        )

    got = {r[0] for r in spark.range(8).select(worker_env("id")).collect()}
    assert got == {",".join(os.environ.get(v, "33554432") for v in _VARS)}
