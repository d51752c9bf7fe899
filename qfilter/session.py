"""SparkSession factory with scale-oriented defaults.

Single place where the pipeline's Spark configuration is decided, so
tests, bench, and spark-submit all run the same plan shape:

* AQE on (runtime re-plan, skew-join splitting).
* Arrow-vectorized pandas UDFs with a SMALL records-per-batch — the
  ``bytes`` cells are multi-KB..MB, so batches are sized by bytes, not
  row count (SURVEY.md §4.2 "Arrow batch memory").
* ``spark.sql.shuffle.partitions`` defaults to 2x cores locally; on a
  real cluster set it to ~2-3x total executor cores via spark-submit.
* glibc allocator thresholds for the Arrow/NumPy workers (r6): the
  image kernels allocate/free many few-hundred-KB temporaries per
  batch; at default thresholds glibc serves those via mmap/munmap, and
  with one worker per core the resulting page-fault + TLB shootdown
  churn costs ~10-13% of kernel throughput at 32 procs (interleaved A/B
  in BENCH/kernel_profile.py FULL_PATH).  Raising the thresholds keeps
  such blocks on the sbrk heap.  They reach the Python workers as
  ``spark.executorEnv.*`` (a value already in the driver's environment
  wins), so building a session never mutates ``os.environ``.
* ``spark.python.sql.dataFrameDebugging.enabled=false``: PySpark 4
  otherwise walks the Python stack on every ``F.*``/Column call (extra
  py4j round-trips) to record the call site for error messages.  The
  trade: an analysis error no longer names the Python line that built
  the failing expression; its error class and message are unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "ARROW_BATCH_ROWS"]

# 64 is the measured sweet spot for multi-KB bytes cells: in the
# 16/64/256 sweep of BENCH/BASELINE.md it maximizes absolute throughput
# at both 8 and 32 cores.
ARROW_BATCH_ROWS = 64

# Vectorized parquet reader batch.  Multi-KB `bytes` cells make the
# default 4096-row batch a heap hazard: 32 concurrent scan tasks each
# buffering ~24 MB column chunks intermittently OOMed an 8 GB heap in
# the streaming read (observed r6; BENCH/run_volume.py hit the same
# wall at 4x volume and caps its batch lower through ``extra``).  512
# rows bounds reader memory by bytes, not row count, with no
# measurable cost on narrow-row scans.
READER_BATCH_ROWS = 512

_MALLOC_VARS = ("MALLOC_MMAP_THRESHOLD_", "MALLOC_TRIM_THRESHOLD_")


def get_spark(
    app: str = "qfilter",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict | None = None,
) -> SparkSession:
    cores = os.cpu_count() or 8
    master = master or os.environ.get("QFILTER_MASTER", f"local[{cores}]")
    if shuffle_partitions is None:
        n = int(master[6:-1]) if master.startswith("local[") and master[6:-1].isdigit() else cores
        shuffle_partitions = max(8, 2 * n)
    b = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.parquet.columnarReaderBatchSize", str(READER_BATCH_ROWS))
        .config("spark.driver.memory", os.environ.get("QFILTER_DRIVER_MEM", "12g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for var in _MALLOC_VARS:
        b = b.config(f"spark.executorEnv.{var}", os.environ.get(var, "33554432"))
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
