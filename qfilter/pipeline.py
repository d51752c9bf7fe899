"""Stage graph with per-partition lineage + metrics and resume.

The reference checkpoints by materializing every stage to a folder
(`config.py:30-63`: all_splitted -> rotated -> deskewed -> ...) with
per-stage failed folders — staged, restartable, file-at-a-time.  The
north rule asks for the scale version: per-PARTITION lineage + metrics
tables so a killed run resumes from the last committed partition.

Design (100 TB shape):

* ``part_id = pmod(xxhash64(image_id), n_parts)`` — explicit hash
  partitioning on the row key, stable across runs and cluster sizes.
* Stage 0 *ingest*: write the input partitioned by ``part_id``
  (`partitionBy`), so later waves read ONLY their partitions'
  directories — partition pruning instead of full rescans.  On a real
  Iceberg deployment the table is already bucketed; this stage is a
  no-op there.
* Stage 1 *label*: waves of partitions; each wave runs
  decode -> features -> cascade -> scrub on just its partition dirs and
  appends to the ``labels`` table (Catalog append = atomic manifest),
  then commits one lineage row PER PARTITION (an empty part included,
  with ``rows_out = 0``) plus per-category metrics rows.
* Telemetry costs a fresh wave no Spark job.  The labels write
  observes its own metrics (``DataFrame.observe``: the rows of each
  part; per category the rows, kept rows and PII/toxicity hits), and
  the lineage and metrics rows it yields are appended from the driver
  as Arrow tables, without Spark.  A replayed wave writes no labels and
  so observes nothing; it reads its labels rows once instead and
  aggregates them by the same expressions.
* Resume: after a crash between waves, committed waves are never
  recomputed (resume anti-joins lineage); a crash inside the wave's
  labels write leaves a data dir without a manifest, which no reader
  sees, and the wave reruns.  Lineage is appended only
  AFTER the data commit, so a crash between the labels commit and the
  lineage commit reruns the wave; its labels append carries a
  ``txn_id`` derived from the wave's sorted part ids (not the run id,
  which a resume may change), so the replay commits no rows and writes
  no data, and the rerun's telemetry describes the first commit.  The
  key matches only when ``n_parts`` and ``wave_size`` are unchanged
  between the crashed run and the resume (other values regroup the
  pending parts into other waves).
* Exactly-once per partition: lineage append is the commit point and
  happens after the data append; replays overwrite nothing (each wave
  appends a new snapshot dir) and re-emit only uncommitted partitions.
"""

from __future__ import annotations

import functools
import os
import time

import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .cascade import extended_rules, with_labels
from .catalog import Catalog
from .features import with_all_features

__all__ = ["QualityFilterPipeline", "PipelineKilled"]

LABEL_COLS = [
    "image_id", "part_id", "category", "reason", "keep", "is_dark",
    "dark_reason", "lang", "lang_conf", "perplexity", "caption_scrubbed",
    "pii_hits", "tox_hits", "error", "phash", "phash64",
    # features kept for analysis / training parity
    "roi_frac", "avg_blur", "text_density", "is_table_like", "avg_skew_deg",
    "core_frac", "mean_brightness", "median_brightness", "contrast",
    "dark_pixels_percent", "very_dark_pixels_percent",
    "median_ocr_conf", "mean_ocr_conf", "pct80", "words_count", "conf_iqr",
    "bbox_area_text_frac", "line_height_var", "text_blocks_count",
]

# the telemetry tables' schemas, nullability included
_LINEAGE = pa.schema([
    pa.field("part_id", pa.int32()),
    pa.field("rows_out", pa.int64(), nullable=False),
    pa.field("run_id", pa.string(), nullable=False),
    pa.field("stage", pa.string(), nullable=False),
    pa.field("status", pa.string(), nullable=False),
    pa.field("wall_ms", pa.int32(), nullable=False),
])
_METRICS = pa.schema([
    pa.field("category", pa.string()),
    pa.field("rows", pa.int64(), nullable=False),
    pa.field("kept", pa.int64()),
    pa.field("pii_hits", pa.int64()),
    pa.field("tox_hits", pa.int64()),
    pa.field("run_id", pa.string(), nullable=False),
    pa.field("wave_wall_ms", pa.int32(), nullable=False),
])
# the per-category sums of the metrics table: metric -> labels column
_SUMS = {"kept": "keep", "pii_hits": "pii_hits", "tox_hits": "tox_hits"}


@functools.cache
def _categories() -> list[str]:
    """Every category a labels row can carry: the extended cascade's,
    plus the error rows' trash.  (Building the rules needs a session,
    so this is not a module constant.)"""
    return sorted({rule[1] for rule in extended_rules()} | {"trash"})


def _observed_exprs(parts: list[int]) -> list:
    """The metrics a wave's labels write observes: its row count, the
    rows of each wave part, and per category its rows and the
    ``_SUMS``.  A per-category sum is ``sum(when(category = c, ...))``,
    null when no row of ``c`` has a value, as a groupBy's sum is.  The
    write is one result stage, whose tasks' metrics Spark merges once
    per partition."""
    cat = F.col("category")
    exprs = [F.count(F.lit(1)).alias("rows")]
    exprs += [F.count_if(F.col("part_id") == p).alias(f"part:{p}") for p in parts]
    for c in _categories():
        exprs.append(F.count_if(cat == c).alias(f"rows:{c}"))
        exprs += [
            F.sum(F.when(cat == c, F.col(src).cast("long"))).alias(f"{k}:{c}")
            for k, src in _SUMS.items()
        ]
    return exprs


class PipelineKilled(RuntimeError):
    """Raised by the test-only fail_after_wave kill switch."""


class QualityFilterPipeline:
    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        n_parts: int = 64,
        wave_size: int = 16,
    ):
        self.spark = spark
        self.out_dir = out_dir
        self.n_parts = n_parts
        self.wave_size = wave_size
        self.catalog = Catalog(os.path.join(out_dir, "warehouse"))

    # ----------------------------------------------------------- stages
    def ingest(self, images: DataFrame) -> None:
        """Partition the input by part_id (idempotent; skipped if done)."""
        if self.catalog.exists("images_parted"):
            return
        parted = images.withColumn(
            "part_id", F.pmod(F.xxhash64("image_id"), F.lit(self.n_parts)).cast("int")
        )
        self.catalog.append("images_parted", parted, partition_by=["part_id"])

    def _committed_parts(self) -> set[int]:
        if not self.catalog.exists("lineage"):
            return set()
        rows = (
            self.catalog.read(self.spark, "lineage")
            .filter(F.col("stage") == "label")
            .filter(F.col("status") == "done")
            .select("part_id")
            .collect()
        )
        return {r.part_id for r in rows}

    def run(
        self,
        images: DataFrame | None = None,
        run_id: str = "run0",
        fail_after_wave: int | None = None,
    ) -> DataFrame:
        """Execute (or resume) the full filter; returns the labels table."""
        if images is not None:
            self.ingest(images)
        parted = self.catalog.read(self.spark, "images_parted")
        done = self._committed_parts()
        pending = [p for p in range(self.n_parts) if p not in done]
        waves = [
            pending[i : i + self.wave_size]
            for i in range(0, len(pending), self.wave_size)
        ]
        for wi, wave_parts in enumerate(waves):
            t0 = time.time()
            # partition pruning: filter on the partition column reads
            # only those part dirs
            subset = parted.filter(F.col("part_id").isin(wave_parts))
            labeled = with_labels(with_all_features(subset)).select(*LABEL_COLS)
            txn_id = "label-parts-" + ",".join(map(str, sorted(wave_parts)))
            # a replay writes nothing, so it must observe nothing:
            # Observation.get waits for the write it observes
            obs = None if self.catalog.committed("labels", txn_id) else Observation()
            if obs is not None:
                labeled = labeled.observe(obs, *_observed_exprs(wave_parts))
            self.catalog.append(
                "labels", labeled, partition_by=["part_id"], txn_id=txn_id
            )
            wall_ms = int((time.time() - t0) * 1000)
            self._commit_telemetry(
                run_id, wave_parts, wall_ms, None if obs is None else obs.get
            )
            if fail_after_wave is not None and wi >= fail_after_wave:
                raise PipelineKilled(f"killed after wave {wi}")
        return self.catalog.read(self.spark, "labels")

    # ---------------------------------------------------- lineage/metrics
    def _commit_telemetry(
        self, run_id: str, parts: list[int], wall_ms: int, observed: dict | None
    ) -> None:
        """Append one committed wave's lineage and metrics rows.

        ``observed`` holds what the wave's labels write observed
        (``_observed_exprs``).  It is None for a replayed wave, which
        wrote nothing; its labels rows are then read back once and
        aggregated by the same expressions.  Every wave part gets a
        lineage row — ``rows_out = 0`` for an empty part, which would
        otherwise stay pending forever.  Both tables are appended from
        the driver, without Spark; lineage first: it is the commit
        point."""
        if observed is None:
            observed = (
                self.catalog.read(self.spark, "labels")
                .filter(F.col("part_id").isin(parts))
                .agg(*_observed_exprs(parts))
                .first()
                .asDict()
            )
        # a category with no row gets no metrics row, as from a groupBy
        by_category = [
            {"category": c, "rows": observed[f"rows:{c}"],
             **{k: observed[f"{k}:{c}"] for k in _SUMS}}
            for c in _categories() if observed[f"rows:{c}"]
        ]
        n = sum(m["rows"] for m in by_category)
        if n != observed["rows"]:
            raise RuntimeError(
                f"wave {parts}: {observed['rows']} labels rows, "
                f"{n} of them in the categories {_categories()}"
            )
        self.catalog.append("lineage", pa.Table.from_pylist([
            {"part_id": p, "rows_out": observed[f"part:{p}"], "run_id": run_id,
             "stage": "label", "status": "done", "wall_ms": wall_ms}
            for p in parts
        ], schema=_LINEAGE))
        self.catalog.append("metrics", pa.Table.from_pylist([
            {**m, "run_id": run_id, "wave_wall_ms": wall_ms} for m in by_category
        ], schema=_METRICS))

    # ------------------------------------------------------- maintenance
    def maintain(self, target_file_bytes: int = 128 << 20) -> dict:
        """Post-run table maintenance: bin-pack the labels table (every
        wave appended a snapshot of small files) and expire every
        snapshot but the compacted one.  Resume state lives in the
        lineage table, not in the labels file layout, so a maintained
        table resumes identically —
        ``tests/test_catalog_maintenance.py`` proves it."""
        before = len(self.catalog.table_data_files("labels"))
        sid = self.catalog.compact(self.spark, "labels", target_file_bytes)
        deleted = self.catalog.expire_snapshots("labels", keep_last=1)
        after = len(self.catalog.table_data_files("labels"))
        return {
            "snapshot": sid,
            "files_before": before,
            "files_after": after,
            "dirs_deleted": len(deleted),
        }

    # ------------------------------------------------------------ status
    def status(self) -> dict:
        done = self._committed_parts()
        return {
            "n_parts": self.n_parts,
            "committed": len(done),
            "pending": self.n_parts - len(done),
        }
