"""The benchmark workloads, driven through ``qfilter``'s public API.

Each workload has the same shape, which ``run.py`` drives as a closed
loop with one client:

* ``setup()``       seeded inputs (repeatable: the same seed, the same bytes);
* ``reference()``   the expected result of those inputs;
* ``iteration(k)``  the timed operation; ``iteration(0)`` is the warm-up;
* ``verify(k)``     checks iteration ``k``'s output, returns the failures;
* ``trace(tracer)`` wraps the public functions the iteration calls;
* ``traced_layers(tracer, traced, untraced_wall_s)``
                    per-layer numbers of the traced run, from the samples
                    of its traced iterations.

Sizes are fixed per workload so every run does the same amount of work.
"""

from __future__ import annotations

import os
import re
import shutil
import sys
import time
import traceback

import pandas as pd
import pyarrow.parquet as pq

import inputs
from probes import median

ARROW_BATCH = 64  # rows per batch for the in-process layer probes
KERNEL_SAMPLE = 512  # seeded sample of rows the in-process probes time


def _keep_f1(got: pd.Series, ref: pd.Series) -> float:
    tp = int((got & ref).sum())
    fp = int((got & ~ref).sum())
    fn = int((~got & ref).sum())
    return 1.0 if tp + fp + fn == 0 else 2 * tp / (2 * tp + fp + fn)


def check_labels(got: pd.DataFrame, ref: pd.DataFrame) -> list[str]:
    """keep/drop F1 >= 0.99 against the oracle reference and
    ``caption_scrubbed`` equal on every kept row."""
    problems = []
    m = ref.merge(got, on="image_id", how="left", suffixes=("_ref", ""), indicator=True)
    missing = int((m["_merge"] != "both").sum())
    if missing:
        problems.append(f"{missing} input rows missing from the output")
        m = m[m["_merge"] == "both"]
    f1 = _keep_f1(m["keep"].astype(bool), m["keep_ref"].astype(bool))
    if f1 < 0.99:
        problems.append(f"keep/drop F1 {f1:.4f} < 0.99")
    kept = m[m["keep"].astype(bool)]
    bad = int((kept["caption_scrubbed"] != kept["caption_scrubbed_ref"]).sum())
    if bad:
        problems.append(f"caption_scrubbed differs on {bad} kept rows")
    return problems


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def count_exchanges(df) -> int:
    """Exchange operators in the executed (AQE final) plan of ``df``."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    return len(re.findall(r"\b(?:Broadcast|Reused)?Exchange\b", plan))


class _ImageWorkload:
    """Shared by the two workloads that filter the seeded images table."""

    n_rows = 0

    def __init__(self, ctx):
        self.ctx = ctx
        self.images_dir = os.path.join(ctx.work, "images")

    def setup(self) -> None:
        shutil.rmtree(self.images_dir, ignore_errors=True)
        self.ref = inputs.images_table(
            self.ctx.seed, self.n_rows, self.images_dir, n_files=self.ctx.cores
        )

    def reference(self) -> None:
        """The pool rows carry the oracle's labels: ``setup`` has them."""

    def kernel_layers(self) -> dict:
        """In-process calls of the UDF bodies on a seeded sample of the
        input rows, batch by batch as the Arrow stage feeds them.  The
        body seconds of the whole input, which the boundary fractions
        need, are the sample's scaled by the row count."""
        from qfilter import codecs, features
        from qfilter.batch_image import image_features_batch
        from qfilter.batch_text import caption_features_frame
        from qfilter.textops import default_bundle

        t = pq.read_table(self.images_dir).to_pandas()
        out: dict = {"codecs.bytes_in": float(sum(len(b) for b in t["bytes"]))}
        t = t.sample(n=min(KERNEL_SAMPLE, len(t)), random_state=self.ctx.seed)
        decoded, t_decode = [], 0.0
        for fmt, g in t.groupby("fmt"):
            ok, t_fmt = 0, 0.0
            for b, w, h in zip(g["bytes"], g["w"], g["h"]):
                t0 = time.perf_counter()
                try:
                    px = codecs.decode(b, fmt, int(w), int(h))
                except Exception:  # noqa: BLE001 — the error-channel rows
                    continue
                t_fmt += time.perf_counter() - t0
                decoded.append(px)
                ok += 1
            out[f"codecs.decode_ms_per_row.{fmt}"] = 1e3 * t_fmt / max(ok, 1)
            t_decode += t_fmt
        t0 = time.perf_counter()
        for i in range(0, len(decoded), ARROW_BATCH):
            image_features_batch(decoded[i : i + ARROW_BATCH])
        t_img = time.perf_counter() - t0
        out["batch_image.ms_per_row"] = 1e3 * t_img / max(len(decoded), 1)

        bundle = default_bundle()
        t_cap = t_scrub = 0.0
        for i in range(0, len(t), ARROW_BATCH):
            b = t.iloc[i : i + ARROW_BATCH]
            t0 = time.perf_counter()
            caption_features_frame(
                bundle, list(b["caption"]),
                [features._blocks_to_tuples(x) for x in b["blocks"]],
                b["w"].to_numpy(), b["h"].to_numpy(), features._HEUR_KEEP,
            )
            t1 = time.perf_counter()
            bundle.scrub.scrub_series(b["caption"])
            t_scrub += time.perf_counter() - t1
            t_cap += t1 - t0
        out["batch_text.caption_ms_per_row"] = 1e3 * t_cap / len(t)
        out["textops.scrub_ms_per_row"] = 1e3 * t_scrub / len(t)
        scale = self.n_rows / len(t)
        self._body_s = {"image": scale * (t_decode + t_img), "caption": scale * (t_cap + t_scrub)}
        return out


class FilterBatch(_ImageWorkload):
    """scan -> decode/image features -> caption+scrub -> labels -> parquet."""

    name = "filter_batch"
    n_rows = 1600

    def _out(self, k: int) -> str:
        return os.path.join(self.ctx.work, "out", f"it{k}")

    def _labeled(self, df):
        from qfilter import cascade, features

        return cascade.with_labels(
            features.with_caption_and_scrub(features.with_image_features(df))
        )

    def iteration(self, k: int) -> None:
        df = self.ctx.spark.read.parquet(self.images_dir)
        self._labeled(df).write.parquet(self._out(k))

    def verify(self, k: int) -> list[str]:
        got = pq.read_table(
            self._out(k), columns=["image_id", "keep", "caption_scrubbed"]
        ).to_pandas()
        problems = check_labels(got, self.ref)
        if len(got) != self.n_rows:
            problems.append(f"{len(got)} output rows for {self.n_rows} inputs")
        self.sink_bytes = _dir_bytes(self._out(k))
        shutil.rmtree(self._out(k))
        return problems

    def trace(self, tracer) -> None:
        from qfilter import cascade, features

        tracer.wrap(features, "with_image_features", "features.with_image_features")
        tracer.wrap(features, "with_caption_and_scrub", "features.with_caption_and_scrub")
        tracer.wrap(cascade, "with_labels", "cascade.with_labels")

    @staticmethod
    def _noop_wall(build) -> float:
        t0 = time.perf_counter()
        build().write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def traced_layers(self, tracer, traced: list, untraced_wall_s: float) -> dict:
        """Stage walls with a noop sink, the UDF bodies in-process, and
        the scaling run, which restarts the session and so comes last."""
        from qfilter import cascade, features

        spark = self.ctx.spark
        scan = lambda: spark.read.parquet(self.images_dir)  # noqa: E731
        out = self.kernel_layers()
        img_s = self._noop_wall(lambda: features.with_image_features(scan()))
        cap_s = self._noop_wall(
            lambda: features.with_caption_and_scrub(scan().drop("bytes"))
        )
        feats_dir = os.path.join(self.ctx.work, "features")
        features.with_all_features(scan()).write.mode("overwrite").parquet(feats_dir)
        casc_s = self._noop_wall(lambda: cascade.with_labels(spark.read.parquet(feats_dir)))
        e2e_noop_s = self._noop_wall(lambda: self._labeled(scan()))
        cores = self.ctx.cores
        sink_s = untraced_wall_s - e2e_noop_s
        out.update({
            "features.image_stage_s": img_s,
            "features.caption_stage_s": cap_s,
            "features.image_boundary_frac": 1 - self._body_s["image"] / (img_s * cores),
            "features.caption_boundary_frac": 1 - self._body_s["caption"] / (cap_s * cores),
            "cascade.stage_s": casc_s,
            "sink.s": sink_s,
            "sink.bytes_written": float(self.sink_bytes),
            "filter_batch.layer_sum_s": img_s + cap_s + casc_s + sink_s,
            "filter_batch.wall_s": untraced_wall_s,
        })
        out.update(self.scaling(self.n_rows / e2e_noop_s))
        return out

    def scaling(self, rate_n: float) -> dict:
        """images/s at local[nproc] over nproc x images/s at local[1].

        The new context reuses the gateway JVM, so only its one Python
        worker starts cold: one Arrow batch warms it before the timed pass."""
        spark = self.ctx.restart_session(cores=1)
        scan = lambda: spark.read.parquet(self.images_dir)  # noqa: E731
        self._noop_wall(lambda: self._labeled(scan().limit(ARROW_BATCH)))
        rate_1 = self.n_rows / self._noop_wall(lambda: self._labeled(scan()))
        return {"filter_batch.scaling_eff_1_to_n": rate_n / (self.ctx.cores * rate_1)}


class PipelineResume(_ImageWorkload):
    """Ingest, run waves until a kill, resume with a fresh pipeline."""

    name = "pipeline_resume"
    # One wave commits, the run is killed, the resume runs the other.
    # Each wave costs seconds of planning and commits whatever its rows,
    # so rows are few and two waves are what fits one run's time.
    n_rows = 240
    n_parts = 2
    wave_size = 1
    kill_after_wave = 0

    def _dir(self, k: int) -> str:
        return os.path.join(self.ctx.work, "pipe", f"it{k}")

    def iteration(self, k: int) -> None:
        from qfilter.pipeline import PipelineKilled, QualityFilterPipeline

        spark = self.ctx.spark
        images = spark.read.parquet(self.images_dir)
        first = QualityFilterPipeline(spark, self._dir(k), self.n_parts, self.wave_size)
        try:
            first.run(images, run_id="first", fail_after_wave=self.kill_after_wave)
        except PipelineKilled:
            pass
        else:
            raise RuntimeError("fail_after_wave did not stop the first run")
        QualityFilterPipeline(spark, self._dir(k), self.n_parts, self.wave_size).run(
            run_id="resume"
        )

    def verify(self, k: int) -> list[str]:
        from pyspark.sql import functions as F

        from qfilter.catalog import Catalog

        spark = self.ctx.spark
        cat = Catalog(os.path.join(self._dir(k), "warehouse"))
        got = cat.read(spark, "labels").select(
            "image_id", "keep", "caption_scrubbed"
        ).toPandas()
        problems = check_labels(got, self.ref)
        n_ids = self.ref["image_id"].nunique()
        if len(got) != n_ids or got["image_id"].nunique() != n_ids:
            problems.append(f"{len(got)} labels rows for {n_ids} distinct input ids")
        rows_out = cat.read(spark, "lineage").agg(F.sum("rows_out")).first()[0]
        if rows_out != len(got):
            problems.append(f"sum(lineage.rows_out) {rows_out} != {len(got)} labels rows")
        tables = ("images_parted", "labels", "lineage", "metrics")
        self.catalog_counts = {
            "catalog.snapshots": float(sum(len(cat.snapshots(t)) for t in tables)),
            "catalog.data_files": float(sum(len(cat.table_data_files(t)) for t in tables)),
        }
        shutil.rmtree(self._dir(k))
        return problems

    def trace(self, tracer) -> None:
        from qfilter.catalog import Catalog
        from qfilter.pipeline import QualityFilterPipeline

        tracer.wrap(Catalog, "append", "catalog.append", lambda self, table, *a, **k: {"table": table})
        tracer.wrap(Catalog, "read", "catalog.read", lambda self, spark, table, *a, **k: {"table": table})
        tracer.wrap(Catalog, "exists", "catalog.exists", lambda self, table: {"table": table})
        tracer.wrap(QualityFilterPipeline, "ingest", "pipeline.ingest")
        tracer.wrap(QualityFilterPipeline, "run", "pipeline.run")

    def traced_layers(self, tracer, traced: list, untraced_wall_s: float) -> dict:
        """Catalog and pipeline spans, medians over the traced iterations;
        then the UDF bodies in-process and the dedup operators."""
        per = []
        for it in traced:
            sel = lambda name, **tg: [  # noqa: E731
                s for s in tracer.select(name, **tg) if s["trace"] == it["trace"]
            ]
            dur = lambda spans: sum(s["end"] - s["start"] for s in spans)  # noqa: E731
            lineage = sel("catalog.append", table="lineage")
            row = {
                f"catalog.append_s.{t}": dur(sel("catalog.append", table=t))
                for t in ("images_parted", "labels", "lineage", "metrics")
            }
            row.update({
                "catalog.append_calls": len(sel("catalog.append")),
                "catalog.read_s": dur(sel("catalog.read")),
                "catalog.read_calls": len(sel("catalog.read")),
                "pipeline.ingest_s": dur(sel("pipeline.ingest")),
                "pipeline.waves": len(sel("catalog.append", table="labels")),
                "pipeline.first_commit_s": min(s["end"] for s in lineage) - it["start"],
                # the second run() of the iteration is the resume
                "pipeline.resume_s": dur(sel("pipeline.run")[1:]),
            })
            row["pipeline.commit_share"] = (
                row["catalog.append_s.lineage"] + row["catalog.append_s.metrics"]
                + row["catalog.read_s"]
            ) / it["wall"]
            per.append(row)
        out = {k: median(r[k] for r in per) for k in per[0]}
        out.update(self.catalog_counts)
        out.update(self.kernel_layers())
        dedup = DedupLayers(self.ctx)
        dedup.setup()
        out.update(dedup.run_pass(tracer))
        return out


def drop_persisted(spark) -> None:
    """Unpersist every cached Dataset and persisted RDD of the session."""
    spark.catalog.clearCache()
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    for rdd in list(rdds.values()):
        rdd.unpersist(False)


class DedupLayers:
    """Five corpus dedup operators plus the salted pHash winners, run
    once, spanned, in the traced run of ``pipeline_resume``.  It is each
    operator's first run in the session: a warm pass as well would not
    fit the run's time.  The pass is verified against the operators'
    DuckDB twins and counts as one attempted operation."""

    n_docs = 400
    n_images = 5_000

    def __init__(self, ctx):
        self.ctx = ctx
        self.sf_dir = os.path.join(ctx.work, "bench")
        self.images_dir = os.path.join(ctx.work, "phash")
        self.sql = inputs.oracle_queries(ctx.work, self.sf_dir)
        self.ops = list(inputs.DOC_OPS) + ["phash_winners"]

    def setup(self) -> None:
        inputs.documents_table(self.ctx.seed, self.n_docs, self.sf_dir)
        inputs.phash_table(self.ctx.seed, self.n_images, self.images_dir,
                           n_files=2 * self.ctx.cores)
        self.ref = inputs.dedup_reference(self.sf_dir, self.images_dir, self.ctx.work, self.sql)

    @staticmethod
    def metric_prefix(op: str) -> str:
        return "dedup." + op if op == "phash_winners" else "corpus." + op

    def _frame(self, op: str):
        from qfilter import corpus, dedup

        spark = self.ctx.spark
        if op == "phash_winners":
            return dedup.phash_winners(spark.read.parquet(self.images_dir))
        return getattr(corpus, op)(spark, self.sf_dir)

    def run_pass(self, tracer) -> dict:
        """Every operator once, from its inputs to its rows on the driver:
        one span per operator, its Exchange count, and the number of RDDs
        it left persisted (everything is unpersisted before each
        operator, so the count is the operator's own)."""
        spark = self.ctx.spark
        out = {}
        self.ctx.attempted += 1
        try:
            problems = []
            for op in self.ops:
                drop_persisted(spark)
                p = self.metric_prefix(op)
                with tracer.span(p):
                    df = self._frame(op)
                    got = df.toPandas()
                out[f"{p}.persisted_rdds_after"] = float(
                    spark.sparkContext._jsc.getPersistentRDDs().size())
                out[f"{p}.exchanges"] = float(count_exchanges(df))
                out[f"{p}_s"] = tracer.total_s(p)
                if inputs.frame_digest(got) != self.ref[op]:
                    problems.append(f"{op}: result differs from its DuckDB twin")
            drop_persisted(spark)
        except Exception:  # noqa: BLE001 — a raised run is a counted failure
            traceback.print_exc()
            problems = ["raised"]
        for p in problems:
            print(f"verify[dedup layers]: {p}", file=sys.stderr)
        self.ctx.failed += bool(problems)
        return out


WORKLOADS = {w.name: w for w in (FilterBatch, PipelineResume)}
