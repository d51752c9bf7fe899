"""Benchmark driver: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

Headline = the BASELINE.json metric: end-to-end filter throughput
(images/sec) over the deterministic `bench` fixture tier (decode ->
image+caption features -> cascade -> scrub -> parquet sink), plus the
corpus-scale operator suite at the given sf dir, plus the Structured
Streaming ingest analogue (`stream_qfilter_e2e`).

Measurement protocol (round-3 hardening):
* EVERY query runs QFILTER_BENCH_RUNS (default 3) times; the reported
  per-query number is the MEDIAN and all walls are in `walls` — the
  r02 postmortem showed identical jobs swinging 2.3x on this shared
  VM, so single-shot numbers can't resolve round-over-round changes.
* Per-query executor metrics (bytes/records scanned, shuffled,
  written, spilled) are captured as before/after deltas of the app
  status store via the local REST API and reported in `metrics` —
  plan regressions (a new shuffle, a lost pushdown) show up in these
  even when wall time is noise.  Metrics are from the LAST run of
  each query; the physical plan is identical across runs.

The e2e stage is materialized with a parquet write — a count() would
let Catalyst prune the feature UDFs away and time nothing.

Round-4 hardening: the final stdout line is kept COMPACT (the driver
captures only a bounded tail of stdout, and the r03 line outgrew it
once per-query executor metrics were embedded — the headline shipped
unparsed).  Full walls + executor metrics now go to the sidecar
``BENCH/details_last.json``; stdout carries medians and headline
numbers only.  A second headline, ``qfilter_e2e_4x``, times the same
e2e job at 4x the input volume (median-of-RUNS, warm-up discarded) in
a memory-isolated child process — the 120k-row e2e finishes near the
shared-VM noise floor, the 480k-row run does not.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
import urllib.request

REPO = os.path.dirname(os.path.abspath(__file__))
for p in (REPO, os.path.join(REPO, "tools")):
    if p not in sys.path:
        sys.path.insert(0, p)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
BENCH_TIER = os.environ.get("QFILTER_BENCH_TIER", "bench")
RUNS = int(os.environ.get("QFILTER_BENCH_RUNS", "3"))
T0 = time.time()  # wall-budget anchor for the volume tiers

_METRIC_KEYS = (
    "inputBytes", "inputRecords", "outputBytes", "outputRecords",
    "shuffleReadBytes", "shuffleWriteBytes",
    "memoryBytesSpilled", "diskBytesSpilled",
)


def _sf_value(sf_dir: str) -> float:
    base = os.path.basename(os.path.normpath(sf_dir))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.0


def _metrics_snapshot(spark) -> dict | None:
    """Sum of executor metrics over all stages so far, via the app
    status REST API (spark.ui.enabled must be true).  Deltas between
    snapshots isolate one query's scan/shuffle/spill volume."""
    url = spark.sparkContext.uiWebUrl
    if not url:
        return None
    app_id = spark.sparkContext.applicationId
    try:
        with urllib.request.urlopen(
            f"{url}/api/v1/applications/{app_id}/stages", timeout=10
        ) as r:
            stages = json.loads(r.read())
    except Exception:
        return None
    out = dict.fromkeys(_METRIC_KEYS, 0)
    for s in stages:
        for k in _METRIC_KEYS:
            out[k] += int(s.get(k) or 0)
    return out


def _metrics_delta(before: dict | None, after: dict | None) -> dict | None:
    if before is None or after is None:
        return None
    return {k: after[k] - before[k] for k in _METRIC_KEYS}


def _median(walls: list[float]) -> float:
    s = sorted(walls)
    n = len(s)
    mid = s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0
    return round(mid, 3)


def _ensure_landing_dir(spark, tdir: str, n_files: int = 96) -> str:
    """Multi-file copy of the tier's images table for the streaming
    file source (the fixture is one parquet file -> one trigger);
    built once, reused across bench runs (testdata_q is gitignored)."""
    landing = os.path.join(tdir, "landing")
    marker = os.path.join(landing, f"_BENCH_LANDING_OK_{n_files}")
    if os.path.exists(marker):
        return landing
    shutil.rmtree(landing, ignore_errors=True)
    (
        spark.read.parquet(os.path.join(tdir, "images.parquet"))
        .repartition(n_files, "image_id")
        .write.mode("overwrite")
        .parquet(landing)
    )
    with open(marker, "w") as f:
        f.write("ok")
    return landing


def run_suite(spark, sf_dir: str, tier: str):
    from make_fixtures import ensure_fixtures

    from qfilter import corpus, similarity
    from qfilter.cascade import with_labels
    from qfilter.dedup import phash_winners
    from qfilter.features import with_all_features

    tdir = ensure_fixtures(tier)
    # explicit hash partitioning on the row key (north rule): the raw
    # fixture is one parquet file -> too few input splits for the UDF
    # stage; a real deployment reads an already-bucketed Iceberg table
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    images = (
        spark.read.parquet(os.path.join(tdir, "images.parquet"))
        .repartition(cpus * 3, "image_id")
        .persist()
    )
    n_images = images.count()

    timings: dict[str, float] = {}
    walls: dict[str, list[float]] = {}
    metrics: dict[str, dict | None] = {}

    def timed(name, fn, runs: int = RUNS):
        ws = []
        before = after = None
        for i in range(runs):
            if i == runs - 1:
                before = _metrics_snapshot(spark)
            t0 = time.time()
            fn()
            ws.append(round(time.time() - t0, 3))
            if i == runs - 1:
                after = _metrics_snapshot(spark)
        walls[name] = ws
        timings[name] = _median(ws)
        metrics[name] = _metrics_delta(before, after)

    sink = tempfile.mkdtemp(prefix="qfilter_bench_")
    try:
        def e2e(df, name):
            labeled = with_labels(with_all_features(df))
            labeled.select(
                "image_id", "category", "reason", "keep", "is_dark", "lang",
                "caption_scrubbed", "pii_hits", "tox_hits", "phash64",
            ).write.mode("overwrite").parquet(os.path.join(sink, name))

        # untimed warm-up slice: Python worker spawn + codegen/JIT are
        # per-session costs, discarded per the BASELINE.md protocol.
        # A hash filter, not limit(): limit() funnels everything through
        # a single-partition GlobalLimit exchange (shuffling the bytes
        # column) and warms only ONE Python worker; the filter touches
        # ~1/59 of rows across every partition and worker.
        from pyspark.sql import functions as F

        e2e(images.filter(F.crc32(F.col("image_id")) % 59 == 0), "warmup")
        timed("qfilter_e2e", lambda: e2e(images, "labels"))

        # BASELINE.md §3: the bench run itself must hit keep/drop
        # F1 >= 0.99 vs the single-node oracle on the same rows
        got = spark.read.parquet(os.path.join(sink, "labels")).select("image_id", "keep")
        ref = (
            spark.read.parquet(os.path.join(tdir, "labels_ref.parquet"))
            .select("image_id", F.col("keep").alias("ref_keep"))
        )
        cm = (
            got.join(ref, "image_id")
            .agg(
                F.sum((F.col("keep") & F.col("ref_keep")).cast("long")).alias("tp"),
                F.sum((F.col("keep") & ~F.col("ref_keep")).cast("long")).alias("fp"),
                F.sum((~F.col("keep") & F.col("ref_keep")).cast("long")).alias("fn"),
            )
            .collect()[0]
        )
        keep_f1 = 2 * cm.tp / max(2 * cm.tp + cm.fp + cm.fn, 1)
        assert keep_f1 >= 0.99, f"bench keep/drop F1 {keep_f1} < 0.99 gate"

        # streaming ingest analogue of the e2e stage: drain the
        # multi-file landing dir with availableNow, fresh checkpoint
        # per run (a reused checkpoint would skip already-committed
        # files and time an empty batch)
        from qfilter.streaming import stream_quality_filter

        landing = _ensure_landing_dir(spark, tdir)

        def stream_e2e():
            sdir = tempfile.mkdtemp(prefix="qfilter_stream_")
            try:
                q = stream_quality_filter(
                    spark,
                    landing,
                    os.path.join(sdir, "out"),
                    os.path.join(sdir, "ckpt"),
                    # one task per file: keep each micro-batch as wide
                    # as the executor (96 files / 32 -> 3 full waves)
                    max_files_per_trigger=cpus,
                )
                q.awaitTermination()
            finally:
                shutil.rmtree(sdir, ignore_errors=True)

        timed("stream_qfilter_e2e", stream_e2e)

        timed("phash_dedup", lambda: phash_winners(images).count())
        timed("lineitem_rollup", lambda: corpus.lineitem_rollup(spark, sf_dir).count())
        timed("top_customers", lambda: corpus.top_customers(spark, sf_dir).count())
        timed("event_gaps", lambda: corpus.event_gaps(spark, sf_dir).count())
        timed("exact_dedup", lambda: corpus.exact_dedup(spark, sf_dir).count())
        timed(
            "trigram_jaccard",
            lambda: corpus.trigram_jaccard_pairs(spark, sf_dir).count(),
        )
        # r01 recorded simhash64 under the key "doc_nlp_batch" (label
        # bug); from r02 both run under their real names.
        timed("simhash64", lambda: corpus.simhash64(spark, sf_dir).count())
        timed(
            "winnow_fingerprints",
            lambda: corpus.winnow_fingerprints(spark, sf_dir).count(),
        )
        timed(
            "substring_dup_spans",
            lambda: corpus.substring_dup_spans(spark, sf_dir).count(),
        )
        timed(
            "decontaminate",
            lambda: corpus.decontaminate(spark, sf_dir).count(),
        )
        timed(
            "temperature_resample",
            lambda: corpus.temperature_resample(spark, sf_dir).count(),
        )
        from __spark_entry__ import queries as _entry_queries

        # agg over the UDF outputs, not count(): a bare count() lets
        # Catalyst prune the projection and skip the UDF entirely
        timed(
            "doc_nlp_batch",
            lambda: _entry_queries()["doc_nlp"](spark, sf_dir)
            .agg(F.sum("token_count"), F.count("lang_pred"))
            .collect(),
        )
        timed(
            "cosine_topk_bucketed",
            lambda: similarity.cosine_topk_bucketed(spark, sf_dir).count(),
        )
        # round-2 additions: sessionization (single-shuffle window chain)
        # and near-dup clustering; both neardup_* keys time the one
        # connected-components operator (kept as two keys for history)
        timed(
            "event_sessions",
            lambda: corpus.event_sessions(spark, sf_dir).count(),
        )
        timed(
            "neardup_components",
            lambda: corpus.neardup_components(spark, sf_dir).count(),
        )
        timed(
            "neardup_components_star",
            lambda: corpus.neardup_components(spark, sf_dir).count(),
        )
        timed(
            "weighted_median",
            lambda: corpus.weighted_median_value(spark, sf_dir).count(),
        )
        # round-4 addition: deterministic augmentation (decode ->
        # flip/crop/brightness -> re-encode, 2 variants).  A hash
        # quarter-slice bounds bench wall; the stage is embarrassingly
        # parallel so images/sec extrapolates linearly.
        from qfilter.augment import with_augmented

        aug_slice = images.filter(F.crc32(F.col("image_id")) % 4 == 0)

        def augment_2x():
            with_augmented(aug_slice, variants=2).write.mode("overwrite").parquet(
                os.path.join(sink, "augmented")
            )

        timed("augment_2x", augment_2x)
    finally:
        shutil.rmtree(sink, ignore_errors=True)
    return timings, walls, metrics, n_images, keep_f1


def main() -> None:
    from qfilter.session import get_spark

    spark = get_spark(
        app="qfilter-bench",
        master=f"local[{CPUS}]",
        # UI on for the status-store REST API (per-query metrics);
        # retain enough stages that a snapshot never evicts mid-delta
        extra={
            "spark.ui.enabled": "true",
            "spark.ui.retainedStages": "5000",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    timings, walls, metrics, n_images, keep_f1 = run_suite(spark, SF_DIR, BENCH_TIER)
    spark.stop()

    # 4x- and 10x-volume headlines in isolated children (own heap
    # sized to the data; the main session's cached 1x rows would skew
    # them).  Each child reports per-run GC ms + peak JVM heap so a
    # wall outlier is attributable (memory pressure vs co-tenant
    # noise) instead of ambiguous — VERDICT r4 ask #4.  The 10x tier
    # (1.2M rows) runs the e2e job well clear of the shared-VM noise
    # floor the 120k-row run sits near — VERDICT r4 ask #6.
    def build_out(vols: dict[str, dict], notes: dict[str, str]) -> dict:
        total = round(sum(timings.values()), 3)
        out = {
            "metric": "qfilter bench suite wall time (e2e filter + operator suite)",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "sf": _sf_value(SF_DIR),
            "images": n_images,
            "images_per_sec": round(n_images / timings["qfilter_e2e"], 1),
            "stream_images_per_sec": round(n_images / timings["stream_qfilter_e2e"], 1),
            "runs_per_query": RUNS,
            "keep_f1_vs_oracle": round(keep_f1, 6),
            "cpus": CPUS,
        }
        for mult in (4, 10):
            vol = vols.get(f"{mult}x")
            if vol is not None:
                out[f"images_{mult}x"] = vol["rows"]
                out[f"images_per_sec_{mult}x"] = round(vol["rows"] / vol["median"], 1)
        if notes:
            out["volume_tiers_skipped"] = notes
        return out

    def emit(out: dict) -> None:
        # full per-run walls + executor metrics -> sidecar, NOT stdout:
        # the driver records only a bounded tail of stdout and the r03
        # headline outgrew it (VERDICT r3 "What's wrong" #3)
        details_path = os.path.join(REPO, "BENCH", "details_last.json")
        with open(details_path, "w") as f:
            json.dump({**out, "walls": walls, "metrics": metrics}, f, indent=1)
        out["details"] = "BENCH/details_last.json"
        print(json.dumps(out), flush=True)

    # The headline must ALWAYS print: the suite is done, so from here
    # on a driver-side `timeout` (SIGTERM) or Ctrl-C dumps the
    # suite-only headline instead of dying JSON-less (the r3 failure
    # mode, re-risked when the volume tiers pushed total wall past
    # 30 min under co-tenant load).
    import signal

    def _dump_and_exit(signum, frame):
        partial = build_out(vols, {"signal": f"truncated by signal {signum}"})
        emit(partial)
        os._exit(0)

    vols: dict[str, dict] = {}
    skip_notes: dict[str, str] = {}
    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, _dump_and_exit)

    # 4x/10x cost is predictable from the measured 1x e2e (volume
    # scaling is ~linear); skip a tier that cannot fit the wall budget
    # rather than let an external timeout kill the whole report.
    budget = float(os.environ.get("QFILTER_BENCH_BUDGET", "3300"))
    sys.path.insert(0, os.path.join(REPO, "BENCH"))
    from run_volume import run_level

    for mult, flag in ((4, "QFILTER_BENCH_4X"), (10, "QFILTER_BENCH_10X")):
        if os.environ.get(flag, "1") == "0":
            continue
        elapsed = time.time() - T0
        est = mult * timings["qfilter_e2e"] * (RUNS + 1) * 1.3
        if elapsed + est > budget:
            skip_notes[f"{mult}x"] = (
                f"budget: elapsed {elapsed:.0f}s + est {est:.0f}s "
                f"> QFILTER_BENCH_BUDGET {budget:.0f}s"
            )
            sys.stderr.write(f"qfilter_e2e_{mult}x skipped: {skip_notes[f'{mult}x']}\n")
            continue
        try:
            vols[f"{mult}x"] = run_level(CPUS, mult, RUNS)
        except SystemExit as e:
            sys.stderr.write(f"qfilter_e2e_{mult}x skipped: {e}\n")
        for tag, vol in vols.items():
            if f"qfilter_e2e_{tag}" in timings:
                continue
            timings[f"qfilter_e2e_{tag}"] = round(vol["median"], 3)
            walls[f"qfilter_e2e_{tag}"] = [round(w, 3) for w in vol["walls"]]
            metrics[f"qfilter_e2e_{tag}"] = {
                "gc_ms_per_run": vol.get("gc_ms"),
                "peak_heap_per_run": vol.get("peak_heap"),
            }

    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, signal.SIG_DFL)
    emit(build_out(vols, skip_notes))


if __name__ == "__main__":
    main()
