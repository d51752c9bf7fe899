"""Structured Streaming front-end for incremental ingest.

The reference is a batch folder pipeline (SURVEY.md §2.10: no
streaming ops), and the north rule's resumability is batch
checkpointing — but at 100 TB new image+caption files land
continuously, so the same feature + cascade stages are exposed as a
streaming job too:

* `stream_quality_filter` — file-source stream of image parquet ->
  decode/features/cascade/scrub -> parquet sink with checkpoint;
  `availableNow` drains the backlog exactly-once and is restartable
  from the checkpoint (the streaming analogue of `qfilter.pipeline`'s
  lineage resume).
* `stream_event_window_counts` — event-time tumbling-window counts
  with a watermark for late data (the generic streaming-agg pattern).
* `stream_event_sessions` — stateful per-user session windows via the
  built-in `session_window` with watermark-bounded merging state.
* `stream_event_sessions_custom` — the same sessions hand-rolled with
  `applyInPandasWithState` (arbitrary stateful operator, event-time
  timeout) — the API for stateful semantics the built-ins can't
  express; parity-tested against both the built-in stream and batch.

All reuse the exact batch transformations — Structured Streaming
runs the same Catalyst plan incrementally, so batch/stream parity is
by construction (asserted in tests/test_streaming.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .cascade import with_labels
from .corpus import SESSION_GAP_MINUTES
from .features import with_all_features

__all__ = [
    "IMAGES_SCHEMA",
    "stream_quality_filter",
    "stream_quality_filter_to_catalog",
    "stream_event_window_counts",
    "stream_event_dedup",
    "stream_event_sessions",
    "stream_event_sessions_custom",
]

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

IMAGES_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("bytes", T.BinaryType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("caption", T.StringType()),
        T.StructField("phash", T.LongType()),
    ]
)

LABEL_OUT_COLS = [
    "image_id", "category", "reason", "keep", "is_dark", "lang",
    "caption_scrubbed", "pii_hits", "tox_hits", "phash64",
]

# Event-time bound on late data for the windowed and session streams.
EVENTS_WATERMARK = "2 hours"


def _file_source(
    spark: SparkSession, input_dir: str, schema: T.StructType, **options
) -> DataFrame:
    """File-source stream of the parquet files landing in ``input_dir``."""
    return spark.readStream.schema(schema).options(**options).parquet(input_dir)


def _parquet_sink(df: DataFrame, out_dir: str, checkpoint_dir: str):
    """Append ``df`` to parquet files under ``out_dir``, draining the
    backlog once (availableNow); restartable from ``checkpoint_dir``."""
    return (
        df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_quality_filter(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 8,
):
    """Incremental quality filter over a landing directory of image
    parquet files (`IMAGES_SCHEMA`).  Returns the StreamingQuery
    (await/stop is the caller's).

    ``max_files_per_trigger`` bounds micro-batch size; a file-source
    micro-batch parallelizes at one task per file, so keep it >= the
    executor core count when draining a backlog with availableNow."""
    stream = _file_source(
        spark, input_dir, IMAGES_SCHEMA, maxFilesPerTrigger=max_files_per_trigger
    )
    labeled = with_labels(with_all_features(stream)).select(*LABEL_OUT_COLS)
    return _parquet_sink(labeled, out_dir, checkpoint_dir)


def stream_quality_filter_to_catalog(
    spark: SparkSession,
    input_dir: str,
    warehouse: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 8,
    maintain_every: int = 0,
):
    """Stream the quality filter into the ``labels`` table of a
    :class:`~qfilter.catalog.Catalog` with exactly-once micro-batch
    commits, draining the backlog once (availableNow).

    Each micro-batch is appended via ``Catalog.append`` with a
    ``txn_id`` built from the engine's deterministic batchId, so a
    replayed batch (crash between sink write and checkpoint advance —
    the foreachBatch at-least-once window) commits zero duplicate rows.  This is the
    streaming-into-Iceberg sink shape: every micro-commit is a snapshot,
    time travel and incremental reads work mid-stream, and with
    ``maintain_every`` = N the sink bin-packs + expires every N commits
    — bounding the small-file growth a long-running stream otherwise
    suffers (the #1 operational failure of streaming lakehouse sinks).

    Returns the StreamingQuery.
    """
    from .catalog import Catalog, CommitConflict

    catalog = Catalog(warehouse)
    stream = _file_source(
        spark, input_dir, IMAGES_SCHEMA, maxFilesPerTrigger=max_files_per_trigger
    )
    labeled = with_labels(with_all_features(stream)).select(*LABEL_OUT_COLS)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        catalog.append("labels", batch_df, txn_id=f"{checkpoint_dir}#{batch_id}")
        if maintain_every and len(catalog.snapshots("labels")) % maintain_every == 0:
            try:
                catalog.compact(spark, "labels")
                catalog.expire_snapshots("labels", keep_last=1)
            except CommitConflict:
                pass  # another writer landed mid-compaction; next cycle

    return (
        labeled.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_event_window_counts(
    spark: SparkSession, input_dir: str, out_dir: str, checkpoint_dir: str
):
    """Event-time 1-hour tumbling-window counts per event_type with
    the `EVENTS_WATERMARK` bounding state for late data."""
    stream = _file_source(spark, input_dir, EVENTS_SCHEMA)
    agg = (
        stream.withWatermark("ts", EVENTS_WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "event_type", "n", "sum_value",
        )
    )
    return _parquet_sink(agg, out_dir, checkpoint_dir)


def stream_event_dedup(
    spark: SparkSession, input_dir: str, out_dir: str, checkpoint_dir: str
):
    """Exactly-once ingest dedup: `dropDuplicatesWithinWatermark` on
    event_id — the streaming half of the training-pipeline dedup
    story (a crawler that re-delivers an event/file within the late-
    data bound emits it downstream exactly once).

    Unlike a bare streaming dropDuplicates, whose key state grows
    FOREVER (a non-starter at 10^12 rows), the watermark variant
    expires state once the event-time bound passes — state is bounded
    by (arrival rate x watermark), independent of corpus size.  Parity
    with batch `SELECT DISTINCT` is exact whenever re-deliveries land
    within the watermark (tests plant a full duplicate delivery).  The
    watermark here is 30 minutes."""
    stream = _file_source(spark, input_dir, EVENTS_SCHEMA)
    deduped = (
        stream.withWatermark("ts", "30 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    return _parquet_sink(deduped, out_dir, checkpoint_dir)


def stream_event_sessions(
    spark: SparkSession, input_dir: str, out_dir: str, checkpoint_dir: str
):
    """Stateful session windows: per-user sessions via the built-in
    `session_window` (merging state bounded by `EVENTS_WATERMARK`).
    Append mode emits a session once the watermark passes its end (last
    event ts + gap, gap = `corpus.SESSION_GAP_MINUTES`).  Session
    semantics — merge iff inter-event gap < gap — match the batch
    `corpus.event_sessions` cumsum form exactly (parity asserted in
    tests/test_streaming.py), and the emitted window is
    [min ts, max ts + gap)."""
    stream = _file_source(spark, input_dir, EVENTS_SCHEMA)
    agg = (
        stream.withWatermark("ts", EVENTS_WATERMARK)
        .groupBy(
            F.session_window("ts", f"{SESSION_GAP_MINUTES} minutes").alias("win"),
            "user_id",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            "user_id", "session_start", "session_end", "n_events", "sum_value",
            F.col("win.end").alias("win_end"),
        )
    )
    return _parquet_sink(agg, out_dir, checkpoint_dir)


def stream_event_sessions_custom(
    spark: SparkSession, input_dir: str, out_dir: str, checkpoint_dir: str
):
    """Custom stateful sessionization via ``applyInPandasWithState`` —
    the hand-rolled analogue of `stream_event_sessions`' built-in
    `session_window`, demonstrating the arbitrary-stateful-operator
    API for semantics the built-ins can't express.

    Per user, the state holds the list of UNDECIDED sessions
    (start_us, end_us, n, decimal-sum as string).  Each invoke merges
    the micro-batch's rows (sorted by ts, event_id — the batch op's
    order) with the stored sessions in time order and re-splits on
    ``gap >= corpus.SESSION_GAP_MINUTES`` (the exact
    `corpus.event_sessions` rule);
    sessions whose ``end + gap <= watermark`` are emitted, the rest
    stay in state with an event-time timeout at ``min(end) + gap`` so
    the engine's final watermark pass flushes them.  Emission contract
    therefore equals `session_window` append mode: exactly the
    sessions finalized by the final watermark (parity-tested against
    BOTH the built-in stream and the batch op).

    Value sums replicate the batch op's ``cast(value as decimal(18,6))``
    exactly: Spark's double->decimal cast goes through the shortest
    decimal representation (BigDecimal.valueOf), i.e. Python
    ``Decimal(repr(v))``, quantized half-up to 6 dp; decimal sums are
    exact, and the final double cast rounds identically.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = 60_000_000 * SESSION_GAP_MINUTES

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("session_start", T.TimestampType()),
            T.StructField("session_end", T.TimestampType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("sum_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("starts", T.ArrayType(T.LongType())),
            T.StructField("ends", T.ArrayType(T.LongType())),
            T.StructField("ns", T.ArrayType(T.LongType())),
            T.StructField("sums", T.ArrayType(T.StringType())),
        ]
    )

    def fn(key, pdf_iter, state: GroupState):
        from decimal import ROUND_HALF_UP, Decimal

        q6 = Decimal("0.000001")
        (user_id,) = key

        def emit_df(sessions):
            return pd.DataFrame(
                {
                    "user_id": [user_id] * len(sessions),
                    "session_start": pd.to_datetime(
                        [s[0] for s in sessions], unit="us"
                    ),
                    "session_end": pd.to_datetime(
                        [s[1] for s in sessions], unit="us"
                    ),
                    "n_events": [s[2] for s in sessions],
                    "sum_value": [float(s[3]) for s in sessions],
                }
            )

        stored = []
        if state.exists:
            starts, ends, ns, sums = state.get
            stored = [
                (int(a), int(b), int(n), Decimal(s))
                for a, b, n, s in zip(starts, ends, ns, sums)
            ]

        def settle(sessions):
            # emit the sessions the watermark has closed; keep the rest
            # in state with a timeout at their earliest end + gap
            wm = state.getCurrentWatermarkMs() * 1000
            done = [s for s in sessions if s[1] + gap_us <= wm]
            keep = [s for s in sessions if s[1] + gap_us > wm]
            if keep:
                state.update(
                    (
                        [s[0] for s in keep], [s[1] for s in keep],
                        [s[2] for s in keep], [str(s[3]) for s in keep],
                    )
                )
                # ceil to ms: a floored timeout can land <= the current
                # watermark for sub-ms event times, and
                # setTimeoutTimestamp rejects non-future stamps
                state.setTimeoutTimestamp(
                    -((-(min(s[1] for s in keep) + gap_us)) // 1000)
                )
            else:
                state.remove()
            if done:
                yield emit_df(done)

        if state.hasTimedOut:
            # final flush: watermark passed the earliest pending end+gap
            yield from settle(stored)
            return

        # merge new rows (as 1-event atoms) with stored session atoms,
        # then re-split by the gap rule in time order
        atoms = list(stored)
        for pdf in pdf_iter:
            if len(pdf) == 0:
                continue
            pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
            ts_us = pdf["ts"].astype("datetime64[us]").astype("int64").tolist()
            vals = pdf["value"].tolist()
            for t, v in zip(ts_us, vals):
                d = Decimal(repr(float(v))).quantize(q6, rounding=ROUND_HALF_UP)
                atoms.append((t, t, 1, d))
        if not atoms:
            return
        atoms.sort(key=lambda s: (s[0], s[1]))
        sessions = [atoms[0]]
        for a in atoms[1:]:
            last = sessions[-1]
            if a[0] - last[1] < gap_us:  # merge (gap >= gap_us splits)
                sessions[-1] = (
                    last[0], max(last[1], a[1]), last[2] + a[2], last[3] + a[3]
                )
            else:
                sessions.append(a)
        yield from settle(sessions)

    stream = _file_source(spark, input_dir, EVENTS_SCHEMA)
    sessions = (
        stream.withWatermark("ts", EVENTS_WATERMARK)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )
    return _parquet_sink(sessions, out_dir, checkpoint_dir)
