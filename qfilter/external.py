"""Bounded-retry external-call operator: the reference's flaky-
service contract (`src/methods/inference/surya_ocr_client.py:17-19` —
``max_retries=3``, ``retry_backoff_sec=1.0`` linear backoff,
`:52-67` retry loop; `:94-136` per-file error CSV) re-expressed as a
Spark stage.

Any 100 TB pipeline eventually wraps a per-row external call (an OCR
service, an embedding endpoint, a moderation API).  The operator shape
that survives at scale:

* **Retries live INSIDE the task.**  If a transient error escaped to
  Spark, the task-level retry would re-run the WHOLE partition —
  re-billing every already-succeeded call against the external
  service and multiplying load exactly when the service is degraded.
  Here a row's failure never fails the task.
* **Batch-first.**  The transport receives a pandas batch (Arrow
  transfer), not single rows; each retry round re-sends only the
  still-failed subset, so a 1%-flaky service costs ~1% extra calls,
  not a second full pass.
* **Error channel, not exceptions** (K7 semantics, like the decode
  stage): rows that exhaust their retry budget come back with
  ``status='error'`` and the last error string — the reference's
  per-file error CSV row (`surya_ocr_client.py:127`) — so one
  permanently-broken row can't poison a 10^12-row job.
* **Deterministic, injectable clock.**  ``sleep`` is a parameter:
  tests run the full backoff protocol without wall-clock delay, and a
  deployment can plug a rate-limiter-aware sleeper.
"""

from __future__ import annotations

import time
from typing import Callable, Iterable, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

# transport(batch, attempt) -> (results, errors), both aligned to the
# batch rows; errors[i] is None on success, else a message.  A raised
# exception fails every row of THAT attempt (a connection-level error)
# but never the task.
Transport = Callable[[pd.DataFrame, int], tuple[Sequence, Sequence]]


def with_external_call(
    df: DataFrame,
    transport: Transport,
    *,
    max_retries: int = 3,
    retry_backoff_s: float = 1.0,
    sleep: Callable[[float], None] = time.sleep,
) -> DataFrame:
    """Apply ``transport`` to every row with the reference's bounded
    retry protocol: up to ``max_retries`` attempts per row, linear
    backoff ``retry_backoff_s * attempt`` between rounds
    (`surya_ocr_client.py:64-67`), then the error channel.

    Returns ``df`` minus ``bytes`` (request bytes never travel past the
    call stage, same rule as the decode stage dropping image bytes) plus
    string ``result``, ``attempts``, ``status`` ('ok' | 'error') and
    ``error`` columns.
    """
    if max_retries < 1:
        raise ValueError("max_retries must be >= 1")
    keep_cols = [c for c in df.columns if c != "bytes"]
    out_schema = T.StructType(
        [df.schema[c] for c in keep_cols]
        + [
            T.StructField("result", T.StringType()),
            T.StructField("attempts", T.IntegerType()),
            T.StructField("status", T.StringType()),
            T.StructField("error", T.StringType()),
        ]
    )

    def run_batches(batches: Iterable[pd.DataFrame]):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            results = np.full(n, None, dtype=object)
            errors = np.full(n, None, dtype=object)
            attempts = np.zeros(n, dtype=np.int32)
            pending = np.arange(n)
            for attempt in range(1, max_retries + 1):
                if pending.size == 0:
                    break
                if attempt > 1:
                    # linear backoff, paid once per retry ROUND — the
                    # still-failed subset shares the wait, it is not
                    # per-row serial like the reference's loop
                    sleep(retry_backoff_s * (attempt - 1))
                sub = pdf.iloc[pending]
                try:
                    res, errs = transport(sub, attempt)
                    res = list(res)
                    errs = list(errs)
                    if len(res) != len(pending) or len(errs) != len(pending):
                        raise ValueError(
                            f"transport returned {len(res)}/{len(errs)} rows "
                            f"for a {len(pending)}-row batch"
                        )
                except Exception as exc:  # noqa: BLE001 — connection-level
                    res = [None] * len(pending)
                    errs = [f"{type(exc).__name__}: {exc}"] * len(pending)
                still: list[int] = []
                for j, i in enumerate(pending):
                    attempts[i] = attempt
                    if errs[j] is None:
                        results[i] = res[j]
                        errors[i] = None
                    else:
                        errors[i] = str(errs[j])
                        still.append(int(i))
                pending = np.asarray(still, dtype=np.int64)
            out = pdf[keep_cols].copy()
            out["result"] = results
            out["attempts"] = attempts
            out["status"] = np.where(
                np.equal(errors, None), "ok", "error"  # type: ignore[arg-type]
            )
            out["error"] = errors
            yield out

    return df.mapInPandas(run_batches, schema=out_schema)
