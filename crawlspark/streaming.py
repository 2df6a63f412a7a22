"""Structured Streaming variant of the politeness gate (SURVEY.md §7.6).

The batch BSP engine is the primary execution mode; this module shows the
same per-host politeness semantics as a continuous pipeline: a stream of
candidate jobs → stateful per-host budget enforcement via
applyInPandasWithState (state = jobs admitted per host per window), plus a
watermarked tumbling-window per-host admission metric (the streaming twin of
the engine's per-wave metrics table).

Drive pattern for tests/local smoke: parquet source dir + availableNow
trigger + memory sink (pyspark_guide.md Structured Streaming section).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

ADMIT_SCHEMA = (
    "host string, job_id string, priority int, seq long, admitted boolean"
)
STATE_SCHEMA = "used int"


def admit_with_budget(budget_per_host: int):
    """Stateful admission: first `budget_per_host` jobs per host (by arrival
    batch, (priority, seq) within a batch) pass; the rest are deferred.
    State survives across micro-batches — the streaming analog of the
    engine's per-wave per-host top-k window.

    Vectorized: budget admission after the sort is a prefix count —
    admitted[i] ⇔ used + i < budget — so each Arrow batch is one numpy
    expression, never a per-row Python loop (BASELINE.json input_hint).

    The chunk iterator is CONCATENATED before sorting: Arrow splits a host
    group larger than maxRecordsPerBatch into several pdfs, and sorting each
    chunk independently would admit out of global (priority, seq) order
    (round-3 advice). The concat bounds memory at one host's micro-batch —
    the same per-host-group bound applyInPandasWithState already implies."""
    import numpy as np

    def fn(key, pdfs, state: GroupState):
        (host,) = key
        used = state.get[0] if state.exists else 0
        chunks = [c for c in pdfs if len(c)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values(["priority", "seq"])
            admitted = used + np.arange(len(pdf)) < budget_per_host
            used += int(admitted.sum())
            yield pd.DataFrame(
                {
                    "host": host,
                    "job_id": pdf["job_id"].to_numpy(),
                    "priority": pdf["priority"].astype("int32").to_numpy(),
                    "seq": pdf["seq"].astype("int64").to_numpy(),
                    "admitted": admitted,
                }
            )
        state.update((used,))

    return fn


def politeness_stream(jobs_stream: DataFrame, budget_per_host: int) -> DataFrame:
    """jobs_stream: streaming frame with (host, job_id, priority, seq)."""
    return (
        jobs_stream.groupBy("host")
        .applyInPandasWithState(
            admit_with_budget(budget_per_host),
            outputStructType=ADMIT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def _admit_host_group(
    chunks,  # iterable of pandas DataFrames (drained incrementally)
    last_w: int,
    used: int,
    budget_per_host: int,
    window_col: str,
    max_buffer_rows: int,
    host_key=None,
):
    """Admission core for politeness_stream_windowed, factored out so the
    memory bound is directly unit-testable without a streaming query.

    Exact (priority, seq) admission needs the host's whole micro-batch
    sorted before the prefix count — a later Arrow chunk can carry a
    smaller (priority, seq) that displaces an earlier row — so the group
    buffers its chunks. That buffer is the operator's ONLY unbounded
    memory, and a 100×-skewed host would otherwise OOM the executor
    silently mid-concat. `max_buffer_rows` turns that into a loud,
    actionable failure instead (see politeness_stream_windowed's docstring
    for the operational bound and the skew remediation).

    Returns (out_pdf_or_None, (last_w, used))."""
    import numpy as np

    # drain the chunk iterator INCREMENTALLY so the bound trips before the
    # buffer is fully materialized — checking after a full drain would OOM
    # first and assert second
    buffered: list = []
    n_buffered = 0
    for c in chunks:
        if not len(c):
            continue
        n_buffered += len(c)
        if n_buffered > max_buffer_rows:
            raise RuntimeError(
                f"politeness_stream_windowed: host group {host_key!r} has "
                f"more than max_buffer_rows={max_buffer_rows} rows in one "
                f"micro-batch. A host this hot will OOM the executor if "
                f"buffered; shrink the per-trigger slice "
                f"(maxFilesPerTrigger / maxOffsetsPerTrigger), raise "
                f"max_buffer_rows if the executor has headroom, or pre-cap "
                f"the host upstream (the batch engine's admit_with_budget "
                f"rank prunes to the budget before any buffering)."
            )
        buffered.append(c)
    chunks = buffered
    if not chunks:
        return None, (last_w, used)
    pdf = (
        pd.concat(chunks, ignore_index=True)
        .sort_values([window_col, "priority", "seq"])
        .reset_index(drop=True)
    )
    admitted = np.zeros(len(pdf), dtype=bool)
    i = 0
    for w, grp in pdf.groupby(window_col, sort=True):
        if int(w) != last_w:
            last_w, used = int(w), 0
        adm = used + np.arange(len(grp)) < budget_per_host
        admitted[i : i + len(grp)] = adm
        used += int(adm.sum())
        i += len(grp)
    return pdf.assign(admitted=admitted), (last_w, used)


def politeness_stream_windowed(
    jobs_stream: DataFrame,
    budget_per_host: int,
    window_col: str = "wave",
    max_buffer_rows: int = 4_000_000,
) -> DataFrame:
    """Per-window per-host budget — the exact streaming twin of the batch
    engine's politeness (budgets.max_per_wave resets every wave, engine.py
    stage 2): state per host is (last_window, used); a new window value
    resets the counter. ALL input columns pass through plus `admitted`, so
    the admitted sub-stream can flow straight into the fetch join without a
    stream-stream re-join.

    Feed shape: micro-batch == window (e.g. one file per wave under
    maxFilesPerTrigger=1 + availableNow). The chunk iterator is CONCATENATED
    before the (window, priority, seq) sort — Arrow splits a host group
    bigger than maxRecordsPerBatch into several pdfs, and a per-chunk sort
    would admit out of global order (round-3 advice). Admission inside each
    window is a vectorized prefix count, the same zero-loop shape as
    admit_with_budget.

    Memory bound (round 5, enforced): the concat buffers ONE HOST's
    micro-batch, the operator's only memory that grows with input skew.
    `max_buffer_rows` (default 4M rows ≈ a few hundred MB at typical job-row
    width) converts a 100×-skewed host from a silent executor OOM into a
    RuntimeError naming the host and the three remediations: shrink the
    per-trigger slice, raise the bound on big-memory executors, or pre-cap
    the hot host upstream. Every other per-host state is O(1) (two ints).
    """
    out_schema = (
        ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in jobs_stream.schema.fields)
        + ", admitted boolean"
    )

    def fn(key, pdfs, state: GroupState):
        last_w, used = state.get if state.exists else (-1, 0)
        out, new_state = _admit_host_group(
            pdfs, last_w, used, budget_per_host, window_col,
            max_buffer_rows, host_key=key,
        )
        if out is not None:
            yield out
        state.update(new_state)

    return jobs_stream.groupBy("host").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType="last_window int, used int",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def dedup_stream(
    jobs_stream: DataFrame,
    keys: tuple[str, ...] = ("cache_key",),
    ts_col: str | None = None,
    delay: str = "10 minutes",
) -> DataFrame:
    """Streaming twin of the engine's URL-seen gate: first occurrence of each
    key wins across micro-batches (stateful dropDuplicates).

    Without `ts_col` the dedup state is global and exact — the semantics of
    the batch seen-set (bloom+anti-join) as a continuous pipeline; at
    10^10 keys pass `ts_col` so the watermark bounds state to the late-data
    horizon (`dropDuplicatesWithinWatermark`): keys older than `delay` are
    evicted, trading unbounded memory for at-most-once-per-horizon dedup —
    the same trade the reference's LRU response cache makes.
    """
    if ts_col is None:
        return jobs_stream.dropDuplicates(list(keys))
    return jobs_stream.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(
        list(keys)
    )


def admission_rate_stream(jobs_stream: DataFrame, window: str = "1 minute") -> DataFrame:
    """Watermarked tumbling-window per-host admission counts — the streaming
    twin of the engine's metrics table (M-1/M-2)."""
    return (
        jobs_stream.withWatermark("ts", "2 minutes")
        .groupBy(F.window("ts", window), "host")
        .agg(F.count("*").alias("n_jobs"), F.min("seq").alias("first_seq"))
    )
