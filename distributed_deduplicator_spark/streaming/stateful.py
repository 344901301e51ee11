"""Custom stateful streaming: exact TTL-horizon dedup with
applyInPandasWithState (SURVEY.md §4 custom-work item 2, streaming
form).

``dropDuplicatesWithinWatermark`` approximates the reference's TTL
semantics (state evicted by watermark); this operator reproduces them
*exactly*: per key, an attempt is accepted iff it is ≥ ttl after the
last accepted attempt (usingTtl, DeduplicationProvider.kt:203,219) —
the state is one timestamp per live key, evicted by processing-time
timeout, so state size is bounded by live-key cardinality exactly as
the reference's Cassandra TTL bounds its table.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUT_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("event_id", T.LongType()),
    T.StructField("verdict", T.StringType()),
])

STATE_SCHEMA = T.StructType([
    T.StructField("last_accepted_us", T.LongType()),
])


def _ttl_verdicts(ts_us: np.ndarray, last_us: int | None,
                  ttl_us: int) -> tuple[list[str], int | None]:
    """The per-key TTL recurrence over an ascending µs timestamp array:
    accept a row iff it is ≥ ttl after the last accepted one.

    The recurrence is data-dependent and sequential per key, but on a
    SORTED array every row between two acceptances is a DUPLICATE by
    construction — so instead of visiting each row in Python, jump
    straight from one acceptance to the next with searchsorted (first
    index with ts ≥ last_accepted + ttl). Cost is O(accepted · log n)
    numpy calls rather than an n-iteration Python loop; on the
    duplicate-heavy keys the TTL drain exists for, acceptances ≪ rows.
    The max(· , i+1) guard keeps ttl=0 progressing (threshold equals
    the current row there, and every row is then an acceptance).
    Identity with the row-at-a-time loop is property-gated in
    tests/test_streaming_sinks.py.

    Returns (verdicts, new_last_us); last_us passes through unchanged
    when the batch accepts nothing, matching the old loop.
    """
    n = int(ts_us.shape[0])
    verdicts = np.full(n, "DUPLICATE", dtype=object)
    i = 0
    if last_us is not None:
        i = int(np.searchsorted(ts_us, last_us + ttl_us, side="left"))
    while i < n:
        verdicts[i] = "SUCCESS"
        last_us = int(ts_us[i])
        i = max(int(np.searchsorted(ts_us, last_us + ttl_us,
                                    side="left")), i + 1)
    return verdicts.tolist(), last_us


def _ttl_process_group(chunks: list[pd.DataFrame], last_us: int | None,
                       ttl_us: int) -> tuple[pd.DataFrame, int | None]:
    """One key's micro-batch rows → (verdict frame, new last_us).

    This body runs once per (user_id, event_type) GROUP — ~75k times
    per million fixture rows — so per-call pandas overhead is the
    drain's hot loop. The obvious spelling (pd.concat → sort_values →
    column-select.copy() → assign) costs ~1.5 ms per 13-row group;
    pulling the four columns out as numpy arrays, lexsorting the
    indices, and building the output frame directly from the sorted
    arrays is ~4.5× cheaper at identical output (gated by the
    multichunk-order test and the driver oracle). Rows must be
    processed in GLOBAL (ts, event_id) order across chunks — a key's
    batch arrives as multiple Arrow chunks when it exceeds
    arrow.maxRecordsPerBatch, and sorting per chunk would walk the
    recurrence out of order (regression test in
    tests/test_streaming_sinks.py).
    """
    def col(name: str, dtype=None) -> np.ndarray:
        parts = [c[name].to_numpy(dtype=dtype) for c in chunks]
        return parts[0] if len(parts) == 1 else np.concatenate(parts)

    ts = col("ts", "datetime64[ns]")
    eid = col("event_id")
    order = np.lexsort((eid, ts.view("int64")))
    ts, eid = ts[order], eid[order]
    verdicts, last_us = _ttl_verdicts(ts.view("int64") // 1000,
                                      last_us, ttl_us)
    out = pd.DataFrame({
        "user_id": col("user_id")[order],
        "event_type": col("event_type")[order],
        "ts": ts,
        "event_id": eid,
        "verdict": verdicts,
    })
    return out, last_us


def ttl_dedup_stateful(events: DataFrame, ttl_seconds: int,
                       evict_state: bool = True) -> DataFrame:
    """Streaming exact TTL dedup on (user_id, event_type).

    State = last accepted timestamp (µs) per key. Within a micro-batch
    rows are processed in (ts, event_id) order, so replaying the whole
    fixture through one availableNow batch produces exactly the batch
    operator's output (oracle-checkable).

    ``evict_state=True`` (production default) bounds state to live keys
    via a processing-time timeout of one TTL: a key idle for a full
    horizon is re-claimable anyway, so its state row is dropped — the
    reference's Cassandra row expiry. Pass ``evict_state=False`` for
    bounded drains (availableNow harness runs): a registered
    processing-time timeout keeps the query scheduling batches until it
    fires, defeating run-to-completion termination, and a drained
    query's state dies with it regardless.
    """
    ttl_us = ttl_seconds * 1_000_000

    def fn(key: Any, pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # no attempt for this key within the TTL → the horizon has
            # passed and the key is re-claimable; drop its state (the
            # reference's Cassandra row expiry)
            state.remove()
            return
        (last_us,) = state.get if state.exists else (None,)
        out, last_us = _ttl_process_group(list(pdfs), last_us, ttl_us)
        yield out
        if last_us is not None:
            state.update((last_us,))
            if evict_state:
                # bounds state to live keys in a continuous stream
                state.setTimeoutDuration(ttl_seconds * 1000)

    timeout = (GroupStateTimeout.ProcessingTimeTimeout if evict_state
               else GroupStateTimeout.NoTimeout)
    return (events.groupBy("user_id", "event_type")
            .applyInPandasWithState(
                fn,
                outputStructType=OUT_SCHEMA,
                stateStructType=STATE_SCHEMA,
                outputMode="append",
                timeoutConf=timeout))

