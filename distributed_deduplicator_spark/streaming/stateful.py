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

from distributed_deduplicator_spark.operators.dedup import (
    TTL_FOREVER_US, ttl_accept, ttl_micros)

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


def _ttl_process_group(chunks: list[pd.DataFrame], last_us: int | None,
                       ttl_us: int) -> tuple[pd.DataFrame, int | None]:
    """One key's micro-batch rows → (verdict frame, new last_us). Runs
    once per group, so it stays in numpy: the rows are lexsorted by
    (ts, event_id) across ALL chunks (a key's rows arrive as several
    Arrow chunks past arrow.maxRecordsPerBatch), then the batch
    operator's kernel walks them as one run."""
    def col(name: str, dtype=None) -> np.ndarray:
        parts = [c[name].to_numpy(dtype=dtype) for c in chunks]
        return parts[0] if len(parts) == 1 else np.concatenate(parts)

    ts = col("ts", "datetime64[ns]")
    eid = col("event_id")
    order = np.lexsort((eid, ts.view("int64")))
    ts, eid = ts[order], eid[order]
    accepted, last_us = ttl_accept(ts.view("int64") // 1000, np.isnat(ts),
                                   [0], ttl_us, last_us)
    out = pd.DataFrame({
        "user_id": col("user_id")[order],
        "event_type": col("event_type")[order],
        "ts": ts,
        "event_id": eid,
        "verdict": np.where(accepted, "SUCCESS", "DUPLICATE"),
    })
    return out, last_us


def ttl_dedup_stateful(events: DataFrame, ttl_seconds: float,
                       evict_state: bool = True) -> DataFrame:
    """Streaming exact TTL dedup on (user_id, event_type).

    State = last accepted timestamp (µs) per key. Within a micro-batch
    rows are processed in (ts, event_id) order, so replaying the whole
    fixture through one availableNow batch produces exactly the batch
    operator's output (oracle-checkable), for any TTL ``ttl_micros``
    accepts (``<= 0`` keeps a claim forever and never evicts it).

    ``evict_state=True`` (production default) bounds state to live keys
    via a processing-time timeout of one TTL: a key idle for a full
    horizon is re-claimable anyway, so its state row is dropped — the
    reference's Cassandra row expiry. Pass ``evict_state=False`` for
    bounded drains (availableNow harness runs): a registered
    processing-time timeout keeps the query scheduling batches until it
    fires, defeating run-to-completion termination, and a drained
    query's state dies with it regardless.
    """
    ttl_us = ttl_micros(ttl_seconds)
    evict = evict_state and ttl_us != TTL_FOREVER_US

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
            if evict:
                # bounds state to live keys in a continuous stream
                state.setTimeoutDuration(max(1, ttl_us // 1000))

    timeout = (GroupStateTimeout.ProcessingTimeTimeout if evict
               else GroupStateTimeout.NoTimeout)
    return (events.groupBy("user_id", "event_type")
            .applyInPandasWithState(
                fn,
                outputStructType=OUT_SCHEMA,
                stateStructType=STATE_SCHEMA,
                outputMode="append",
                timeoutConf=timeout))

