"""Deduplication operators — the engine's flagship suite.

Re-expresses the reference's keyed first-writer-wins arbitration
(provider/DeduplicationProvider.kt:35-123) as set-oriented DataFrame
operators. Where the reference throws ``DuplicateException`` /
``RetryException`` per call (DeduplicationProvider.kt:64,80,93), we emit a
``verdict`` column — one row per attempt, labeled with the reference's own
4-state lifecycle codes (DeduplicationProvider.kt:250-257):

    1=SUCCESS  2=DUPLICATE  3=RETRY  4=FAILED

Scale notes (100 TB): every operator here is a single hash-shuffle by the
dedup keys followed by a window or map-side-combinable aggregate — no
driver round-trips, no collects, no Python in the hot path except the one
genuinely sequential recurrence (``dedup_within_ttl``), one vectorised
kernel per Arrow batch, linear in a key's attempts and shared with the
stream. Skewed keys are handled by AQE skew-join/partition-splitting
(session.py); the reference's "burst absorber"
(CachedDuplicateBurstAbsorber.kt:10-23) is subsumed by Spark's map-side
partial aggregation before the shuffle.
"""

from __future__ import annotations

import math
import numbers
from collections.abc import Iterator, Sequence
from fractions import Fraction

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Reference state codes: provider/DeduplicationProvider.kt:250-257.
STATE_SUCCESS = 1
STATE_DUPLICATE = 2
STATE_RETRY = 3
STATE_FAILED = 4
STATE_NAMES = {
    STATE_SUCCESS: "SUCCESS",
    STATE_DUPLICATE: "DUPLICATE",
    STATE_RETRY: "RETRY",
    STATE_FAILED: "FAILED",
}


def _order_cols(order_by: Sequence[str | Column]) -> list[Column]:
    return [F.col(c) if isinstance(c, str) else c for c in order_by]


def dedup_first_wins(df: DataFrame,
                     keys: Sequence[str],
                     order_by: Sequence[str | Column],
                     verdict_col: str = "verdict",
                     keep: str = "all") -> DataFrame:
    """First-writer-wins arbitration (reference R8+R9).

    Among all attempts sharing ``keys``, the earliest by ``order_by``
    (the analog of Cassandra's TIMEUUID clustering order,
    DeduplicationProvider.kt:230-233; winner pick :67-94) gets verdict
    ``SUCCESS``; every later attempt gets ``DUPLICATE``.

    ``order_by`` must be a total order within each key group (e.g.
    ``['ts', 'event_id']``) for deterministic results — the same
    determinism the reference gets from TIMEUUID's time+node ordering.

    ``keep``: 'all' → every attempt with its verdict (audit-trail shape);
    'winners' → only the SUCCESS rows (the deduplicated relation).

    Physical plan: one hash exchange on ``keys`` + window sort. No
    global sort, no collect; scales linearly with data / executors.
    """
    w = Window.partitionBy(*keys).orderBy(*_order_cols(order_by))
    rn = F.row_number().over(w)
    out = df.withColumn(
        verdict_col,
        F.when(rn == 1, F.lit(STATE_NAMES[STATE_SUCCESS]))
         .otherwise(F.lit(STATE_NAMES[STATE_DUPLICATE])),
    )
    if keep == "winners":
        return (out.where(F.col(verdict_col) == STATE_NAMES[STATE_SUCCESS])
                   .drop(verdict_col))
    if keep != "all":
        raise ValueError("keep must be 'all' or 'winners'")
    return out


def dedup_exact(df: DataFrame, subset: Sequence[str] | None = None) -> DataFrame:
    """Order-agnostic exact dedup (reference R8's unordered cousin).

    With ``subset=None`` this is full-row DISTINCT (deterministic, and
    oracle-checkable as SQL ``SELECT DISTINCT``). With a subset it is
    ``dropDuplicates(subset)`` — Spark keeps an arbitrary row per key,
    which is what you want when any representative will do (fastest
    plan: partial-agg before shuffle). For a *deterministic*
    representative use :func:`dedup_exact_keys`.
    """
    if subset is None:
        return df.distinct()
    return df.dropDuplicates(list(subset))


def dedup_exact_keys(df: DataFrame,
                     keys: Sequence[str],
                     order_by: Sequence[str | Column]) -> DataFrame:
    """Deterministic one-row-per-key dedup: first row by ``order_by``.

    Equivalent to ``dedup_first_wins(..., keep='winners')`` but
    implemented with ``min_by``-style aggregation (struct-min), which is
    map-side combinable — at 100 TB this beats the window form because
    partial aggregation collapses duplicate keys *before* the shuffle
    (the exact analog of the reference's burst absorber,
    CachedDuplicateBurstAbsorber.kt:16-19: collapse same-key work before
    it reaches the expensive boundary).
    """
    onames = [c for c in order_by if isinstance(c, str)]
    if len(onames) != len(order_by):
        raise ValueError("dedup_exact_keys needs plain column names in order_by")
    payload = [c for c in df.columns if c not in keys and c not in onames]
    packed = F.struct(*[F.col(c) for c in onames],
                      *[F.col(c) for c in payload])
    agg = df.groupBy(*keys).agg(F.min(packed).alias("_first"))
    out_cols = [c for c in df.columns if c not in keys]
    return agg.select(*keys,
                      *[F.col(f"_first.{c}").alias(c) for c in out_cols])


def arbitrate_ledger(df: DataFrame,
                     keys: Sequence[str],
                     order_by: Sequence[str | Column],
                     state_col: str = "state",
                     verdict_col: str = "verdict") -> DataFrame:
    """Full 4-state arbitration over an attempts ledger.

    Reproduces the reference's read-back + arbitration step
    (DeduplicationProvider.kt:67-94) as a batch operator over a ledger
    whose rows already carry a claimed ``state``:

    - only rows claiming SUCCESS compete (client-side filter analog,
      DeduplicationProvider.kt:132 — FAILED/RETRY/DUPLICATE rows never
      block a key);
    - earliest SUCCESS claim per key keeps SUCCESS, later SUCCESS claims
      are demoted to DUPLICATE (loser branch :81-94);
    - non-SUCCESS rows pass through with their recorded state (they are
      audit rows).

    Returns the ledger plus ``verdict`` (string) and ``verdict_code``
    (short, reference enum codes).
    """
    is_success = F.col(state_col) == STATE_SUCCESS
    w = Window.partitionBy(*keys).orderBy(*_order_cols(order_by))
    # rank only among SUCCESS claims: non-claims get NULL order key so
    # they never occupy rank 1 (window sees all rows, but we rank by a
    # success-only row_number computed on a success-flagged ordering).
    rn_success = F.sum(is_success.cast("int")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    verdict_code = (
        F.when(~is_success, F.col(state_col))         # audit rows pass through
         .when(rn_success == 1, F.lit(STATE_SUCCESS)) # earliest claim wins
         .otherwise(F.lit(STATE_DUPLICATE))           # later claims demoted
    ).cast("smallint")
    name_expr = F.element_at(
        F.lit([STATE_NAMES[i] for i in (1, 2, 3, 4)]), verdict_code.cast("int"))
    return (df.withColumn("verdict_code", verdict_code)
              .withColumn(verdict_col, name_expr))


def latest_state(df: DataFrame,
                 pk: Sequence[str],
                 version_by: Sequence[str | Column],
                 ) -> DataFrame:
    """Resolve current state of each primary key from a transition log.

    The reference mutates state in place via Cassandra upsert (R6,
    DeduplicationProvider.kt:157-179) and compensates failures by
    rewriting SUCCESS→FAILED (R11, :96-114). In an append-only columnar
    world the same semantics are: append one row per transition, resolve
    the *latest* row per primary key. Implemented as struct-max
    aggregation (map-side combinable) rather than a window — same
    winning-plan argument as :func:`dedup_exact_keys`.
    """
    onames = [c for c in version_by if isinstance(c, str)]
    if len(onames) != len(version_by):
        raise ValueError("latest_state needs plain column names in version_by")
    payload = [c for c in df.columns if c not in pk and c not in onames]
    packed = F.struct(*[F.col(c) for c in onames],
                      *[F.col(c) for c in payload])
    agg = df.groupBy(*pk).agg(F.max(packed).alias("_last"))
    out_cols = [c for c in df.columns if c not in pk]
    return agg.select(*pk,
                      *[F.col(f"_last.{c}").alias(c) for c in out_cols])


def dedup_incremental(batch: DataFrame, ledger: DataFrame,
                      keys: Sequence[str],
                      order_by: Sequence[str | Column],
                      verdict_col: str = "verdict") -> DataFrame:
    """Arbitrate a NEW batch of attempts against an existing ledger.

    The incremental form of first-wins: an attempt whose key already
    holds a SUCCESS row in the ledger is a DUPLICATE outright (the
    reference's read-back finding an existing claim,
    DeduplicationProvider.kt:54-66); among genuinely-new keys the batch
    arbitrates first-wins internally. This is the shape a daily
    training-data ingest actually runs: dedup today's crawl against the
    all-time fingerprint ledger, then within itself.

    Plan: the ledger reduces to distinct keys BEFORE the join (ids
    only through the shuffle — at 100 TB the ledger's payload never
    moves), then one left join + one window over the batch. Both
    shuffles are on ``keys`` so AQE plans them back-to-back without a
    re-exchange.
    """
    # A ledger carrying a verdict column blocks only on its SUCCESS
    # rows: compensated FAILED / transient RETRY rows leave the key
    # re-claimable (reference R11 — the exact contract the docstring
    # promises; arbitrate_ledger produces this 4-state shape). A bare
    # key ledger (no verdict column) blocks on presence, as before.
    led = ledger
    if verdict_col in ledger.columns:
        led = ledger.where(
            F.col(verdict_col) == STATE_NAMES[STATE_SUCCESS])
    led = led.select(*keys).distinct() \
             .withColumn("_blocked", F.lit(True))
    joined = batch.join(led, on=list(keys), how="left")
    w = Window.partitionBy(*keys).orderBy(*_order_cols(order_by))
    rn = F.row_number().over(w)
    verdict = (F.when(F.col("_blocked").isNotNull(),
                      F.lit(STATE_NAMES[STATE_DUPLICATE]))
                .when(rn == 1, F.lit(STATE_NAMES[STATE_SUCCESS]))
                .otherwise(F.lit(STATE_NAMES[STATE_DUPLICATE])))
    return joined.withColumn(verdict_col, verdict).drop("_blocked")


# ---------------------------------------------------------------------------
# TTL-horizon dedup (reference R12) — the one genuinely custom operator.
# ---------------------------------------------------------------------------

# A TTL <= 0 keeps a claim forever: as µs, the largest int64 (~292,000
# years), a horizon no real timestamp reaches.
TTL_FOREVER_US = int(np.iinfo(np.int64).max)


def ttl_micros(ttl_seconds: float) -> int:
    """A TTL in seconds as whole µs (at least 1, fractions rounded to
    the µs), the unit both the batch and the streaming recurrence
    compare in; ``<= 0`` maps to :data:`TTL_FOREVER_US`."""
    if isinstance(ttl_seconds, bool) or not (isinstance(
            ttl_seconds, numbers.Real) and math.isfinite(ttl_seconds)):
        raise ValueError(f"not a finite number of seconds: {ttl_seconds!r}")
    if ttl_seconds <= 0:
        return TTL_FOREVER_US
    return min(max(1, round(Fraction(ttl_seconds) * 1_000_000)),
               TTL_FOREVER_US)


def ttl_accept(ts_us: np.ndarray, null: np.ndarray, starts: np.ndarray,
               ttl_us: int, last_us: int | None,
               ) -> tuple[np.ndarray, int | None]:
    """The TTL recurrence over runs of rows: a row is accepted iff no
    accepted row of its run lies less than ``ttl_us`` before it.

    ``ts_us``: int64 µs, ascending within each run; run ``i`` is rows
    ``starts[i]:starts[i+1]`` (``starts[0] == 0``, runs may be empty).
    ``last_us`` is carried into the first run. ``null`` rows come first
    in their run; each is accepted and moves no horizon. Returns the
    accepted mask and the final run's last accepted µs.

    Rows are keyed ``run·(d+2) + rank`` (rank among the ``d`` distinct
    timestamps, 0 for null), ascending over the whole array, so one
    ``searchsorted`` finds each row's successor (the first row of its
    run at or past its horizon); each step is then one gather.
    """
    n = len(ts_us)
    starts = np.asarray(starts, dtype=np.int64)
    lens = np.diff(starts, append=n)
    values = np.unique(ts_us[~null])
    runs = np.arange(len(starts), dtype=np.int64) * (len(values) + 2)
    key = np.repeat(runs, lens) + np.where(
        null, 0, np.searchsorted(values, ts_us) + 1)
    cap = TTL_FOREVER_US - ttl_us  # a horizon past int64 is unreachable

    def first_past(runs: np.ndarray, after_us: np.ndarray) -> np.ndarray:
        rank = np.searchsorted(values, np.minimum(after_us, cap) + ttl_us)
        rank[after_us > cap] = len(values)
        return np.searchsorted(key, runs + rank + 1)

    ends = starts + lens
    nxt = first_past(np.repeat(runs, lens), ts_us)
    nxt[nxt >= np.repeat(ends, lens)] = n  # past its run: done
    pos = np.searchsorted(key, runs + 1)  # each run's first timed row
    if last_us is not None:
        pos[:1] = first_past(runs[:1], np.array([last_us]))
    pos = pos[pos < ends]
    accepted = np.zeros(n, dtype=bool)
    while pos.size:
        accepted[pos] = True
        pos = nxt[pos]
        pos = pos[pos < n]
    final = starts[-1] + np.flatnonzero(accepted[starts[-1]:])
    last_us = (int(ts_us[final[-1]]) if final.size
               else last_us if len(starts) == 1 else None)
    return accepted | null, last_us


def _same_key(prev: list[pa.Array], cur: list[pa.Array]) -> np.ndarray:
    """Row-wise key equality as in a Spark GROUP BY: null matches null,
    NaN matches NaN (tested with ``is_nan``, never by value)."""
    same = np.ones(len(cur[0]), dtype=bool)
    for a, b in zip(prev, cur):
        eq = pc.or_(pc.fill_null(pc.equal(a, b), False),
                    pc.and_(a.is_null(), b.is_null()))
        if pa.types.is_floating(a.type):
            eq = pc.or_(eq, pc.fill_null(
                pc.and_(pc.is_nan(a), pc.is_nan(b)), False))
        same &= eq.to_numpy(zero_copy_only=False)
    return same


def dedup_within_ttl(df: DataFrame,
                     keys: Sequence[str],
                     ts_col: str,
                     ttl_seconds: float,
                     order_by: Sequence[str] | None = None,
                     verdict_col: str = "verdict") -> DataFrame:
    """TTL-horizon dedup: a key is re-claimable once the horizon passes.

    Reference semantics (usingTtl, DeduplicationProvider.kt:203,219;
    README.md:44): an attempt is a DUPLICATE only if a previously
    *accepted* attempt for the same key lies less than ``ttl_seconds``
    before it. ``ttl_seconds <= 0`` keeps a claim forever (first-wins);
    fractions count to the µs. Null keys group as one key; a null
    timestamp sorts first and is always SUCCESS.

    Plan: one hash exchange on ``keys`` (atomic columns), a sort within
    partitions, then one ``mapInArrow`` call per partition (a Python
    task has a fixed start-up cost) running :func:`ttl_accept` over
    each Arrow batch's key runs, the last key's horizon carried into
    the next batch. The sort spills and Python holds one batch at a
    time, so a hot key costs time linear in its attempts and no per-key
    memory. The µs are the Arrow timestamp's own values (UTC for
    TIMESTAMP, wall clock for TIMESTAMP_NTZ): no extra column crosses
    the exchange. ``order_by`` (default ``[ts_col]``) must start with
    ``ts_col``; add a unique column for a deterministic total order.
    """
    ttl_us = ttl_micros(ttl_seconds)
    order = list(order_by) if order_by else [ts_col]
    if order[0] != ts_col:
        raise ValueError(f"order_by must start with {ts_col!r}: {order}")
    if not isinstance(df.schema[ts_col].dataType,
                      (T.TimestampType, T.TimestampNTZType)):
        raise ValueError(f"{ts_col!r} must be a TIMESTAMP(_NTZ) column")
    keys = list(keys)
    staged = df.repartition(*keys).sortWithinPartitions(*keys, *order)
    out_schema = T.StructType(df.schema.fields + [
        T.StructField(verdict_col, T.StringType(), False)])
    verdicts = pa.array([STATE_NAMES[STATE_DUPLICATE],
                         STATE_NAMES[STATE_SUCCESS]])

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        tail, last = None, None  # previous batch's final key and horizon
        for b in batches:
            if b.num_rows == 0:
                continue
            kc = [b.column(k) for k in keys]
            starts = np.flatnonzero(np.concatenate(([True], ~_same_key(
                [c[:-1] for c in kc], [c[1:] for c in kc]))))
            if tail is None or not _same_key(tail, [c[:1] for c in kc])[0]:
                last = None
            ts = b.column(ts_col).cast(pa.int64())
            accepted, last = ttl_accept(
                ts.fill_null(0).to_numpy(),
                ts.is_null().to_numpy(zero_copy_only=False),
                starts, ttl_us, last)
            tail = [c[-1:] for c in kc]
            yield b.append_column(verdict_col, verdicts.take(
                pa.array(accepted.view(np.int8))))

    return staged.mapInArrow(run, out_schema)
