"""Golden dedup scenarios — the reference's integration-test contract
(DeduplicationProviderTest.kt, see FIXTURES.md §A) re-expressed as
batch DataFrames with verdict columns instead of exceptions."""

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from distributed_deduplicator_spark.operators import (
    STATE_SUCCESS, STATE_DUPLICATE, STATE_RETRY, STATE_FAILED,
    arbitrate_ledger, dedup_first_wins, dedup_within_ttl, latest_state,
)

SCHEMA = T.StructType([
    T.StructField("key", T.StringType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("attempt_id", T.StringType()),
    T.StructField("state", T.ShortType()),
])

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _ledger(spark, rows):
    return spark.createDataFrame(
        [(k, T0 + dt.timedelta(seconds=s), a, st) for k, s, a, st in rows],
        SCHEMA)


def _verdicts(df, key):
    return [r.verdict for r in
            df.where(F.col("key") == key)
              .orderBy("ts", "attempt_id").collect()]


def test_single_key_success(spark):
    """One attempt → [SUCCESS] (DeduplicationProviderTest.kt:78-102)."""
    led = _ledger(spark, [("k1", 0, "a1", STATE_SUCCESS)])
    out = arbitrate_ledger(led, ["key"], ["ts", "attempt_id"])
    assert _verdicts(out, "k1") == ["SUCCESS"]


def test_sequential_duplicate(spark):
    """Two attempts, disjoint times → [SUCCESS, DUPLICATE]
    (DeduplicationProviderTest.kt:104-143)."""
    led = _ledger(spark, [("k1", 0, "a1", STATE_SUCCESS),
                          ("k1", 10, "a2", STATE_SUCCESS)])
    out = arbitrate_ledger(led, ["key"], ["ts", "attempt_id"])
    assert _verdicts(out, "k1") == ["SUCCESS", "DUPLICATE"]


def test_parallel_contention_end_state(spark):
    """Pre-replay end state [RETRY, DUPLICATE]: RETRY rows pass through
    as audit rows and never block (DeduplicationProviderTest.kt:145-209)."""
    led = _ledger(spark, [("k1", 0, "a1", STATE_RETRY),
                          ("k1", 0, "a2", STATE_DUPLICATE)])
    out = arbitrate_ledger(led, ["key"], ["ts", "attempt_id"])
    assert _verdicts(out, "k1") == ["RETRY", "DUPLICATE"]
    # replay: the retrying claimant claims again later and is now sole
    led2 = _ledger(spark, [("k1", 0, "a1", STATE_RETRY),
                           ("k1", 0, "a2", STATE_DUPLICATE),
                           ("k1", 5, "a1", STATE_SUCCESS)])
    out2 = arbitrate_ledger(led2, ["key"], ["ts", "attempt_id"])
    assert _verdicts(out2, "k1") == ["RETRY", "DUPLICATE", "SUCCESS"]


def test_failed_key_reclaimable(spark):
    """Block failure → FAILED; only SUCCESS blocks future attempts
    (DeduplicationProviderTest.kt:212-241; filter at
    DeduplicationProvider.kt:132)."""
    led = _ledger(spark, [("k1", 0, "a1", STATE_FAILED),
                          ("k1", 10, "a2", STATE_SUCCESS)])
    out = arbitrate_ledger(led, ["key"], ["ts", "attempt_id"])
    assert _verdicts(out, "k1") == ["FAILED", "SUCCESS"]


def test_compensation_write_failure_row_stays_success(spark):
    """If the compensation write is not applied the row stays SUCCESS
    and still blocks (DeduplicationProviderTest.kt:243-284)."""
    led = _ledger(spark, [("k1", 0, "a1", STATE_SUCCESS),
                          ("k1", 10, "a2", STATE_SUCCESS)])
    out = arbitrate_ledger(led, ["key"], ["ts", "attempt_id"])
    assert _verdicts(out, "k1") == ["SUCCESS", "DUPLICATE"]


def test_latest_state_resolution(spark):
    """State-transition log resolves to the latest row per key (R6/R11)."""
    led = _ledger(spark, [("k1", 0, "a1", STATE_SUCCESS),
                          ("k1", 5, "a1", STATE_FAILED),
                          ("k2", 0, "b1", STATE_SUCCESS)])
    cur = latest_state(led, pk=["key"], version_by=["ts", "attempt_id"])
    states = {r.key: r.state for r in cur.collect()}
    assert states == {"k1": STATE_FAILED, "k2": STATE_SUCCESS}


def test_ttl_expiry_horizon(spark):
    """Gap > ttl → both attempts SUCCESS (README.md:44 TTL semantics)."""
    led = _ledger(spark, [("k1", 0, "a1", STATE_SUCCESS),
                          ("k1", 100, "a2", STATE_SUCCESS),
                          ("k1", 3700, "a3", STATE_SUCCESS)])
    out = dedup_within_ttl(led, ["key"], "ts", ttl_seconds=3600,
                           order_by=["ts", "attempt_id"])
    assert _verdicts(out, "k1") == ["SUCCESS", "DUPLICATE", "SUCCESS"]


def test_ttl_zero_keeps_forever(spark):
    """ttl=0 → keep forever: plain first-wins (README.md:44)."""
    led = _ledger(spark, [("k1", 0, "a1", STATE_SUCCESS),
                          ("k1", 10**6, "a2", STATE_SUCCESS)])
    out = dedup_within_ttl(led, ["key"], "ts", ttl_seconds=0,
                           order_by=["ts", "attempt_id"])
    assert _verdicts(out, "k1") == ["SUCCESS", "DUPLICATE"]


def test_ttl_fractional_seconds(spark):
    """A fractional TTL counts to the µs, not truncated to whole
    seconds: 0.2 s is inside a 0.5 s horizon, 0.9 s is past it."""
    led = spark.createDataFrame(
        [("k1", T0 + dt.timedelta(seconds=s), f"a{i}", STATE_SUCCESS)
         for i, s in enumerate([0, 0.2, 0.9])], SCHEMA)
    out = dedup_within_ttl(led, ["key"], "ts", ttl_seconds=0.5,
                           order_by=["ts", "attempt_id"])
    assert _verdicts(out, "k1") == ["SUCCESS", "DUPLICATE", "SUCCESS"]


def test_ttl_null_keys_and_timestamps(spark):
    """Null timestamps sort first and each is SUCCESS, moving no
    horizon; null keys group as one key."""
    rows = [("k1", None, "n1"), ("k1", None, "n2"), ("k1", 0, "a1"),
            ("k1", 10, "a2"), ("k1", 100, "a3"),
            (None, 0, "b1"), (None, 30, "b2"), (None, 61, "b3")]
    led = spark.createDataFrame(
        [(k, None if s is None else T0 + dt.timedelta(seconds=s), a,
          STATE_SUCCESS) for k, s, a in rows], SCHEMA)
    out = dedup_within_ttl(led, ["key"], "ts", ttl_seconds=60,
                           order_by=["ts", "attempt_id"])
    got = {r.attempt_id: r.verdict for r in out.collect()}
    assert got == {"n1": "SUCCESS", "n2": "SUCCESS", "a1": "SUCCESS",
                   "a2": "DUPLICATE", "a3": "SUCCESS",
                   "b1": "SUCCESS", "b2": "DUPLICATE", "b3": "SUCCESS"}


def test_ttl_float_keys_group_like_group_by(spark):
    """Float keys group as in a Spark GROUP BY: every NaN is one key and
    -0.0 is 0.0, also where a key straddles Arrow batches of 2 rows."""
    rows = [(float("nan"), 0, "n1"), (float("nan"), 10, "n2"),
            (float("nan"), 70, "n3"), (-0.0, 0, "z1"), (0.0, 5, "z2"),
            (0.0, 61, "z3"), (1.5, 0, "o1")]
    df = spark.createDataFrame(
        [(k, T0 + dt.timedelta(seconds=s), a) for k, s, a in rows],
        "k double, ts timestamp, attempt_id string")
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "2")
    try:
        got = {r.attempt_id: r.verdict for r in dedup_within_ttl(
            df, ["k"], "ts", 60, order_by=["ts", "attempt_id"]).collect()}
    finally:
        spark.conf.set(conf, old)
    assert got == {"n1": "SUCCESS", "n2": "DUPLICATE", "n3": "SUCCESS",
                   "z1": "SUCCESS", "z2": "DUPLICATE", "z3": "SUCCESS",
                   "o1": "SUCCESS"}


@pytest.mark.parametrize("ttl", [float("nan"), float("inf"), True, "60",
                                 None])
def test_ttl_rejects_non_numeric_ttl(spark, ttl):
    led = _ledger(spark, [("k1", 0, "a1", STATE_SUCCESS)])
    with pytest.raises((TypeError, ValueError)):
        dedup_within_ttl(led, ["key"], "ts", ttl_seconds=ttl)


def test_ttl_order_must_start_with_ts(spark):
    """The recurrence walks each key in ascending time, so an order
    that does not lead with the timestamp, or a time column that is
    not a timestamp, is refused at call time."""
    led = _ledger(spark, [("k1", 0, "a1", STATE_SUCCESS)])
    with pytest.raises(ValueError, match="order_by"):
        dedup_within_ttl(led, ["key"], "ts", ttl_seconds=60,
                         order_by=["attempt_id", "ts"])
    with pytest.raises(ValueError, match="TIMESTAMP"):
        dedup_within_ttl(led.withColumn("ts", F.col("ts").cast("long")),
                         ["key"], "ts", ttl_seconds=60)


def test_ttl_hot_key_is_linear(spark):
    """One key with 20k attempts, AQE on: verdicts equal the sequential
    recurrence, and the plan holds no per-key array fold (the removed
    collect_list + aggregate() fold copied its verdict array at every
    step, quadratic in a key's attempts)."""
    import re

    import numpy as np
    import pandas as pd

    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    rng = np.random.default_rng(7)
    secs = np.sort(rng.integers(0, 86_400, 20_000))
    led = spark.createDataFrame(pd.DataFrame({
        "key": "hot",
        "ts": pd.Timestamp(T0) + pd.to_timedelta(secs, unit="s"),
        "attempt_id": [f"a{i:05d}" for i in range(len(secs))],
        "state": STATE_SUCCESS}), SCHEMA)
    out = dedup_within_ttl(led, ["key"], "ts", ttl_seconds=300,
                           order_by=["ts", "attempt_id"])
    got = [r.verdict for r in sorted(out.collect(),
                                     key=lambda r: (r.ts, r.attempt_id))]
    want, last = [], None
    for s in secs:
        if last is None or s - last >= 300:
            want.append("SUCCESS")
            last = s
        else:
            want.append("DUPLICATE")
    assert got == want
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "collect_list" not in plan
    assert "ArrayAggregate" not in plan
    assert not re.search(r"(?<![A-Za-z])aggregate\(", plan), plan


def test_first_wins_deterministic_tiebreak(spark):
    """Equal timestamps: attempt_id breaks the tie (TIMEUUID total
    order analog, SURVEY.md §4 custom-work item 1)."""
    led = _ledger(spark, [("k1", 0, "b", STATE_SUCCESS),
                          ("k1", 0, "a", STATE_SUCCESS)])
    out = dedup_first_wins(led, ["key"], ["ts", "attempt_id"])
    by_attempt = {r.attempt_id: r.verdict for r in out.collect()}
    assert by_attempt == {"a": "SUCCESS", "b": "DUPLICATE"}
