"""Dedup operator suite over the fixtures — the reference-faithful core.

Covers SURVEY.md §2.2 rows: dedup_first_wins, dedup_exact,
dedup_within_ttl, latest-state resolution, 4-state ledger arbitration.
The attempts "ledger" is derived deterministically from the events
fixture (key=(user_id,event_type), ts, attempt_id=event_id, state from
a stable hash) so every query stays oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_deduplicator_spark.operators import dedup as D
from distributed_deduplicator_spark.queries.registry import query
from distributed_deduplicator_spark.sources import load_table


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


def attempts_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 4-state attempts ledger derived from events.

    Mirrors the reference's dedup table shape
    (key, time_uuid, record_uuid, state) from
    provider/DeduplicationProvider.kt:226-236: key = user:event_type,
    attempt order = (ts, event_id), state ∈ {1..4} from a stable hash
    (replaces the nondeterministic UUIDv4 + now() of the reference,
    DeduplicationProvider.kt:43,200 — SURVEY.md §7 risk 2).
    """
    ev = _events(spark, sf_dir)
    return ev.select(
        F.concat_ws(":", F.col("user_id"), F.col("event_type")).alias("key"),
        F.col("ts"),
        F.col("event_id").alias("attempt_id"),
        (F.pmod(F.col("event_id"), F.lit(4)) + 1).cast("smallint").alias("state"),
    )


_LEDGER_SQL = """
SELECT user_id || ':' || event_type AS key,
       ts,
       event_id AS attempt_id,
       CAST(event_id % 4 + 1 AS SMALLINT) AS state
FROM events
"""


@query("dedup_first_wins", oracle="""
SELECT event_id, ts, user_id, event_type, value,
       CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
                                    ORDER BY ts, event_id) = 1
            THEN 'SUCCESS' ELSE 'DUPLICATE' END AS verdict
FROM events
""")
def q_dedup_first_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Earliest attempt per (user_id, event_type) wins; rest DUPLICATE.

    Reference: winner pick provider/DeduplicationProvider.kt:67-94;
    ordering = TIMEUUID clustering order (:230-233) → (ts, event_id).
    """
    ev = _events(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value")
    return D.dedup_first_wins(ev, ["user_id", "event_type"], ["ts", "event_id"])


@query("dedup_first_wins_winners", oracle="""
SELECT user_id, event_type, event_id, ts, value FROM (
  SELECT user_id, event_type, event_id, ts, value,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS rn
  FROM events) WHERE rn = 1
""")
def q_dedup_first_wins_winners(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deduplicated relation itself (winners only), via the
    map-side-combinable struct-min plan (dedup_exact_keys)."""
    ev = _events(spark, sf_dir).select(
        "user_id", "event_type", "event_id", "ts", "value")
    return D.dedup_exact_keys(ev, ["user_id", "event_type"], ["ts", "event_id"])


@query("dedup_exact_distinct", oracle="""
SELECT DISTINCT user_id, event_type FROM events
""")
def q_dedup_exact_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-agnostic exact dedup = projection DISTINCT (reference R8's
    unordered cousin; Spark plans it as a partial+final hash aggregate,
    i.e. burst-absorber-style map-side collapse before the shuffle)."""
    ev = _events(spark, sf_dir).select("user_id", "event_type")
    return D.dedup_exact(ev)


@query("dedup_latest_state", oracle=f"""
WITH ledger AS ({_LEDGER_SQL})
SELECT key, ts, attempt_id, state FROM (
  SELECT key, ts, attempt_id, state,
         row_number() OVER (PARTITION BY key ORDER BY ts DESC, attempt_id DESC) AS rn
  FROM ledger) WHERE rn = 1
""")
def q_dedup_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Current state per key from the append-only transition log —
    the columnar rendering of the reference's in-place Cassandra upsert
    (R6 DeduplicationProvider.kt:157-179) + failure compensation
    (R11 :96-114). Struct-max aggregation ⇒ map-side combinable."""
    return D.latest_state(attempts_ledger(spark, sf_dir),
                          pk=["key"], version_by=["ts", "attempt_id"])


@query("dedup_arbitrate_ledger", oracle=f"""
WITH ledger AS ({_LEDGER_SQL}),
ranked AS (
  SELECT key, ts, attempt_id, state,
         sum(CASE WHEN state = 1 THEN 1 ELSE 0 END)
           OVER (PARTITION BY key ORDER BY ts, attempt_id
                 ROWS UNBOUNDED PRECEDING) AS rn_success
  FROM ledger)
SELECT key, ts, attempt_id, state,
       CAST(CASE WHEN state <> 1 THEN state
                 WHEN rn_success = 1 THEN 1 ELSE 2 END AS SMALLINT) AS verdict_code,
       CASE CAST(CASE WHEN state <> 1 THEN state
                      WHEN rn_success = 1 THEN 1 ELSE 2 END AS SMALLINT)
            WHEN 1 THEN 'SUCCESS' WHEN 2 THEN 'DUPLICATE'
            WHEN 3 THEN 'RETRY' ELSE 'FAILED' END AS verdict
FROM ranked
""")
def q_dedup_arbitrate_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full 4-state arbitration (DeduplicationProvider.kt:67-94): only
    SUCCESS claims compete; earliest keeps SUCCESS, later claims demote
    to DUPLICATE; RETRY/FAILED/DUPLICATE audit rows pass through."""
    return D.arbitrate_ledger(attempts_ledger(spark, sf_dir),
                              keys=["key"], order_by=["ts", "attempt_id"])


# Incremental arbitration: today's batch vs the all-time ledger. The
# cutoff splits the events fixture (spans 2024-01) into "already
# ingested" and "new".
_INCR_CUTOFF = "2024-01-16 00:00:00"

@query("dedup_incremental", oracle=f"""
WITH batch AS (SELECT event_id, user_id, event_type, ts FROM events
               WHERE ts >= TIMESTAMP '{_INCR_CUTOFF}'),
ledger_keys AS (SELECT DISTINCT user_id, event_type FROM events
                WHERE ts < TIMESTAMP '{_INCR_CUTOFF}'),
arb AS (
  SELECT b.event_id, b.user_id, b.event_type, b.ts,
         (l.user_id IS NOT NULL) AS blocked,
         row_number() OVER (PARTITION BY b.user_id, b.event_type
                            ORDER BY b.ts, b.event_id) AS rn
  FROM batch b LEFT JOIN ledger_keys l
    ON b.user_id = l.user_id AND b.event_type = l.event_type)
SELECT user_id, event_type, event_id, ts,
       CASE WHEN blocked THEN 'DUPLICATE'
            WHEN rn = 1 THEN 'SUCCESS'
            ELSE 'DUPLICATE' END AS verdict
FROM arb
""")
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrate a new ingest batch against the existing ledger: keys
    already claimed are DUPLICATE outright (the reference's read-back
    short-circuit, DeduplicationProvider.kt:54-66); fresh keys
    arbitrate first-wins within the batch. Ledger reduces to distinct
    keys before the join — ids only through the shuffle."""
    ev = _events(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "ts")
    cutoff = F.lit(_INCR_CUTOFF).cast("timestamp")
    batch = ev.where(F.col("ts") >= cutoff)
    ledger = ev.where(F.col("ts") < cutoff)
    out = D.dedup_incremental(batch, ledger, ["user_id", "event_type"],
                              ["ts", "event_id"])
    return out.select("user_id", "event_type", "event_id", "ts", "verdict")


# TTL-horizon dedup (R12): accept a row only if >= ttl after the last
# *accepted* row of its key — a data-dependent recurrence. The oracle
# expresses it with a recursive CTE walking each key's rows in order.
_TTL_SECONDS = 86400

@query("dedup_within_ttl", oracle=f"""
WITH RECURSIVE ordered AS (
  SELECT user_id, event_type, ts, event_id,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS rn
  FROM events),
walk AS (
  SELECT user_id, event_type, ts, event_id, rn,
         ts AS last_accepted, TRUE AS accepted
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.user_id, o.event_type, o.ts, o.event_id, o.rn,
         CASE WHEN epoch(o.ts) - epoch(w.last_accepted) >= {_TTL_SECONDS}
              THEN o.ts ELSE w.last_accepted END,
         epoch(o.ts) - epoch(w.last_accepted) >= {_TTL_SECONDS}
  FROM ordered o
  JOIN walk w ON o.user_id = w.user_id AND o.event_type = w.event_type
             AND o.rn = w.rn + 1)
SELECT user_id, event_type, ts, event_id,
       CASE WHEN accepted THEN 'SUCCESS' ELSE 'DUPLICATE' END AS verdict
FROM walk
""")
def q_dedup_within_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TTL-horizon dedup (usingTtl, DeduplicationProvider.kt:203,219;
    README.md:44): key becomes re-claimable once the last accepted
    attempt is older than the TTL. One vectorised kernel per partition
    (mapInArrow over key-sorted rows): sequential within a key, like a
    Cassandra partition, and parallel across keys."""
    ev = _events(spark, sf_dir).select("user_id", "event_type", "ts", "event_id")
    return D.dedup_within_ttl(ev, ["user_id", "event_type"], "ts",
                              ttl_seconds=_TTL_SECONDS,
                              order_by=["ts", "event_id"])


@query("dedup_rate_by_hour", oracle="""
WITH v AS (
  SELECT ts,
         CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
                                      ORDER BY ts, event_id) = 1
              THEN 'SUCCESS' ELSE 'DUPLICATE' END AS verdict
  FROM events)
SELECT time_bucket(INTERVAL '1 hour', ts) AS bucket,
       count(*) AS n_attempts,
       CAST(sum(CASE WHEN verdict = 'DUPLICATE' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_duplicates,
       CAST(CAST(sum(CASE WHEN verdict = 'DUPLICATE' THEN 1 ELSE 0 END)
                 AS DOUBLE) / CAST(count(*) AS DOUBLE) AS DOUBLE)
         AS dup_rate
FROM v
GROUP BY time_bucket(INTERVAL '1 hour', ts)
""")
def q_dedup_rate_by_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup service's own health dashboard: hourly attempt volume,
    duplicate count and duplicate rate derived from first-wins verdicts
    — the reference's absorbed/duplicate audit counters (R13 burst
    metrics, R21 verdict taxonomy) as a time series instead of JMX
    numbers. Two shuffles total: the verdict window on the dedup key,
    then a combinable bucket aggregate; the rate is one exact-int IEEE
    division."""
    ev = _events(spark, sf_dir).select("user_id", "event_type", "ts",
                                       "event_id")
    v = D.dedup_first_wins(ev, keys=["user_id", "event_type"],
                           order_by=["ts", "event_id"])
    bucket = F.window("ts", "1 hour")["start"]
    dup = F.sum(F.when(F.col("verdict") == "DUPLICATE", 1).otherwise(0))
    return (v.groupBy(bucket.alias("bucket"))
            .agg(F.count("*").alias("n_attempts"),
                 dup.cast("bigint").alias("n_duplicates"),
                 (dup.cast("double") / F.count("*").cast("double"))
                 .cast("double").alias("dup_rate")))
