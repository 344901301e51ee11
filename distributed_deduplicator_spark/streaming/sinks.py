"""Streaming sinks: the foreachBatch idempotent-upsert ledger.

The reference's core write is "insert if absent, atomically"
(INSERT ... IF NOT EXISTS, DeduplicationProvider.kt:135-155), i.e. a
keyed upsert with exactly-once observable effect. Structured
Streaming's equivalent recipe (public Spark docs) is foreachBatch +
an IDEMPOTENT write keyed on the batch id: replays after failure
rewrite the same version instead of double-applying.

Each micro-batch merges into a NEW versioned directory
(``v{batch_id}``) derived from the previous one — never overwriting
the directory it is reading (Spark's lazy scans make read-then-
overwrite-same-path self-destructive). At scale the version listing
goes through the object store / Hadoop FS and old versions are
vacuumed by retention; the local-FS listing here is the same protocol.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from distributed_deduplicator_spark.operators.dedup import latest_state


def _versions(base_dir: str) -> list[str]:
    if not os.path.isdir(base_dir):
        return []
    return sorted(d for d in os.listdir(base_dir) if d.startswith("v"))


def upsert_merge_fn(keys: list[str], order_by: list[str], base_dir: str):
    """foreachBatch function maintaining a latest-state ledger.

    Merge = union(previous version, batch) → keep the latest row per
    key (ties broken by the full ``order_by``) → write ``v{batch_id}``.
    Idempotent per batch id: a replayed batch re-derives the same
    version from the same predecessor, so failure replays are
    invisible downstream — the reference's wasApplied discipline as a
    set operation.
    """
    def merge(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        prior = [v for v in _versions(base_dir)
                 if int(v[1:]) < batch_id]
        if prior:
            cur = spark.read.parquet(os.path.join(base_dir, prior[-1]))
            merged_in = cur.unionByName(batch)
        else:
            merged_in = batch
        latest = latest_state(merged_in, keys, order_by)
        latest.write.mode("overwrite").parquet(
            os.path.join(base_dir, f"v{batch_id:09d}"))

    return merge


def run_upsert_ledger(stream_df: DataFrame, keys: list[str],
                      order_by: list[str], base_dir: str,
                      checkpoint_dir: str) -> None:
    """Drain a stream (availableNow) through the upsert ledger sink.
    Micro-batch size is the stream reader's own option (e.g.
    ``maxFilesPerTrigger``)."""
    q = (stream_df.writeStream
         .foreachBatch(upsert_merge_fn(keys, order_by, base_dir))
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()


def read_ledger(spark: SparkSession, base_dir: str) -> DataFrame:
    """The ledger's current state = its highest version."""
    vs = _versions(base_dir)
    if not vs:
        raise ValueError(f"no ledger versions under {base_dir}")
    return spark.read.parquet(os.path.join(base_dir, vs[-1]))
