"""SparkSession factory with scale-aware defaults.

Replaces the reference's builder/session factory
(provider/builder/DeduplicationProviderBuilder.kt:19-104): where the
reference lazily builds a CqlSession with retry/absorber policy, we build
a SparkSession with the configs that matter at 100 TB:

- AQE on (runtime re-planning, skew-join splitting, partition coalescing),
- auto broadcast for small dimensions,
- Arrow for any pandas-UDF exchange,
- shuffle partition count sized from the environment (local test boxes
  get #cores; a real cluster should set ``spark.sql.shuffle.partitions``
  to ~2-3x total executor cores via spark-submit conf, AQE coalesces
  down from there).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    # Runtime re-planning: coalesce post-shuffle partitions, convert
    # sort-merge to broadcast when runtime stats allow, split skewed
    # partitions (the scale analog of the reference's retry-under-
    # contention policy — skew is our "contention").
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Small dims (region/nation/supplier/part at test SF) broadcast.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Arrow transfer for the few pandas UDF paths (TTL recurrence,
    # embedding math fallbacks).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Read-side split sizing: 128 MiB splits are the right grain for
    # a vectorized parquet scan at any SF.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
    # Parquet timestamps in fixtures are microsecond-precision.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # Python data sources (sources/synthdocs.py) implement pushFilters;
    # the capability is conf-gated.
    "spark.sql.python.filterPushdown.enabled": "true",
    # events.parquet carries TIMESTAMP(NANOS); Spark has no ns timestamp,
    # so read as long and convert in the source layer (sources/fixtures.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # InferFiltersFromGenerate duplicates the explode's child expression
    # into a `size(...) > 0` filter that predicate-pushdown then drags to
    # the scan — for our shingle/token pipelines that evaluates the whole
    # regex+transform chain twice, once interpreted and single-threaded
    # at the file split. The inferred filter is redundant with explode's
    # own empty-array skip; excluding the rule is pure win here.
    "spark.sql.optimizer.excludedRules":
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    # Generated-class cache (static conf; Spark's default is 100). At
    # 100 a working set larger than the cache is evicted before its
    # next use, so every repeat of a query re-runs Janino and then
    # HotSpot's JIT on each class. Distinct classes compiled in one
    # pass, measured on local[4]: perfbench neardup 111, burst_ledger
    # 69, bench.py's 27-query headline warm pass 646.
    "spark.sql.codegen.cache.maxEntries": "1000",
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def get_session(app_name: str = "distributed-deduplicator-spark",
                master: str | None = None,
                shuffle_partitions: int | None = None,
                extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    for tests; on a cluster pass None and configure via spark-submit.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    # AQE plans shuffles at initialPartitionNum and coalesces DOWN to
    # target sizes — so the partition count scales with the data
    # instead of being capped at shuffle.partitions. Without this the
    # heavy shingle-join stages ran 32-way at every SF: measured at
    # sf1 (10× bench scale), jaccard_ngram_pairs took 56.5 s capped vs
    # 19.3 s with 8×cpus initial partitions (sub-linear vs sf0.1
    # again); small SFs are unaffected because AQE coalesces right
    # back. On a real cluster this is the knob that keeps partitions
    # at executor-memory grain as input grows.
    conf["spark.sql.adaptive.coalescePartitions.initialPartitionNum"] = \
        str(8 * shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
