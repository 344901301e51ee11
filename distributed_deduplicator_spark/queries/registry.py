"""Registry plumbing shared by the query modules."""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    """Register a query (and optionally its DuckDB oracle twin).

    Building a registered query first releases any operator-persisted
    subtrees left over from PREVIOUS queries (similarity/ANN pipelines
    persist shared linear subtrees their caller cannot unpersist before
    the action runs). The driver harness builds and executes queries
    strictly sequentially, so the previous query's blocks are dead by
    then; without this hook a full correctness run accumulates every
    query's cache for the life of the session.

    Interleaving is NOT safe: a build frees blocks that an earlier,
    not-yet-executed DataFrame still reads. A persisted subtree
    silently recomputes, but an operator's localCheckpoint (the
    iterative queries' connected_components result) has no lineage to
    recompute from — build ``near_dup_clusters``, then
    ``dedup_first_wins``, then run the first, and the action fails on
    the missing checkpoint block. Execute each query before building
    the next.
    """
    def deco(fn):
        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            from distributed_deduplicator_spark.operators.similarity import (
                release_persisted)
            release_persisted()
            return fn(spark, sf_dir)
        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return wrapped
    return deco
