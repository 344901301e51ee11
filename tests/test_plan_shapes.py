"""Plan-shape regression tests: lock in the physical-plan properties
the engine is designed around (broadcasts where intended, no accidental
cartesian products, pushed filters, no Python stages in pure-JVM
queries, no eager work at query-construction time, no leaked cache).

These guard the round-1 optimization wins against Catalyst/config
drift: a plan that silently degrades to CartesianProduct or loses its
pushed filters would still pass value-level tests at fixture scale
while being catastrophic at 100 TB.
"""

from __future__ import annotations

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from distributed_deduplicator_spark import queries as Q
from distributed_deduplicator_spark.operators import similarity as S
from distributed_deduplicator_spark.operators.relational import salted_join
from distributed_deduplicator_spark.sources import load_table


def _plan(df, mode: str = "formatted") -> str:
    return df.sparkSession._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode)


# Queries whose plan legitimately contains a BroadcastNestedLoopJoin:
# the labeled brute-force cosine baseline (bounded broadcast query set
# × corpus scan — also reused by the activity-profile behavioral top-k)
# and the IVF centroid scorer (n × nlist dot products against a
# broadcast centroid table).
# ann_ivfpq additionally scores corpus × broadcast(m·ksub codebook).
_BNLJ_ALLOWED = {"cosine_topk", "ann_ivf_topk", "ann_ivfpq_topk",
                 "ann_ivf_persisted_topk",
                 # bounded benchmark set broadcast × corpus scan
                 "semantic_decontaminate",
                 "activity_profile_topk", "knn_label_vote",
                 # 1-row scalar aggregate cross-joined into the plan
                 # (global totals / global average) — the standard
                 # scalar-subquery physical shape, O(n·1) work
                 "bigram_lift_topk", "sales_opportunity_by_nation",
                 "important_part_value",
                 # 1-row totals broadcast (unigram LM N_total; Heaps
                 # bucket width from a MAX aggregate)
                 "unigram_lm_quality", "vocab_growth",
                 # 1-row global-total broadcast (TV-drift N)
                 "value_drift_by_day", "source_token_drift",
                 # 1-row totals broadcast (coverage total_freq/n_vocab;
                 # basket-lift n_orders; similarity-histogram n_vecs +
                 # n_pairs)
                 "vocab_coverage_topk", "basket_part_pairs_lift",
                 "embedding_similarity_histogram",
                 "join_key_skew_profile",
                 # 1-row totals broadcast (DSIR N_raw/N_tgt; bigram-LM
                 # distinct-vocab V)
                 "dsir_importance_weights", "bigram_lm_quality"}

# Streaming queries EXECUTE on call (availableNow drain) — exclude them
# from build-time-laziness and plan-string checks. Iterative queries
# (driver loop, one action per round) execute by nature too.
_STREAMING = {n for n in Q.QUERIES if n.startswith("stream_")}
_ITERATIVE = {"near_dup_clusters", "jaccard_dedup_clusters",
              "jaccard_keep_one", "jaccard_keep_best",
              "semantic_dedup_keep_one", "soft_dedup_weights",
              "dedup_savings_by_source", "cluster_size_histogram"}
# Sink round-trips / index builds write at call time by design.
_WRITES = {"parquet_roundtrip_agg", "ann_ivf_persisted_topk"}
_EXECUTES_ON_CALL = _STREAMING | _ITERATIVE | _WRITES


@pytest.fixture(scope="module")
def built_registry(spark, sf_dir):
    """Build every non-executing registered query ONCE — under a
    job-group probe — and cache (df, formatted plan). The laziness,
    cartesian-product and terminal-type gates below share this cache;
    as three independent registry loops they each paid the full
    178-query build (~90 s of suite wall for identical work)."""
    from distributed_deduplicator_spark.sources import (
        load_all, register_views)
    load_all(spark, sf_dir)          # warm the schema cache
    register_views(spark, sf_dir)    # sql_cte_subqueries re-registers
    sc = spark.sparkContext
    group = "plan-build-laziness-probe"
    sc.setJobGroup(group, "assert no jobs during query construction")
    dfs = {}
    try:
        for name, fn in Q.QUERIES.items():
            if name in _EXECUTES_ON_CALL:
                continue
            dfs[name] = fn(spark, sf_dir)  # build only — no action
    finally:
        sc.setJobGroup(None, None)
    jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    # explain outside the probe (it optimizes but never runs a job;
    # keeping it out preserves the probe's exact historical scope)
    plans = {name: _plan(df) for name, df in dfs.items()}
    return {"dfs": dfs, "plans": plans, "jobs": jobs}


def test_query_construction_runs_no_jobs(built_registry):
    """Building any registered batch query must be pure planning: no
    Spark job (no count(), no collect(), no eager caching) until the
    caller's action. Round-1 regression: both ANN paths ran a full-scan
    count() during construction to size their index. Schema-inference
    footer reads are pre-warmed (cached after first load), so any job
    here is real eager work."""
    jobs = built_registry["jobs"]
    assert jobs == [], f"query construction triggered jobs: {jobs}"


def test_no_cartesian_products(built_registry):
    for name, plan in built_registry["plans"].items():
        assert "CartesianProduct" not in plan, \
            f"{name} degenerated to a CartesianProduct"
        if name not in _BNLJ_ALLOWED:
            assert "BroadcastNestedLoopJoin" not in plan, \
                f"{name} uses BroadcastNestedLoopJoin where an " \
                "equi-join is expected"


def test_star_join_broadcasts_dimensions(spark, sf_dir):
    plan = _plan(Q.QUERIES["join_star_revenue"](spark, sf_dir), "simple")
    assert plan.count("BroadcastHashJoin") >= 3, \
        "customer/nation/region dimensions must broadcast"
    # the fact join (lineitem⋈orders) is SMJ/SHJ at real scale; at
    # sf0.001 static stats legitimately broadcast it too, so only the
    # dimension-broadcast discipline is asserted here


def test_filters_push_into_scan(spark, sf_dir):
    plan = _plan(Q.QUERIES["filter_project"](spark, sf_dir))
    assert "PushedFilters: [" in plan
    # the range predicate must reach the parquet reader
    assert "GreaterThanOrEqual(p_size" in plan and \
        "LessThanOrEqual(p_size" in plan, plan
    # column pruning: the scan must not read the full row
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema and "p_comment" not in read_schema[0], \
        "scan reads columns the query never touches"


def test_content_hash_is_pure_jvm(spark, sf_dir):
    plan = _plan(Q.QUERIES["multimodal_content_hash"](spark, sf_dir))
    for marker in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert marker not in plan, \
            f"content hashing must stay in codegen, found {marker}"
    assert "sha2" in plan


def test_guarded_process_pythons_only_winners(spark, sf_dir):
    plan = _plan(Q.QUERIES["guarded_process"](spark, sf_dir), "simple")
    # the Python stage must sit above a winners-only filter: the plan
    # contains exactly one MapInPandas and a SUCCESS filter below it
    assert plan.count("MapInPandas") == 1
    assert "SUCCESS" in plan


def test_no_persistent_rdds_after_release(spark, sf_dir):
    """Operators that persist reused subtrees must hand the blocks back
    via release_persisted() — a long-lived session must not accumulate
    cache (round-1 ADVICE: persist() without unpersist())."""
    d = load_table(spark, sf_dir, "documents")
    S.minhash_near_dup(d, "doc_id", "text", threshold=0.35).count()
    S.jaccard_similarity_join(d, "doc_id", "text", threshold=0.35).count()
    assert S.release_persisted() >= 2
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    assert jmap.size() == 0, "cached RDD blocks leaked past release"


@pytest.mark.xfail(
    strict=True, raises=Py4JJavaError,
    reason="building a registered query releases every operator-"
           "persisted block, including a checkpoint an earlier, "
           "unexecuted query still reads")
def test_interleaved_query_builds_keep_earlier_results(spark, sf_dir):
    """Building a second registered query must not break a first one
    that was built but not yet executed. Today the registry hook frees
    the first query's connected_components localCheckpoint, so its
    action fails on the missing checkpoint block."""
    expected = Q.QUERIES["near_dup_clusters"](spark, sf_dir).count()
    first = Q.QUERIES["near_dup_clusters"](spark, sf_dir)
    Q.QUERIES["dedup_first_wins"](spark, sf_dir)
    try:
        assert first.count() == expected
    finally:
        S.release_persisted()


def test_minhash_rejects_overlong_banding(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    with pytest.raises(ValueError, match="exceeds"):
        S.minhash_near_dup(d, "doc_id", "text",
                           num_hashes=8, bands=16, rows=4)


def test_salted_join_rejects_outer_joins(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    cc = c.withColumnRenamed("c_nationkey", "nationkey")
    nn = n.withColumnRenamed("n_nationkey", "nationkey")
    with pytest.raises(ValueError, match="salted_join"):
        salted_join(cc, nn, on="nationkey", how="right")
    with pytest.raises(ValueError, match="salted_join"):
        salted_join(cc, nn, on="nationkey", how="full_outer")
    # supported paths still work
    assert salted_join(cc, nn, on="nationkey", how="inner").count() > 0


def test_guarded_block_runs_exactly_once_per_key(spark, sf_dir):
    """The reference's loader-runs-once contract
    (CachedDuplicateBurstAbsorberTest.kt:14-24): the user block
    executes exactly once per key — losers never reach Python — and a
    FAILED winner leaves the key re-claimable (evict → reload: the
    loader runs AGAIN for that key on the next round)."""
    from distributed_deduplicator_spark.operators.guarded import (
        guarded_process)
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id", "value")
    calls = spark.sparkContext.accumulator(0)

    def block(row: dict) -> str:
        calls.add(1)
        if row["value"] < 0:
            raise ValueError("negative value")
        return "ok"

    out = guarded_process(ev, ["user_id", "event_type"],
                          ["ts", "event_id"], block).collect()
    n_keys = (ev.select("user_id", "event_type").distinct().count())
    assert calls.value == n_keys, \
        f"block ran {calls.value}× for {n_keys} keys"
    by_verdict = {}
    for r in out:
        by_verdict.setdefault(r.verdict, []).append(r)
    assert all(r.result is None and r.error is None
               for r in by_verdict.get("DUPLICATE", []))
    assert all(r.result == "ok" for r in by_verdict.get("SUCCESS", []))
    assert all(r.error and "ValueError" in r.error
               for r in by_verdict.get("FAILED", []))

    # evict → reload: drop the FAILED attempts from the log (the
    # compensation write made those keys re-claimable) and re-run —
    # the block must run once more per previously-failed key
    failed_keys = {(r.user_id, r.event_type)
                   for r in by_verdict.get("FAILED", [])}
    if failed_keys:
        failed_ids = [r.event_id for r in by_verdict["FAILED"]]
        before = calls.value
        retry_log = ev.where(
            F.struct("user_id", "event_type").isin([
                F.struct(F.lit(u), F.lit(t)) for u, t in failed_keys])
            & ~F.col("event_id").isin(failed_ids))
        reran = guarded_process(retry_log, ["user_id", "event_type"],
                                ["ts", "event_id"], block).collect()
        rekeys = {(r.user_id, r.event_type) for r in reran}
        assert calls.value - before == len(rekeys)


def test_no_nested_or_decimal_terminals(built_registry):
    """Every registered query's OUTPUT schema must be flat scalars:
    the driver canonicalizes results via pandas sort_values, which
    raises `unhashable type` on array/map cells (round-4 red row:
    multimodal_features returned array<float>), and DuckDB's pandas
    conversion floats DECIMAL/HUGEINT so Decimal terminals hash-
    mismatch even when value-equal. This extends tests/oracle.py's
    Decimal ban from oracle-checked queries to the whole registry —
    including rows-only queries, whose row counts the driver still
    canonicalizes."""
    from pyspark.sql import types as T
    banned = (T.ArrayType, T.MapType, T.StructType, T.DecimalType)
    offenders = {}
    for name, df in built_registry["dfs"].items():
        bad = [f"{f.name}:{f.dataType.simpleString()}"
               for f in df.schema.fields
               if isinstance(f.dataType, banned)]
        if bad:
            offenders[name] = bad
    assert not offenders, f"nested/decimal terminals: {offenders}"


@pytest.mark.full  # executing these queries costs ~40 s; every one is
# also executed (and its schema canonicalized) by the round-close
# local drive and the driver itself
def test_no_nested_or_decimal_terminals_executing_queries(spark, sf_dir):
    """Same gate for the queries that execute on call (streaming
    drains, iterative closures, sink round-trips) — their results go
    through the driver canonicalizer too. Kept separate because
    building these runs real work."""
    from pyspark.sql import types as T
    banned = (T.ArrayType, T.MapType, T.StructType, T.DecimalType)
    offenders = {}
    for name in sorted(_EXECUTES_ON_CALL):
        bad = [f"{f.name}:{f.dataType.simpleString()}"
               for f in Q.QUERIES[name](spark, sf_dir).schema.fields
               if isinstance(f.dataType, banned)]
        if bad:
            offenders[name] = bad
    assert not offenders, f"nested/decimal terminals: {offenders}"


def test_ann_sizing_without_n_warns(spark, sf_dir):
    """Omitting `n` on the ANN builders falls back to a plan-build-time
    COUNT scan — allowed for ad-hoc exploration but it must WARN so it
    can never hide in a pipeline; passing `n` must stay silent."""
    emb = load_table(spark, sf_dir, "embeddings")
    import warnings as W
    with pytest.warns(ResourceWarning, match="ann_ivf_topk"):
        S.ann_ivf_topk(emb, k=2)
    S.release_persisted()
    with W.catch_warnings():
        W.simplefilter("error", ResourceWarning)  # any warning → fail
        S.ann_ivf_topk(emb, k=2, n=1000)
    S.release_persisted()


def test_streaming_results_are_file_backed_not_collected(spark, sf_dir):
    """The streaming wrappers must return LAZY file-backed readers, not
    driver-materialized rows: a collect() + createDataFrame round-trip
    shows up as LocalRelation/LocalTableScan in the plan (all data on
    the driver — an OOM at 100 TB), while the scratch-parquet pattern
    (scratch.py) shows a parquet Relation/FileScan. Locks the round-6
    fix that removed the three driver-side collects."""
    checked = 0
    for name in ["stream_dedup_watermark", "stream_upsert_ledger",
                 "stream_minhash_neardup", "stream_windowed_counts"]:
        df = Q.QUERIES[name](spark, sf_dir)
        optimized = df._jdf.queryExecution().optimizedPlan().toString()
        assert "LocalRelation" not in optimized, name
        physical = _plan(df, "simple")
        assert "LocalTableScan" not in physical, name
        assert "FileScan parquet" in physical or "BatchScan" in physical, name
        checked += 1
    assert checked == 4


def test_rotation_head_pins_driver_window():
    """The driver verifies the FIRST 50 registry entries; the explicit
    rotation head must be exactly that window — present, deduplicated,
    and in control of registry order (queries/__init__.py)."""
    from distributed_deduplicator_spark.queries import (
        _ROTATION_HEAD, QUERIES)
    assert len(_ROTATION_HEAD) == 50
    assert len(set(_ROTATION_HEAD)) == 50
    assert list(QUERIES)[:50] == _ROTATION_HEAD


def test_spark_entry_cold_import_contract():
    """The driver imports __spark_entry__ in a fresh interpreter; the
    import must succeed (registry + rotation resolve) and the contract
    functions must expose a consistent registry without needing a
    SparkSession."""
    import subprocess
    import sys
    code = (
        "import __spark_entry__ as e; "
        "qs = e.queries(); osql = e.oracle_sql(); "
        "assert len(qs) >= 127, len(qs); "
        "assert set(osql) <= set(qs); "
        "assert callable(e.entry); "
        "print(len(qs), len(osql))")
    r = subprocess.run([sys.executable, "-c", code],
                       capture_output=True, text=True, cwd="/root/repo",
                       timeout=120)
    assert r.returncode == 0, r.stderr[-2000:]
