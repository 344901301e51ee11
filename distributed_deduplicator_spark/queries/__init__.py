"""Query registry: every operator exposed as (spark, sf_dir) -> DataFrame,
with a DuckDB oracle-SQL twin where SQL-expressible.

Registry contract (driver __spark_entry__.py): column names must match
between the Spark result and the oracle SQL — every computed column is
aliased identically on both sides. All queries are deterministic
(no uuid()/current_timestamp inside results; ids derive from data via
sha2 — replacing the reference's UUIDv4, DeduplicationProvider.kt:43).

Cross-engine float discipline (so the driver's value-hash matches):
- never emit a raw SUM over doubles (order-dependent); SUM through a
  DECIMAL cast (exact, associative) and cast back if a double is wanted;
- averages = exact decimal SUM cast to double, divided by COUNT — the
  same IEEE division on identical inputs is bit-identical in both
  engines;
- per-row double arithmetic (same inputs, same ops) is deterministic
  and safe; grouped stats over per-row doubles must be
  order-independent (min/max/count/percentile — never a bare mean).

Terminal-type discipline (round-2 lesson): every numeric OUTPUT column
is DOUBLE or BIGINT on both engines. DuckDB's pandas conversion floats
DECIMAL and HUGEINT aggregates while Spark keeps Decimal/int64 — a
value-equal result can still hash-mismatch on type. Aggregate exactly
over DECIMAL/ints inside, CAST the result at the boundary; the local
gate (tests/oracle.py) bans Decimal terminals outright.
"""

from distributed_deduplicator_spark.queries.registry import (  # noqa: F401
    QUERIES,
    ORACLE_SQL,
    query,
)

# Importing these modules populates the registry. ORDER MATTERS: the
# driver's correctness harness checks the FIRST 50 registry entries per
# round, so modules whose queries have never had a driver row go first
# (multimodal carries guarded_process — reference R10 — never verified
# in rounds 1-3). dedup + relational rows are banked green in
# CORRECTNESS_r01..r03 on unchanged code; they close the rotation.
# VERIFIED.md tracks the union of green rows across rounds.
from distributed_deduplicator_spark.queries import multimodal_queries  # noqa: F401,E402
from distributed_deduplicator_spark.queries import pipeline_queries  # noqa: F401,E402
from distributed_deduplicator_spark.queries import similarity_queries  # noqa: F401,E402
from distributed_deduplicator_spark.queries import streaming_queries  # noqa: F401,E402
from distributed_deduplicator_spark.queries import temporal_queries  # noqa: F401,E402
from distributed_deduplicator_spark.queries import text_queries  # noqa: F401,E402
from distributed_deduplicator_spark.queries import dedup_queries  # noqa: F401,E402
from distributed_deduplicator_spark.queries import relational  # noqa: F401,E402

# STANDING FRESHNESS POLICY (round 10+): each round's 50-slot window
# takes (1) every query whose code/plan changed that round — the
# changed-code rule, plan-changed beats stale-refresh — then (2) the
# remaining slots (~45 in a typical round) refresh the OLDEST-banked
# driver rows first (rows-only entries before oracle rows within the
# same age class — weakest evidence class first; ties broken
# alphabetically for determinism). With 179 registered queries and
# ~45 refresh slots/round, every query's newest driver row is at most
# 4 rounds old in steady state. VERIFIED.md carries the cross-round
# ledger and per-round histograms.
#
# Round-11 verification rotation. The first 50 names are pinned
# (2 + 35 + 13):
# - the TWO ANN queries whose code changed in round 11 (changed-code
#   rule): ann_ivfpq_topk's probe join ships the dim·4-byte float32
#   query unit vector instead of the ~2 KB precomputed ADC table
#   (rebuilt in-task from an in-band broadcast codebook row —
#   VERDICT r10 #2; executed plan changed, A/B recall-identical and
#   1.3× faster at sf1). ann_lsh_topk's function body changed with
#   its executed plan unchanged; pinned anyway.
#   Round 11's other code changes touch no registered query's
#   executed path: cosine_topk_bruteforce's corpus_min_partitions
#   derived-plan branch clamps to the session shuffle width (ADVICE
#   r10 — non-default branch, no registered caller), and bench.py
#   gained the bounded calm-wait + stricter foreign-JVM match
#   (tooling).
# - the 35 queries whose newest driver row is round 7 — the entire
#   r7-banked queue from VERIFIED.md (after this round no query's
#   newest evidence predates r8).
# - 13 round-8-banked rows, weakest-evidence-first per the standing
#   policy: the 7 r8 rows-only entries alphabetically, then the
#   first 6 r8 oracle rows alphabetically.
# Everything after the window keeps module registration order. Update
# this list each round as the window rotates; an unknown name fails
# import.
_ROTATION_HEAD = [
    # code changed in round 11 (ANN wire-format cuts)
    "ann_ivfpq_topk", "ann_lsh_topk",
    # newest driver row r7 — the whole r7 queue, alphabetical (no
    # rows-only entries in this class)
    "filtered_agg_orders", "fuzzy_name_pairs", "fuzzy_name_topk",
    "grouping_sets_orders", "join_anti", "join_dim_broadcast",
    "join_full_outer_counts", "join_left_order_counts", "join_semi",
    "json_props_stats", "order_priority_check", "pareto_quality_front",
    "percentiles_by_status", "pivot_status_counts", "predicate_in_null",
    "price_histogram", "returned_items_by_nation", "rollup_orders",
    "salted_skew_join_revenue", "scalar_functions",
    "semantic_decontaminate", "semantic_dedup_keep_one", "set_ops",
    "shipping_priority", "sql_cte_subqueries", "table_profile",
    "text_stats", "topk_frequent_event_types", "topk_global",
    "volume_shipping", "window_distribution_funcs", "window_first_last",
    "window_rank_dense", "window_running_sum", "window_topk_per_group",
    # r8-banked refresh, weakest evidence class first: the 7 r8
    # rows-only entries alphabetically...
    "frequent_tokens_approx", "near_dup_clusters", "near_dup_ensemble",
    "simhash_near_dup_pairs", "stream_dedup_watermark",
    "text_length_quantiles", "winnow_near_dup_pairs",
    # ...then the first 6 r8 oracle rows alphabetically
    "agg_distinct", "asof_join_orders", "attribution_window_join",
    "benchmark_decontaminate", "chunk_dedup_stats", "corpus_mix_weights",
]


def _rotate(head: list[str]) -> None:
    missing = [n for n in head if n not in QUERIES]
    if missing:
        raise KeyError(f"rotation names not registered: {missing}")
    if len(set(head)) != len(head):
        raise ValueError("duplicate names in rotation head")
    ordered = {n: QUERIES[n] for n in head}
    ordered.update((n, f) for n, f in QUERIES.items() if n not in ordered)
    QUERIES.clear()
    QUERIES.update(ordered)


_rotate(_ROTATION_HEAD)
