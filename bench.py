"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced with a noop-format write (full computation, no
driver collect — the honest measure of executor-side work).
"""

from __future__ import annotations

import json
import os
import sys
import time

from distributed_deduplicator_spark import get_session
from distributed_deduplicator_spark import queries as Q
from distributed_deduplicator_spark.operators.similarity import (
    release_persisted)

HEADLINE = [
    "dedup_first_wins",
    "dedup_first_wins_winners",
    "dedup_within_ttl",
    "pricing_summary",
    "join_star_revenue",
    "window_running_sum",
    "session_stats",
    "asof_join_orders",
    "rollup_orders",
    "json_props_stats",
    "text_stats",
    "text_fingerprint_dedup",
    "text_winnow_fingerprints",
    "jaccard_ngram_pairs",
    "minhash_near_dup",
    "simhash_fingerprints",
    "cosine_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    # round-7 additions (VERDICT r6 #6): the as-of trio's newest
    # member, the skyline, the persisted-index lifecycle, and the two
    # queries whose round-7 plans changed structurally (q-gram
    # prefix-filtered fuzzy join; tiled-GEMM exact cosine)
    "asof_join_nearest_orders",
    "pareto_quality_front",
    "ann_ivf_persisted_topk",
    "fuzzy_name_topk",
    "embedding_cosine_neardup",
    # round-8 addition (VERDICT r7 #5): the ExactSubstr apply step —
    # the newest operator family's regressions stay visible
    "exactsubstr_prune",
    # round-8 addition: the stream-stream interval join through the
    # tuned availableNow drain (no-data batch skipped, source-sized
    # state-store fan-out) — the knobs' regressions stay visible
    "stream_stream_attribution",
    # round-10 addition: the IVF-PQ path carries this round's
    # candidate-budget re-curve + one-hot-GEMM ADC + dense float32
    # qtab — its wall is the canary for the Arrow-path rewrites
    "ann_ivfpq_topk",
]


def _competing_spark_jvms() -> list[int]:
    """Pids of JVMs already running on this box that look like Spark
    drivers/executors. Called BEFORE this bench creates its own
    session, so every hit is a FOREIGN session. Rationale (BENCH.md
    round-9 root cause): the only reproduced source of in-sweep timing
    inflation was a concurrent Spark session competing for the same
    cores — a bench number taken on a non-idle box must carry its own
    contamination flag rather than read as a code regression.
    Match: a java process whose cmdline names an actual Spark entry
    point (``org.apache.spark`` / ``pyspark``) — the earlier
    bare-substring 'spark' matched any JVM with 'spark' in a path
    argument (ADVICE r10). Best-effort: /proc scan, empty on
    platforms without it; renamed/embedded drivers can still slip
    past, which the loadavg fields partially cover."""
    pids: list[int] = []
    try:
        entries = os.listdir("/proc")
    except OSError:
        return pids
    for ent in entries:
        if not ent.isdigit() or int(ent) == os.getpid():
            continue
        try:
            with open(f"/proc/{ent}/cmdline", "rb") as fh:
                cmd = fh.read().replace(b"\0", b" ").lower()
        except OSError:
            continue
        if b"java" in cmd and (b"org.apache.spark" in cmd
                               or b"pyspark" in cmd):
            pids.append(int(ent))
    return pids


def _wait_for_calm_box(max_wait_s: float = 120.0,
                       loadavg_max: float = 1.5) -> float:
    """Bounded settle loop (VERDICT r10 #4): poll until the 1-min
    loadavg drops under ``loadavg_max`` AND no foreign Spark JVM is
    running, or ``max_wait_s`` elapses — then proceed either way (the
    contention block still records the truth). The round-10 driver
    artifact shipped a loadavg-4.08 number that its own contention
    flag disqualified; waiting up to two minutes for the box to drain
    is cheaper than a whole round of reading timings against the
    clean-session band. Returns seconds actually waited.
    SPARK_GRAFT_BENCH_SETTLE=0 disables (useful when the caller IS
    the other load and knows it)."""
    if os.environ.get("SPARK_GRAFT_BENCH_SETTLE", "1") == "0":
        return 0.0
    t0 = time.monotonic()
    while time.monotonic() - t0 < max_wait_s:
        try:
            load = os.getloadavg()[0]
        except OSError:
            return 0.0  # platform has no loadavg — nothing to wait on
        if load < loadavg_max and not _competing_spark_jvms():
            break
        time.sleep(5.0)
    waited = time.monotonic() - t0
    if waited >= 5.0:
        print(f"  settle: waited {waited:.0f}s for a calm box",
              file=sys.stderr)
    return round(waited, 1)


def _steal_ticks() -> int | None:
    """Cumulative hypervisor steal ticks from /proc/stat (field 8 of
    the aggregate cpu line), or None off-Linux. Motivation (round 11):
    identical-code bench runs on this box read 52–74 s with
    loadavg_start < 1.5 and zero foreign JVMs — the inflation source
    is HOST-level contention (CPU steal), which loadavg cannot see
    (measured ~0.4 cores stolen at idle, more under load). A run's
    steal fraction is the missing contamination signal: read `value`
    against it the same way the foreign-JVM flag is read."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        return int(parts[8]) if parts[0] == "cpu" and len(parts) > 8 \
            else None
    except (OSError, ValueError, IndexError):
        return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # settle first, probe second — both BEFORE get_session so our own
    # JVM (a child py4j gateway) can't self-flag
    settle_waited = _wait_for_calm_box()
    foreign_jvms = _competing_spark_jvms()
    try:
        load_start = round(os.getloadavg()[0], 2)
    except OSError:
        load_start = None
    if foreign_jvms:
        print(f"  WARNING: {len(foreign_jvms)} foreign Spark JVM(s) "
              f"running (pids {foreign_jvms}) — timings below are "
              "contaminated by CPU contention", file=sys.stderr)
    steal0 = _steal_ticks()
    wall0 = time.monotonic()
    spark = get_session("bench")
    spark.sparkContext.setLogLevel("ERROR")
    # Janino compiles since the JVM started
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def _compiles() -> int:
        return codegen.METRIC_COMPILATION_TIME().getCount()

    # Warm every headline pipeline once at the smallest SF so timings
    # measure executor work, not whole-stage-codegen JIT compilation
    # (~5s for the larger expression trees — a fixed driver-side cost
    # that is irrelevant at scale). This pass is PART OF THE BENCH
    # CONTRACT (BENCH.md "Cold-start policy"): the recorded numbers
    # are warm numbers. SPARK_GRAFT_BENCH_WARM=0 skips it for an
    # explicit cold single-shot reading (~1.2x the warm total —
    # JIT + first-scan costs, not a regression).
    warm_compiles = None
    if os.environ.get("SPARK_GRAFT_BENCH_WARM", "1") != "0":
        c0 = _compiles()
        warm_dir = "/root/testdata/sf0.001"
        if not os.path.isdir(warm_dir):
            warm_dir = sf_dir
        for name in HEADLINE:
            Q.QUERIES[name](spark, warm_dir).write.format("noop") \
                .mode("overwrite").save()
        release_persisted()
        warm_compiles = _compiles() - c0

    # Steal-aware acceptance (VERDICT r11 #2): a query whose own timing
    # window saw > STEAL_ACCEPT cores of hypervisor steal was inflated
    # by the HOST, not by the code — re-run it (bounded) and accept the
    # fastest attempt. Every attempt is a full honest timing (same noop
    # write, persisted state released between attempts); nothing is
    # cached across attempts, so min() selects the least-contaminated
    # measurement of identical work rather than a lucky partial one.
    # All attempts are recorded in contention.query_attempts so a
    # reader can audit the acceptance. SPARK_GRAFT_BENCH_STEAL_RETRY=0
    # disables (single-attempt, the pre-r12 behavior).
    steal_accept = 0.5
    max_attempts = 3 if os.environ.get(
        "SPARK_GRAFT_BENCH_STEAL_RETRY", "1") != "0" else 1

    def _timed_attempt(fn) -> tuple[float, float | None, int]:
        st0 = _steal_ticks()
        c0 = _compiles()
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        compiled = _compiles() - c0
        st1 = _steal_ticks()
        stl = None
        if st0 is not None and st1 is not None and wall > 0:
            # average cores stolen DURING this query — steal arrives
            # in bursts, so the run-level average under-flags the
            # specific queries it inflated
            stl = round((st1 - st0) / 100.0 / wall, 2)
        # drop operator-persisted subtrees so cached blocks never
        # accumulate across queries (and never subsidize a later one
        # or a retry of this one)
        release_persisted()
        return wall, stl, compiled

    timings: dict[str, float] = {}
    compiles: dict[str, int] = {}
    query_steal: dict[str, float] = {}
    query_attempts: dict[str, list] = {}
    for name in HEADLINE:
        fn = Q.QUERIES[name]
        attempts: list[tuple[float, float | None, int]] = []
        for i in range(max_attempts):
            wall, stl, n = _timed_attempt(fn)
            attempts.append((wall, stl, n))
            if stl is None or stl <= steal_accept:
                break
            if i + 1 < max_attempts:
                print(f"  {name}: attempt {i + 1} saw {stl:.2f} stolen "
                      "cores — retrying", file=sys.stderr)
        wall, stl, compiles[name] = min(attempts, key=lambda a: a[0])
        timings[name] = round(wall, 3)
        if stl is not None:
            query_steal[name] = stl
        if len(attempts) > 1:
            query_attempts[name] = [
                {"sec": round(w, 3), "steal_cores": s}
                for w, s, _ in attempts]
        print(f"  {name}: {timings[name]:.3f}s", file=sys.stderr)

    total = round(sum(timings.values()), 3)
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        load_end = round(os.getloadavg()[0], 2)
    except OSError:
        load_end = None
    steal1 = _steal_ticks()
    steal_cores = None
    if steal0 is not None and steal1 is not None:
        # ticks are USER_HZ (100/s); average stolen cores over the run
        elapsed = max(time.monotonic() - wall0, 1e-6)
        steal_cores = round((steal1 - steal0) / 100.0 / elapsed, 2)
    print(json.dumps({
        "metric": "headline_query_suite_time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # Janino compiles per query (accepted attempt) and over the
        # whole warm pass (None when skipped). With the warm pass on, a
        # large per-query count means the codegen cache evicted what
        # the warm pass compiled, so the timing is not warm; a few come
        # from plans that differ between sf0.001 and this scale.
        "codegen_compiles": compiles,
        "warm_codegen_compiles": warm_compiles,
        # solo-run contract (BENCH.md): nonzero foreign_spark_jvms
        # means another Spark session shared the box during this run —
        # read `value` against a clean-session band, not as a code
        # regression. loadavg is the softer corroborating signal
        # (includes non-Spark load; 1-min average at start/end).
        "contention": {
            "foreign_spark_jvms": len(foreign_jvms),
            "loadavg_start": load_start,
            "loadavg_end": load_end,
            # seconds spent in the bounded calm-wait before the run
            # (VERDICT r10 #4); > 0 with a still-high loadavg_start
            # means "waited the full bound and proceeded anyway"
            "settle_waited_s": settle_waited,
            # average CPU cores stolen by the hypervisor over the
            # whole run (warm pass included) — host-level contention
            # that loadavg/foreign-JVM probes cannot see (round 11:
            # identical-code runs read 52–74 s; the inflated ones
            # carry the steal). None off-Linux.
            "steal_cores_avg": steal_cores,
            # per-query steal (cores stolen during the ACCEPTED
            # attempt's own window): steal arrives in bursts, so this
            # is the map a reader needs to discount a specific
            # inflated entry instead of the whole run
            "query_steal_cores": query_steal,
            # every attempt of the queries that needed a steal retry
            # (VERDICT r11 #2): [{sec, steal_cores}, ...] in run
            # order; `queries` carries the fastest attempt
            "query_attempts": query_attempts,
        },
    }))
    spark.stop()


if __name__ == "__main__":
    main()
