#!/usr/bin/env python3
"""The engine's benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload burst_ledger --seed 1 \
        --seconds 8 --trace 0

Run from the repository root. The run generates (or reuses) the
workload's inputs, starts the engine with ``get_session``, warms up with
a whole pass, then runs whole passes until ``--seconds`` seconds have
passed (at least one).
Afterwards it checks the last pass's outputs against answers computed
without the engine and prints, as the last line of standard output,
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The timed passes' wall-clock throughput and request latency, and the
host noise (load average, hypervisor steal, other Spark JVMs), go to the
line before it and to the run record under ``.perfbench/runs``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

import inputs
import procstat
import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
ENGINE = os.path.join(ROOT, "distributed_deduplicator_spark")

# The first pass pays JVM class loading, Python-worker start, JIT and
# codegen (2.5-3x a steady pass); the second runs within ~10% of the
# third. A second warm-up pass would cost more of the run budget than a
# timed pass, so timing starts at the second pass.
WARM_PASSES = 1
CPUS = min(4, len(os.sched_getaffinity(0)))
DRIVER_MEM = "2g"

END_TO_END_UNITS = {
    "setup_s": "s",
    "cpu_s_per_mrecord": "s",
    "peak_rss_mb": "MB",
}


def parse_args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(inputs.WORKLOAD_PARTS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def session_conf(run_dir: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.driver.memory": DRIVER_MEM,
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
        })
    return conf


def stop_engine(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)


def run_pass(wl, tracer, timed: bool, pass_no: int,
             failures: list[str]) -> float:
    """One whole pass; a request that raises is marked failed in its
    span and noted in ``failures``, and the pass goes on."""
    from distributed_deduplicator_spark.operators.similarity import (
        release_persisted)
    t0 = time.perf_counter()
    with tracer.span("pass", kind="pass", timed=timed, pass_no=pass_no):
        for part, name, fn in wl.requests():
            with tracer.span(name, kind="request", part=part.name,
                             timed=timed, pass_no=pass_no) as s:
                try:
                    fn()
                except Exception as e:          # noqa: BLE001
                    traceback.print_exc()
                    s["failed"] = True
                    msg = (str(e).strip().splitlines() or [""])[0][:300]
                    failures.append(f"{name} failed in pass {pass_no}: "
                                    f"{type(e).__name__}: {msg}")
            release_persisted()
    return time.perf_counter() - t0


def run(args, run_dir: str, noise: dict) -> dict:
    """One run; returns the run record (metrics, errors, noise)."""
    inps = {part: inputs.prepare(part, args.seed,
                                 os.path.join(WORK, "inputs"))
            for part in inputs.WORKLOAD_PARTS[args.workload]}
    gen_s = sum(i["gen_s"] for i in inps.values())
    import workloads
    from distributed_deduplicator_spark import get_session

    trace = bool(args.trace)
    tracer = tracing.Tracer(procstat.tree_cpu_s if trace else None)
    t_session = time.perf_counter()
    spark = get_session("perfbench", master=f"local[{CPUS}]",
                        shuffle_partitions=CPUS,
                        extra_conf=session_conf(run_dir, trace))
    spark.sparkContext.setLogLevel("ERROR")
    session_start_s = time.perf_counter() - t_session
    try:
        wl = workloads.Workload(spark, inps, os.path.join(run_dir, "out"))
        failures: list[str] = []
        t_warm = time.perf_counter()
        warm = [run_pass(wl, tracer, False, p, failures)
                for p in range(WARM_PASSES)]
        warm_s = time.perf_counter() - t_warm
        setup_s = time.time() - procstat.process_start_epoch() - gen_s

        cpu0, steal0 = procstat.tree_cpu_s(), procstat.steal_ticks()
        t0 = time.perf_counter()
        passes = []
        with procstat.RssSampler() as rss:
            while time.perf_counter() - t0 < args.seconds:
                passes.append(run_pass(wl, tracer, True,
                                       WARM_PASSES + len(passes), failures))
        window = time.perf_counter() - t0
        cpu = procstat.tree_cpu_s() - cpu0
        steal_s = (procstat.steal_ticks() - steal0) / procstat.CLK_TCK
        op_p50 = {op: statistics.median(w)
                  for op, w in wl.request_walls(tracer).items() if w}

        # No operation is expected to fail, and a failed request leaves
        # no output of this pass: a failure makes the run wrong and
        # leaves nothing to break down or check.
        layer = wl.breakdown(tracer) if trace and not failures else {}
        t_check = time.perf_counter()
        errors = failures or wl.check()
        check_s = time.perf_counter() - t_check
    finally:
        stop_engine(spark)

    # Wall-clock throughput and latency of the timed passes go to the
    # run record only: hypervisor steal moves them by up to 2x from one
    # run to the next (README, "Spread over ten seeds"), far past any
    # bound a comparison could hold them to.
    n_rec = wl.records * len(passes)
    wall = {
        "records_per_s": n_rec / window,
        # each op's median request wall, then their geometric mean: one
        # median over the requests of all ops would jump between ops of
        # unlike size from run to run
        "request_p50_gmean_s": (statistics.geometric_mean(op_p50.values())
                                if op_p50 else window),
    }
    timed = [s for s in tracer.spans
             if s.get("kind") == "request" and s["timed"]]
    noise.update({
        "loadavg_end": procstat.loadavg(),
        "steal_cores": round(steal_s / window, 3),
        "window_s": round(window, 3),
        "session_start_s": round(session_start_s, 3),
        "warm_passes": [round(w, 3) for w in warm],
        "timed_passes": [round(w, 3) for w in passes],
        "request_p50_by_op": {
            n: round(statistics.median(s["wall_s"] for s in timed
                                       if s["name"] == n), 3)
            for n in dict.fromkeys(s["name"] for s in timed)},
        "op_p50_s": {op: round(v, 3) for op, v in op_p50.items()},
        "check_s": round(check_s, 3),
        "input_gen_s": round(gen_s, 3),
        "rss_samples": rss.samples,
    })
    if trace:
        log = tracing.EventLog(os.path.join(run_dir, "eventlog"))
        metrics = tracing.layer_metrics(tracer, log, layer, session_start_s,
                                        warm_s, errors)
    else:
        values = {
            "setup_s": setup_s,
            "cpu_s_per_mrecord": cpu / (n_rec / 1e6),
            "peak_rss_mb": rss.peak / 2**20,
        }
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]}
                   for k, v in values.items()}
    return {"workload": args.workload, "seed": args.seed,
            "trace": args.trace, "seconds": args.seconds,
            "attempted": len(timed),
            "failed": sum(1 for s in timed if s.get("failed")),
            "errors": errors, "quality": wl.quality(), "noise": noise,
            "wall": wall,
            "metrics": metrics, "spans": tracer.spans if trace else None}


def main() -> int:
    if not os.path.isdir(ENGINE):
        print(f"engine sources not found at {ENGINE}: run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(1, ROOT)
    args = parse_args()

    noise = {"loadavg_start": procstat.loadavg(),
             "foreign_spark_jvms": len(procstat.foreign_spark_jvms())}
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    # temp files of Python, the engine and every JVM (the spark-submit
    # launcher's too) stay in the run dir; no JVM writes /tmp/hsperfdata
    tmp = os.path.join(run_dir, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                       "-XX:-UsePerfData")
    tempfile.tempdir = None
    try:
        record = run(args, run_dir, noise)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    stem = os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}"
                        f"-t{args.trace}-{os.getpid()}")
    spans = record.pop("spans")
    if spans is not None:
        with open(stem + ".spans.json", "w") as fh:
            json.dump(spans, fh)
    with open(stem + ".json", "w") as fh:
        json.dump(record, fh, indent=1)
    for e in record["errors"]:
        print(f"CHECK FAILED: {e}", file=sys.stderr)
    print(json.dumps({"wall": record["wall"], "noise": record["noise"],
                      "quality": record["quality"]}))
    print(json.dumps({"correct": not record["errors"],
                      "attempted": record["attempted"],
                      "failed": record["failed"],
                      "metrics": record["metrics"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
