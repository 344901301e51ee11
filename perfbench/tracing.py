"""Tracing for the benchmark's traced mode.

Spans (name, start, end, parent) are kept in memory around the calls
into each engine layer and written out when the run ends. Engine-side
figures come from Spark's event log, which the traced session writes
into the benchmark's own directory: every job and task whose start falls
inside a request's span is attributed to that request (requests run one
at a time, so the windows do not overlap).
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from collections import defaultdict


class Tracer:
    """In-memory spans. With a ``cpu_probe`` (traced mode) each span also
    records the engine processes' CPU seconds it covered."""

    def __init__(self, cpu_probe=None):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._cpu_probe = cpu_probe

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), **attrs}
        if self._cpu_probe is not None:
            rec["proc_cpu0"] = self._cpu_probe()
        self.spans.append(rec)
        self._stack.append(rec["id"])
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = time.time()
            self._stack.pop()
            if self._cpu_probe is not None:
                rec["proc_cpu_s"] = self._cpu_probe() - rec.pop("proc_cpu0")


# Python-stage SQL metric that Spark reports as a task accumulable, in
# milliseconds: the time the stage's Python workers ran.
PYTHON_RUN_METRIC = "time to run Python workers"


class EventLog:
    """Jobs and tasks of one application's event log."""

    def __init__(self, log_dir: str):
        # Spark writes one directory per application holding numbered
        # event files (events_1_<app>, events_2_<app>, ...)
        files = sorted(
            (f for f in glob.glob(f"{log_dir}/**/events_*", recursive=True)
             if not f.endswith(".crc")),
            key=lambda f: int(os.path.basename(f).split("_")[1]))
        if not files:
            raise RuntimeError(f"no event log under {log_dir}")
        self.jobs: list[dict] = []
        self.tasks: list[dict] = []
        for path in files:
            with open(path) as fh:
                for line in fh:
                    self._event(json.loads(line))

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            self.jobs.append({"id": ev["Job ID"],
                              "submit_ms": ev["Submission Time"]})
        elif kind == "SparkListenerTaskEnd":
            self.tasks.append(self._task(ev))

    def _task(self, ev: dict) -> dict:
        info = ev.get("Task Info", {})
        m = ev.get("Task Metrics") or {}
        wr = m.get("Shuffle Write Metrics", {})
        py_ms = 0
        for acc in info.get("Accumulables", []):
            if acc.get("Name") == PYTHON_RUN_METRIC:
                py_ms += int(acc.get("Update", 0) or 0)
        return {
            "launch_ms": info.get("Launch Time", 0),
            "run_ms": m.get("Executor Run Time", 0),
            "cpu_ns": m.get("Executor CPU Time", 0),
            "gc_ms": m.get("JVM GC Time", 0),
            "spill": (m.get("Memory Bytes Spilled", 0)
                      + m.get("Disk Bytes Spilled", 0)),
            "shuffle_write": wr.get("Shuffle Bytes Written", 0),
            "python_ms": py_ms,
        }

    def window(self, start_s: float, end_s: float) -> dict:
        """Engine figures of the jobs and tasks started in a window."""
        lo, hi = start_s * 1000.0, end_s * 1000.0
        jobs = [j for j in self.jobs if lo <= j["submit_ms"] <= hi]
        tasks = [t for t in self.tasks if lo <= t["launch_ms"] <= hi]
        first = min((j["submit_ms"] for j in jobs), default=hi)
        return {
            "plan_s": (first - lo) / 1000.0,
            "jobs": len(jobs),
            "tasks": len(tasks),
            "executor_run_s": sum(t["run_ms"] for t in tasks) / 1000.0,
            "executor_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
            "gc_s": sum(t["gc_ms"] for t in tasks) / 1000.0,
            "shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
            "spill_bytes": sum(t["spill"] for t in tasks),
            "python_s": sum(t["python_ms"] for t in tasks) / 1000.0,
        }


# Per-request engine measures, each reported per op as <op>.<measure>.
# (Shuffle read is left out: in local mode it equals shuffle write.)
ENGINE_MEASURES = {
    "wall_s": "s", "plan_s": "s", "executor_run_s": "s",
    "executor_cpu_s": "s", "gc_s": "s", "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes", "tasks": "count", "jobs": "count",
}
# The request ops of the listed workloads.
LISTED_OPS = ("dedup.first_wins", "dedup.arbitrate", "dedup.latest_state",
              "dedup.ttl", "streaming.ledger", "streaming.ttl",
              "text.fingerprint_dedup", "similarity.minhash_near_dup",
              "similarity.connected_components", "similarity.ann_lsh")
# The ops whose Arrow/pandas stages report Python-worker time.
PYTHON_OPS = ("similarity.ann_lsh", "streaming.ttl")

_S, _B, _N, _R = "s", "bytes", "count", "ratio"
# name -> (unit, better): the per-layer metrics BENCHMARK.json lists.
# A traced run of a listed workload reports every one of them; a layer
# the workload never reaches reads 0.
PER_LAYER: dict[str, tuple[str, str]] = {
    "session.start_s": (_S, "lower"),
    "session.warm_s": (_S, "lower"),
    "sources.scan_s": (_S, "lower"),
    **{f"{op}.{m}": (u, "lower") for op in LISTED_OPS
       for m, u in ENGINE_MEASURES.items()},
    **{f"{op}.python_s": (_S, "lower") for op in PYTHON_OPS},
    "engine.executor_cpu_share": (_R, "higher"),
    # operators.dedup: the TTL recurrence on the two key shapes
    "dedup.ttl_hot.wall_s": (_S, "lower"),
    "dedup.ttl_cold.wall_s": (_S, "lower"),
    # streaming: StreamingQueryProgress medians, and the ledger's writes
    **{f"streaming.{d}.{m}": (_S, "lower") for d in ("ledger", "ttl")
       for m in ("batch_s", "add_batch_s", "commit_s", "planning_s")},
    "streaming.ttl.state_rows": (_N, "lower"),
    "streaming.ttl.state_bytes": (_B, "lower"),
    "streaming.ledger.write_bytes": (_B, "lower"),
    "streaming.ledger.write_amp": (_R, "lower"),
    # functions.text and the text side of operators.similarity
    "text.fingerprint.wall_s": (_S, "lower"),
    "text.shingle.wall_s": (_S, "lower"),
    "similarity.minhash_signatures.wall_s": (_S, "lower"),
    "similarity.lsh_pairs.wall_s": (_S, "lower"),
    "similarity.jaccard_join.wall_s": (_S, "lower"),
    "similarity.lsh_candidates": (_N, "lower"),
    "similarity.verified_pairs": (_N, "higher"),
    "similarity.verify_yield": (_R, "higher"),
    "similarity.cc_jobs": (_N, "lower"),
    # the vector side of operators.similarity
    "similarity.unit_vectors.wall_s": (_S, "lower"),
    "similarity.rp_lsh_buckets.wall_s": (_S, "lower"),
    "similarity.lsh_bucket_max": (_N, "lower"),
    "similarity.lsh_gemm_pairs": (_N, "lower"),
    "similarity.lsh_gemm_yield": (_R, "higher"),
}

# /proc CPU is read in clock ticks from each of the engine's processes
CPU_TICK_SLACK_S = 0.05


def _median(vals) -> float:
    vals = list(vals)
    return float(statistics.median(vals)) if vals else 0.0


def per_request_engine(tracer: Tracer, log: EventLog) -> dict:
    """op name -> list of per-request event-log windows (timed passes)."""
    out: dict[str, list[dict]] = defaultdict(list)
    for s in tracer.spans:
        if (s.get("kind") == "request" and s.get("timed")
                and not s.get("failed")):
            w = log.window(s["start"], s["end"])
            w["wall_s"] = s["wall_s"]
            w["proc_cpu_s"] = s.get("proc_cpu_s", 0.0)
            out[s["name"]].append(w)
    return out


def layer_metrics(tracer: Tracer, log: EventLog, layer: dict,
                  session_start_s: float, warm_s: float,
                  errors: list[str]) -> dict:
    """The traced run's per-layer metrics: per-op medians over the timed
    requests, the workload's stage breakdown, and the share of the
    engine processes' CPU that Spark's task metrics account for.
    Appends to ``errors`` when event-log executor CPU exceeds the /proc
    CPU of the same request (the two paths must agree)."""
    vals: dict[str, float] = {"session.start_s": session_start_s,
                              "session.warm_s": warm_s}
    per = per_request_engine(tracer, log)
    exec_cpu = proc_cpu = 0.0
    for op, recs in per.items():
        for m in ENGINE_MEASURES:
            vals[f"{op}.{m}"] = _median(r[m] for r in recs)
        vals[f"{op}.python_s"] = _median(r["python_s"] for r in recs)
        for r in recs:
            exec_cpu += r["executor_cpu_s"]
            proc_cpu += r["proc_cpu_s"]
            if r["executor_cpu_s"] > r["proc_cpu_s"] + CPU_TICK_SLACK_S:
                errors.append(
                    f"trace: {op} executor CPU {r['executor_cpu_s']:.2f}s "
                    f"exceeds /proc CPU {r['proc_cpu_s']:.2f}s")
    vals["engine.executor_cpu_share"] = (exec_cpu / proc_cpu
                                         if proc_cpu else 0.0)
    vals.update(layer)
    return {n: {"value": float(vals.get(n, 0.0)), "unit": u}
            for n, (u, _b) in PER_LAYER.items()}
