"""The benchmark's workloads: what one pass runs, and how it is checked.

A listed workload runs over one or more parts, each with its own input
(``inputs.WORKLOAD_PARTS``): ``burst_ledger`` over the bursty attempt
log and the same kind of log replayed as a stream, ``neardup`` over the
text corpus and the embeddings. A pass is every part's requests run one
after another (a closed loop: a request starts only when the previous
one has finished). Each request calls one public engine function on its
part's input and forces its result in full by writing it to parquet;
the checks read those files back, so nothing is computed twice.
Operator-persisted state is released after every request.

Request names are ``<layer>.<op>``: the engine module the call lands in
and the operation, so a traced run's spans and event-log figures carry
the layer they belong to.
"""

from __future__ import annotations

import os
import shutil
import statistics
import threading
import time
from collections.abc import Callable
from datetime import datetime

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from distributed_deduplicator_spark.functions import text as TXT
from distributed_deduplicator_spark.operators import dedup as D
from distributed_deduplicator_spark.operators import similarity as S
from distributed_deduplicator_spark.streaming.dedup_stream import (
    run_stream_to_df)
from distributed_deduplicator_spark.streaming.sinks import run_upsert_ledger
from distributed_deduplicator_spark.streaming.stateful import (
    ttl_dedup_stateful)

import checks
import inputs as I

Request = tuple[str, Callable[[], None]]


def _write(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").parquet(path)


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso).timestamp()


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _d, files in os.walk(path) for f in files)


def _staged(tracer, name: str, fn: Callable[[], object]) -> float:
    """Run one stage inside a span; returns its wall seconds."""
    with tracer.span(name, kind="stage") as s:
        fn()
    return s["wall_s"]


class Part:
    """One input part bound to a session, its input and an output dir."""

    name = ""

    def __init__(self, spark: SparkSession, inp: dict, out_dir: str):
        self.spark = spark
        self.inp = inp
        self.data = os.path.join(inp["dir"], "data")
        self.out = out_dir
        self.records = int(inp["rows"])
        # figures of output quality the checks measure (recall and the
        # like), kept in the run record
        self.quality: dict[str, float] = {}

    def path(self, name: str) -> str:
        return os.path.join(self.out, name)

    def read(self) -> DataFrame:
        return self.spark.read.parquet(self.data)

    def requests(self) -> list[Request]:
        raise NotImplementedError

    def check(self) -> list[str]:
        """Check the last pass's outputs; returns failure messages."""
        raise NotImplementedError

    def request_walls(self, spans: list[dict]) -> dict[str, list[float]]:
        """Walls of the requests the timed ``spans`` cover, by op: by
        default one per call."""
        out: dict[str, list[float]] = {}
        for s in spans:
            out.setdefault(s["name"], []).append(s["wall_s"])
        return out

    def breakdown(self, tracer) -> dict:
        """Traced mode only: per-layer figures from stages run one at
        a time on materialised inputs."""
        return {}


class LedgerPart(Part):
    """The reference's own query under duplicate bursts: first-wins
    audit, 4-state arbitration, latest state and TTL dedup over one
    append-only attempt log with heavy-tailed key popularity."""

    name = "ledger"
    KEYS = ["key"]
    ORDER = ["ts", "attempt_id"]

    def requests(self) -> list[Request]:
        k, o = self.KEYS, self.ORDER

        def req(out: str, op: Callable[[DataFrame], DataFrame]):
            return lambda: _write(op(self.read()), self.path(out))

        return [
            ("dedup.first_wins",
             req("first_wins", lambda df: D.dedup_first_wins(df, k, o))),
            ("dedup.arbitrate",
             req("arbitrate", lambda df: D.arbitrate_ledger(
                 df, k, o, state_col="state"))),
            ("dedup.latest_state",
             req("latest_state", lambda df: D.latest_state(df, k, o))),
            ("dedup.ttl",
             req("ttl", lambda df: D.dedup_within_ttl(
                 df, k, "ts", I.LEDGER_TTL_S, order_by=o))),
        ]

    def breakdown(self, tracer) -> dict:
        """Forced scan of the input, then the TTL recurrence on the hot
        keys alone and on the cold keys alone, each on its own
        materialised subset."""
        out = {}
        out["sources.scan_s"] = _staged(
            tracer, "sources.scan",
            lambda: self.read().write.format("noop").mode("overwrite").save())
        is_hot = F.col("key") >= I.HOT_KEY_BASE
        for part, cond in (("hot", is_hot), ("cold", ~is_hot)):
            _write(self.read().where(cond), self.path(f"in_{part}"))
            sub = self.spark.read.parquet(self.path(f"in_{part}"))
            out[f"dedup.ttl_{part}.wall_s"] = _staged(
                tracer, f"dedup.ttl_{part}", lambda: _write(
                    D.dedup_within_ttl(sub, self.KEYS, "ts", I.LEDGER_TTL_S,
                                       order_by=self.ORDER),
                    self.path(f"ttl_{part}")))
        return out

    def check(self) -> list[str]:
        src = checks.Ledger(pq.read_table(self.data), "key", "attempt_id")
        t = {n: pq.read_table(self.path(n)) for n in
             ("first_wins", "arbitrate", "latest_state", "ttl")}
        return (checks.check_first_wins(src, t["first_wins"])
                + checks.check_arbitrate(src, t["arbitrate"])
                + checks.check_latest(src, t["latest_state"])
                + checks.check_ttl(src, t["ttl"], I.LEDGER_TTL_S))


class ProgressCollector(StreamingQueryListener):
    """Keeps every StreamingQueryProgress of the session in memory, as
    plain dicts, and notes which queries have terminated."""

    def __init__(self):
        self.progress: list[dict] = []
        self.terminated: set[str] = set()
        self._cv = threading.Condition()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        rec = {
            "id": str(p.id), "batch_id": p.batchId,
            "timestamp": p.timestamp,
            "num_input_rows": p.numInputRows,
            "duration_ms": dict(p.durationMs),
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
            "state_commit_ms": sum(s.commitTimeMs
                                   for s in p.stateOperators),
            "received_s": time.time(),
        }
        with self._cv:
            self.progress.append(rec)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._cv:
            self.terminated.add(str(event.id))
            self._cv.notify_all()

    def wait_terminated(self, n_total: int, timeout_s: float = 10.0) -> None:
        """Block until ``n_total`` queries have terminated (their last
        progress events are delivered before the termination event)."""
        deadline = time.monotonic() + timeout_s
        with self._cv:
            while len(self.terminated) < n_total:
                left = deadline - time.monotonic()
                if left <= 0:
                    raise TimeoutError("streaming listener events missing")
                self._cv.wait(left)


# StreamingQueryProgress measures per micro-batch, as (name, getter);
# the first four apply to both drains, the state figures only to the
# stateful TTL drain (the foreachBatch ledger keeps no state store).
DRAIN_MEASURES = (
    ("batch_s", lambda p: p["duration_ms"]["triggerExecution"] / 1000.0),
    ("add_batch_s", lambda p: p["duration_ms"].get("addBatch", 0) / 1000.0),
    ("commit_s", lambda p: (p["duration_ms"].get("walCommit", 0)
                            + p["duration_ms"].get("commitOffsets", 0))
     / 1000.0),
    ("planning_s", lambda p: p["duration_ms"].get("queryPlanning", 0)
     / 1000.0),
    ("state_rows", lambda p: p["state_rows"]),
    ("state_bytes", lambda p: p["state_bytes"]),
)


class StreamPart(Part):
    """The same kind of log, split into time-ordered files replayed one
    per micro-batch through the latest-state upsert ledger and the
    stateful TTL dedup."""

    name = "stream"
    KEYS = ["user_id", "event_type"]
    ORDER = ["ts", "event_id"]

    def __init__(self, spark, inp, out_dir):
        super().__init__(spark, inp, out_dir)
        self.listener = ProgressCollector()
        spark.streams.addListener(self.listener)
        self.schema = self.read().schema
        self.drains = 0
        self.ttl_files: list[str] = []

    def stream(self) -> DataFrame:
        return (self.spark.readStream.schema(self.schema)
                .option("maxFilesPerTrigger", 1).parquet(self.data))

    def _ledger(self) -> None:
        base, ckpt = self.path("ledger"), self.path("ledger_ckpt")
        shutil.rmtree(base, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        run_upsert_ledger(self.stream(), self.KEYS, self.ORDER, base, ckpt)
        self.drains += 1
        self.listener.wait_terminated(self.drains)

    def _ttl(self) -> None:
        for f in self.ttl_files:               # previous pass's drain
            shutil.rmtree(os.path.dirname(f), ignore_errors=True)
        res = run_stream_to_df(
            ttl_dedup_stateful(self.stream(), I.STREAM_TTL_S,
                               evict_state=False),
            self.spark, no_data_batch=False)
        self.ttl_files = [f.removeprefix("file://")
                          for f in res.inputFiles()]
        self.drains += 1
        self.listener.wait_terminated(self.drains)

    def requests(self) -> list[Request]:
        return [("streaming.ledger", self._ledger),
                ("streaming.ttl", self._ttl)]

    def request_walls(self, spans: list[dict]) -> dict[str, list[float]]:
        """One request per micro-batch: trigger start to commit."""
        out: dict[str, list[float]] = {}
        for name in dict.fromkeys(s["name"] for s in spans):
            out[name] = [p["duration_ms"]["triggerExecution"] / 1000.0
                         for p in self.progress_in(
                             [s for s in spans if s["name"] == name])]
        return out

    def progress_in(self, spans: list[dict]) -> list[dict]:
        """The micro-batches that started inside one of ``spans``."""
        return [p for p in self.listener.progress
                if any(s["start"] <= _epoch(p["timestamp"]) <= s["end"]
                       for s in spans)]

    def breakdown(self, tracer) -> dict:
        """Per-drain medians over the timed micro-batches, from
        StreamingQueryProgress, and the ledger's bytes on disk."""
        out = {}
        for drain, measures in (("ledger", DRAIN_MEASURES[:4]),
                                ("ttl", DRAIN_MEASURES)):
            prog = self.progress_in(
                [s for s in tracer.spans if s.get("kind") == "request"
                 and s.get("timed") and s["name"] == f"streaming.{drain}"])
            for name, get in measures:
                vals = [get(p) for p in prog]
                out[f"streaming.{drain}.{name}"] = (
                    float(statistics.median(vals)) if vals else 0.0)
        written = _dir_bytes(self.path("ledger"))
        out["streaming.ledger.write_bytes"] = written
        out["streaming.ledger.write_amp"] = written / self.inp["bytes"]
        return out

    def ledger_dir(self) -> str:
        base = self.path("ledger")
        return os.path.join(base, sorted(os.listdir(base))[-1])

    def check(self) -> list[str]:
        src = checks.Ledger(pq.read_table(self.data), self.KEYS, "event_id")
        versions = sorted(v for v in os.listdir(self.path("ledger"))
                          if v.startswith("v"))
        errs = []
        if len(versions) != I.STREAM_FILES:
            errs.append(f"ledger wrote {len(versions)} versions for "
                        f"{I.STREAM_FILES} files (one micro-batch per file)")
        ttl = pq.ParquetDataset(self.ttl_files).read()
        return (errs
                + checks.check_latest(src, pq.read_table(self.ledger_dir()))
                + checks.check_ttl(src, ttl, I.STREAM_TTL_S))


class TextPart(Part):
    """Exact fingerprint dedup, and MinHash-LSH near-dup pairs with their
    connected components; the traced breakdown adds the exact
    prefix-filtered Jaccard join."""

    name = "text"

    def requests(self) -> list[Request]:
        def fingerprint():
            df = self.read().withColumn("fp", TXT.fingerprint("text"))
            _write(D.dedup_first_wins(df, ["fp"], ["doc_id"]),
                   self.path("fingerprint"))

        def minhash():
            _write(S.minhash_near_dup(self.read(), "doc_id", "text",
                                      threshold=I.TEXT_THRESHOLD),
                   self.path("minhash"))

        def cc():
            _write(S.connected_components(
                self.spark.read.parquet(self.path("minhash"))),
                self.path("clusters"))

        return [("text.fingerprint_dedup", fingerprint),
                ("similarity.minhash_near_dup", minhash),
                ("similarity.connected_components", cc)]

    def breakdown(self, tracer) -> dict:
        """The MinHash pipeline's public stages one at a time, each on
        the materialised output of the one before, with its funnel
        counts; the Spark jobs one connected_components call runs; and
        the exact Jaccard join (checked with the rest)."""
        out = {}
        out["text.fingerprint.wall_s"] = _staged(
            tracer, "text.fingerprint",
            lambda: self.read().select(TXT.fingerprint("text"))
            .write.format("noop").mode("overwrite").save())
        out["text.shingle.wall_s"] = _staged(
            tracer, "text.shingle", lambda: _write(
                S.shingles(self.read(), "doc_id", "text"),
                self.path("shingles")))
        sh = self.spark.read.parquet(self.path("shingles"))
        out["similarity.minhash_signatures.wall_s"] = _staged(
            tracer, "similarity.minhash_signatures",
            lambda: _write(S.minhash_signatures(sh), self.path("sigs")))
        sig = self.spark.read.parquet(self.path("sigs"))
        out["similarity.lsh_pairs.wall_s"] = _staged(
            tracer, "similarity.lsh_pairs",
            lambda: _write(S.minhash_lsh_pairs(sig, num_hashes=64),
                           self.path("cands")))
        cands = pq.read_table(self.path("cands")).num_rows
        verified = pq.read_table(self.path("minhash")).num_rows
        out["similarity.lsh_candidates"] = cands
        out["similarity.verified_pairs"] = verified
        out["similarity.verify_yield"] = verified / cands if cands else 0.0
        sc = self.spark.sparkContext
        sc.setJobGroup("perfbench-cc", "connected_components")
        try:
            S.connected_components(
                self.spark.read.parquet(self.path("minhash"))
            ).write.format("noop").mode("overwrite").save()
            S.release_persisted()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        out["similarity.cc_jobs"] = len(
            sc.statusTracker().getJobIdsForGroup("perfbench-cc"))
        out["similarity.jaccard_join.wall_s"] = _staged(
            tracer, "similarity.jaccard_join", lambda: _write(
                S.jaccard_similarity_join(self.read(), "doc_id", "text",
                                          threshold=I.TEXT_THRESHOLD),
                self.path("jaccard")))
        S.release_persisted()
        return out

    def check(self) -> list[str]:
        src = pq.read_table(self.data)
        ids = src.column("doc_id").to_pylist()
        texts = src.column("text").to_pylist()
        exact = checks.exact_jaccard_pairs(ids, texts, I.TEXT_THRESHOLD)
        mh = pq.read_table(self.path("minhash"))
        self.quality["minhash.pair_recall"] = checks.minhash_recall(exact, mh)
        errs = (checks.check_fingerprints(
                    ids, texts, pq.read_table(self.path("fingerprint")))
                + checks.check_minhash_pairs(ids, texts, exact, mh,
                                             checks.MINHASH_RECALL_FLOOR)
                + checks.check_clusters(
                    mh, pq.read_table(self.path("clusters"))))
        if os.path.exists(self.path("jaccard")):      # traced runs
            errs += checks.check_jaccard_join(
                exact, pq.read_table(self.path("jaccard")))
        return errs


class VectorPart(Part):
    """All-pairs approximate cosine top-k over clustered embeddings with
    planted near-identical families, by random-hyperplane LSH with the
    grouped per-bucket GEMM scorer, at the operator's own sizing."""

    name = "vectors"

    def requests(self) -> list[Request]:
        def lsh():
            # n is the row count a caller takes from file statistics;
            # tables and planes follow from it by the operator's default
            _write(S.ann_lsh_topk(self.read(), k=I.VEC_K, n=self.records),
                   self.path("ann_lsh"))

        return [("similarity.ann_lsh", lsh)]

    def breakdown(self, tracer) -> dict:
        """Unit vectors and bucket assignment as materialised stages,
        and the bucket-size funnel the per-bucket GEMMs work through."""
        tables, planes = S._lsh_auto_sizing(self.records)
        out = {}
        out["similarity.unit_vectors.wall_s"] = _staged(
            tracer, "similarity.unit_vectors", lambda: _write(
                S.unit_vectors(self.read()), self.path("units")))
        units = self.spark.read.parquet(self.path("units"))
        out["similarity.rp_lsh_buckets.wall_s"] = _staged(
            tracer, "similarity.rp_lsh_buckets", lambda: _write(
                S.rp_lsh_buckets(units, tables, planes, dim=I.VEC_DIM,
                                 unit=units),
                self.path("buckets")))
        sizes = (pq.read_table(self.path("buckets"))
                 .group_by(["table", "bucket"]).aggregate([([], "count_all")])
                 .column("count_all").to_numpy())
        pairs = int((sizes.astype(np.int64) ** 2).sum())
        emitted = pq.read_table(self.path("ann_lsh")).num_rows
        out["similarity.lsh_bucket_max"] = int(sizes.max())
        out["similarity.lsh_gemm_pairs"] = pairs
        out["similarity.lsh_gemm_yield"] = emitted / pairs
        return out

    def check(self) -> list[str]:
        truth = checks.BruteForceTopK(pq.read_table(self.data), I.VEC_K)
        errs = truth.check(pq.read_table(self.path("ann_lsh")), "ann_lsh",
                           checks.RECALL_FLOOR)
        self.quality[f"ann_lsh.recall_at_{I.VEC_K}"] = truth.recall["ann_lsh"]
        return errs


PARTS = {p.name: p for p in (LedgerPart, StreamPart, TextPart, VectorPart)}


class Workload:
    """A listed workload: its parts' requests run one after another in
    each pass, their checks and traced breakdowns joined."""

    def __init__(self, spark: SparkSession, part_inputs: dict[str, dict],
                 out_dir: str):
        self.parts = [PARTS[name](spark, inp, os.path.join(out_dir, name))
                      for name, inp in part_inputs.items()]
        self.records = sum(p.records for p in self.parts)

    def requests(self) -> list[tuple[Part, str, Callable[[], None]]]:
        return [(p, name, fn) for p in self.parts
                for name, fn in p.requests()]

    def request_walls(self, tracer) -> dict[str, list[float]]:
        """Walls of the timed requests that completed, by op: one per
        call, or one per micro-batch in the stream part."""
        timed = [s for s in tracer.spans if s.get("kind") == "request"
                 and s.get("timed") and not s.get("failed")]
        out: dict[str, list[float]] = {}
        for p in self.parts:
            out.update(p.request_walls(
                [s for s in timed if s["part"] == p.name]))
        return out

    def breakdown(self, tracer) -> dict:
        out: dict = {}
        for p in self.parts:
            out.update(p.breakdown(tracer))
        return out

    def check(self) -> list[str]:
        return [e for p in self.parts for e in p.check()]

    def quality(self) -> dict[str, float]:
        return {k: v for p in self.parts for k, v in p.quality.items()}
