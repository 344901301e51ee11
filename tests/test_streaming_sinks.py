"""foreachBatch upsert-ledger sink: incremental multi-batch merge,
idempotent batch replay, and batch-equivalence of the final state."""

import pytest
from pyspark.sql import functions as F

from distributed_deduplicator_spark.operators.dedup import latest_state
from distributed_deduplicator_spark.sources import load_table
from distributed_deduplicator_spark.streaming.sinks import (
    _versions, read_ledger, run_upsert_ledger, upsert_merge_fn)


def _same(a, b):
    return (a.exceptAll(b).count() == 0
            and b.exceptAll(a).count() == 0)


def test_upsert_ledger_multibatch_matches_batch(spark, sf_dir, tmp_path):
    """Stream the events fixture in 4 single-file micro-batches; the
    ledger's final version must equal the batch latest-state result —
    the merge actually accumulates across batches."""
    ev = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "files")
    ev.repartition(4).write.parquet(src)
    stream = (spark.readStream
              .schema(spark.read.parquet(src).schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(src))
    state = str(tmp_path / "state")
    run_upsert_ledger(stream, ["user_id"], ["ts", "event_id"],
                      base_dir=state,
                      checkpoint_dir=str(tmp_path / "ckpt"))
    assert len(_versions(state)) >= 2, "merge never saw a second batch"
    final = read_ledger(spark, state)
    expect = latest_state(ev, ["user_id"], ["ts", "event_id"])
    assert _same(final, expect)
    # one row per user, and each row is that user's max (ts, event_id)
    assert final.count() == ev.select("user_id").distinct().count()


def test_upsert_merge_replay_is_idempotent(spark, sf_dir, tmp_path):
    """A replayed batch id (failure recovery) must rewrite the same
    version, leaving the ledger state unchanged — the exactly-once
    contract of the foreachBatch recipe."""
    ev = load_table(spark, sf_dir, "events")
    b0 = ev.where(F.col("event_id") % 2 == 0)
    b1 = ev.where(F.col("event_id") % 2 == 1)
    state = str(tmp_path / "state")
    merge = upsert_merge_fn(["user_id"], ["ts", "event_id"], state)
    merge(b0, 0)
    merge(b1, 1)
    after = read_ledger(spark, state).collect()
    merge(b1, 1)                      # replay of the last batch
    assert sorted(map(tuple, read_ledger(spark, state).collect())) \
        == sorted(map(tuple, after))
    assert _same(read_ledger(spark, state),
                 latest_state(ev, ["user_id"], ["ts", "event_id"]))


def test_stream_minhash_neardup_cross_batch_ledger(spark, sf_dir, tmp_path):
    """Split the corpus into two files, replay one file per microbatch:
    near-dup pairs that STRADDLE the files must be suppressed through
    the persistent signature ledger (exactly one of the pair survives),
    and same-file pairs through within-batch arbitration. Verdicts are
    deterministic across a full re-run."""
    from pyspark.sql import functions as F
    from distributed_deduplicator_spark.operators.similarity import (
        minhash_near_dup)
    from distributed_deduplicator_spark.sources import load_table
    from distributed_deduplicator_spark.streaming.neardup_stream import (
        stream_minhash_neardup)

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = str(tmp_path / "corpus")
    docs.where(F.col("doc_id") % 2 == 0).repartition(1) \
        .write.mode("overwrite").parquet(corpus)
    docs.where(F.col("doc_id") % 2 == 1).repartition(1) \
        .write.mode("append").parquet(corpus)

    # ground truth: strong near-dup pairs from the batch operator
    pairs = minhash_near_dup(docs, "doc_id", "text",
                             threshold=0.7).collect()
    assert pairs, "fixture should contain planted near-duplicates"
    straddling = [(r["id_a"], r["id_b"]) for r in pairs
                  if r["id_a"] % 2 != r["id_b"] % 2]
    same_file = [(r["id_a"], r["id_b"]) for r in pairs
                 if r["id_a"] % 2 == r["id_b"] % 2]

    def run(tag):
        base = tmp_path / tag
        out = stream_minhash_neardup(
            spark, f"{corpus}/part-*.parquet",
            ledger_dir=str(base / "ledger"),
            out_dir=str(base / "verdicts"),
            checkpoint_dir=str(base / "ckpt"),
            max_files_per_trigger=1)
        return {r["doc_id"]: r["verdict"] for r in out.collect()}

    v = run("run1")
    assert len(v) == docs.count()
    for a, b in straddling:
        assert {v[a], v[b]} == {"SUCCESS", "DUPLICATE"}, \
            f"cross-file pair ({a},{b}) not arbitrated through the " \
            f"ledger: {v[a]}, {v[b]}"
    for a, b in same_file:
        assert v[max(a, b)] == "DUPLICATE", \
            f"within-batch pair ({a},{b}): larger id must lose"
    # determinism: a fresh replay produces identical verdicts
    assert run("run2") == v


def test_neardup_batch_retry_is_idempotent(spark, sf_dir, tmp_path):
    """ADVICE r4 (medium): a foreachBatch retry of epoch N must not
    append duplicate verdicts, and the retried docs must not band-match
    their own prior ledger write (signature agreement 1.0 would flip
    the whole retried batch to DUPLICATE)."""
    from pyspark.sql import functions as F
    from distributed_deduplicator_spark.sources import load_table
    from distributed_deduplicator_spark.streaming.neardup_stream import (
        process_batch)

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    b0 = docs.where(F.col("doc_id") % 2 == 0)
    b1 = docs.where(F.col("doc_id") % 2 == 1)
    ledger = str(tmp_path / "ledger")
    out = str(tmp_path / "verdicts")

    process_batch(b0, ledger, out, batch_id=0)
    first = sorted(map(tuple, spark.read.parquet(out)
                       .select("doc_id", "verdict").collect()))
    # simulate the epoch-0 retry after a partial failure
    process_batch(b0, ledger, out, batch_id=0)
    retried = sorted(map(tuple, spark.read.parquet(out)
                         .select("doc_id", "verdict").collect()))
    assert retried == first, "retry appended or flipped verdicts"

    # the next epoch still arbitrates against epoch 0's survivors
    process_batch(b1, ledger, out, batch_id=1)
    all_v = spark.read.parquet(out).select("doc_id", "verdict").collect()
    assert len(all_v) == docs.count()
    assert len({r.doc_id for r in all_v}) == len(all_v)


def test_ttl_dedup_stateful_multichunk_group_order(spark, tmp_path):
    """A key whose micro-batch rows span multiple Arrow chunks must
    still walk the TTL recurrence in global (ts, event_id) order.
    Regression: per-chunk sort_values emitted ts=0 as DUPLICATE when
    rows arrived as chunks [20,21] then [0,1] (ttl=10s)."""
    import datetime as dt

    from distributed_deduplicator_spark.streaming.dedup_stream import (
        run_stream_to_df)
    from distributed_deduplicator_spark.streaming.stateful import (
        ttl_dedup_stateful)
    base = dt.datetime(2024, 1, 1)
    rows = [(1, "click", base + dt.timedelta(seconds=s), eid)
            for eid, s in enumerate([20, 21, 0, 1])]
    src = str(tmp_path / "files")
    spark.createDataFrame(
        rows, ["user_id", "event_type", "ts", "event_id"]) \
        .coalesce(1).write.parquet(src)
    stream = (spark.readStream
              .schema(spark.read.parquet(src).schema).parquet(src))
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        out = run_stream_to_df(ttl_dedup_stateful(stream, 10,
                                                  evict_state=False),
                               spark, output_mode="append")
        got = {r.event_id: r.verdict for r in out.collect()}
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                       old)
    # (ts order): s=0 SUCCESS, s=1 DUP, s=20 SUCCESS (20-0>=10), s=21 DUP
    assert got == {2: "SUCCESS", 3: "DUPLICATE",
                   0: "SUCCESS", 1: "DUPLICATE"}


@pytest.mark.full  # format-compat fallback variant; the primary
# cross-batch ledger test above covers the live path every run
def test_neardup_ledger_pre_bks_format_fallback(spark, sf_dir, tmp_path):
    """ADVICE r5 (low): a ledger_dir written in the pre-r5 (id, sig)
    format — no stored 'bks' band keys — must still arbitrate new
    batches (band keys recomputed from the signatures) instead of
    failing on explode('bks'). Cross-format suppression must match the
    same replay over a current-format ledger."""
    import os

    from pyspark.sql import functions as F
    from distributed_deduplicator_spark.sources import load_table
    from distributed_deduplicator_spark.streaming.neardup_stream import (
        process_batch)

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    first = docs.where(F.col("doc_id") % 2 == 0)
    second = docs.where(F.col("doc_id") % 2 == 1)

    def run(tag, strip_bks):
        led = str(tmp_path / tag / "ledger")
        out = str(tmp_path / tag / "verdicts")
        process_batch(first, led, out, batch_id=0)
        if strip_bks:
            # rewrite batch 0's ledger in the legacy (id, sig) layout
            v0 = os.path.join(led, "batch=0")
            legacy = spark.read.parquet(v0).select("id", "sig")
            legacy.write.mode("overwrite").parquet(v0 + ".legacy")
            import shutil
            shutil.rmtree(v0)
            os.rename(v0 + ".legacy", v0)
            assert "bks" not in spark.read.parquet(v0).columns
        process_batch(second, led, out, batch_id=1)
        return {r["doc_id"]: r["verdict"] for r in
                spark.read.parquet(os.path.join(out, "batch=1"))
                     .collect()}

    assert run("legacy", strip_bks=True) == run("current", strip_bks=False)


def test_run_stream_to_df_update_mode(spark, sf_dir, tmp_path):
    """Update mode must drain through the foreachBatch append route
    (the parquet file sink rejects it): over a multi-batch source the
    drained table holds every batch's emitted updates — so the LATEST
    emission per key equals the complete-mode final answer — and an
    unknown mode fails loud."""
    import pytest as _pytest
    from pyspark.sql import functions as F
    from distributed_deduplicator_spark.sources import load_table
    from distributed_deduplicator_spark.streaming.dedup_stream import (
        run_stream_to_df)

    ev = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "files")
    ev.repartition(2).write.parquet(src)
    schema = spark.read.parquet(src).schema

    def agg_stream():
        s = (spark.readStream.schema(schema)
             .option("maxFilesPerTrigger", 1).parquet(src))
        return s.groupBy("event_type").agg(F.count("*").alias("n"))

    upd = run_stream_to_df(agg_stream(), spark, output_mode="update")
    # multi-batch: more emitted rows than final groups
    finals = {r.event_type: r.n
              for r in ev.groupBy("event_type")
                         .agg(F.count("*").alias("n")).collect()}
    assert upd.count() > len(finals)
    last = {r.event_type: r.n
            for r in upd.groupBy("event_type")
                        .agg(F.max("n").alias("n")).collect()}
    assert last == finals
    with _pytest.raises(ValueError, match="output_mode"):
        run_stream_to_df(agg_stream(), spark, output_mode="bogus")


def test_tuned_drain_equals_default_append_join(spark, sf_dir):
    """no_data_batch=False + right-sized partitions must be output-
    identical for an inner stream-stream join (emission never waits on
    the watermark — the trailing batch only evicts state)."""
    from distributed_deduplicator_spark.streaming.dedup_stream import (
        drain_shuffle_partitions, run_stream_to_df,
        stream_stream_attribution)

    base = run_stream_to_df(
        stream_stream_attribution(spark, sf_dir), spark)
    tuned = run_stream_to_df(
        stream_stream_attribution(spark, sf_dir), spark,
        no_data_batch=False,
        shuffle_partitions=drain_shuffle_partitions(spark, sf_dir,
                                                    "events"))
    assert base.count() > 0
    assert _same(base, tuned)


def test_tuned_drain_equals_default_complete_agg(spark, sf_dir):
    """Complete mode re-emits the full state every batch, so the last
    DATA batch already carries the final answer — skipping the no-data
    batch and resizing partitions must not change the drained result."""
    from distributed_deduplicator_spark.streaming.dedup_stream import (
        run_stream_to_df, stream_windowed_counts)

    base = run_stream_to_df(
        stream_windowed_counts(spark, sf_dir), spark,
        output_mode="complete")
    tuned = run_stream_to_df(
        stream_windowed_counts(spark, sf_dir), spark,
        output_mode="complete", no_data_batch=False, shuffle_partitions=4)
    assert base.count() > 0
    assert _same(base, tuned)


def test_no_data_batch_rejected_for_append_agg(spark, sf_dir):
    """The danger case, enforced: an APPEND-mode windowed aggregate
    only emits a window once the watermark passes it, which under
    availableNow happens in the trailing no-data batch — skipping it
    would silently drain nothing, so run_stream_to_df rejects the
    combination outright (the same plan drains fine with the default,
    and in complete mode with the batch skipped)."""
    from distributed_deduplicator_spark.streaming.dedup_stream import (
        run_stream_to_df, stream_windowed_counts)

    with_nodata = run_stream_to_df(
        stream_windowed_counts(spark, sf_dir), spark)
    assert with_nodata.count() > 0
    with pytest.raises(ValueError, match="no_data_batch"):
        run_stream_to_df(stream_windowed_counts(spark, sf_dir), spark,
                         no_data_batch=False)


def test_drain_shuffle_partitions_clamps(spark, sf_dir):
    """Byte-derived sizing clamps to [4, session setting] and degrades
    to None (keep the session setting) when sources are unreadable."""
    from distributed_deduplicator_spark.streaming.dedup_stream import (
        drain_shuffle_partitions)

    session = int(spark.conf.get("spark.sql.shuffle.partitions"))
    got = drain_shuffle_partitions(spark, sf_dir, "events")
    assert got is not None and 4 <= got <= session
    # tiny single table at the test SF → the floor
    assert drain_shuffle_partitions(spark, sf_dir, "region") == 4
    # a compute-bound drain raises the floor (still session-clamped)
    assert drain_shuffle_partitions(spark, sf_dir, "region",
                                    floor=session) == session
    assert drain_shuffle_partitions(spark, "/nonexistent-dir",
                                    "events") is None


def test_tuned_drain_restores_session_confs(spark, sf_dir):
    """The drain-scoped conf overrides must not outlive the drain."""
    from distributed_deduplicator_spark.streaming.dedup_stream import (
        run_stream_to_df, stream_stream_attribution)

    before_parts = spark.conf.get("spark.sql.shuffle.partitions")
    before_nodata = spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled", None)
    run_stream_to_df(stream_stream_attribution(spark, sf_dir), spark,
                     no_data_batch=False, shuffle_partitions=5)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before_parts
    assert spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled",
        None) == before_nodata


def test_no_data_batch_guard_scope(spark, sf_dir):
    """The no_data_batch=False rejection matches exactly the deferred-
    emission shapes: a STATIC-side aggregate joined onto the stream is
    legal (its Aggregate node carries no streaming marker), while an
    outer stream-stream join and a stateful operator with a registered
    timeout — whose final rows only the trailing watermark batch
    emits — are rejected like the streaming aggregate."""
    from pyspark.sql import functions as F
    from distributed_deduplicator_spark.sources import load_table
    from distributed_deduplicator_spark.streaming.dedup_stream import (
        events_stream, run_stream_to_df)
    from distributed_deduplicator_spark.streaming.stateful import (
        ttl_dedup_stateful)

    ev = events_stream(spark, sf_dir)
    # legal: stream x pre-aggregated static dimension, inner join
    dim = (load_table(spark, sf_dir, "customer")
           .groupBy(F.col("c_custkey").alias("user_id"))
           .agg(F.count("*").alias("n_dim")))
    ok = run_stream_to_df(ev.join(dim, "user_id"), spark,
                          no_data_batch=False, shuffle_partitions=4)
    assert ok.count() > 0

    # rejected: outer stream-stream join (null-padded matches emit on
    # state eviction only)
    a = (ev.select(F.col("event_id").alias("ea"),
                   F.col("user_id").alias("ua"),
                   F.col("ts").alias("tsa"))
           .withWatermark("tsa", "1 hour"))
    b = (ev.select(F.col("event_id").alias("eb"),
                   F.col("user_id").alias("ub"),
                   F.col("ts").alias("tsb"))
           .withWatermark("tsb", "1 hour"))
    outer = a.join(
        b, (a.ua == b.ub)
        & (b.tsb >= a.tsa - F.expr("INTERVAL 600 SECONDS"))
        & (b.tsb < a.tsa), "left_outer")
    with pytest.raises(ValueError, match="no_data_batch"):
        run_stream_to_df(outer, spark, no_data_batch=False)

    # rejected: stateful operator with a registered timeout (timed-out
    # groups emit in later batches)
    with pytest.raises(ValueError, match="no_data_batch"):
        run_stream_to_df(ttl_dedup_stateful(ev, 60, evict_state=True),
                         spark, no_data_batch=False)


def test_no_data_batch_rejects_tws_timers(spark, sf_dir):
    """A transformWithState plan with timers registered (timeMode =
    processingTime) defers its timer emissions past the last data
    batch, so no_data_batch=False must reject it — in BOTH append and
    update mode. Spark prints TWS's TimeMode as bare ProcessingTime /
    EventTime (not the GroupStateTimeout spellings), so the guard must
    match both. Plan-build needs no protobuf, so this runs everywhere. The timer-free TWS plan (timeMode=none)
    must stay legal at guard level: where protobuf is absent it fails
    later, in the state runtime, which is not the guard's business."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor)

    from distributed_deduplicator_spark.streaming.dedup_stream import (
        events_stream, run_stream_to_df)
    from distributed_deduplicator_spark.streaming.stateful import (
        OUT_SCHEMA)

    class Passthrough(StatefulProcessor):
        def init(self, handle):
            pass

        def handleInputRows(self, key, rows, timer_values):
            yield from rows

    def tws(time_mode):
        return (events_stream(spark, sf_dir)
                .select("user_id", "event_type", "ts", "event_id",
                        F.lit("SUCCESS").alias("verdict"))
                .groupBy("user_id", "event_type")
                .transformWithStateInPandas(
                    Passthrough(), outputStructType=OUT_SCHEMA,
                    outputMode="append", timeMode=time_mode))

    timed = tws("processingTime")
    with pytest.raises(ValueError, match="no_data_batch"):
        run_stream_to_df(timed, spark, no_data_batch=False)
    with pytest.raises(ValueError, match="no_data_batch"):
        run_stream_to_df(timed, spark, output_mode="update",
                         no_data_batch=False)
    try:
        run_stream_to_df(tws("none"), spark, no_data_batch=False)
    except Exception as exc:
        assert "no_data_batch" not in str(exc)


def test_no_data_batch_update_mode_scope(spark, sf_dir):
    """Update mode with no_data_batch=False: a stateful operator with
    a registered timeout is rejected (its timed-out groups emit in
    LATER batches even in update mode), while an update-mode streaming
    aggregate stays legal — it emits each change as it happens, so the
    trailing watermark batch adds nothing."""
    from distributed_deduplicator_spark.streaming.dedup_stream import (
        run_stream_to_df, stream_windowed_counts)
    from distributed_deduplicator_spark.streaming.dedup_stream import (
        events_stream)
    from distributed_deduplicator_spark.streaming.stateful import (
        ttl_dedup_stateful)

    with pytest.raises(ValueError, match="no_data_batch"):
        run_stream_to_df(
            ttl_dedup_stateful(events_stream(spark, sf_dir), 60,
                               evict_state=True),
            spark, output_mode="update", no_data_batch=False)

    agg = stream_windowed_counts(spark, sf_dir)
    got = run_stream_to_df(agg, spark, output_mode="update",
                           no_data_batch=False, shuffle_partitions=4)
    # one availableNow batch → the update drain equals the final result
    want = run_stream_to_df(stream_windowed_counts(spark, sf_dir),
                            spark, output_mode="complete",
                            shuffle_partitions=4)
    assert _same(got, want)


def test_drain_shuffle_partitions_directory_source(spark, sf_dir,
                                                   tmp_path):
    """A fixture table that is a Spark-written DIRECTORY must size by
    the sum of its part files, not the directory inode (~4 KB, which
    would silently collapse every drain to the floor)."""
    from distributed_deduplicator_spark.streaming.dedup_stream import (
        _DRAIN_BYTES_PER_PARTITION, drain_shuffle_partitions)

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    dir_sf = str(tmp_path / "dirsf")
    ev.repartition(8).write.parquet(f"{dir_sf}/events.parquet")

    import os
    total = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _d, files in os.walk(f"{dir_sf}/events.parquet")
        for f in files)
    want = max(4, -(-total // _DRAIN_BYTES_PER_PARTITION))
    session = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert drain_shuffle_partitions(spark, dir_sf, "events") == \
        min(session, want)
    # floor semantics survive the directory path
    assert drain_shuffle_partitions(spark, dir_sf, "events",
                                    floor=session) == session


def test_ttl_verdicts_matches_naive_loop():
    """The vectorised TTL kernel must equal the row-at-a-time
    recurrence run separately on each run, on arbitrary sorted runs
    (empty ones included), ttls, null timestamps and state carried into
    the first run — including heavy ties, a horizon past int64 and
    ttl_micros(0), which keeps a claim forever."""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    import numpy as np

    from distributed_deduplicator_spark.operators.dedup import (
        TTL_FOREVER_US, ttl_accept)

    def naive(ts_us, null, last_us, ttl_us):
        accepted = []
        for t_us, is_null in zip(ts_us, null):
            if is_null:
                accepted.append(True)
            elif last_us is None or t_us - last_us >= ttl_us:
                accepted.append(True)
                last_us = t_us
            else:
                accepted.append(False)
        return accepted, last_us

    big = TTL_FOREVER_US - 200
    run_st = st.lists(st.tuples(
        st.one_of(st.integers(min_value=0, max_value=300),
                  st.integers(min_value=big, max_value=TTL_FOREVER_US)),
        st.booleans()), max_size=30)

    @settings(max_examples=300, deadline=None)
    @given(
        runs=st.lists(run_st, min_size=1, max_size=6),
        ttl=st.one_of(st.integers(min_value=1, max_value=100),
                      st.just(TTL_FOREVER_US)),
        last=st.one_of(st.none(),
                       st.integers(min_value=-50, max_value=300)),
    )
    def check(runs, ttl, last):
        runs = [sorted(r, key=lambda x: (not x[1], x[0])) for r in runs]
        ts = np.asarray([t for r in runs for t, _ in r], dtype="int64")
        null = np.asarray([n for r in runs for _, n in r], dtype=bool)
        starts = np.cumsum([0] + [len(r) for r in runs[:-1]])
        got, got_last = ttl_accept(ts, null, starts, ttl, last)
        want, carry = [], last
        for r in runs:
            acc, carry = naive([t for t, _ in r], [n for _, n in r],
                               carry, ttl)
            want += acc
            carry = None  # state carries into the first run only
        assert got.tolist() == want
        want_last = naive([t for t, _ in runs[-1]],
                          [n for _, n in runs[-1]],
                          last if len(runs) == 1 else None, ttl)[1]
        assert got_last == want_last

    check()


def test_ttl_batch_and_stream_agree(spark, tmp_path):
    """The same log drained through the stream operator and run through
    the batch operator gives the same verdicts for fractional, zero
    (keep forever) and whole-second TTLs. ttl=0 drains with the default
    evict_state=True: a claim kept forever registers no timeout."""
    import datetime as dt

    from distributed_deduplicator_spark.operators.dedup import (
        dedup_within_ttl)
    from distributed_deduplicator_spark.streaming.dedup_stream import (
        run_stream_to_df)
    from distributed_deduplicator_spark.streaming.stateful import (
        ttl_dedup_stateful)
    base = dt.datetime(2024, 1, 1)
    offsets = [0, 0.2, 0.5, 0.9, 1.0, 1.4, 2.6, 300, 599.9, 600.5, 1300]
    rows = [(u, "click", base + dt.timedelta(seconds=s), i * 10 + u)
            for i, s in enumerate(offsets) for u in (1, 2)]
    src = str(tmp_path / "log")
    spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp, "
        "event_id long").write.parquet(src)
    log = spark.read.parquet(src)
    for ttl in (0, 0.5, 1, 600):
        stream = spark.readStream.schema(log.schema).parquet(src)
        drained = run_stream_to_df(
            ttl_dedup_stateful(stream, ttl, evict_state=ttl == 0), spark)
        batch = dedup_within_ttl(log, ["user_id", "event_type"], "ts", ttl,
                                 order_by=["ts", "event_id"])
        got = {r.event_id: r.verdict for r in drained.collect()}
        want = {r.event_id: r.verdict for r in batch.collect()}
        assert len(want) == len(rows)
        assert got == want, ttl
