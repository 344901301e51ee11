"""Property-based tests (hypothesis): the dedup operators against
pure-Python reference models, over randomized attempt logs.

SURVEY.md §5: the reference has no property tests; we add them because
our TTL-horizon recurrence is the one genuinely custom operator: a
vectorised kernel over Arrow batches that must agree with a sequential
model however keys fall across batches.
"""

import pytest
import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from distributed_deduplicator_spark.operators import dedup as D

BASE = dt.datetime(2024, 1, 1)

# (key, seconds-offset, attempt) triples; timestamps are
# second-granular so ties across attempts are common — exercising the
# deterministic (ts, attempt_id) tiebreak.
attempts = st.lists(
    st.tuples(st.sampled_from(["k1", "k2", "k3"]),
              st.integers(min_value=0, max_value=5000),
              st.integers(min_value=0, max_value=10**6)),
    min_size=1, max_size=60, unique=True)


def _df(spark, log):
    rows = [(k, BASE + dt.timedelta(seconds=s), f"a{a:07d}")
            for k, s, a in log]
    return spark.createDataFrame(rows, ["key", "ts", "attempt_id"])


def _model_first_wins(log):
    """verdict per (key, ts, attempt): earliest (ts, attempt) per key
    is SUCCESS, the rest DUPLICATE."""
    out = {}
    by_key = {}
    for k, s, a in sorted(log, key=lambda r: (r[0], r[1], f"a{r[2]:07d}")):
        if k not in by_key:
            by_key[k] = True
            out[(k, s, a)] = "SUCCESS"
        else:
            out[(k, s, a)] = "DUPLICATE"
    return out


def _model_ttl(log, ttl_s):
    """sequential accepted-horizon recurrence per key (any hashable
    key, None included); ttl <= 0 keeps a claim forever."""
    out = {}
    last = {}
    for k, s, a in sorted(log, key=lambda r: (r[1], f"a{r[2]:07d}")):
        if k not in last or 0 < ttl_s <= s - last[k]:
            last[k] = s
            out[(k, s, a)] = "SUCCESS"
        else:
            out[(k, s, a)] = "DUPLICATE"
    return out


def _collect(df):
    return {(r.key, int((r.ts - BASE).total_seconds()),
             int(r.attempt_id[1:])): r.verdict
            for r in df.collect()}


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(log=attempts)
def test_first_wins_matches_model(spark, log):
    got = _collect(D.dedup_first_wins(_df(spark, log), ["key"],
                                      ["ts", "attempt_id"]))
    assert got == _model_first_wins(log)


# two-column (string, int) keys, nulls included, so that one key is
# two Arrow columns and null keys must still group as one key
two_col_attempts = st.lists(
    st.tuples(st.tuples(st.sampled_from(["k1", "k2", None]),
                        st.sampled_from([0, 1])),
              st.integers(min_value=0, max_value=5000),
              st.integers(min_value=0, max_value=10**6)),
    min_size=1, max_size=60, unique_by=lambda r: r[2])


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(log=two_col_attempts, ttl=st.sampled_from([0, 1, 60, 900, 3600]))
def test_ttl_matches_model(spark, log, ttl):
    """The one TTL path against the sequential model, with Arrow
    batches of 3 rows so that keys straddle batch boundaries and the
    horizon must carry across them."""
    df = spark.createDataFrame(
        [(ks, ki, BASE + dt.timedelta(seconds=s), f"a{a:07d}")
         for (ks, ki), s, a in log], "ks string, ki int, ts timestamp, "
        "attempt_id string")
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "3")
    try:
        got = {((r.ks, r.ki), int((r.ts - BASE).total_seconds()),
                int(r.attempt_id[1:])): r.verdict
               for r in D.dedup_within_ttl(
                   df, ["ks", "ki"], "ts", ttl,
                   order_by=["ts", "attempt_id"]).collect()}
    finally:
        spark.conf.set(conf, old)
    assert got == _model_ttl(log, ttl)


def _model_incremental(batch, ledger_keys):
    out = {}
    seen = set()
    for k, s, a in sorted(batch, key=lambda r: (r[0], r[1], f"a{r[2]:07d}")):
        if k in ledger_keys:
            out[(k, s, a)] = "DUPLICATE"
        elif k in seen:
            out[(k, s, a)] = "DUPLICATE"
        else:
            seen.add(k)
            out[(k, s, a)] = "SUCCESS"
    return out


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(batch=attempts, ledger=attempts)
def test_incremental_matches_model(spark, batch, ledger):
    got = _collect(D.dedup_incremental(
        _df(spark, batch), _df(spark, ledger), ["key"],
        ["ts", "attempt_id"]))
    assert got == _model_incremental(batch, {k for k, _, _ in ledger})


# interval join: points and intervals over a small key space; compare
# the bucketed plan against a brute-force python model for several
# bucket widths around the interval lengths.
points = st.lists(
    st.tuples(st.sampled_from(["k1", "k2"]),
              st.integers(min_value=0, max_value=5000),
              st.integers(min_value=0, max_value=10**6)),
    min_size=1, max_size=40, unique=True)
intervals = st.lists(
    st.tuples(st.sampled_from(["k1", "k2"]),
              st.integers(min_value=0, max_value=5000),
              st.integers(min_value=0, max_value=1200),
              st.integers(min_value=0, max_value=10**6)),
    min_size=1, max_size=25, unique=True)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(ps=points, ivs=intervals,
       bucket=st.sampled_from([7, 60, 600, 3600]))
def test_interval_join_matches_model(spark, ps, ivs, bucket):
    from distributed_deduplicator_spark.operators.rangejoin import (
        interval_join_bucketed)
    pdf = spark.createDataFrame(
        [(k, BASE + dt.timedelta(seconds=s), i) for k, s, i in ps],
        ["pk", "pts", "pid"])
    # end = start + dur (end-exclusive); zero-length intervals match
    # nothing by construction
    idf = spark.createDataFrame(
        [(k, BASE + dt.timedelta(seconds=s),
          BASE + dt.timedelta(seconds=s + d), i)
         for k, s, d, i in ivs],
        ["ik", "istart", "iend", "iid"])
    got = {(r.pid, r.iid)
           for r in interval_join_bucketed(
               pdf, idf, "pk", "ik", "pts", "istart", "iend",
               bucket_seconds=bucket).collect()}
    expect = {(pi, ii)
              for (pk, s, pi) in ps
              for (ik, istart, d, ii) in ivs
              if pk == ik and istart <= s < istart + d}
    assert got == expect


day_spans = st.lists(
    st.tuples(st.integers(min_value=0, max_value=60),   # open day offset
              st.integers(min_value=0, max_value=30)),  # duration days
    min_size=1, max_size=30)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(spans=day_spans)
@pytest.mark.full  # hypothesis brute-force twin; open_orders_backlog
# has a full driver value oracle (r06 green)
def test_interval_backlog_matches_bruteforce(spark, spans):
    """Delta-encode + prefix-sum must equal brute-force stabbing (for
    each day, count intervals with open <= day <= close) on every day
    of the dense spine."""
    from distributed_deduplicator_spark.operators.temporal import (
        interval_backlog)
    base = dt.date(2024, 1, 1)
    rows = [(base + dt.timedelta(days=o),
             base + dt.timedelta(days=o + d)) for o, d in spans]
    df = spark.createDataFrame(rows, ["open_d", "close_d"])
    got = sorted(interval_backlog(df, "open_d", "close_d").collect(),
                 key=lambda r: r.day)
    lo = min(o for o, _ in rows)
    hi = max(c for _, c in rows)
    day = lo
    for r in got:
        assert r.day == day
        assert r.n_open == sum(1 for o, c in rows if o <= day <= c)
        day += dt.timedelta(days=1)
    assert day == hi + dt.timedelta(days=1)


qt_values = st.lists(
    st.tuples(st.sampled_from(["g1", "g2", "g3"]),
              st.one_of(st.none(),
                        st.integers(min_value=0, max_value=40))),
    min_size=1, max_size=60)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(vals=qt_values, pcts=st.sets(
    st.integers(min_value=1, max_value=100), min_size=1, max_size=3))
def test_count_table_quantiles_match_percentile_disc(spark, vals, pcts):
    """The count-table quantile must equal sorted-list percentile_disc
    (value at 1-based index ceil(p·n/100)) for every group and
    percentile. NULL measures are ignored entirely (percentile_disc
    semantics): they count into neither n_rows nor the thresholds, and
    an all-NULL group is absent from the output."""
    from distributed_deduplicator_spark.operators.relational import (
        count_table_quantiles)
    pcts = sorted(pcts)
    from pyspark.sql import types as T
    schema = T.StructType([T.StructField("g", T.StringType()),
                           T.StructField("v", T.IntegerType())])
    df = spark.createDataFrame(vals, schema)
    got = {r.g: r for r in
           count_table_quantiles(df, ["g"], "v", pcts).collect()}
    groups = {}
    for g, v in vals:
        if v is not None:
            groups.setdefault(g, []).append(v)
    assert set(got) == set(groups)
    for g, xs in groups.items():
        xs.sort()
        assert got[g].n_rows == len(xs)
        for p in pcts:
            idx = -(-len(xs) * p // 100)  # ceil, 1-based
            assert getattr(got[g], f"p{p}") == xs[idx - 1], \
                (g, p, xs, got[g])


baskets_st = st.lists(
    st.tuples(st.integers(min_value=0, max_value=8),    # basket id
              st.integers(min_value=0, max_value=12)),  # item id
    min_size=1, max_size=50)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(rows=baskets_st)
def test_basket_pairs_match_combinations(spark, rows):
    """Pair counts must equal itertools.combinations over each
    basket's distinct sorted items."""
    import collections
    import itertools

    from distributed_deduplicator_spark.operators.relational import (
        basket_pairs)
    df = spark.createDataFrame(rows, ["b", "i"])
    got = {(r.item_a, r.item_b): r.n_both
           for r in basket_pairs(df, "b", "i").collect()}
    baskets = collections.defaultdict(set)
    for b, i in rows:
        baskets[b].add(i)
    want: collections.Counter = collections.Counter()
    for items in baskets.values():
        want.update(itertools.combinations(sorted(items), 2))
    assert got == dict(want)
