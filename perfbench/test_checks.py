"""Tests of the benchmark's checkers: each accepts a correct output and
rejects a corrupted one. Run with ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pytest

import checks
import inputs
import tracing

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
S = 1_000_000   # one second in µs


def _ledger_table():
    # key 1: three attempts; key 2: a tie on ts broken by id; key 3: one
    rows = [  # key, ts (s), id, state
        (1, 10, 7, 2), (1, 5, 9, 1), (1, 400, 3, 1),
        (2, 50, 4, 3), (2, 50, 2, 1), (2, 100, 8, 1),
        (3, 1, 5, 4),
    ]
    k, t, i, s = zip(*rows)
    return pa.table({
        "key": pa.array(k, pa.int64()),
        "ts": pa.array([x * S for x in t], pa.timestamp("us", tz="UTC")),
        "attempt_id": pa.array(i, pa.int64()),
        "state": pa.array(s, pa.int32()),
    })


def _audit(tbl, verdicts: dict, col="verdict"):
    ids = tbl.column("attempt_id").to_pylist()
    return tbl.append_column(col, pa.array([verdicts[i] for i in ids]))


@pytest.fixture
def ledger():
    tbl = _ledger_table()
    return tbl, checks.Ledger(tbl, "key", "attempt_id")


FIRST = {9: "SUCCESS", 7: "DUPLICATE", 3: "DUPLICATE", 2: "SUCCESS",
         4: "DUPLICATE", 8: "DUPLICATE", 5: "SUCCESS"}


def test_first_wins_accepts_argmin(ledger):
    tbl, src = ledger
    assert checks.check_first_wins(src, _audit(tbl, FIRST)) == []


def test_first_wins_rejects_flipped_and_missing(ledger):
    tbl, src = ledger
    bad = {**FIRST, 7: "SUCCESS"}
    assert checks.check_first_wins(src, _audit(tbl, bad))
    assert checks.check_first_wins(src, _audit(tbl, FIRST).slice(1))


def test_arbitrate_four_state_rule(ledger):
    tbl, src = ledger
    # claims (state 1): key 1 -> 9 wins, 3 demoted; key 2 -> 2 wins, 8
    # demoted; everything else keeps its claimed state
    code = {9: 1, 3: 2, 7: 2, 2: 1, 8: 2, 4: 3, 5: 4}
    good = _audit(tbl, code, "verdict_code")
    good = good.append_column("verdict", pa.array(
        [checks.STATE_NAMES[c] for c in good.column("verdict_code")
         .to_pylist()]))
    assert checks.check_arbitrate(src, good) == []
    moved = {**code, 4: 1}           # an audit row changed state
    bad = _audit(tbl, moved, "verdict_code")
    bad = bad.append_column("verdict", pa.array(
        [checks.STATE_NAMES[c] for c in bad.column("verdict_code")
         .to_pylist()]))
    errs = checks.check_arbitrate(src, bad)
    assert any("claimed state" in e for e in errs)
    assert any("more than one SUCCESS" in e for e in errs)


def test_latest_state(ledger):
    tbl, src = ledger
    ids = tbl.column("attempt_id").to_pylist()
    last = tbl.take(pa.array([ids.index(i) for i in (3, 8, 5)]))
    assert checks.check_latest(src, last) == []
    wrong = tbl.take(pa.array([ids.index(i) for i in (9, 8, 5)]))
    assert checks.check_latest(src, wrong)


def test_ttl_recurrence_restarts_only_from_accepted(ledger):
    tbl, src = ledger
    # ttl 300 s: key 1 accepts 9 (5 s), drops 7 (10 s), accepts 3
    # (400 s, >= 300 after 5 s); key 2 accepts 2 (50 s) only
    want = {9: "SUCCESS", 7: "DUPLICATE", 3: "SUCCESS", 2: "SUCCESS",
            4: "DUPLICATE", 8: "DUPLICATE", 5: "SUCCESS"}
    assert checks.check_ttl(src, _audit(tbl, want), 300) == []
    assert checks.check_ttl(src, _audit(tbl, {**want, 3: "DUPLICATE"}),
                            300)


def test_ttl_on_composite_keys():
    tbl = pa.table({
        "user_id": pa.array([1, 1, 1, 2], pa.int64()),
        "event_type": ["a", "a", "b", "a"],
        "ts": pa.array([0, 10 * S, 20 * S, 0], pa.timestamp("us", tz="UTC")),
        "event_id": pa.array([1, 2, 3, 4], pa.int64()),
        "state": pa.array([1, 1, 1, 1], pa.int32()),
    })
    src = checks.Ledger(tbl, ["user_id", "event_type"], "event_id")
    out = tbl.append_column("verdict", pa.array(
        ["SUCCESS", "DUPLICATE", "SUCCESS", "SUCCESS"]))
    assert checks.check_ttl(src, out, 60) == []
    out2 = tbl.append_column("verdict", pa.array(
        ["SUCCESS", "DUPLICATE", "DUPLICATE", "SUCCESS"]))
    assert checks.check_ttl(src, out2, 60)


DOCS = {1: "a b c d e f", 2: "a b c d e f", 3: "a b c d e g",
        4: "x y z w", 5: "q"}


def _docs():
    return list(DOCS), list(DOCS.values())


def test_exact_jaccard_pairs():
    ids, texts = _docs()
    exact = checks.exact_jaccard_pairs(ids, texts, 0.5)
    # shingles of 1/2: abc bcd cde def; of 3: abc bcd cde deg -> 3/5
    assert exact == {(1, 2): (4, 4, 4, 1.0), (1, 3): (4, 4, 3, 0.6),
                     (2, 3): (4, 4, 3, 0.6)}


def _pair_table(rows, cols=("id_a", "id_b", "size_a", "size_b",
                            "n_common", "jaccard")):
    return pa.table({c: [r[i] for r in rows] for i, c in enumerate(cols)})


def test_jaccard_join_rejects_wrong_value_and_missing_pair():
    ids, texts = _docs()
    exact = checks.exact_jaccard_pairs(ids, texts, 0.5)
    rows = [(a, b, *v) for (a, b), v in exact.items()]
    assert checks.check_jaccard_join(exact, _pair_table(rows)) == []
    off = [r if r[:2] != (1, 3) else (*r[:5], 0.61) for r in rows]
    assert checks.check_jaccard_join(exact, _pair_table(off))
    assert checks.check_jaccard_join(exact, _pair_table(rows[1:]))


def test_minhash_pairs_subset_and_values():
    ids, texts = _docs()
    exact = checks.exact_jaccard_pairs(ids, texts, 0.5)
    good = _pair_table([(1, 2, 1.0), (1, 3, 0.6)], ("id_a", "id_b", "jaccard"))
    assert checks.check_minhash_pairs(ids, texts, exact, good, 0.6) == []
    not_exact = _pair_table([(1, 4, 0.0)], ("id_a", "id_b", "jaccard"))
    assert checks.check_minhash_pairs(ids, texts, exact, not_exact, 0.0)
    wrong = _pair_table([(1, 3, 0.5)], ("id_a", "id_b", "jaccard"))
    assert checks.check_minhash_pairs(ids, texts, exact, wrong, 0.0)
    half = _pair_table([(1, 2, 1.0)], ("id_a", "id_b", "jaccard"))
    assert checks.check_minhash_pairs(ids, texts, exact, half, 0.3) == []
    assert any("floor" in e for e in
               checks.check_minhash_pairs(ids, texts, exact, half, 0.6))


def test_clusters_against_union_find():
    pairs = _pair_table([(5, 3, 0), (3, 9, 0), (7, 8, 0)],
                        ("id_a", "id_b", "jaccard"))
    good = pa.table({"id": [3, 5, 9, 7, 8], "cluster_id": [3, 3, 3, 7, 7]})
    assert checks.check_clusters(pairs, good) == []
    bad = pa.table({"id": [3, 5, 9, 7, 8], "cluster_id": [3, 3, 9, 7, 7]})
    assert checks.check_clusters(pairs, bad)


def test_fingerprints():
    ids, texts = _docs()
    fp = [hashlib.md5(t.encode()).hexdigest() for t in texts]
    verdict = ["SUCCESS", "DUPLICATE", "SUCCESS", "SUCCESS", "SUCCESS"]
    good = pa.table({"doc_id": ids, "fp": fp, "verdict": verdict})
    assert checks.check_fingerprints(ids, texts, good) == []
    bad = pa.table({"doc_id": ids, "fp": fp[:4] + ["0" * 32],
                    "verdict": verdict})
    assert checks.check_fingerprints(ids, texts, bad)
    assert checks.check_fingerprints(
        ids, texts, pa.table({"doc_id": ids, "fp": fp,
                              "verdict": ["SUCCESS"] * 5}))


def _vectors(n=40, dim=8, seed=0):
    rng = np.random.default_rng(seed)
    emb = rng.normal(size=(n, dim)).astype(np.float32)
    ids = np.arange(100, 100 + n, dtype=np.int64)
    return pa.table({"vec_id": ids,
                     "embedding": pa.array(list(emb),
                                           pa.list_(pa.float32()))}), emb, ids


def _exact_topk(emb, ids, k):
    u = emb.astype(np.float64)
    u /= np.linalg.norm(u, axis=1, keepdims=True)
    sims = u @ u.T
    rows = []
    for i, q in enumerate(ids):
        order = sorted((j for j in range(len(ids)) if j != i),
                       key=lambda j: (-sims[i, j], ids[j]))[:k]
        rows += [(int(q), int(ids[j]), r + 1, float(sims[i, j]))
                 for r, j in enumerate(order)]
    return rows


def _topk_table(rows):
    q, nb, rk, c = zip(*rows)
    return pa.table({"query_id": pa.array(q, pa.int64()),
                     "neighbor_id": pa.array(nb, pa.int64()),
                     "rank": pa.array(rk, pa.int32()), "cosine": c})


def test_topk_accepts_exact_answer():
    src, emb, ids = _vectors()
    truth = checks.BruteForceTopK(src, 5)
    assert truth.check(_topk_table(_exact_topk(emb, ids, 5)), "t", 0.99) == []
    assert truth.recall["t"] == 1.0


def test_topk_rejects_cosine_rank_and_recall_faults():
    src, emb, ids = _vectors()
    truth = checks.BruteForceTopK(src, 5)
    rows = _exact_topk(emb, ids, 5)
    off = [(q, n, r, c + (1e-6 if r == 1 else 0)) for q, n, r, c in rows]
    assert any("cosines off" in e
               for e in truth.check(_topk_table(off), "t", 0.0))
    swapped = [(q, n, 3 - r if r <= 2 else r, c) for q, n, r, c in rows]
    assert any("rank order" in e
               for e in truth.check(_topk_table(swapped), "t", 0.0))
    # keep only rank 1: ranks stay valid, recall drops to 1/5
    top1 = [r for r in rows if r[2] == 1]
    assert any("recall" in e for e in truth.check(_topk_table(top1), "t", 0.5))


def test_generators_are_seeded():
    for gen in inputs.GENERATORS.values():
        assert gen(7).equals(gen(7))
        assert not gen(7).equals(gen(8))


def test_benchmark_json_matches_tracing_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    listed = {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]}
    assert listed == tracing.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(inputs.WORKLOAD_PARTS)
    for parts in inputs.WORKLOAD_PARTS.values():
        assert set(parts) <= set(inputs.GENERATORS)
