"""Checkers that compute each workload's true answer without the engine.

Nothing here imports Spark or the engine: answers come from numpy,
pandas, hashlib and plain Python over the generated inputs, and the
engine's outputs are read back from the parquet files a pass wrote.
Every check returns a list of failure messages (empty = correct), so a
run reports all that is wrong at once.
"""

from __future__ import annotations

import hashlib
import re
from collections import defaultdict

import numpy as np
import pandas as pd
import pyarrow as pa

SUCCESS, DUPLICATE = "SUCCESS", "DUPLICATE"
STATE_NAMES = {1: "SUCCESS", 2: "DUPLICATE", 3: "RETRY", 4: "FAILED"}

# Recall floors, each just under the lowest value measured over seeds
# 1-30 of the generated inputs at the benchmark's sizes, so a change that
# buys speed with lost recall fails the run: ann_lsh_topk's recall@10
# against brute force read 0.9984-1.0, minhash_near_dup's share of the
# exact Jaccard pairs 0.883-0.975.
RECALL_FLOOR = 0.99
MINHASH_RECALL_FLOOR = 0.85
COSINE_TOL = 1e-9

_NORMALISED = re.compile(r"[a-z0-9]+( [a-z0-9]+)*")


def _micros(col: pa.ChunkedArray) -> np.ndarray:
    return col.cast(pa.int64()).to_numpy()


class Ledger:
    """An attempt log sorted by (key, ts, id), with the per-key first
    and last rows marked. ``keys`` may name several columns; they are
    folded into one group code."""

    def __init__(self, table: pa.Table, keys: str | list[str], id_col: str):
        self.keys = [keys] if isinstance(keys, str) else list(keys)
        self.id_col = id_col
        frame = table.select(self.keys).to_pandas()
        gkey = frame.groupby(self.keys, sort=False).ngroup().to_numpy()
        ts = _micros(table.column("ts"))
        aid = table.column(id_col).to_numpy()
        order = np.lexsort((aid, ts, gkey))
        self.gkey, self.ts, self.aid = gkey[order], ts[order], aid[order]
        self.state = table.column("state").to_numpy()[order]
        self.n = len(order)
        start = np.ones(self.n, dtype=bool)
        start[1:] = self.gkey[1:] != self.gkey[:-1]
        self.is_first = start
        self.is_last = np.append(start[1:], True)
        if len(np.unique(self.aid)) != self.n:
            raise ValueError(f"{id_col} is not unique in the input")

    def align(self, out: pa.Table, label: str, errs: list[str]):
        """Rows of an audit-form output in source order, or None (with
        an error) when its ids are not exactly the input's."""
        if out.num_rows != self.n:
            errs.append(f"{label}: {out.num_rows} rows for {self.n} "
                        "input attempts")
            return None
        oid = out.column(self.id_col).to_numpy()
        pos = pd.Index(oid)
        if not pos.is_unique:
            errs.append(f"{label}: repeated {self.id_col} in output")
            return None
        idx = pos.get_indexer(self.aid)
        if (idx < 0).any():
            errs.append(f"{label}: {int((idx < 0).sum())} input attempts "
                        "missing from output")
            return None
        return out.take(pa.array(idx))


def check_first_wins(src: Ledger, out: pa.Table) -> list[str]:
    """Audit form: every attempt kept; SUCCESS exactly on the per-key
    argmin of (ts, id), DUPLICATE elsewhere."""
    errs: list[str] = []
    al = src.align(out, "first_wins", errs)
    if al is None:
        return errs
    v = np.asarray(al.column("verdict").to_pylist(), dtype=object)
    want = np.where(src.is_first, SUCCESS, DUPLICATE)
    bad = int((v != want).sum())
    if bad:
        errs.append(f"first_wins: {bad} verdicts differ from per-key argmin")
    per_key = np.bincount(src.gkey, weights=(v == SUCCESS),
                          minlength=int(src.gkey.max()) + 1)
    if (per_key != 1).any():
        errs.append(f"first_wins: {int((per_key != 1).sum())} keys without "
                    "exactly one SUCCESS")
    return errs


def check_latest(src: Ledger, out: pa.Table) -> list[str]:
    """One row per key, and that row is the key's last attempt by
    (ts, id), with its own ts."""
    label = "latest_state"
    want = pd.Series(src.ts[src.is_last], index=src.aid[src.is_last])
    errs: list[str] = []
    if out.num_rows != len(want):
        errs.append(f"{label}: {out.num_rows} rows for {len(want)} keys")
    oid = out.column(src.id_col).to_numpy()
    got = pd.Series(_micros(out.column("ts")), index=oid)
    if not got.index.is_unique:
        errs.append(f"{label}: repeated {src.id_col}")
        return errs
    missing = want.index.difference(got.index)
    if len(missing):
        errs.append(f"{label}: {len(missing)} keys resolve to another "
                    "attempt than the per-key argmax")
    common = want.index.intersection(got.index)
    if (got[common] != want[common]).any():
        errs.append(f"{label}: winning rows carry the wrong ts")
    keys_out = out.select(src.keys).to_pandas()
    if keys_out.duplicated().any():
        errs.append(f"{label}: a key appears more than once")
    return errs


def check_arbitrate(src: Ledger, out: pa.Table) -> list[str]:
    """4-state rule: non-SUCCESS claims pass through in their claimed
    state; among SUCCESS claims the earliest by (ts, id) keeps SUCCESS
    and later ones become DUPLICATE; so at most one SUCCESS per key."""
    errs: list[str] = []
    al = src.align(out, "arbitrate", errs)
    if al is None:
        return errs
    code = al.column("verdict_code").to_numpy().astype(np.int64)
    claim = src.state == 1
    # first SUCCESS claim per key in sorted order
    seen: set[int] = set()
    first_claim = np.zeros(src.n, dtype=bool)
    for i in np.flatnonzero(claim):
        g = int(src.gkey[i])
        if g not in seen:
            seen.add(g)
            first_claim[i] = True
    want = np.where(~claim, src.state, np.where(first_claim, 1, 2))
    bad = int((code != want).sum())
    if bad:
        errs.append(f"arbitrate: {bad} verdict codes differ from the "
                    "4-state rule")
    passthrough = int((code[~claim] != src.state[~claim]).sum())
    if passthrough:
        errs.append(f"arbitrate: {passthrough} audit rows left their "
                    "claimed state")
    wins = np.bincount(src.gkey, weights=(code == 1),
                       minlength=int(src.gkey.max()) + 1)
    if (wins > 1).any():
        errs.append(f"arbitrate: {int((wins > 1).sum())} keys with more "
                    "than one SUCCESS")
    names = np.asarray(al.column("verdict").to_pylist(), dtype=object)
    if any(STATE_NAMES.get(int(c)) != n for c, n in zip(code, names)):
        errs.append("arbitrate: verdict names disagree with verdict codes")
    return errs


def ttl_recurrence(src: Ledger, ttl_s: int) -> np.ndarray:
    """Accepted-attempt mask: per key, in (ts, id) order, an attempt is
    accepted iff no attempt was accepted yet or it lies at least
    ``ttl_s`` after the last accepted one."""
    ttl_us = int(ttl_s) * 1_000_000
    acc = np.zeros(src.n, dtype=bool)
    prev_key, last = None, None
    for i, (g, t) in enumerate(zip(src.gkey.tolist(), src.ts.tolist())):
        if g != prev_key:
            prev_key, last = g, None
        if last is None or t - last >= ttl_us:
            acc[i] = True
            last = t
    return acc


def check_ttl(src: Ledger, out: pa.Table, ttl_s: int) -> list[str]:
    errs: list[str] = []
    al = src.align(out, "ttl", errs)
    if al is None:
        return errs
    v = np.asarray(al.column("verdict").to_pylist(), dtype=object)
    want = np.where(ttl_recurrence(src, ttl_s), SUCCESS, DUPLICATE)
    bad = int((v != want).sum())
    if bad:
        errs.append(f"ttl: {bad} verdicts differ from the TTL recurrence")
    return errs


# --- text -------------------------------------------------------------------

def shingle_set(text: str, n: int = 3) -> set[str]:
    toks = text.split(" ")
    if len(toks) < n:
        return set()
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def exact_jaccard_pairs(ids: list[int], texts: list[str],
                        threshold: float, n: int = 3) -> dict:
    """Every pair (id_a < id_b) with word-n-gram Jaccard >= threshold,
    by an inverted index over shingles: {(a, b): (|A|, |B|, |A∩B|, J)}."""
    sets = [shingle_set(t, n) for t in texts]
    index: dict[str, list[int]] = defaultdict(list)
    for i, s in enumerate(sets):
        for sh in s:
            index[sh].append(i)
    common: dict[tuple[int, int], int] = defaultdict(int)
    for members in index.values():
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                common[(members[x], members[y])] += 1
    out = {}
    for (i, j), c in common.items():
        a, b = (i, j) if ids[i] < ids[j] else (j, i)
        sa, sb = len(sets[a]), len(sets[b])
        jac = c / (sa + sb - c)
        if jac >= threshold:
            out[(ids[a], ids[b])] = (sa, sb, c, jac)
    return out


def check_fingerprints(ids: list[int], texts: list[str],
                       out: pa.Table) -> list[str]:
    """fp = md5 of the text (already normalised), SUCCESS on the
    smallest doc_id of each fingerprint."""
    errs: list[str] = []
    if not all(_NORMALISED.fullmatch(t) for t in texts):
        errs.append("fingerprint: corpus is not in normalised form")
    fp = {i: hashlib.md5(t.encode()).hexdigest() for i, t in zip(ids, texts)}
    first: dict[str, int] = {}
    for i in sorted(ids):
        first.setdefault(fp[i], i)
    got = dict(zip(out.column("doc_id").to_pylist(),
                   zip(out.column("fp").to_pylist(),
                       out.column("verdict").to_pylist())))
    if out.num_rows != len(ids) or set(got) != set(ids):
        errs.append(f"fingerprint: {out.num_rows} rows for {len(ids)} docs")
        return errs
    bad_fp = sum(got[i][0] != fp[i] for i in ids)
    if bad_fp:
        errs.append(f"fingerprint: {bad_fp} md5 fingerprints differ")
    bad_v = sum(got[i][1] != (SUCCESS if first[fp[i]] == i else DUPLICATE)
                for i in ids)
    if bad_v:
        errs.append(f"fingerprint: {bad_v} verdicts differ from per-"
                    "fingerprint first doc")
    return errs


def _pairs(out: pa.Table) -> list[tuple[int, int]]:
    return list(zip(out.column("id_a").to_pylist(),
                    out.column("id_b").to_pylist()))


def check_jaccard_join(exact: dict, out: pa.Table) -> list[str]:
    errs: list[str] = []
    pairs = _pairs(out)
    if len(set(pairs)) != len(pairs):
        errs.append("jaccard: repeated pairs")
    if set(pairs) != set(exact):
        errs.append(f"jaccard: {len(set(pairs) - set(exact))} extra and "
                    f"{len(set(exact) - set(pairs))} missing pairs")
    cols = [out.column(c).to_pylist()
            for c in ("size_a", "size_b", "n_common", "jaccard")]
    bad = 0
    for p, sa, sb, c, j in zip(pairs, *cols):
        want = exact.get(p)
        if want is not None and ((sa, sb, c) != want[:3]
                                 or abs(j - want[3]) > 1e-12):
            bad += 1
    if bad:
        errs.append(f"jaccard: {bad} pairs carry wrong sizes or Jaccard")
    return errs


def check_minhash_pairs(ids, texts, exact: dict, out: pa.Table,
                        recall_floor: float) -> list[str]:
    """Every emitted pair is ordered, its Jaccard equals the value
    recomputed from the texts, the pairs are a subset of the exact
    join's, and they hold at least ``recall_floor`` of them."""
    errs: list[str] = []
    sets = {i: shingle_set(t) for i, t in zip(ids, texts)}
    pairs = _pairs(out)
    if any(a >= b for a, b in pairs) or len(set(pairs)) != len(pairs):
        errs.append("minhash: pairs not ordered id_a < id_b or repeated")
    bad = 0
    for (a, b), j in zip(pairs, out.column("jaccard").to_pylist()):
        sa, sb = sets[a], sets[b]
        c = len(sa & sb)
        if abs(j - c / (len(sa) + len(sb) - c)) > 1e-12:
            bad += 1
    if bad:
        errs.append(f"minhash: {bad} emitted Jaccard values are wrong")
    extra = set(pairs) - set(exact)
    if extra:
        errs.append(f"minhash: {len(extra)} pairs are not exact pairs")
    recall = minhash_recall(exact, out)
    if recall < recall_floor:
        errs.append(f"minhash: holds {recall:.3f} of the exact pairs, "
                    f"below floor {recall_floor}")
    return errs


def minhash_recall(exact: dict, out: pa.Table) -> float:
    """Share of the exact pairs that the emitted pairs hold."""
    if not exact:
        return 1.0
    return len(set(_pairs(out)) & set(exact)) / len(exact)


def union_find_clusters(pairs: list[tuple[int, int]]) -> dict[int, int]:
    """id -> min id of its connected component, over the pair graph."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def check_clusters(pairs_out: pa.Table, clusters: pa.Table) -> list[str]:
    want = union_find_clusters(_pairs(pairs_out))
    got = dict(zip(clusters.column("id").to_pylist(),
                   clusters.column("cluster_id").to_pylist()))
    if clusters.num_rows != len(got):
        return ["clusters: an id appears more than once"]
    if got != want:
        diff = sum(got.get(k) != v for k, v in want.items())
        return [f"clusters: {diff} ids labelled differently from "
                f"union-find ({len(got)} vs {len(want)} ids)"]
    return []


# --- vectors ----------------------------------------------------------------

class BruteForceTopK:
    """Exact float64 cosine top-k over every vector, excluding itself,
    under the total order (cosine desc, id asc)."""

    def __init__(self, src: pa.Table, k: int):
        self.k = k
        ids = src.column("vec_id").to_numpy()
        emb = np.vstack(src.column("embedding").to_numpy(
            zero_copy_only=False)).astype(np.float64)
        unit = emb / np.sqrt((emb * emb).sum(axis=1, keepdims=True))
        self.recall: dict[str, float] = {}
        self.pos = pd.Index(ids)
        self.unit = unit
        sims = unit @ unit.T
        np.fill_diagonal(sims, -np.inf)
        order = np.lexsort((np.broadcast_to(ids, sims.shape), -sims),
                           axis=1)[:, :k]
        self.topk = {int(q): set(ids[order[i]].tolist())
                     for i, q in enumerate(ids)}

    def check(self, out: pa.Table, label: str,
              recall_floor: float) -> list[str]:
        errs: list[str] = []
        q = out.column("query_id").to_numpy()
        nb = out.column("neighbor_id").to_numpy()
        rank = out.column("rank").to_numpy()
        cos = out.column("cosine").to_numpy()
        qi, ni = self.pos.get_indexer(q), self.pos.get_indexer(nb)
        if (qi < 0).any() or (ni < 0).any():
            return [f"{label}: ids not in the corpus"]
        if (q == nb).any():
            errs.append(f"{label}: a vector is its own neighbour")
        want = np.einsum("ij,ij->i", self.unit[qi], self.unit[ni])
        err = np.abs(cos - want)
        if (err > COSINE_TOL).any():
            errs.append(f"{label}: {int((err > COSINE_TOL).sum())} cosines "
                        f"off numpy by up to {err.max():.3g}")
        order = np.lexsort((rank, q))
        q, nb, rank, cos = q[order], nb[order], rank[order], cos[order]
        start = np.ones(len(q), dtype=bool)
        start[1:] = q[1:] != q[:-1]
        grp = np.cumsum(start) - 1
        first_idx = np.flatnonzero(start)
        expect_rank = np.arange(len(q)) - first_idx[grp] + 1
        if (rank != expect_rank).any() or (rank > self.k).any():
            errs.append(f"{label}: ranks are not 1..m (m <= k) per query")
        same = ~start[1:]
        dec = cos[1:] < cos[:-1]
        tie_ok = (cos[1:] == cos[:-1]) & (nb[1:] > nb[:-1])
        if (same & ~(dec | tie_ok)).any():
            errs.append(f"{label}: cosines not in rank order")
        got: dict[int, set] = defaultdict(set)
        for a, b in zip(q.tolist(), nb.tolist()):
            got[a].add(b)
        recall = float(np.mean([len(got.get(int(x), set()) & t) / self.k
                                for x, t in self.topk.items()]))
        self.recall[label] = recall
        if recall < recall_floor:
            errs.append(f"{label}: recall@{self.k} {recall:.3f} below "
                        f"floor {recall_floor}")
        return errs
