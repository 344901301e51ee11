"""Seeded input generators for the benchmark's input parts.

A listed workload runs over one or more parts (``WORKLOAD_PARTS``), each
with its own input: ``ledger`` (bursty attempt log), ``stream`` (the
same kind of log cut into time-ordered files), ``text`` (token corpus
with planted near-duplicates) and ``vectors`` (clustered embeddings).

Every generator is a pure function of its seed: the same seed writes the
same rows. Inputs are written as parquet under a cache directory keyed by
(workload, seed, generator version) and reused when present, so input
generation never falls inside a timed window and is paid once per seed.

Sizes are fixed per workload (the seed moves only the values), so the
work in a pass does not drift from one seed to the next.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when any generator's output for a given seed changes.
GEN_VERSION = 2

EPOCH_US = 1_704_067_200_000_000          # 2024-01-01T00:00:00Z
DAY_US = 86_400_000_000

# --- ledger -----------------------------------------------------------------
LEDGER_COLD_ATTEMPTS = 40_000
LEDGER_COLD_KEYS = 10_000
LEDGER_HOT_KEYS = 3
LEDGER_HOT_ATTEMPTS = 1_500               # per hot key
HOT_KEY_BASE = 1_000_000                  # hot keys are >= this id
LEDGER_FILES = 4
LEDGER_TTL_S = 300

# --- stream -----------------------------------------------------------------
STREAM_FILES = 2
STREAM_ATTEMPTS_PER_FILE = 1_500
STREAM_USERS = 100
STREAM_EVENT_TYPES = ("click", "view", "buy", "share")
STREAM_TTL_S = 600

# --- text ------------------------------------------------------------------
TEXT_DOCS = 1_000
TEXT_TOKENS = 48
TEXT_VOCAB = 4_000
TEXT_EXACT_SHARE = 0.10                   # exact copies of a base doc
TEXT_CLONE_SHARE = 0.20                   # token-drop clones of a base doc
TEXT_CLONE_STRIDES = (6, 8, 10, 12, 16)
TEXT_THRESHOLD = 0.5

# --- vectors ----------------------------------------------------------------
VEC_N = 500
VEC_DIM = 64
VEC_CLUSTERS = 30
VEC_FAMILY_SHARE = 0.25                   # near-identical copies
VEC_K = 10


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), stream])


def _ts_array(us: np.ndarray) -> pa.Array:
    return pa.array(EPOCH_US + us.astype(np.int64),
                    type=pa.timestamp("us", tz="UTC"))


def _attempt_log(rng: np.random.Generator, key_of: np.ndarray,
                 n_keys: int, span_us: int, burst_size: float,
                 burst_mean_us: float) -> tuple[np.ndarray, np.ndarray]:
    """Timestamps (µs from the epoch) and claimed states for a log in
    which each key's attempts arrive in bursts: a key with c attempts
    has ceil(c / burst_size) bursts placed uniformly in the span, and
    each attempt lands an exponential offset after its burst start."""
    counts = np.bincount(key_of, minlength=n_keys)
    n_bursts = np.maximum(1, np.ceil(counts / burst_size)).astype(np.int64)
    first = np.concatenate(([0], np.cumsum(n_bursts)[:-1]))
    starts = rng.integers(0, span_us, size=int(n_bursts.sum()))
    pick = first[key_of] + (rng.random(key_of.size)
                            * n_bursts[key_of]).astype(np.int64)
    offs = rng.exponential(burst_mean_us, size=key_of.size).astype(np.int64)
    ts = np.minimum(starts[pick] + offs, span_us - 1)
    state = rng.choice(np.array([1, 2, 3, 4], dtype=np.int32),
                       size=key_of.size, p=[0.55, 0.2, 0.15, 0.1])
    return ts, state


def ledger_table(seed: int) -> pa.Table:
    """Append-only attempt log: heavy-tailed key popularity over cold
    keys plus a few hot keys holding thousands of attempts each.

    Columns: key bigint, ts timestamp, attempt_id bigint (unique, in
    random order relative to ts), state int (claimed 1-4), payload."""
    rng = _rng(seed, 1)
    ranks = np.arange(LEDGER_COLD_KEYS, dtype=np.float64)
    p = 1.0 / (ranks + 10.0) ** 1.1
    p /= p.sum()
    cold = rng.choice(LEDGER_COLD_KEYS, size=LEDGER_COLD_ATTEMPTS, p=p)
    hot = np.repeat(np.arange(LEDGER_HOT_KEYS), LEDGER_HOT_ATTEMPTS)
    n_keys = LEDGER_COLD_KEYS + LEDGER_HOT_KEYS
    key_idx = np.concatenate((cold, LEDGER_COLD_KEYS + hot))
    ts, state = _attempt_log(rng, key_idx, n_keys, DAY_US,
                             burst_size=8.0, burst_mean_us=20e6)
    # hot keys: burst of ~1000 attempts within a few minutes each
    is_hot = key_idx >= LEDGER_COLD_KEYS
    hot_ts, _ = _attempt_log(rng, hot, LEDGER_HOT_KEYS, DAY_US,
                             burst_size=1000.0, burst_mean_us=60e6)
    ts[is_hot] = hot_ts
    key = np.where(is_hot, HOT_KEY_BASE + key_idx - LEDGER_COLD_KEYS,
                   key_idx).astype(np.int64)
    n = key.size
    order = rng.permutation(n)                       # shuffle file order
    attempt_id = rng.permutation(n).astype(np.int64)
    payload = pa.array(rng.integers(10**11, 10**12, size=n)).cast(pa.string())
    return pa.table({
        "key": key[order],
        "ts": _ts_array(ts[order]),
        "attempt_id": attempt_id[order],
        "state": state[order],
        "payload": payload.take(pa.array(order)),
    })


def stream_table(seed: int) -> pa.Table:
    """Attempt log for the streaming workload, sorted by ts; the files
    are cut from it in time order. Columns: user_id bigint, event_type,
    ts timestamp, event_id bigint (unique), state int, payload."""
    rng = _rng(seed, 2)
    n = STREAM_FILES * STREAM_ATTEMPTS_PER_FILE
    n_keys = STREAM_USERS * len(STREAM_EVENT_TYPES)
    ranks = np.arange(n_keys, dtype=np.float64)
    p = 1.0 / (ranks + 5.0) ** 1.0
    p /= p.sum()
    key_idx = rng.choice(n_keys, size=n, p=p)
    ts, state = _attempt_log(rng, key_idx, n_keys, DAY_US,
                             burst_size=6.0, burst_mean_us=120e6)
    perm = rng.permutation(n_keys)                   # scatter key ids
    k = perm[key_idx]
    user_id = (k // len(STREAM_EVENT_TYPES)).astype(np.int64)
    etype = pa.array(np.array(STREAM_EVENT_TYPES)[
        k % len(STREAM_EVENT_TYPES)])
    event_id = rng.permutation(n).astype(np.int64)
    order = np.lexsort((event_id, ts))
    # strictly increasing timestamps (a shift of at most n µs), so the
    # files cut from the sorted log have disjoint time ranges
    ts_sorted = ts[order] + np.arange(n)
    payload = pa.array(rng.integers(10**11, 10**12, size=n)).cast(pa.string())
    return pa.table({
        "user_id": user_id[order],
        "event_type": etype.take(pa.array(order)),
        "ts": _ts_array(ts_sorted),
        "event_id": event_id[order],
        "state": state[order],
        "payload": payload.take(pa.array(order)),
    })


def _token_names(n: int) -> np.ndarray:
    digits = "0123456789abcdefghijklmnopqrstuvwxyz"

    def b36(i: int) -> str:
        s = ""
        while True:
            i, r = divmod(i, 36)
            s = digits[r] + s
            if i == 0:
                return "t" + s
    return np.array([b36(i) for i in range(n)])


def text_table(seed: int) -> pa.Table:
    """Corpus of lowercase alphanumeric tokens joined by single spaces,
    so normalisation is the identity. Base documents draw tokens from a
    Zipf-like vocabulary; a share are exact copies of a base document
    and a share are clones that drop every s-th token from offset o.
    Columns: doc_id bigint (random order), text string."""
    rng = _rng(seed, 3)
    vocab = _token_names(TEXT_VOCAB)
    p = 1.0 / (np.arange(TEXT_VOCAB) + 20.0)
    p /= p.sum()
    n_exact = int(TEXT_DOCS * TEXT_EXACT_SHARE)
    n_clone = int(TEXT_DOCS * TEXT_CLONE_SHARE)
    n_base = TEXT_DOCS - n_exact - n_clone
    base = rng.choice(TEXT_VOCAB, size=(n_base, TEXT_TOKENS), p=p)
    docs = [" ".join(vocab[row]) for row in base]
    for src in rng.integers(0, n_base, size=n_exact):
        docs.append(docs[src])
    for src in rng.integers(0, n_base, size=n_clone):
        stride = int(rng.choice(TEXT_CLONE_STRIDES))
        off = int(rng.integers(0, stride))
        keep = [t for i, t in enumerate(base[src]) if i % stride != off]
        docs.append(" ".join(vocab[keep]))
    doc_id = rng.permutation(TEXT_DOCS).astype(np.int64) + 1
    order = np.argsort(doc_id)
    return pa.table({"doc_id": doc_id[order],
                     "text": pa.array(docs).take(pa.array(order))})


def vectors_table(seed: int) -> pa.Table:
    """Clustered 64-d float32 embeddings: cluster centres plus
    isotropic noise, and a share of near-identical copies of other
    vectors. Columns: vec_id bigint, embedding array<float>."""
    rng = _rng(seed, 4)
    n_fam = int(VEC_N * VEC_FAMILY_SHARE)
    n_base = VEC_N - n_fam
    centres = rng.normal(size=(VEC_CLUSTERS, VEC_DIM))
    lab = rng.integers(0, VEC_CLUSTERS, size=n_base)
    base = centres[lab] + rng.normal(scale=0.7, size=(n_base, VEC_DIM))
    src = rng.integers(0, n_base, size=n_fam)
    fam = base[src] + rng.normal(scale=0.02, size=(n_fam, VEC_DIM))
    emb = np.vstack((base, fam)).astype(np.float32)
    vec_id = rng.permutation(VEC_N).astype(np.int64) + 1
    flat = pa.array(emb.reshape(-1), type=pa.float32())
    arr = pa.FixedSizeListArray.from_arrays(flat, VEC_DIM).cast(
        pa.list_(pa.float32()))
    return pa.table({"vec_id": vec_id, "embedding": arr})


def _write_split(table: pa.Table, out_dir: str, parts: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(out_dir, f"part-{i:03d}.parquet"))


def _write_stream_files(table: pa.Table, out_dir: str) -> None:
    """One file per time range, mtimes strictly increasing in time
    order: the file source replays files by modification time."""
    os.makedirs(out_dir, exist_ok=True)
    now = int(time.time()) - 3600
    for i in range(STREAM_FILES):
        path = os.path.join(out_dir, f"batch-{i:03d}.parquet")
        pq.write_table(table.slice(i * STREAM_ATTEMPTS_PER_FILE,
                                   STREAM_ATTEMPTS_PER_FILE), path)
        os.utime(path, (now + 10 * i, now + 10 * i))


GENERATORS = {
    "ledger": ledger_table,
    "stream": stream_table,
    "text": text_table,
    "vectors": vectors_table,
}

# The parts each workload listed in BENCHMARK.json runs over.
WORKLOAD_PARTS = {
    "burst_ledger": ("ledger", "stream"),
    "neardup": ("text", "vectors"),
}


def _cache_dir(cache_root: str, part: str, seed: int) -> str:
    return os.path.join(cache_root, f"{part}-s{seed}-v{GEN_VERSION}")


def prepare(part: str, seed: int, cache_root: str) -> dict:
    """Generate (or reuse) one part's input for ``seed``. Returns
    {"dir", "rows", "bytes", "gen_s", "cached"}."""
    d = _cache_dir(cache_root, part, seed)
    meta_path = os.path.join(d, "_meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            meta = json.load(fh)
        meta.update(dir=d, gen_s=0.0, cached=True)
        return meta
    t0 = time.perf_counter()
    table = GENERATORS[part](seed)
    tmp = d + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    data = os.path.join(tmp, "data")
    if part == "stream":
        _write_stream_files(table, data)
    elif part == "ledger":
        _write_split(table, data, LEDGER_FILES)
    else:
        _write_split(table, data, 1)
    nbytes = sum(os.path.getsize(os.path.join(data, f))
                 for f in os.listdir(data))
    meta = {"rows": table.num_rows, "bytes": nbytes}
    with open(os.path.join(tmp, "_meta.json"), "w") as fh:
        json.dump(meta, fh)
    shutil.rmtree(d, ignore_errors=True)
    os.replace(tmp, d)
    meta.update(dir=d, gen_s=time.perf_counter() - t0, cached=False)
    return meta


def main() -> None:
    """Rebuild cached inputs: python3 perfbench/inputs.py WORKLOAD SEED..."""
    import argparse
    ap = argparse.ArgumentParser(description=main.__doc__)
    ap.add_argument("workload", choices=sorted(WORKLOAD_PARTS))
    ap.add_argument("seeds", type=int, nargs="+")
    ap.add_argument("--cache", default=os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".perfbench", "inputs"))
    args = ap.parse_args()
    for s in args.seeds:
        for part in WORKLOAD_PARTS[args.workload]:
            shutil.rmtree(_cache_dir(args.cache, part, s), ignore_errors=True)
            print(json.dumps(prepare(part, s, args.cache)))


if __name__ == "__main__":
    main()
