"""Seeded input generators for the three workloads.

Every generator is a pure function of its seed: the same seed gives the
same events, users and corpus. Files are cached per seed under
``perfbench/.cache`` so repeated runs of one seed skip the generation.

Event time is logical: event ``i`` happens at ``EPOCH_S + i`` whole
seconds. Whole, globally unique seconds keep the batch range frames
(which compare epoch seconds) and the live per-event frames (which
compare microseconds) on the same side of every window boundary, and
leave no ties for the two paths to order differently.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
CACHE_DIR = os.path.join(BENCH_DIR, ".cache")

N_USERS = 20_000
ZIPF_S = 1.0
EVENT_TYPES = ("view", "click", "cart", "signup", "purchase")
TYPE_P = (0.45, 0.25, 0.12, 0.10, 0.08)
EPOCH_S = 1_767_225_600  # 2026-01-01T00:00:00Z
TIERS = ("free", "plus", "pro")
COUNTRIES = ("us", "de", "in", "br", "jp", "fr", "ng", "ca")

EVENT_SCHEMA = (
    "ts timestamp, user_id string, event_type string, amount double, "
    "event_id bigint, gen_ns bigint"
)


def rng(*key: int) -> np.random.Generator:
    return np.random.default_rng(list(key))


def iso_ts(epoch_s) -> str:
    """ISO-8601 UTC text of whole epoch seconds, as the JSON files carry it."""
    return dt.datetime.fromtimestamp(int(epoch_s), dt.timezone.utc).isoformat()


def zipf_weights(n: int = N_USERS, s: float = ZIPF_S) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


def user_name(idx: np.ndarray) -> np.ndarray:
    return np.char.add("u", idx.astype(str))


def event_columns(rng: np.random.Generator, first_id: int, n: int) -> dict:
    """Columns of ``n`` events with ids ``first_id ..``: Zipf(s=1) users
    over N_USERS keys, the five-type mix, integral amounts (exact sums in
    every engine)."""
    users = rng.choice(N_USERS, size=n, p=zipf_weights())
    types = rng.choice(len(EVENT_TYPES), size=n, p=TYPE_P)
    amount = rng.integers(1, 500, size=n).astype(np.float64)
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    return {
        "user_id": user_name(users),
        "event_type": np.array(EVENT_TYPES)[types],
        "amount": amount,
        "event_id": ids,
        "ts_s": EPOCH_S + ids,
    }


def disorder(rng: np.random.Generator, n: int, share: float) -> np.ndarray:
    """Write order for ``n`` events of one file: ``share`` of them are
    moved to a random later slot, so they arrive after newer events. No
    event leaves its file, so no event is later than the watermark."""
    key = np.arange(n, dtype=np.float64)
    moved = rng.random(n) < share
    key[moved] += rng.random(int(moved.sum())) * (n - key[moved])
    return np.argsort(key, kind="stable")


def _cached(name: str) -> str:
    os.makedirs(CACHE_DIR, exist_ok=True)
    return os.path.join(CACHE_DIR, name)


def event_log(seed: int, n_events: int) -> str:
    """Parquet event log for the batch replay; returns its path."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = _cached(f"events-{seed}-{n_events}.parquet")
    if os.path.exists(path):
        return path
    rng = np.random.default_rng([seed, 1])
    c = event_columns(rng, 0, n_events)
    table = pa.table(
        {
            "ts": pa.array(c["ts_s"] * 1_000_000, pa.timestamp("us", tz="UTC")),
            "user_id": c["user_id"],
            "event_type": c["event_type"],
            "amount": c["amount"],
            "event_id": c["event_id"],
            "gen_ns": np.zeros(n_events, dtype=np.int64),
        }
    )
    pq.write_table(table, path + ".tmp", row_group_size=max(1, n_events // 8))
    os.replace(path + ".tmp", path)
    return path


def users_dim(seed: int) -> str:
    """The ``users`` dimension (one row per key); returns its parquet path."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = _cached(f"users-{seed}.parquet")
    if os.path.exists(path):
        return path
    rng = np.random.default_rng([seed, 2])
    table = pa.table(
        {
            "user_id": user_name(np.arange(N_USERS)),
            "tier": np.array(TIERS)[rng.integers(len(TIERS), size=N_USERS)],
            "country": np.array(COUNTRIES)[rng.integers(len(COUNTRIES), size=N_USERS)],
        }
    )
    pq.write_table(table, path + ".tmp")
    os.replace(path + ".tmp", path)
    return path


def corpus(seed: int, n_docs: int, dup_share: float) -> tuple[str, str]:
    """Corpus with planted near-duplicates.

    ``dup_share`` of the documents copy an earlier original with a
    per-token replacement rate drawn from [0.02, 0.15]; an original may be
    copied more than once. Returns the parquet path of ``(doc_id, text)``
    and the JSON path of the ground-truth clusters (lists of doc ids that
    share one original).
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    stem = _cached(f"corpus-{seed}-{n_docs}-{dup_share}")
    docs_path, truth_path = stem + ".parquet", stem + ".truth.json"
    if os.path.exists(docs_path) and os.path.exists(truth_path):
        return docs_path, truth_path
    rng = np.random.default_rng([seed, 3])
    vocab = np.array([f"w{i}" for i in range(8000)])
    vp = zipf_weights(len(vocab), 1.1)
    token_lists: list[np.ndarray] = []
    is_dup = rng.random(n_docs) < dup_share
    clusters: dict[int, list[int]] = {}
    originals: list[int] = []
    for d in range(n_docs):
        if is_dup[d] and originals:
            src = originals[int(rng.integers(len(originals)))]
            toks = token_lists[src].copy()
            hit = rng.random(len(toks)) < rng.uniform(0.02, 0.15)
            toks[hit] = rng.choice(vocab, size=int(hit.sum()), p=vp)
            clusters.setdefault(src, [src]).append(d)
        else:
            toks = rng.choice(vocab, size=int(rng.integers(60, 200)), p=vp)
            originals.append(d)
        token_lists.append(toks)
    table = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": [" ".join(t) for t in token_lists],
        }
    )
    pq.write_table(table, docs_path + ".tmp", row_group_size=max(1, n_docs // 8))
    os.replace(docs_path + ".tmp", docs_path)
    with open(truth_path + ".tmp", "w") as f:
        json.dump(sorted(clusters.values()), f)
    os.replace(truth_path + ".tmp", truth_path)
    return docs_path, truth_path


def truth_pairs(truth_path: str) -> set[tuple[int, int]]:
    """Every unordered pair of documents that share one original."""
    with open(truth_path) as f:
        clusters = json.load(f)
    pairs = set()
    for c in clusters:
        c = sorted(c)
        pairs.update((a, b) for i, a in enumerate(c) for b in c[i + 1 :])
    return pairs
