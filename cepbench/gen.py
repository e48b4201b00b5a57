"""Seeded input generator for the benchmark.

Every table is a pure function of its seed and size arguments and is
written with the schemas of the engine's synthetic test tables:

- ``events``: ``event_id int64, ts timestamp[us], user_id int64,
  event_type string, value double, props string``. Each key holds a
  balance walk that drifts down through the alarm threshold (10) and is
  topped up at random, with short and long gaps, so the reference
  pattern (alarm, non-increasing run, top-up within 1 hour) yields both
  matches and 1-hour timeouts. Timestamps are whole seconds, strictly
  increasing within a key, and values are whole numbers, so the same
  events also fit the headerless billing CSV the streaming source reads.
- ``documents``: ``doc_id, text, lang, source, n_chars`` over a small
  vocabulary, with a stated share of near-duplicates (a copy of an
  earlier document with a few tokens replaced).
- ``embeddings``: ``vec_id, embedding list<float32>[64], label int32``,
  unit vectors clustered around one centre per label.

Callers write each seed into a fresh directory: the engine memoizes
parquet schemas per path, so reusing a path across seeds could serve a
stale footer.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(2024, 1, 1)
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row "
    "the agg key query a scan batch"
).split()
LANGS = ("en", "zh", "de", "fr", "es")
LANG_P = (0.41, 0.15, 0.14, 0.15, 0.15)
N_SOURCES = 20
DIM = 64
N_LABELS = 10

EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


def billing_walk(
    seed: int, n_keys: int, per_key: int, mean_gap_s: float
) -> pd.DataFrame:
    """Per-key balance walks: ``user_id, t_s, value`` sorted by
    ``(user_id, t_s)``. ``t_s`` is whole seconds from the first event
    time; values are whole numbers in ``[0, 400]``.

    About one gap in eight is long (70 to 180 minutes), so some alarms
    see no top-up within the hour and time out."""
    rng = np.random.default_rng(seed)
    lens = rng.integers(int(per_key * 0.7), int(per_key * 1.3) + 1, n_keys)
    n = int(lens.sum())
    key = np.repeat(np.arange(n_keys, dtype=np.int64), lens)
    long_gap = rng.random(n) < 0.12
    gaps = np.where(
        long_gap,
        rng.integers(70 * 60, 180 * 60, n),
        1 + rng.exponential(mean_gap_s, n).astype(np.int64),
    )
    starts = np.cumsum(lens) - lens
    gaps[starts] = rng.integers(0, int(mean_gap_s * 4) + 1, n_keys)
    t_s = np.cumsum(gaps)
    t_s -= np.repeat(t_s[starts] - gaps[starts], lens)
    up = rng.random(n) < 0.17
    step = np.where(up, rng.integers(8, 45, n), -rng.integers(0, 11, n))
    value = np.empty(n, dtype=np.int64)
    # walk every key in lockstep: step j of all keys at once
    prev = np.full(n_keys, 50, dtype=np.int64)
    for j in range(int(lens.max())):
        idx = starts[lens > j] + j
        k = key[idx]
        v = np.clip(prev[k] + step[idx], 0, 400)
        value[idx] = v
        prev[k] = v
    return pd.DataFrame({"user_id": key, "t_s": t_s, "value": value})


def events_frame(walk: pd.DataFrame, seed: int) -> pd.DataFrame:
    """The ``events`` table for a walk: ``event_id`` numbers the rows in
    global time order (the engine's same-timestamp tiebreak)."""
    rng = np.random.default_rng(seed + 1)
    w = walk.sort_values(["t_s", "user_id"], kind="stable").reset_index(drop=True)
    n = len(w)
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pd.to_datetime(EPOCH) + pd.to_timedelta(w["t_s"], unit="s"),
            "user_id": w["user_id"].to_numpy(),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
            "value": w["value"].to_numpy(dtype=np.float64),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def write_events(path: str, events: pd.DataFrame) -> None:
    table = pa.Table.from_pandas(events, schema=EVENTS_SCHEMA, preserve_index=False)
    pq.write_table(table, path)


def documents_frame(seed: int, n_docs: int, dup_share: float) -> pd.DataFrame:
    """``dup_share`` of the documents are near-copies of an earlier
    document: the same tokens with about one in twenty replaced."""
    rng = np.random.default_rng(seed + 2)
    vocab = np.array(VOCAB)
    lens = rng.integers(8, 100, n_docs)
    texts: list[str] = []
    is_dup = rng.random(n_docs) < dup_share
    is_dup[0] = False
    for i in range(n_docs):
        if is_dup[i]:
            toks = texts[int(rng.integers(0, i))].split(" ")
            for j in np.flatnonzero(rng.random(len(toks)) < 0.05):
                toks[j] = "dup"
            texts.append(" ".join(toks))
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), lens[i])]))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(len(LANGS), n_docs, p=LANG_P)],
            "source": [f"src{i % N_SOURCES}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def write_embeddings(path: str, seed: int, n_vecs: int) -> None:
    rng = np.random.default_rng(seed + 3)
    centres = rng.normal(size=(N_LABELS, DIM))
    label = rng.integers(0, N_LABELS, n_vecs).astype(np.int32)
    x = centres[label] * 0.35 + rng.normal(size=(n_vecs, DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
            "label": pa.array(label),
        }
    )
    pq.write_table(table, path)


def write_corpus(out_dir: str, seed: int, n_docs: int, n_vecs: int, dup_share: float) -> None:
    docs = documents_frame(seed, n_docs, dup_share)
    pq.write_table(pa.Table.from_pandas(docs, preserve_index=False), f"{out_dir}/documents.parquet")
    write_embeddings(f"{out_dir}/embeddings.parquet", seed, n_vecs)


def write_batch_tables(out_dir: str, seed: int, n_keys: int, per_key: int) -> int:
    """Write ``events.parquet`` for a batch workload; returns its rows."""
    os.makedirs(out_dir, exist_ok=True)
    ev = events_frame(billing_walk(seed, n_keys, per_key, mean_gap_s=15 * 60), seed)
    write_events(f"{out_dir}/events.parquet", ev)
    return len(ev)
