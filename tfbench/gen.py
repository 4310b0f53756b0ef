"""Seeded input generator: ``events`` and ``documents`` parquet tables.

The schemas and types match the harness tables the registry reads
(``events(event_id, ts, user_id, event_type, value, props)``,
``documents(doc_id, text, lang, source, n_chars)``), so every registry
row and its DuckDB oracle run on them unchanged. ``user_id`` follows a
bounded Zipf law over ``users`` ids, so a few hot users own a large share
of the events. Timestamps are strictly increasing, which keeps every
per-user ordering free of ties.

The seed changes which user is hot, the order of events in time, their
values and the document texts, but not the shape of the work: the events
per Zipf rank, the events per type, the document lengths and the number
of near-duplicates are the same for every seed, so two seeds cost the
same to process.

``meta.json`` beside the tables records the row counts and the hottest
user's share of events.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"], dtype=object)
PROPS = np.array([f'{{"k": {k}}}' for k in range(100)], dtype=object)
WORDS = np.array(
    (
        "a agg batch big column customer data fast filter group hash join key"
        " line merge order part query row scan slow small sort spark stream"
        " table the value vector window"
    ).split(),
    dtype=object,
)
LANGS = np.array(["en", "zh", "es", "fr", "de"], dtype=object)
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
MONTH_US = 30 * 86_400 * 1_000_000
T0 = np.datetime64("2024-01-01T00:00:00", "us")


def exact_counts(n: int, weights: np.ndarray) -> np.ndarray:
    """Split ``n`` into integer counts proportional to ``weights``
    (largest remainder), so the split does not depend on the seed."""
    share = weights / weights.sum() * n
    counts = np.floor(share).astype(np.int64)
    counts[np.argsort(counts - share)[: n - counts.sum()]] += 1
    return counts


def shuffled(rng: np.random.Generator, values: np.ndarray, counts: np.ndarray) -> np.ndarray:
    return rng.permutation(np.repeat(values, counts))


def events_table(rng: np.random.Generator, n: int, users: int, zipf_s: float) -> pa.Table:
    per_rank = exact_counts(n, np.arange(1, users + 1, dtype=np.float64) ** -zipf_s)
    user_id = shuffled(rng, rng.permutation(users).astype(np.int64), per_rank)
    per_type = exact_counts(n, np.ones(len(EVENT_TYPES)))
    # strictly increasing µs offsets spread over the month
    gaps = rng.random(n)
    offs = np.cumsum(gaps / gaps.sum() * (MONTH_US - 2 * n)).astype(np.int64)
    offs += np.arange(n, dtype=np.int64)
    ts = T0 + offs.astype("timedelta64[us]")
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(user_id),
            "event_type": pa.array(shuffled(rng, EVENT_TYPES, per_type), type=pa.string()),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array(PROPS[rng.integers(0, 100, n)], type=pa.string()),
        }
    )


def documents_table(rng: np.random.Generator, n: int, dup_share: float = 0.05) -> pa.Table:
    lengths = rng.permutation(10 + np.arange(n) * 91 // n)  # 10..100 tokens
    texts = [" ".join(WORDS[rng.integers(0, len(WORDS), k)]) for k in lengths]
    # near-duplicates: a copy of an earlier document plus one extra token
    for i in rng.choice(np.arange(1, n), size=round(n * dup_share), replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, type=pa.string()),
            "lang": pa.array(shuffled(rng, LANGS, exact_counts(n, np.array(LANG_P))), type=pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], type=pa.string()),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def generate(out_dir: str, seed: int, sizes: dict) -> dict:
    """Write the tables ``sizes`` asks for under ``out_dir`` and return the
    recorded metadata."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    meta = {"seed": seed, "sizes": sizes, "rows": {}}
    if sizes.get("events"):
        ev = events_table(rng, sizes["events"], sizes["users"], sizes.get("zipf_s", 1.0))
        pq.write_table(ev, os.path.join(out_dir, "events.parquet"))
        counts = np.bincount(ev.column("user_id").to_numpy())
        meta["rows"]["events"] = ev.num_rows
        meta["distinct_users"] = int((counts > 0).sum())
        meta["hot_user_share"] = round(float(counts.max() / ev.num_rows), 6)
    if sizes.get("documents"):
        docs = documents_table(rng, sizes["documents"])
        pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
        meta["rows"]["documents"] = docs.num_rows
    with open(os.path.join(out_dir, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1)
    return meta
