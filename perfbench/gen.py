"""Seeded input generators. The program only ever sees the files these
write: CDC change files in the fixture's event-table shape and document
files in the fixture's documents shape."""

from __future__ import annotations

import datetime as dt
import json

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["signup", "purchase", "click", "error", "view"])
EVENT_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)
DOC_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)
_EPOCH_US = int(dt.datetime(2024, 1, 1).timestamp() * 1_000_000)


def _events(rng, seq0: int, pks: np.ndarray, types: np.ndarray) -> pa.Table:
    n = len(pks)
    ks = rng.integers(0, 100, n)
    return pa.table(
        {
            "event_id": np.arange(seq0, seq0 + n, dtype=np.int64),
            "ts": pa.array(_EPOCH_US + (seq0 + np.arange(n)) * 1000, pa.timestamp("us")),
            "user_id": pks.astype(np.int64),
            "event_type": types,
            "value": np.round(rng.uniform(0.0, 500.0, n), 2),
            "props": [json.dumps({"k": int(k)}) for k in ks],
        },
        schema=EVENT_SCHEMA,
    )


def bootstrap_events(rng, n_keys: int) -> pa.Table:
    """One create (``signup``) per key 0..n_keys-1: the index snapshot."""
    return _events(rng, 0, np.arange(n_keys), np.full(n_keys, "signup"))


def change_events(rng, seq0: int, n: int, pks: np.ndarray) -> pa.Table:
    """Sparse changes: each event's op is uniform over the five source
    ops (``view`` is filtered by the normalizer; ``purchase``/``click``
    with ``k % 3 == 0`` become value-less partial updates)."""
    return _events(rng, seq0, pks, EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)])


class ZipfKeys:
    """Zipf(s) popularity over ``n_keys`` keys; key identities are a
    seeded permutation so the hot keys spread over the pk buckets."""

    def __init__(self, rng, n_keys: int, s: float = 1.1):
        w = 1.0 / np.arange(1, n_keys + 1) ** s
        self.cdf = np.cumsum(w / w.sum())
        self.perm = rng.permutation(n_keys)

    def sample(self, rng, n: int) -> np.ndarray:
        ranks = np.searchsorted(self.cdf, rng.random(n), side="right")
        return self.perm[np.minimum(ranks, len(self.perm) - 1)]


def write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path)


# --- documents ---------------------------------------------------------------

# The fixture's documents (the sf0.1 ``documents`` table) are bags of
# words drawn uniformly from these 30 words, 10 to 99 words long; about
# 5% are near duplicates (an earlier text plus the word " dup") and about
# 0.2% verbatim copies. The generator follows that model, so MinHash band
# collisions, Bloom hit rates and embeddings see the fixture's text
# distribution; ``docstats.py`` compares the two.
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "de", "fr", "zh", "es"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
N_SOURCES = 20


def documents(rng, n_docs: int, exact_share: float, near_share: float):
    """``n_docs`` documents in doc_id order in the fixture's shape. A
    seeded share copies an EARLIER original verbatim (an exact duplicate)
    or with " dup" appended (a near duplicate, 3-shingle Jaccard >= 0.89,
    the fixture's form). Returns (table, ground truth)."""
    vocab = np.array(VOCAB)
    texts: list[str] = []
    kind: list[str] = []
    originals: list[int] = []
    for i in range(n_docs):
        r = rng.random()
        if originals and r < exact_share:
            texts.append(texts[originals[rng.integers(0, len(originals))]])
            kind.append("exact")
        elif originals and r < exact_share + near_share:
            texts.append(texts[originals[rng.integers(0, len(originals))]] + " dup")
            kind.append("near")
        else:
            n_words = int(rng.integers(10, 100))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), n_words)]))
            kind.append("orig")
            originals.append(i)
    table = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(len(LANGS), n_docs, p=LANG_P)],
            "source": [f"src{i % N_SOURCES}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        },
        schema=DOC_SCHEMA,
    )
    truth = {
        k: [i for i, x in enumerate(kind) if x == k] for k in ("orig", "exact", "near")
    }
    return table, truth
