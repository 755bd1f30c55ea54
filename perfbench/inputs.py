"""Seeded input generators. The same seed gives identical inputs.

Every table is written as one parquet file under the run's work
directory, so the engine reads it exactly as it reads any other source
(``sources.catalog.load_table``). Sizes are fixed per workload; the seed
only changes the contents, so runs with different seeds do the same
amount of work.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

_EVENT_TYPES = np.array(["view", "click", "purchase", "error"])
_EVENT_P = [0.55, 0.25, 0.15, 0.05]
_T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
_DAY_US = 86_400_000_000

_VOCAB = np.array(
    "batch part spark line column order small sort fast value scan a hash "
    "slow group agg filter query big key window row table stream merge "
    "data vector customer the join dup".split()
)
_LANGS = np.array(["en", "zh", "es", "fr", "de"])
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _write(df: pd.DataFrame, path: str, schema: pa.Schema | None = None) -> None:
    pq.write_table(pa.Table.from_pandas(df, schema=schema, preserve_index=False), path)


def write_events(
    seed: int, out_dir: str, n_events: int, n_users: int, days: int = 60
) -> np.ndarray:
    """``events`` (the repo's stream-table schema) with uniform users and
    a ``labels`` spine: one row per user who has an event, labelled 1 when
    the user purchased in the last week of the window.

    Returns the ids of the users in the spine."""
    rng = np.random.default_rng([seed, 1])
    users = rng.integers(0, n_users, n_events)
    ts = np.sort(rng.integers(0, days * _DAY_US, n_events)) + _T0_US
    etype = rng.choice(_EVENT_TYPES, n_events, p=_EVENT_P)
    value = np.round(rng.gamma(2.0, 40.0, n_events), 2)
    events = pd.DataFrame(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": pd.to_datetime(ts, unit="us"),
            "user_id": users.astype(np.int64),
            "event_type": etype,
            "value": value,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    schema = pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", pa.timestamp("us")),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    )
    _write(events, os.path.join(out_dir, "events.parquet"), schema)
    last_week = ts >= _T0_US + (days - 7) * _DAY_US
    bought = np.zeros(n_users, dtype=np.int64)
    np.maximum.at(bought, users, (last_week & (etype == "purchase")).astype(np.int64))
    present = np.unique(users)
    _write(
        pd.DataFrame({"user_id": present, "label": bought[present]}),
        os.path.join(out_dir, "labels.parquet"),
    )
    return present


def feature_updates(
    seed: int, pass_no: int, user_ids: np.ndarray, n_changed: int, n_new: int
) -> pd.DataFrame:
    """An upsert batch for the user feature table: ``n_changed`` existing
    users get new values (always different from any value the rolling
    build produces, which are non-negative), ``n_new`` unseen users are
    inserted. Keys are unique; a different batch per pass."""
    rng = np.random.default_rng([seed, 2, pass_no])
    changed = rng.choice(user_ids, n_changed, replace=False)
    new = np.arange(n_new, dtype=np.int64) + int(user_ids.max()) + 1 + pass_no * n_new
    keys = np.concatenate([changed, new]).astype(np.int64)
    n = keys.size
    return pd.DataFrame(
        {
            "user_id": keys,
            "total_purchase_7d": -np.round(rng.uniform(1, 500, n), 2),
            "total_purchase_30d": -np.round(rng.uniform(1, 2000, n), 2),
            "n_events_30d": rng.integers(1, 50, n).astype(np.int64),
        }
    )


def write_corpus(seed: int, out_dir: str, n_docs: int, n_vecs: int) -> None:
    """``documents`` and ``embeddings`` shaped like the repo's sf0.1
    tables (31-word vocabulary, 5 languages, 20 sources; 64-dim unit
    vectors in 10 labelled clusters).

    A seeded share of documents are clones of earlier ones under a new
    key: exact copies (for exact dedup) and copies with a few words
    edited (for MinHash near-dup detection)."""
    rng = np.random.default_rng([seed, 3])
    lengths = rng.integers(8, 96, n_docs)
    texts = [" ".join(rng.choice(_VOCAB, k)) for k in lengths]
    n_exact = n_docs // 20
    n_near = n_docs // 10
    clones = rng.choice(n_docs // 2, n_exact + n_near, replace=False)
    targets = rng.choice(np.arange(n_docs // 2, n_docs), n_exact + n_near, replace=False)
    for i, (src, dst) in enumerate(zip(clones, targets)):
        words = texts[src].split()
        if i >= n_exact:
            for pos in rng.choice(len(words), max(1, len(words) // 12), replace=False):
                words[pos] = str(rng.choice(_VOCAB))
        texts[dst] = " ".join(words)
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, n_docs, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    _write(docs, os.path.join(out_dir, "documents.parquet"))

    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_vecs)
    vecs = centers[labels] + rng.normal(scale=0.6, size=(n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pd.DataFrame(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": list(vecs),
            "label": labels.astype(np.int32),
        }
    )
    schema = pa.schema(
        [
            ("vec_id", pa.int64()),
            ("embedding", pa.list_(pa.float32())),
            ("label", pa.int32()),
        ]
    )
    _write(emb, os.path.join(out_dir, "embeddings.parquet"), schema)
