"""Seeded input generator for the benchmark workloads.

Writes the three tables the workloads read, in the fixture schemas the
package's ``sources.catalog.load_table`` and every registry oracle
expect (one parquet file per table, one row group, naive microsecond
timestamps):

- ``events``     event_id, ts, user_id, event_type, value, props
- ``documents``  doc_id, text, lang, source, n_chars
- ``embeddings`` vec_id, embedding (float[]), label

Every draw comes from one ``numpy.random.default_rng(seed)`` per table,
so the same seed and sizes give byte-identical files and a different
seed gives different ones (``test_gen.py`` pins both).

The value distributions copy the repository's ``events``,
``documents`` and ``embeddings`` test fixtures (the sf0.01 and sf0.1
sets); README.md lists each measured figure. Two properties of the
events are not in the fixture, which has no duplicate readings and no
hot device. They are explicit arguments, stated by the workload that
uses them:

- ``dup_share``: share of readings re-delivered with a new event_id but
  the same (device, timestamp, value); the W1 dedup drops them.
- ``hot_share``: share of readings from one hot device (``user_id`` 0),
  the rest uniform over ``n_devices``; the skewed dedup/stats key.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The fixtures' figures (README.md "Generated inputs"): five event types
# at ~20% each; ``value`` ~ exponential with mean 50 at 2 decimals (so
# ~13% lie above staging's valid range); timestamps uniform over 30 days;
# ``props`` = {"k": 0..99}. Documents of 10-100 words from a 30-word
# vocabulary, 40% ``en``, source = doc_id % 20, 5% near-duplicates made
# of another document plus the word "dup". Embeddings are 64-dim unit
# vectors whose 10 labels carry no cluster structure.
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
VALUE_MEAN = 50.0
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
NEAR_DUP_WORD = "dup"
LANGS = ("en", "de", "fr", "es", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
N_SOURCES = 20
EMB_DIM = 64
T0 = datetime.datetime(2024, 1, 1)
SPAN_US = 30 * 86400 * 10**6


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1))


def events_table(
    seed: int,
    n_readings: int,
    dup_share: float,
    hot_share: float,
    n_devices: int,
    first_event_id: int = 0,
) -> pa.Table:
    """``n_readings`` distinct readings plus ``round(n_readings *
    dup_share)`` re-deliveries appended after them (new event_id, same
    device/timestamp/value). Devices are uniform over ``n_devices``
    apart from the hot one."""
    rng = np.random.default_rng(seed)
    n = n_readings
    hot = rng.random(n) < hot_share
    user = np.where(hot, 0, rng.integers(1, n_devices, n)).astype(np.int64)
    ts_us = np.sort(rng.integers(0, SPAN_US, n)).astype(np.int64)
    etype = rng.integers(0, len(EVENT_TYPES), n)
    value = np.round(rng.exponential(VALUE_MEAN, n), 2)
    k = rng.integers(0, 100, n)

    n_dup = int(round(n * dup_share))
    src = np.sort(rng.choice(n, size=n_dup, replace=False)) if n_dup else np.empty(0, int)
    idx = np.concatenate([np.arange(n), src])
    total = len(idx)
    ts = np.datetime64(T0, "us") + ts_us[idx].astype("timedelta64[us]")
    return pa.table(
        {
            "event_id": pa.array(np.arange(first_event_id, first_event_id + total), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(user[idx], pa.int64()),
            "event_type": pa.array([EVENT_TYPES[i] for i in etype[idx]], pa.string()),
            "value": pa.array(value[idx], pa.float64()),
            "props": pa.array([f'{{"k": {v}}}' for v in k[idx]], pa.string()),
        }
    )


def documents_table(seed: int, n_docs: int, near_share: float) -> pa.Table:
    """Documents of 10-100 uniform vocabulary words. A ``near_share`` of
    them are another (original) document plus the word "dup", a
    3-shingle Jaccard of ~0.98 that the near-dup pair table must find;
    two near-duplicates of one original are exact duplicates."""
    rng = np.random.default_rng(seed)
    near = rng.random(n_docs) < near_share
    originals = np.flatnonzero(~near)
    texts = [
        " ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(10, 101))))
        for _ in originals
    ]
    text = [""] * n_docs
    for i, t in zip(originals, texts):
        text[i] = t
    for i in np.flatnonzero(near):
        text[i] = f"{text[int(rng.choice(originals))]} {NEAR_DUP_WORD}"
    lang = rng.choice(len(LANGS), size=n_docs, p=LANG_P)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(text, pa.string()),
            "lang": pa.array([LANGS[i] for i in lang], pa.string()),
            "source": pa.array([f"src{i % N_SOURCES}" for i in range(n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in text], pa.int64()),
        }
    )


def embeddings_table(seed: int, n_vecs: int, n_labels: int) -> pa.Table:
    """Unit-norm float32 vectors drawn independently of their labels
    (uniform over ``n_labels``), as in the fixture, where each label's
    mean vector has the norm of pure noise, 1/sqrt(label size)."""
    rng = np.random.default_rng(seed)
    label = rng.integers(0, n_labels, n_vecs)
    vecs = rng.normal(0.0, 1.0, (n_vecs, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )


def write_events(out_dir: str, seed: int, **sizes) -> str:
    path = os.path.join(out_dir, "events.parquet")
    _write(events_table(seed, **sizes), path)
    return path


def write_documents(out_dir: str, seed: int, **sizes) -> str:
    path = os.path.join(out_dir, "documents.parquet")
    _write(documents_table(seed, **sizes), path)
    return path


def write_embeddings(out_dir: str, seed: int, **sizes) -> str:
    path = os.path.join(out_dir, "embeddings.parquet")
    _write(embeddings_table(seed, **sizes), path)
    return path


def write_event_loads(
    out_dir: str, seed: int, n_loads: int, n_readings: int, **props
) -> list[str]:
    """``n_loads`` landing loads of ``n_readings`` readings each, in the
    events schema, one file per load. Each load draws from its own
    sub-seed and event_id range, so a later load never reuses an id;
    re-deliveries stay within their load."""
    paths = []
    per = n_readings + int(round(n_readings * props.get("dup_share", 0.0)))
    for i in range(n_loads):
        path = os.path.join(out_dir, f"load_{i:03d}.parquet")
        _write(
            events_table(seed * 1000 + i, n_readings, first_event_id=i * per, **props),
            path,
        )
        paths.append(path)
    return paths
