"""Seeded input tables for the benchmark workloads.

Every table is a pure function of ``(seed, sizes)``: the same seed gives
byte-identical parquet. The generators reproduce the schema and the value
distributions of the sf0.1 ``documents`` / ``events`` / ``embeddings``
tables (30-word vocabulary, 10-100 words per doc, 5 languages, 20 sources;
events over 30 days with 5 event types and exponential values; unit-norm
64-d embeddings with labels 0-9), so the benchmark needs nothing
outside its own checkout. The program under test only ever sees the
parquet files written here.

``GENERATOR_VERSION`` is part of every input directory name: bump it
whenever a generator's output changes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

GENERATOR_VERSION = 1

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
EMB_DIM = 64
EMB_LABELS = 10
# 2024-01-01T00:00:00 in microseconds, and the 30-day event span
TS0_US = 1_704_067_200_000_000
SPAN_US = 30 * 86_400 * 1_000_000


def _rng(seed: int, stream: int) -> np.random.Generator:
    """One independent generator per (seed, table) so tables can be
    resized independently without changing each other."""
    return np.random.default_rng([seed, GENERATOR_VERSION, stream])


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(10, 101, size=n)
    words = np.asarray(WORDS, dtype=object)
    flat = words[rng.integers(0, len(WORDS), size=int(lens.sum()))]
    ends = np.cumsum(lens)
    return [" ".join(flat[e - k : e]) for e, k in zip(ends, lens)]


def documents(
    seed: int, n_docs: int, near_dup_frac: float = 0.0
) -> tuple[pa.Table, np.ndarray]:
    """sf0.1-shaped ``documents`` and, per row, the index of the doc it
    copies (-1 for an original). The last ``near_dup_frac`` share of the
    rows are copies of earlier docs with ~5 % of their words replaced;
    every tenth copy is left byte-identical (an exact duplicate)."""
    rng = _rng(seed, 1)
    n_dup = int(n_docs * near_dup_frac)
    n_orig = n_docs - n_dup
    texts = _texts(rng, n_orig)
    dup_of = np.full(n_docs, -1, dtype=np.int64)
    for i in range(n_dup):
        j = int(rng.integers(0, n_orig))
        words = texts[j].split(" ")
        if i % 10:
            for k in rng.integers(0, len(words), size=max(1, len(words) // 20)):
                words[int(k)] = WORDS[int(rng.integers(0, len(WORDS)))]
        texts.append(" ".join(words))
        dup_of[n_orig + i] = j
    table = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": np.asarray(LANGS, dtype=object)[
                rng.choice(len(LANGS), size=n_docs, p=LANG_P)
            ],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64),
        }
    )
    return table, dup_of


def embeddings(seed: int, dup_of: np.ndarray) -> pa.Table:
    """One unit-norm 64-d vector per doc (``vec_id`` = doc index), drawn
    independently of the label as in sf0.1; a near-duplicate doc
    (``dup_of >= 0``) gets a tiny perturbation of its original's vector,
    so semantic dedup has real pairs to find."""
    rng = _rng(seed, 2)
    n = len(dup_of)
    vecs = rng.normal(size=(n, EMB_DIM))
    for i in np.flatnonzero(dup_of >= 0):
        vecs[i] = vecs[dup_of[i]] + rng.normal(scale=0.01, size=EMB_DIM)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(vecs.astype(np.float32).ravel()), EMB_DIM
            ).cast(pa.list_(pa.float32())),
            "label": rng.integers(0, EMB_LABELS, size=n).astype(np.int32),
        }
    )


def events(seed: int, n_events: int, n_users: int, hot_share: float) -> pa.Table:
    """sf0.1-shaped ``events`` sorted by ``ts``; user 0 is the hot entity
    holding ``hot_share`` of the rows, the rest spread uniformly."""
    rng = _rng(seed, 3)
    ts = TS0_US + np.sort(rng.integers(0, SPAN_US, size=n_events))
    users = rng.integers(1, n_users, size=n_events)
    users[rng.random(n_events) < hot_share] = 0
    value = np.round(rng.exponential(50.0, size=n_events), 2)
    return pa.table(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": users.astype(np.int64),
            "event_type": np.asarray(EVENT_TYPES, dtype=object)[
                rng.integers(0, len(EVENT_TYPES), size=n_events)
            ],
            "value": value,
            "props": pc.binary_join_element_wise(
                '{"k": ', pc.cast(pa.array(rng.integers(0, 100, size=n_events)), pa.string()),
                "}", "",
            ),
        }
    )


def write(table: pa.Table, path: str, n_files: int = 1) -> str:
    """Write ``table`` as a parquet directory of ``n_files`` row slices."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(
            table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet")
        )
    return path
