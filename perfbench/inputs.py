"""Seeded input generators (numpy + pyarrow). The program under test only
ever sees the files these write; the checkers get the same arrays back.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# raw event_type -> CDC op, as sources.cdc.events_as_change_stream maps it
RAW_TYPES = np.array(["signup", "view", "purchase", "error"])
RAW_TO_OP = {"signup": "ADD", "view": "UPDATE", "purchase": "UPDATE", "error": "DELETE"}
TYPE_P = (0.15, 0.35, 0.35, 0.15)
T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
FILE_SPAN_MS = 2_000


def cdc_events(rng: np.random.Generator, n_files: int, per_file: int, n_keys: int) -> list[pd.DataFrame]:
    """``n_files`` event frames in the ``events`` table schema, event ids
    from 0. Each file covers its own ``FILE_SPAN_MS`` of event time after
    the previous file's, so no event is ever behind the pipeline's
    watermark. Timestamps have millisecond resolution, so equal timestamps
    within a key occur and the DELETE-after-others tie rule is exercised."""
    frames = []
    eid = 0
    for f in range(n_files):
        ts_ms = np.sort(rng.integers(0, FILE_SPAN_MS, per_file)) + f * FILE_SPAN_MS
        frames.append(pd.DataFrame({
            "event_id": np.arange(eid, eid + per_file, dtype=np.int64),
            "ts": pd.to_datetime(T0_US + ts_ms * 1000, unit="us"),
            "user_id": rng.integers(0, n_keys, per_file).astype(np.int64),
            "event_type": RAW_TYPES[rng.choice(4, per_file, p=TYPE_P)],
            "value": np.round(rng.random(per_file) * 1000.0, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, per_file)],
        }))
        eid += per_file
    return frames


def write_events(frame: pd.DataFrame, path: str) -> None:
    table = pa.Table.from_pandas(frame, preserve_index=False).cast(pa.schema([
        ("event_id", pa.int64()), ("ts", pa.timestamp("us")), ("user_id", pa.int64()),
        ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string()),
    ]))
    pq.write_table(table, path)


# ---------------------------------------------------------------------------
# corpus
# ---------------------------------------------------------------------------

DIM = 64
N_CENTERS = 16
VOCAB_SIZE = 5_000


def _words(rng: np.random.Generator, n: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    return np.array(["".join(rng.choice(letters, rng.integers(4, 9))) for _ in range(n)])


def corpus(rng: np.random.Generator, n_base: int, n_families: int) -> dict:
    """Documents with planted near-duplicate families and one 64-d embedding
    per document.

    ``n_base`` unrelated documents of 40-70 words drawn from a
    ``VOCAB_SIZE``-word vocabulary; ``n_families`` of them get 1-4 copies
    each: exact copies (only case and spacing differ, so the normalised
    text is equal) and edited copies (1-6 words replaced). Embeddings come
    from ``N_CENTERS`` Gaussian clusters; a copy's vector is its source's
    plus small noise. Returns docs (doc_id, text), vectors (n, 64) float32,
    ids from 0, and families (list of doc_id lists, source first)."""
    vocab = _words(rng, VOCAB_SIZE)
    centers = rng.normal(0.0, 1.0, (N_CENTERS, DIM))
    texts, vecs, ids, families = [], [], [], []
    fam_src = set(rng.choice(n_base, n_families, replace=False).tolist())
    next_id = 0
    for b in range(n_base):
        words = vocab[rng.integers(0, VOCAB_SIZE, rng.integers(40, 71))]
        vec = centers[rng.integers(0, N_CENTERS)] + rng.normal(0.0, 0.5, DIM)
        texts.append(" ".join(words))
        vecs.append(vec)
        ids.append(next_id)
        fam = [next_id]
        next_id += 1
        if b in fam_src:
            for _ in range(int(rng.integers(1, 5))):
                if rng.random() < 0.3:
                    text = "  ".join(w.upper() if rng.random() < 0.2 else w for w in words)
                else:
                    edited = words.copy()
                    pos = rng.choice(len(words), int(rng.integers(1, 7)), replace=False)
                    edited[pos] = vocab[rng.integers(0, VOCAB_SIZE, len(pos))]
                    text = " ".join(edited)
                texts.append(text)
                vecs.append(vec + rng.normal(0.0, 0.05, DIM))
                ids.append(next_id)
                fam.append(next_id)
                next_id += 1
            families.append(fam)
    return {
        "docs": pd.DataFrame({"doc_id": np.array(ids, dtype=np.int64), "text": texts}),
        "vectors": np.asarray(vecs, dtype=np.float32),
        "ids": np.array(ids, dtype=np.int64),
        "families": families,
        "centers": centers,
    }


def fresh_vectors(rng: np.random.Generator, centers: np.ndarray, n: int) -> np.ndarray:
    idx = rng.integers(0, len(centers), n)
    return (centers[idx] + rng.normal(0.0, 0.5, (n, DIM))).astype(np.float32)


def write_docs(docs: pd.DataFrame, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pandas(docs, preserve_index=False), path)


def write_vectors(ids: np.ndarray, vecs: np.ndarray, path: str) -> None:
    table = pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
    })
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
