"""Seeded document and embedding corpora with planted duplicates.

Documents: words drawn from a synthetic Zipf vocabulary, 60-200 words
each. Planted near-duplicates are copies of distinct source documents
with one or two words swapped, kept only when their exact
3-word-shingle Jaccard with the source is at least
``PLANT_MIN_JACCARD``.

Embeddings: float vectors around a few topic directions, with planted
copies of distinct source vectors (alternately exact and near: relative
noise 1e-5) and a fixed share of NULL embeddings.

Every seed plants the same number of duplicates in the same shape (each
source copied once, copies after all sources), so the work per seed
differs only in the drawn values: the duplicate components are pairs,
and label propagation needs the same number of rounds on every seed.
Copies have larger ids than their sources, so ``keep="min_id"`` must
keep the source and drop the copy.

The shingling here is written from the operator's documented contract
(lower-case, split on whitespace runs, distinct 3-word windows) and
shares no code with the package.
"""

from __future__ import annotations

import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SHINGLE_K = 3
PLANT_MIN_JACCARD = 0.9
EMB_DIM = 32
#: shares of the corpus: planted document copies, planted vector copies,
#: NULL embeddings among the source vectors
DOC_COPY_SHARE = 0.08
VEC_COPY_SHARE = 0.05
NULL_SHARE = 0.02


def shingles(text: str, k: int = SHINGLE_K) -> set[str]:
    words = text.lower().split()
    if len(words) < k:
        return {" ".join(words)} if words else set()
    return {" ".join(words[i:i + k]) for i in range(len(words) - k + 1)}


def jaccard(a: set, b: set) -> float:
    u = len(a | b)
    return len(a & b) / u if u else 0.0


def _vocab(r: random.Random, n: int) -> list[str]:
    syl = ["ka", "lo", "mi", "ne", "su", "ta", "ri", "po", "ve", "du",
           "an", "el", "or", "is", "um", "ge", "ba", "zi", "qu", "fe"]
    out, seen = [], set()
    while len(out) < n:
        w = "".join(r.choice(syl) for _ in range(r.randrange(2, 5)))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def generate_docs(path: str, seed: int, n_docs: int) -> dict:
    """Write ``(doc_id bigint, text string)`` parquet; return the texts
    and the planted pairs ``[(source_id, copy_id), ...]``."""
    r = random.Random(seed)
    vocab = _vocab(r, 6000)
    weights = [1.0 / (i + 8) for i in range(len(vocab))]
    cum = list(np.cumsum(weights))
    n_plant = int(n_docs * DOC_COPY_SHARE)
    n_base = n_docs - n_plant
    texts = [" ".join(r.choices(vocab, cum_weights=cum, k=r.randrange(60, 201)))
             for _ in range(n_base)]
    planted: list[tuple[int, int]] = []
    for src in r.sample(range(n_base), n_plant):
        while True:
            words = texts[src].split()
            for _ in range(r.randrange(1, 3)):
                words[r.randrange(len(words))] = r.choice(vocab)
            text = " ".join(words)
            if jaccard(shingles(text), shingles(texts[src])) >= PLANT_MIN_JACCARD:
                break
        planted.append((src, len(texts)))
        texts.append(text)
    pq.write_table(
        pa.table({"doc_id": pa.array(range(n_docs), pa.int64()),
                  "text": pa.array(texts, pa.string())}),
        path,
    )
    return {"n_docs": n_docs, "planted": planted, "texts": texts}


def generate_vectors(path: str, seed: int, n_vec: int) -> dict:
    """Write ``(vec_id bigint, embedding array<float>)`` parquet; return
    the planted copies and the NULL-embedding ids."""
    rng = np.random.default_rng(seed)
    n_topics = 12
    topics = rng.standard_normal((n_topics, EMB_DIM))
    n_copy = int(n_vec * VEC_COPY_SHARE)
    n_base = n_vec - n_copy
    vecs = np.empty((n_vec, EMB_DIM), dtype=np.float32)
    vecs[:n_base] = (0.6 * topics[rng.integers(0, n_topics, n_base)]
                     + rng.standard_normal((n_base, EMB_DIM)))
    picked = rng.permutation(n_base)
    sources = picked[:n_copy]
    is_null = np.zeros(n_vec, dtype=bool)
    is_null[picked[n_copy:n_copy + int(n_base * NULL_SHARE)]] = True
    planted: list[tuple[int, int]] = []
    for k, src in enumerate(sources):
        v = vecs[src].astype(np.float64)
        if k % 2:
            v = v + rng.standard_normal(EMB_DIM) * 1e-5 * np.linalg.norm(v)
        vecs[n_base + k] = v
        planted.append((int(src), n_base + k))
    emb = [None if is_null[i] else vecs[i].tolist() for i in range(n_vec)]
    pq.write_table(
        pa.table({"vec_id": pa.array(range(n_vec), pa.int64()),
                  "embedding": pa.array(emb, pa.list_(pa.float32()))}),
        path,
    )
    return {
        "n_vec": n_vec,
        "planted": planted,
        "null_ids": [int(i) for i in np.flatnonzero(is_null)],
    }
