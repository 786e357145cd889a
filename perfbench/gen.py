"""Seeded input generation for the three benchmark workloads.

Every table is built with numpy's ``default_rng(seed)`` and written
with pyarrow under fixed writer options, so one seed always yields
byte-identical parquet files. Tables reuse the package's ``io.TABLES``
names and the testdata schemas, so the program reads them through
``io.load_table`` exactly as it reads the driver's tables.

Planted duplicates are returned to the caller as ground truth and are
never written next to the program's inputs.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the vocabulary of the testdata ``documents`` table; the two stopwords
# are drawn more often so most documents carry the Gopher stopword signal
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_STOPWORDS = ("the", "a")
_STOP_WEIGHT = 0.08

SSL_DIM = 16
# per-dimension shift of the positive class: the two Gaussian classes
# overlap enough that the base classifiers are unsure of part of the pool
SSL_CLASS_SHIFT = 0.35

VEC_DIM = 64
VEC_NOISE = 0.02  # planted near-copies sit at cosine ~0.9998 to their source

DUP_FRACTION = 0.10
DUP_MIN_WORDS = 35  # one substituted word keeps 3-gram Jaccard >= 0.84


@dataclass(frozen=True)
class ShardTruth:
    """Planted duplicates of one corpus shard, as (source id, copy id)
    pairs; every copy id is larger than its source id."""

    doc_pairs: tuple[tuple[int, int], ...]
    vec_pairs: tuple[tuple[int, int], ...]


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy", use_dictionary=True)


def _vectors(ids: np.ndarray, vecs: np.ndarray, labels: np.ndarray) -> pa.Table:
    flat = pa.array(vecs.astype(np.float32).ravel())
    offsets = pa.array(np.arange(0, vecs.size + 1, vecs.shape[1], dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(ids.astype(np.int64)),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(labels.astype(np.int32)),
        }
    )


def write_ssl_table(out_dir: str, seed: int, n_rows: int) -> str:
    """Two-class Gaussian mixture: ``n_rows`` x ``SSL_DIM`` features in
    ``<out_dir>/embeddings.parquet``. Returns ``out_dir``."""
    rng = np.random.default_rng([seed, 1])
    labels = rng.integers(0, 2, n_rows)
    x = rng.standard_normal((n_rows, SSL_DIM)) + labels[:, None] * SSL_CLASS_SHIFT
    _write(_vectors(np.arange(n_rows), x, labels), f"{out_dir}/embeddings.parquet")
    return out_dir


def _documents(rng: np.random.Generator, first_id: int, n_docs: int):
    p = np.full(len(VOCAB), 1.0)
    for w in _STOPWORDS:
        p[VOCAB.index(w)] = 0.0
    p *= (1.0 - _STOP_WEIGHT * len(_STOPWORDS)) / p.sum()
    for w in _STOPWORDS:
        p[VOCAB.index(w)] = _STOP_WEIGHT

    n_dups = int(n_docs * DUP_FRACTION)
    n_base = n_docs - n_dups
    lengths = rng.integers(10, 80, n_base)
    words = [rng.choice(len(VOCAB), size=n, p=p) for n in lengths]
    eligible = np.flatnonzero(lengths >= DUP_MIN_WORDS)
    sources = rng.choice(eligible, size=n_dups)
    pairs = []
    for j, src in enumerate(sources):
        copy = words[src].copy()
        pos = rng.integers(0, len(copy))
        copy[pos] = (copy[pos] + rng.integers(1, len(VOCAB))) % len(VOCAB)
        words.append(copy)
        pairs.append((first_id + int(src), first_id + n_base + j))
    texts = [" ".join(VOCAB[i] for i in w) for w in words]
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(first_id, first_id + n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(["en", "de", "fr"], n_docs).tolist()),
            "source": pa.array([f"src{i}" for i in rng.integers(0, 5, n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    return table, tuple(pairs)


def _embeddings(rng: np.random.Generator, first_id: int, n_vecs: int):
    n_dups = int(n_vecs * DUP_FRACTION)
    n_base = n_vecs - n_dups
    base = rng.standard_normal((n_base, VEC_DIM))
    sources = rng.choice(n_base, size=n_dups, replace=False)
    copies = base[sources] + VEC_NOISE * rng.standard_normal((n_dups, VEC_DIM))
    vecs = np.vstack([base, copies])
    ids = np.arange(first_id, first_id + n_vecs)
    pairs = tuple(
        (first_id + int(s), first_id + n_base + j) for j, s in enumerate(sources)
    )
    return _vectors(ids, vecs, rng.integers(0, 2, n_vecs)), pairs


def write_corpus_shards(
    out_dir: str, seed: int, n_docs: int, n_vecs: int, n_shards: int
) -> list[tuple[str, ShardTruth]]:
    """``n_shards`` equal ingest shards, each a directory holding a
    ``documents`` and an ``embeddings`` table. Ids are disjoint across
    shards and planted pairs stay within their shard."""
    rng = np.random.default_rng([seed, 2])
    docs_per, vecs_per = n_docs // n_shards, n_vecs // n_shards
    shards = []
    for s in range(n_shards):
        shard_dir = f"{out_dir}/shard{s}"
        docs, doc_pairs = _documents(rng, s * docs_per, docs_per)
        vecs, vec_pairs = _embeddings(rng, s * vecs_per, vecs_per)
        _write(docs, f"{shard_dir}/documents.parquet")
        _write(vecs, f"{shard_dir}/embeddings.parquet")
        shards.append((shard_dir, ShardTruth(doc_pairs, vec_pairs)))
    return shards
