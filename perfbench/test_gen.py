"""The benchmark's inputs are a pure function of the seed.

    python -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import hashlib
import os

import pyarrow.parquet as pq

import gen


def _digests(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            path = os.path.join(dirpath, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _write_all(root: str, seed: int):
    gen.write_ssl_table(f"{root}/ssl", seed, 500)
    return gen.write_corpus_shards(f"{root}/corpus", seed, 400, 200, 2)


def test_same_seed_gives_byte_identical_parquet(tmp_path):
    truth_a = [t for _d, t in _write_all(str(tmp_path / "a"), 7)]
    truth_b = [t for _d, t in _write_all(str(tmp_path / "b"), 7)]
    digests = _digests(str(tmp_path / "a"))
    assert len(digests) == 5  # ssl table + 2 shards x (documents, embeddings)
    assert digests == _digests(str(tmp_path / "b"))
    assert truth_a == truth_b


def test_different_seed_gives_different_data(tmp_path):
    _write_all(str(tmp_path / "a"), 7)
    _write_all(str(tmp_path / "b"), 8)
    for name in ("ssl/embeddings.parquet", "corpus/shard0/documents.parquet",
                 "corpus/shard1/embeddings.parquet"):
        a = pq.read_table(tmp_path / "a" / name)
        b = pq.read_table(tmp_path / "b" / name)
        assert a.schema == b.schema
        assert not a.equals(b)


def test_planted_pairs_stay_within_their_shard(tmp_path):
    shards = _write_all(str(tmp_path), 3)
    for shard_dir, truth in shards:
        docs = set(pq.read_table(f"{shard_dir}/documents.parquet")["doc_id"].to_pylist())
        vecs = set(pq.read_table(f"{shard_dir}/embeddings.parquet")["vec_id"].to_pylist())
        assert truth.doc_pairs and truth.vec_pairs
        assert all(a in docs and b in docs and a < b for a, b in truth.doc_pairs)
        assert all(a in vecs and b in vecs and a < b for a, b in truth.vec_pairs)
        # ground truth never lands next to the program's inputs
        assert sorted(os.listdir(shard_dir)) == ["documents.parquet", "embeddings.parquet"]
