"""numpy forms in functions/vector.py: the blocked squared-distance pass
is bit-equal to the naive broadcast and keeps its temporary under the
element budget; the Arrow-kernel plumbing emits typed empty frames; an
empty training sample fails loudly."""

from __future__ import annotations

import tracemalloc

import numpy as np
import pytest

from tfm_semisup_spark.functions import vector
from tfm_semisup_spark.functions.vector import empty_frame, sq_dists


def _broadcast(points, centroids):
    return ((points[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)


@pytest.mark.parametrize(
    "n,k,dim,budget",
    [
        (1000, 16, 64, None),
        (777, 300, 64, 777 * 64 * 7),  # 43 blocks of 7 + a tail of 6
        (50, 4096, 17, 50 * 17 * 100),  # 41 blocks, tail of 96
        (10, 3, 1, 10),  # one centroid per block
        (5, 9, 200, 1),  # budget below one row block: step floors at 1
    ],
)
def test_sq_dists_bit_equal_to_broadcast(monkeypatch, n, k, dim, budget):
    if budget is not None:
        monkeypatch.setattr(vector, "_SQ_DISTS_BLOCK_ELEMS", budget)
    rng = np.random.RandomState(n + k + dim)
    points, cents = rng.randn(n, dim), rng.randn(k, dim)
    ref = _broadcast(points, cents)
    got = sq_dists(points, cents)
    assert np.array_equal(got, ref)
    # argmin is the first column of the stable argsort (assignment vs
    # probe order agree on the nearest centroid, ties included)
    assert np.array_equal(
        got.argmin(axis=1), np.argsort(got, axis=1, kind="stable")[:, 0]
    )


def test_sq_dists_pq_subspaces_and_adc_rows(monkeypatch):
    """PQ encode passes non-contiguous sub-space slices; the ADC table
    passes one query row — both bit-equal to the forms they replaced."""
    monkeypatch.setattr(vector, "_SQ_DISTS_BLOCK_ELEMS", 300 * 4 * 5)
    rng = np.random.RandomState(5)
    V = rng.randn(300, 64)
    for m in (16, 5):
        for j in range(m):
            lo, hi = j * 64 // m, (j + 1) * 64 // m
            cb = rng.randn(32, hi - lo)
            assert np.array_equal(
                sq_dists(V[:, lo:hi], cb),
                ((V[:, None, lo:hi] - cb[None, :, :]) ** 2).sum(axis=2),
            )
            q = V[7]
            table = [float(np.sum((q[lo:hi] - cb[c]) ** 2)) for c in range(32)]
            assert [float(x) for x in sq_dists(q[None, lo:hi], cb)[0]] == table


def test_sq_dists_peak_temporary_stays_under_budget(monkeypatch):
    """At a k where the (n x k x dim) broadcast is 40x the budget, the
    blocked pass allocates one budget-sized block beyond the caller's
    output matrix, plus small change (the block's row sums, numpy's
    iterator buffers)."""
    budget = 200_000  # elements: 1.6 MB of float64
    monkeypatch.setattr(vector, "_SQ_DISTS_BLOCK_ELEMS", budget)
    n, k, dim = 1000, 128, 64
    assert n * k * dim >= 40 * budget
    rng = np.random.RandomState(1)
    points, cents = rng.randn(n, dim), rng.randn(k, dim)
    out = np.empty((n, k))
    tracemalloc.start()
    try:
        sq_dists(points, cents, out=out)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert peak <= 8 * budget + 256 * 1024
    assert 8 * n * k * dim > 20 * peak
    assert np.array_equal(out, _broadcast(points, cents))


def test_empty_frame_is_typed(spark):
    pdf = empty_frame(
        "id bigint, c int, u array<double>, p array<int>, s double, k boolean"
    )
    assert list(pdf.columns) == ["id", "c", "u", "p", "s", "k"]
    assert len(pdf) == 0
    assert [str(t) for t in pdf.dtypes] == [
        "int64", "int32", "object", "object", "float64", "bool",
    ]


def test_kernels_on_empty_input_keep_their_schema(spark):
    from tfm_semisup_spark.operators.semantic_dedup import (
        assign_and_unit,
        assign_clusters,
        probe_buckets,
        unit_normalize,
    )

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    cents = np.eye(3, 4)
    cases = [
        (
            assign_clusters(empty, cents),
            "vec_id bigint, embedding array<double>, sem_cluster int",
        ),
        (unit_normalize(empty), "vec_id bigint, u array<double>"),
        (
            assign_and_unit(empty, cents),
            "id bigint, sem_cluster int, u array<double>",
        ),
        (
            probe_buckets(empty, cents, n_probe=2),
            "vec_id bigint, embedding array<double>, probe_buckets array<int>",
        ),
    ]
    for df, ddl in cases:
        assert df.collect() == []
        got = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema)
        assert got == ddl


def test_lloyd_rejects_empty_sample():
    from tfm_semisup_spark.operators.similarity import _lloyd

    with pytest.raises(ValueError, match="empty training sample"):
        _lloyd(np.empty((0, 0)), 4, 42)


def test_build_pq_index_on_empty_input_fails_loudly(spark):
    from tfm_semisup_spark.operators.similarity import build_pq_index

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="empty training sample"):
        build_pq_index(empty, m=2, codes=4)
