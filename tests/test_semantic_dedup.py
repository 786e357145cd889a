"""SemDeDup semantic dedup (operators/semantic_dedup.py): planted
near-identical embeddings are dropped, distinct ones kept, keepers are
min-id canonical, and the whole pass is deterministic under
repartitioning."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from tfm_semisup_spark.io import load_table
from tfm_semisup_spark.operators.semantic_dedup import (
    assign_clusters,
    semantic_dedup,
    semantic_dup_pairs,
    train_semantic_centroids,
)

SF = "/root/testdata/sf0.001"
DIM = 8


def _planted(spark, n_base=40, dup_groups=3):
    """n_base well-separated random vectors + dup_groups groups of 3
    near-identical copies (tiny deterministic jitter)."""
    rng = random.Random(7)
    rows = []
    vid = 0
    for _ in range(n_base):
        rows.append((vid, [rng.uniform(-1, 1) for _ in range(DIM)]))
        vid += 1
    dup_ids = []
    for g in range(dup_groups):
        base = [rng.uniform(-1, 1) for _ in range(DIM)]
        group = []
        for j in range(3):
            jitter = [v + 1e-4 * (g + j + 1) for v in base]
            rows.append((vid, jitter))
            group.append(vid)
            vid += 1
        dup_ids.append(group)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return df, dup_ids


def test_planted_duplicates_dropped_min_id_kept(spark):
    df, dup_groups = _planted(spark)
    out = {r["id"]: r for r in semantic_dedup(df, num_clusters=4, threshold=0.999).collect()}
    assert len(out) == df.count()
    for group in dup_groups:
        keeper = min(group)
        for vid in group:
            assert out[vid]["component"] == keeper
            assert out[vid]["keep"] == (vid == keeper)
    # non-planted vectors survive (random 8-dim vectors don't reach
    # cosine 0.999 against each other)
    kept = [vid for vid, r in out.items() if r["keep"]]
    assert len(kept) == df.count() - 2 * len(dup_groups)


def test_assignment_is_nearest_centroid_and_shuffle_free(spark):
    df, _ = _planted(spark)
    cents = train_semantic_centroids(df, num_clusters=4, max_train_rows=1000)
    assigned = assign_clusters(df, cents)
    # spot-check argmin against numpy on a few rows
    import numpy as np

    for r in assigned.orderBy("vec_id").limit(10).collect():
        d = ((np.asarray(r["embedding"]) - cents) ** 2).sum(axis=1)
        assert r["sem_cluster"] == int(d.argmin())
    # assignment adds no Exchange: single-stage scan+project
    plan = assigned._sc._jvm.PythonSQLUtils.explainString(
        assigned._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in plan


def test_pair_cosine_matches_exact(spark):
    df, dup_groups = _planted(spark)
    cents = train_semantic_centroids(df, num_clusters=1, max_train_rows=1000)
    pairs = semantic_dup_pairs(
        assign_clusters(df, cents), threshold=0.999
    ).collect()
    rows = {r["vec_id"]: r["embedding"] for r in df.collect()}

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        return dot / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))

    expected = set()
    for ia in rows:
        for ib in rows:
            if ia < ib and cos(rows[ia], rows[ib]) >= 0.999:
                expected.add((ia, ib))
    assert {(r["doc_a"], r["doc_b"]) for r in pairs} == expected
    for r in pairs:
        assert abs(r["cos_sim"] - cos(rows[r["doc_a"]], rows[r["doc_b"]])) < 1e-5


def test_registered_query_deterministic_under_partitioning(spark):
    emb = load_table(spark, SF, "embeddings")
    base = semantic_dedup(emb, threshold=0.45).orderBy("id").collect()
    repart = semantic_dedup(emb.repartition(7), threshold=0.45).orderBy("id").collect()
    assert base == repart
    assert len(base) == emb.count()


# ---------------------------------------------------------------------------
# round 4: adaptive cluster count + mega-cluster salting + guards
# ---------------------------------------------------------------------------


def test_resolve_num_clusters_scales_with_corpus():
    from tfm_semisup_spark.operators.semantic_dedup import (
        MAX_CLUSTERS,
        TARGET_CLUSTER_SIZE,
        resolve_num_clusters,
    )

    assert resolve_num_clusters(500) == 16  # floor
    assert resolve_num_clusters(10_000_000) == 10_000_000 // TARGET_CLUSTER_SIZE
    assert resolve_num_clusters(10**12) == MAX_CLUSTERS  # ceiling
    # the quadratic-killing property: expected cluster size is bounded
    for n in (10**6, 10**8, 131_072 * TARGET_CLUSTER_SIZE):
        k = resolve_num_clusters(n)
        assert n / k <= TARGET_CLUSTER_SIZE + 1


def test_mega_cluster_salting_bounds_candidate_volume(spark):
    """Plant one mega-cluster (every row same cluster id): without
    salting the self-join key yields C(n,2) candidates; with the cap
    the per-cell candidate sum must stay ~n*cap, not n^2."""
    from tfm_semisup_spark.operators.semantic_dedup import with_salted_cells

    n, cap = 400, 50
    unit = spark.createDataFrame(
        [(i, 0, [1.0, 0.0]) for i in range(n)],
        "id long, c int, u array<double>",
    )
    celled = with_salted_cells(unit, cap)
    cells = (
        celled.groupBy("cell").agg(F.count(F.lit(1)).alias("sz")).collect()
    )
    assert sum(r["sz"] for r in cells) == n  # partition, nothing lost
    candidates = sum(r["sz"] * (r["sz"] - 1) // 2 for r in cells)
    unsalted = n * (n - 1) // 2
    # bound: Σ C(|cell|,2) ≤ n_cells * C(max_cell, 2); expected cell
    # size is cap, allow 3x skew headroom over the binomial spread
    assert candidates < unsalted / 4
    assert max(r["sz"] for r in cells) < 3 * cap
    # small clusters are untouched (salt 0)
    small = spark.createDataFrame(
        [(i, i % 5, [1.0, 0.0]) for i in range(40)],
        "id long, c int, u array<double>",
    )
    for r in with_salted_cells(small, cap).collect():
        assert r["cell"]["__salt"] == 0


def test_salting_is_partitioning_independent_and_pairs_still_found(spark):
    """Pairs from a salted mega-cluster: same result under
    repartitioning, and within-cell true duplicates are still caught
    (recall inside a cell is exact)."""
    df, dup_groups = _planted(spark, n_base=30, dup_groups=3)
    out1 = semantic_dup_pairs(
        df.withColumn("sem_cluster", F.lit(0)),
        threshold=0.999,
        max_pair_cluster_size=10,
    )
    out2 = semantic_dup_pairs(
        df.repartition(9).withColumn("sem_cluster", F.lit(0)),
        threshold=0.999,
        max_pair_cluster_size=10,
    )
    assert sorted(map(tuple, out1.collect())) == sorted(map(tuple, out2.collect()))


def test_zero_norm_rows_excluded_from_pairs_but_kept_in_output(spark):
    from tfm_semisup_spark.operators.semantic_dedup import semantic_dedup

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 1e-9, 0.0, 0.0]),  # near-dup of 0
        (2, [0.0, 0.0, 0.0, 0.0]),  # zero norm: no direction
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["id"]: r for r in semantic_dedup(df, num_clusters=1, threshold=0.99).collect()}
    assert len(out) == 3  # zero-norm row still in the output
    assert out[2]["keep"] is True  # ... and never claimed as a dup
    assert out[0]["keep"] is True and out[1]["keep"] is False


def test_empty_input_yields_empty_pairs_not_typeerror(spark):
    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<double>, sem_cluster int"
    )
    out = semantic_dup_pairs(empty, threshold=0.9)
    assert out.count() == 0
    assert set(out.columns) == {"doc_a", "doc_b", "cos_sim"}


@pytest.mark.parametrize(
    "kwargs", [{}, {"dim": 4}, {"approx_n": 0}], ids=["plain", "dim", "approx_n"]
)
def test_semantic_dedup_empty_input_yields_empty_verdicts(spark, kwargs):
    """An empty corpus returns the empty (id, sem_cluster, component,
    keep) frame with the schema a non-empty run has, instead of failing
    while padding a (0, 0) training sample."""
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    out = semantic_dedup(empty, **kwargs)
    assert out.collect() == []
    df, _ = _planted(spark, n_base=6, dup_groups=1)
    assert out.schema.simpleString() == (
        semantic_dedup(df, num_clusters=2).schema.simpleString()
    )


def test_mllib_assignment_branch_contract(spark):
    """The distributed train+assign path (taken automatically past
    DRIVER_TRAIN_MAX_CLUSTERS) honors the same output contract as the
    literal-projection path: input columns + int cluster id in
    [0, k), deterministic under a fixed seed."""
    from tfm_semisup_spark.operators.semantic_dedup import assign_clusters_mllib

    df, _ = _planted(spark)
    a1 = assign_clusters_mllib(df, num_clusters=4, seed=11)
    assert set(a1.columns) == {"vec_id", "embedding", "sem_cluster"}
    rows1 = {r["vec_id"]: r["sem_cluster"] for r in a1.collect()}
    # deterministic rerun on the same input (k-means|| init samples by
    # partition, so cross-PARTITIONING equality is not contractual —
    # the driver-trained tier covers that; seeded rerun equality is)
    rows2 = {
        r["vec_id"]: r["sem_cluster"]
        for r in assign_clusters_mllib(df, num_clusters=4, seed=11).collect()
    }
    assert rows1 == rows2
    assert all(0 <= c < 4 for c in rows1.values())
