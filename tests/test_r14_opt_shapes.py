"""Plan/equivalence pins for the r14 OPTIMIZATION round rewrites.

Each test pins the structural property a rewrite claimed, so a future
regression (a join sneaking back, a re-derivation multiplying scans)
fails loudly rather than silently slowing the bench.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def test_basket_pairs_match_self_join_form(spark):
    """The suffix-explode pair generation (analytics._basket_pairs)
    emits EXACTLY the pair multiset the okey self-join produced."""
    from tfm_semisup_spark.io import load_table
    from tfm_semisup_spark.queries.analytics import (
        _basket_pairs,
        _order_part_baskets,
    )

    li = load_table(spark, SF_DIR, "lineitem")
    op = li.select(
        F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("part")
    ).distinct()
    a, b = op.alias("a"), op.alias("b")
    join_pairs = sorted(
        a.join(
            b,
            (F.col("a.okey") == F.col("b.okey"))
            & (F.col("a.part") < F.col("b.part")),
        )
        .select(F.col("a.part").alias("pa"), F.col("b.part").alias("pb"))
        .collect()
    )
    explode_pairs = sorted(
        _basket_pairs(_order_part_baskets(spark, SF_DIR)).collect()
    )
    assert len(join_pairs) > 0
    assert explode_pairs == join_pairs


def test_capped_item_sets_match_window_form(spark):
    """The fused top-COOC_CAP aggregate (analytics._capped_item_sets)
    selects EXACTLY the rows the row_number window selected."""
    from pyspark.sql import Window

    from tfm_semisup_spark.io import load_table
    from tfm_semisup_spark.queries.analytics import (
        COOC_CAP,
        _capped_item_sets,
    )

    events = load_table(spark, SF_DIR, "events")
    engaged = (
        events.where(F.col("event_type").isin("view", "click"))
        .select(
            "user_id",
            F.get_json_object("props", "$.k").cast("long").alias("item"),
        )
        # same structural NULL-key exclusion as _capped_item_sets
        # (ADVICE r14): the invariant holds in code, not by corpus luck
        .where(F.col("item").isNotNull())
        .groupBy("user_id", "item")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    window_rows = sorted(
        engaged.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(
                    F.col("cnt").desc(), "item"
                )
            ),
        )
        .where(F.col("rk") <= COOC_CAP)
        .select("user_id", "item")
        .collect()
    )
    fused_rows = sorted(
        _capped_item_sets(spark, SF_DIR)
        .select("user_id", F.explode("items").alias("item"))
        .collect()
    )
    assert len(window_rows) > 0
    assert fused_rows == window_rows


def test_lloyd_sorted_update_is_bit_equal_to_masked_form():
    """The stable-argsort cluster update in operators.similarity._lloyd
    is bit-identical to the per-cluster boolean-mask form it replaced
    (stable sort preserves within-cluster row order, so each slice is
    the same array the mask built)."""
    import numpy as np

    from tfm_semisup_spark.functions.vector import _SQ_DISTS_BLOCK_ELEMS
    from tfm_semisup_spark.operators.similarity import _lloyd

    def lloyd_masked(points, k, seed, iters=25):
        rng = np.random.RandomState(seed)
        n = points.shape[0]
        centroids = points[
            rng.choice(n, size=min(k, n), replace=False)
        ].copy()
        if centroids.shape[0] < k:
            centroids = np.vstack(
                [centroids] * (k // centroids.shape[0] + 1)
            )[:k]
        dim = points.shape[1]
        step = max(1, _SQ_DISTS_BLOCK_ELEMS // max(1, n * dim))
        for _ in range(iters):
            d2 = np.empty((n, k), dtype=np.float64)
            for s in range(0, k, step):
                block = centroids[s : s + step]
                d2[:, s : s + step] = (
                    (points[:, None, :] - block[None, :, :]) ** 2
                ).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(k):
                mask = assign == c
                if mask.any():
                    centroids[c] = points[mask].mean(axis=0)
        return centroids

    rng = np.random.RandomState(7)
    for n, dim, k in ((500, 64, 45), (256, 4, 32), (40, 8, 64)):
        pts = rng.rand(n, dim)
        assert np.array_equal(
            _lloyd(pts, k, 42), lloyd_masked(pts, k, 42)
        ), (n, dim, k)


def test_basket_pairs_plan_has_no_join(spark):
    """The pair derivation is a narrow Generate chain: one exchange
    (the basket aggregate), zero Join operators anywhere."""
    from tfm_semisup_spark.queries.analytics import (
        _basket_pairs,
        _order_part_baskets,
    )

    plan = _basket_pairs(
        _order_part_baskets(spark, SF_DIR)
    )._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    # at most ONE real shuffle (the basket aggregate) — counted on the
    # partitioning-bearing operator name, not the bare 'Exchange'
    # substring, so AQE wrapper nodes (ShuffleQueryStage/AQEShuffleRead
    # renames across Spark versions) can't flip the pin (ADVICE r14)
    assert plan.count("Exchange hashpartitioning") == 1
