"""Plan pins + invariants for the late-r8 additions (graph3, stats3,
text_analysis3, spatial batteries).

Correctness of values is owned by the DuckDB oracles
(tests/test_oracle_parity.py sweeps every registered oracle); these
tests pin the PLAN SHAPES the 100 TB arguments rest on — no cartesian
products outside deliberate broadcast singletons, exactly-once pair
production from the spatial grid join — plus a few closed-form
mathematical invariants the oracles can't express (entropy upper
bound, Cauchy-Schwarz on the cosine, Gini range).
"""

from __future__ import annotations

import math

from tests.conftest import SF_DIR, strict_codegen_sweep
from tfm_semisup_spark.queries import QUERIES, load_all_queries

load_all_queries()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


test_r8_queries_compile_under_strict_codegen = strict_codegen_sweep(8)


def test_spatial_grid_join_no_cartesian_and_exactly_once(spark):
    q = QUERIES["spatial_grid_radius_pairs"]
    df = q(spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan  # must be the cell equi-join
    rows = df.collect()
    pairs = [(r.key_a, r.key_b) for r in rows]
    # each qualifying pair produced exactly once (one base cell hit in
    # the probe's 3x3 explosion), ordered a < b, within the radius
    assert len(pairs) == len(set(pairs))
    assert all(a < b for a, b in pairs)
    assert all(r.dist_sq <= 512 * 512 for r in rows)


def test_spatial_grid_matches_brute_force(spark):
    """Same-engine ground truth: the 3x3 blocked join finds EXACTLY the
    pairs the naive all-pairs filter finds (the DuckDB oracle re-checks
    this cross-engine; this pins it within Spark on its own plan)."""
    from tfm_semisup_spark.queries.spatial import _RADIUS_SQ, _points

    pts = _points(spark, SF_DIR).collect()
    brute = set()
    for i, a in enumerate(pts):
        for b in pts[i + 1 :]:
            d = (a.x - b.x) ** 2 + (a.y - b.y) ** 2
            if d <= _RADIUS_SQ:
                k = (a.key, b.key) if a.key < b.key else (b.key, a.key)
                brute.add(k)
    got = {
        (r.key_a, r.key_b)
        for r in QUERIES["spatial_grid_radius_pairs"](spark, SF_DIR).collect()
    }
    assert got == brute


def test_theilsen_band_is_equi_join(spark):
    df = QUERIES["theilsen_daily_revenue_slope"](spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    rows = df.collect()
    assert len(rows) == 5  # one per priority
    for r in rows:
        # banded pair count can never exceed n_days * gap
        assert 0 < r.n_pairs <= r.n_days * 90


def test_bfs_hops_bounded_and_seeds_zero(spark):
    rows = QUERIES["item_bfs_hop_distance"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0 <= r.hops <= 3
        if r.item % 7 == 0:
            assert r.hops == 0


def test_cooccurrence_cosine_cauchy_schwarz(spark):
    rows = QUERIES["item_cooccurrence_cosine"](spark, SF_DIR).collect()
    assert rows
    assert all(0.0 < r.cosine <= 1.0 for r in rows)


def test_gini_in_range(spark):
    rows = QUERIES["gini_revenue_concentration"](spark, SF_DIR).collect()
    assert len(rows) == 5
    assert all(0.0 <= r.gini < 1.0 for r in rows)


def test_entropy_bounded_by_log_vocab(spark):
    rows = QUERIES["token_entropy_by_lang"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0.0 < r.entropy_nats <= math.log(r.vocab) + 1e-9


def test_km_survival_monotone_nonincreasing(spark):
    rows = sorted(
        QUERIES["kaplan_meier_conversion"](spark, SF_DIR).collect(),
        key=lambda r: r.t_days,
    )
    assert rows
    last = 1.0 + 1e-9
    for r in rows:
        assert 0.0 <= r.survival <= last  # KM curve never rises
        last = r.survival
        assert r.n_events <= r.n_risk


def test_acf_within_unit_interval(spark):
    rows = QUERIES["acf_daily_revenue"](spark, SF_DIR).collect()
    assert {r.lag for r in rows} == {1, 7, 14, 28}
    assert all(-1.0 - 1e-9 <= r.acf <= 1.0 + 1e-9 for r in rows)


def test_cusum_change_day_exists_in_grid(spark):
    rows = QUERIES["cusum_changepoint_daily"](spark, SF_DIR).collect()
    assert len(rows) == 5
    assert all(r.n_days > 0 and r.change_day for r in rows)


def test_ab_ztest_counts_consistent(spark):
    (r,) = QUERIES["ab_test_conversion_ztest"](spark, SF_DIR).collect()
    assert r.n_a > 0 and r.n_b > 0
    assert 0 <= r.conv_a <= r.n_a and 0 <= r.conv_b <= r.n_b
    # pooled rate non-degenerate by construction of the 24h definition
    assert 0 < r.conv_a + r.conv_b < r.n_a + r.n_b


def test_wav_frame_rms_matches_numpy(spark):
    """Same-engine ground truth for the framing kernel: regenerate the
    planted ramps in numpy and re-derive the peak frame."""
    import numpy as np

    rows = QUERIES["multimodal_wav_frame_rms"](spark, SF_DIR).collect()
    assert rows
    for r in rows[:50]:
        n = 50 + r.doc_id % 7
        i = np.arange(n, dtype=np.int64)
        x = (((r.doc_id * 3 + i) % 2001) - 1000).astype(np.float64)
        nf = (n - 16) // 8 + 1
        rms = np.array(
            [np.sqrt((x[f * 8 : f * 8 + 16] ** 2).sum() / 16) for f in range(nf)]
        )
        assert r.n_frames == nf
        assert r.peak_frame == int(np.argmax(rms))
        assert r.peak_rms == rms[r.peak_frame]  # EXACT — no rounding


def test_nearest_neighbor_matches_brute_force(spark):
    from tfm_semisup_spark.queries.spatial import _RADIUS_SQ, _points

    pts = _points(spark, SF_DIR).collect()
    brute = {}
    for a in pts:
        best = None
        for b in pts:
            if a.key == b.key:
                continue
            d = (a.x - b.x) ** 2 + (a.y - b.y) ** 2
            if d <= _RADIUS_SQ and (best is None or (d, b.key) < best):
                best = (d, b.key)
        if best is not None:
            brute[a.key] = (best[1], best[0])
    got = {
        r.key: (r.nn_key, r.dist_sq)
        for r in QUERIES["spatial_nearest_neighbor"](spark, SF_DIR).collect()
    }
    assert got == brute


def test_recursive_reach_agrees_with_dataframe_bfs(spark):
    """The recursive-CTE 2-hop reach must equal the DataFrame BFS
    truncated at 2 hops — two independent Spark formulations of the
    same traversal."""
    rec = {
        (r.item, r.hops)
        for r in QUERIES["recursive_sql_reach_two_hop"](spark, SF_DIR).collect()
    }
    bfs2 = {
        (r.item, r.hops)
        for r in QUERIES["item_bfs_hop_distance"](spark, SF_DIR).collect()
        if r.hops <= 2
    }
    # BFS runs 3 rounds; nodes first reached at hop 3 are absent from
    # both sides after the <=2 filter.
    assert rec == bfs2


def test_phrase_search_counts_positive_and_capped(spark):
    rows = QUERIES["text_phrase_search"](spark, SF_DIR).collect()
    assert rows
    per = {}
    for r in rows:
        assert r.n_occurrences > 0
        per[r.phrase] = per.get(r.phrase, 0) + 1
    assert all(v <= 10 for v in per.values())


def test_half_sample_replicates_are_half_and_deterministic(spark):
    a = sorted(
        map(
            tuple,
            QUERIES["half_sample_replicate_means"](spark, SF_DIR).collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            QUERIES["half_sample_replicate_means"](spark, SF_DIR).collect(),
        )
    )
    assert a == b and len(a) == 32
    from tfm_semisup_spark.io import load_table

    n_orders = load_table(spark, SF_DIR, "orders").count()
    for _, n_kept, _mean in a:
        # md5 threshold is exactly 1/2; binomial 5-sigma band
        assert abs(n_kept - n_orders / 2) < 5 * (n_orders**0.5) / 2 + 1


def test_addk_logppl_no_cartesian_and_positive(spark):
    df = QUERIES["text_bigram_addk_logppl"](spark, SF_DIR)
    plan = _plan(df)
    # the only nested-loop is the broadcast single-row vocab-size join
    assert "CartesianProduct" not in plan
    rows = df.collect()
    assert rows
    assert all(r.logppl > 0.0 and r.n_bigrams > 0 for r in rows)
