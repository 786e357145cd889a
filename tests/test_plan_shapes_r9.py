"""Plan pins + invariants for the round-9 additions (SSL promotion
tiers, the rank/contingency battery, graph/spatial/corpus-governance
queries, and the bloom semi-join operator).

Value correctness is owned by the DuckDB oracles (every r9 entry is
registered in tests/test_oracle_parity.py's sweep); these tests pin
the PLAN SHAPES the 100 TB arguments rest on, auto-sweep every
r9-born query under strict codegen (the r8b discipline — a silent
interpreted fallback is correct-but-10x-slower at scale), and assert
a few closed-form invariants the oracles can't express.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR, born_in, strict_codegen_sweep
from tfm_semisup_spark.queries import QUERIES, load_all_queries

load_all_queries()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


test_r9_queries_compile_under_strict_codegen = strict_codegen_sweep(9)


def test_r9_birth_records_exist():
    """The parametrized sweep above is only as good as the governance
    record: at least the known r9 family heads must be present."""
    names = set(born_in(9))
    assert {
        "ssl_selftrain_one_round_nb",
        "spearman_qty_disc",
        "part_degree_assortativity",
        "bloom_semijoin_volume",
        "streaming_fullouter_join_finalized",
    } <= names


def test_assortativity_uses_checkpointed_edges(spark):
    """The co-order edge list must be a materialized (checkpoint) scan
    — the 6.4s->3.1s fix; regressing to four live self-join references
    would show parquet scans of lineitem in every branch."""
    df = QUERIES["part_degree_assortativity"](spark, SF_DIR)
    plan = _plan(df)
    assert "ExistingRDD" in plan  # localCheckpoint scan
    # the lineitem parquet scan must appear at most... the plan reads
    # checkpointed edges; counts stage must not rescan lineitem
    assert plan.count("Scan parquet") <= 1


def test_ssl_one_round_all_integer_scores(spark):
    """Promotion decisions must carry no doubles — the exact-arithmetic
    contract: on a real contingency grid the replay's scores, argmax
    and quantized confidence are Python ints (the oracles'
    DECIMAL(38,0)/HUGEINT algebra without a magnitude bound)."""
    from tfm_semisup_spark.queries.ssl_queries import (
        _KBEST_CONF_SCALE,
        _grid_split,
        _nb_grid,
        _nb_predictor,
        _nb_rows,
    )

    lab, pool = _grid_split(_nb_grid(_nb_rows(spark, SF_DIR)))
    assert lab and pool
    assert all(type(n) is int for n in lab.values())
    for pos in ((0,), (1,), (0, 1)):
        predict = _nb_predictor(lab, pos)
        for cell in pool:
            pred, conf_q, t = predict(cell)
            assert all(type(x) is int for x in (*t, conf_q))
            t_max = t["FOP".index(pred)]
            assert t_max == max(t)
            assert conf_q == t_max * _KBEST_CONF_SCALE // sum(t)


def test_kendall_counts_are_consistent(spark):
    """Closed-form invariant: C + D <= n(n-1)/2 per flag (ties absorb
    the rest) and tau_b in [-1, 1]."""
    rows = QUERIES["kendall_tau_qty_disc"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        n = r.n_rows
        assert r.concordant + r.discordant <= n * (n - 1) // 2
        assert -1.0 <= r.tau_b <= 1.0


def test_spearman_in_range_and_consistent_with_kendall_sign(spark):
    srows = {r.returnflag: r for r in QUERIES["spearman_qty_disc"](spark, SF_DIR).collect()}
    krows = {r.returnflag: r for r in QUERIES["kendall_tau_qty_disc"](spark, SF_DIR).collect()}
    assert set(srows) == set(krows)
    for flag, s in srows.items():
        assert -1.0 <= s.rho_spearman <= 1.0
        # both near-zero under the independent md5-derived grids, and
        # whenever one is decisively signed the other agrees
        if abs(s.rho_spearman) > 0.05 and abs(krows[flag].tau_b) > 0.05:
            assert (s.rho_spearman > 0) == (krows[flag].tau_b > 0)


def test_dbscan_labels_partition_the_points(spark):
    rows = QUERIES["spatial_dbscan_labels"](spark, SF_DIR).collect()
    labels = {r.label for r in rows}
    assert labels <= {"core", "border", "noise"}
    n_customers = spark.read.parquet(f"{SF_DIR}/customer.parquet").count()
    assert sum(r.n_points for r in rows) == n_customers


def test_markov_stationary_sums_to_one(spark):
    rows = QUERIES["event_markov_stationary"](spark, SF_DIR).collect()
    assert len(rows) >= 2
    total = sum(r.stationary_prob for r in rows)
    assert abs(total - 1.0) < 1e-4  # floor leakage is ~1e-12; round-6 noise
    assert all(r.stationary_prob >= 0 for r in rows)


def test_random_walks_stay_on_edges(spark):
    """Every consecutive walk step must be a real edge of the
    undirected co-engagement graph."""
    from tfm_semisup_spark.queries.analytics import _cooc_pairs
    from tfm_semisup_spark.queries.graph3 import _BFS_MIN_USERS

    edges = {
        (r.item_a, r.item_b)
        for r in _cooc_pairs(spark, SF_DIR)
        .where(F.col("n_users") >= _BFS_MIN_USERS)
        .collect()
    }
    und = edges | {(b, a) for a, b in edges}
    walks = QUERIES["item_hash_random_walks"](spark, SF_DIR).collect()
    assert walks
    for w in walks:
        path = [w.start_item, w.v1, w.v2, w.v3]
        for a, b in zip(path, path[1:]):
            assert (a, b) in und


#: r9 rows-only entries have no driver_history birth record, so the
#: auto-sweep above misses them — pin their strict compiles explicitly
#: (the hard-negatives query's FIRST cut failed exactly this check:
#: a two-comparison similarity band collapsed into the BNLJ residual
#: inlined the flat dot per comparison and overflowed janino).
_R9_ROWS_ONLY = [
    "ssl_logreg_irls_grid",
    "ssl_conformal_nb",
    "bpe_train_merges",
    "similarity_hard_negatives",
    "corpus_ppl_prune",
]


@pytest.mark.parametrize("name", _R9_ROWS_ONLY)
def test_r9_rows_only_compile_under_strict_codegen(strict_codegen, name):
    assert QUERIES[name](strict_codegen, SF_DIR).count() >= 0


def test_hard_negatives_dot_stays_out_of_join_residual(strict_codegen):
    """The banded similarity must be computed ONCE in the projection
    under the window — a band filter below the window collapses into
    the BroadcastNestedLoopJoin residual and re-inlines the flat dot
    per comparison (the first cut overflowed janino that way; even the
    single-CASE form left 3 dot evaluations per pair in the join
    condition). The window is the barrier: the join condition must
    stay the cheap key inequality."""
    plan = _plan(QUERIES["similarity_hard_negatives"](strict_codegen, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan
    join_line = next(
        ln for ln in plan.splitlines() if "BroadcastNestedLoopJoin" in ln
    )
    assert "element_at" not in join_line
