"""Round-13 plan and behavior pins.

- every r13-born query compiles under strict codegen (the governance
  auto-sweep keyed on driver_history birth rounds);
- the five de-vacuized oracles (VERDICT r12 #5 audit) return NONZERO
  rows at both correctness SFs — membership logic is data-exercised;
- the feature-split two-round co-training exercises the SHARED-pool
  semantics that distinguish it from the cross-teach entry: the
  rnd-1 'resolved' merge is nonempty and no larger than the union of
  the per-view promotions (disagreements collapse to one row);
- the paired-fold t-test sibling is repartition-independent (md5 folds
  + quantized arithmetic) and its d_q matches the per-fold integers;
- the KMV audit estimate brackets the exact distinct count loosely
  (K=8 sketch: within a factor of 4 at the gate SFs) and h_k is a
  true member rank;
- zipf's top-k plan uses TakeOrderedAndProject (no global sort of the
  term table);
- feature_mi_ranking: MI is non-negative for every feature (floor
  quantization can push a zero-signal feature to a tiny negative —
  bound it just below zero) and the month feature has 36 cells.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR, SF_DIR_01, strict_codegen_sweep
from tfm_semisup_spark.queries import QUERIES, load_all_queries

load_all_queries()

test_r13_queries_compile_under_strict_codegen = strict_codegen_sweep(13)


@pytest.mark.parametrize(
    "name",
    [
        "psi_price_by_segment",
        "q22_global_sales_opportunity",
        "ssl_cotrain_one_round_nb",
        "q7_volume_shipping",
        "bloom_semijoin_volume",
    ],
)
@pytest.mark.parametrize("sf_dir", [SF_DIR, SF_DIR_01])
def test_devacuized_oracles_return_rows(spark, name, sf_dir):
    assert QUERIES[name](spark, sf_dir).limit(1).count() > 0


def test_feature_split_cotrain_shared_pool_semantics(spark):
    rows = {
        (r["rnd"], r["view_name"], r["pred_class"]): r
        for r in QUERIES["ssl_cotrain_two_round_feature_split"](
            spark, SF_DIR
        ).collect()
    }
    n_resolved = sum(
        r["n_promoted"] for (rnd, v, _), r in rows.items()
        if rnd == 1 and v == "resolved"
    )
    n_v1 = sum(
        r["n_promoted"] for (rnd, v, _), r in rows.items()
        if rnd == 1 and v == "priority"
    )
    n_v2 = sum(
        r["n_promoted"] for (rnd, v, _), r in rows.items()
        if rnd == 1 and v == "month"
    )
    assert n_resolved > 0
    # the merge collapses rows both views promoted into ONE resolved
    # row — so resolved <= v1 + v2, and >= max(v1, v2)
    assert max(n_v1, n_v2) <= n_resolved <= n_v1 + n_v2
    # round 2 exists and scored a nonzero pool
    assert any(rnd == 2 for (rnd, _, _) in rows)


def test_paired_fold_ttest_nb_partitioning_independent(spark):
    a = sorted(
        map(str, QUERIES["ssl_paired_fold_ttest_nb"](spark, SF_DIR).collect())
    )
    b = sorted(
        map(
            str,
            QUERIES["ssl_paired_fold_ttest_nb"](spark, SF_DIR)
            .repartition(7)
            .collect(),
        )
    )
    assert a == b
    rows = QUERIES["ssl_paired_fold_ttest_nb"](spark, SF_DIR).collect()
    assert len(rows) == 3
    for r in rows:
        # d_q is the floor-quantized per-fold accuracy difference
        expected = (
            (r["correct_f1"] - r["correct_f2"] + r["n_test"]) * 10**9
        ) // r["n_test"] - 10**9
        assert r["d_q"] == expected


def test_kmv_audit_brackets_exact(spark):
    for sf in (SF_DIR, SF_DIR_01):
        for r in QUERIES["kmv_distinct_users_audit"](spark, sf).collect():
            assert r["k"] == 8
            assert 0 < r["h_k"] < (1 << 48)
            # K=8 sketch: crude, but the estimate must live within a
            # factor of 4 of truth at these sizes (seeded hash, fixed
            # data — this is a regression pin, not a probability claim)
            assert r["n_exact"] / 4 <= r["est_users"] <= r["n_exact"] * 4
            assert abs(r["err_ratio"] - r["est_users"] / r["n_exact"]) < 1e-4


def test_zipf_topk_plan_uses_take_ordered(spark):
    df = QUERIES["zipf_term_slope"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    row = df.collect()[0]
    # n_terms = min(100, vocabulary) — sf0.001's synthetic vocabulary
    # is only ~31 distinct tokens
    assert 1 < row["n_terms"] <= 100
    # natural-ish synthetic text: slope negative, not catastrophically
    # far from Zipf
    assert -3.0 < row["zipf_slope"] < -0.05


def test_feature_mi_nonnegative_and_cell_counts(spark):
    rows = {r["feature"]: r for r in QUERIES["feature_mi_ranking"](
        spark, SF_DIR_01
    ).collect()}
    assert set(rows) == {"priority", "month", "segment"}
    assert rows["month"]["n_cells"] == 36
    for r in rows.values():
        # MI >= 0 mathematically; floor quantization may shave a
        # zero-signal feature a hair below zero (66 cells x 1e-6)
        assert r["mi_nats"] >= -1e-4


def test_logreg_newton_matches_numpy(spark):
    """The oracled two-step Newton entry must reproduce the dense
    numpy IRLS trajectory exactly (round 6) — the sufficient-stats
    grid factoring is algebraically lossless."""
    import duckdb
    import numpy as np

    row = QUERIES["ssl_logreg_newton_two_step"](spark, SF_DIR).collect()[0]
    con = duckdb.connect()
    df = con.execute(
        "SELECT EXTRACT(month FROM o_orderdate) AS x, "
        "CASE WHEN o_orderstatus='F' THEN 1 ELSE 0 END AS y "
        f"FROM '{SF_DIR}/orders.parquet'"
    ).fetchdf()
    X = np.column_stack([np.ones(len(df)), df.x.values.astype(float)])
    y = df.y.values.astype(float)
    beta = np.zeros(2)
    betas = []
    for _ in range(2):
        p = 1 / (1 + np.exp(-(X @ beta)))
        g = X.T @ (y - p)
        H = X.T @ (X * (p * (1 - p))[:, None])
        beta = beta + np.linalg.solve(H, g)
        betas.append(beta.copy())
    assert abs(row["b0_step1"] - betas[0][0]) < 1e-5
    assert abs(row["b1_step1"] - betas[0][1]) < 1e-5
    assert abs(row["b0_step2"] - betas[1][0]) < 1e-5
    assert abs(row["b1_step2"] - betas[1][1]) < 1e-5


def test_kmeans_round_matches_numpy(spark):
    """The oracled Lloyd round must reproduce numpy's assignment and
    update exactly (quantization aside) — both engines agreeing on the
    wrong math would still hash-match, so pin against a third
    implementation."""
    import duckdb
    import numpy as np

    rows = {
        r["cluster"]: r
        for r in QUERIES["kmeans_one_round_audit"](spark, SF_DIR).collect()
    }
    con = duckdb.connect()
    emb = con.execute(
        f"SELECT vec_id, embedding FROM '{SF_DIR}/embeddings.parquet' "
        "ORDER BY vec_id"
    ).fetchdf()
    V = np.asarray([np.asarray(v, dtype=np.float64) for v in emb.embedding])
    C = V[:4]
    d = ((V[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    assign = d.argmin(axis=1)  # numpy argmin takes the first min = our tie rule
    for k in range(4):
        mask = assign == k
        assert rows[k]["n_assigned"] == int(mask.sum())
        inertia = d[mask, k].sum()
        # our inertia_q floors per row at 1e6 — bound the gap by n rows
        assert abs(rows[k]["inertia_q"] / 1e6 - inertia) < mask.sum() * 1e-6 + 1e-9
        norm = np.linalg.norm(V[mask].mean(axis=0))
        assert abs(rows[k]["new_norm"] - norm) < 1e-4


def test_power_iteration_matches_numpy(spark):
    """Two centered-covariance matvecs + Rayleigh quotient must match
    dense numpy exactly (round 6) — pins the quantized matvec algebra
    against a third implementation."""
    import duckdb
    import numpy as np

    row = QUERIES["pca_power_iteration_audit"](spark, SF_DIR).collect()[0]
    con = duckdb.connect()
    emb = con.execute(
        f"SELECT vec_id, embedding FROM '{SF_DIR}/embeddings.parquet' "
        "ORDER BY vec_id"
    ).fetchdf()
    V = np.asarray([np.asarray(v, dtype=np.float64) for v in emb.embedding])
    n = len(V)
    m = V.mean(axis=0)
    C = (V.T @ V) / n - np.outer(m, m)
    y = C[:, 0].copy()  # C @ e0
    z = C @ y
    assert row["n"] == n
    assert abs(row["rayleigh_lambda"] - (y @ z) / (y @ y)) < 1e-4
    assert abs(row["y_norm"] - np.linalg.norm(y)) < 1e-4
    assert abs(row["z_norm"] - np.linalg.norm(z)) < 1e-4


def test_feature_mi_matches_python_reference(spark):
    """MI from raw pandas counts (plain-Python ln sum) must match the
    quantized engine value to the quantization error bound."""
    import math

    import duckdb

    rows = {
        r["feature"]: r
        for r in QUERIES["feature_mi_ranking"](spark, SF_DIR).collect()
    }
    con = duckdb.connect()
    df = con.execute(
        "SELECT o_orderpriority AS f1, "
        "EXTRACT(month FROM o_orderdate)::BIGINT AS f2, "
        "c_mktsegment AS f3, o_orderstatus AS y "
        f"FROM '{SF_DIR}/orders.parquet' o "
        f"JOIN '{SF_DIR}/customer.parquet' c ON o.o_custkey = c.c_custkey"
    ).fetchdf()
    n = len(df)
    for feat, col in [("priority", "f1"), ("month", "f2"), ("segment", "f3")]:
        joint = df.groupby([col, "y"]).size()
        mx = df.groupby(col).size()
        my = df.groupby("y").size()
        mi = sum(
            (c / n) * math.log(n * c / (mx[x] * my[y]))
            for (x, y), c in joint.items()
        )
        # quantization floors each of n_cells contributions at 1e-6/n
        assert abs(rows[feat]["mi_nats"] - mi) < rows[feat]["n_cells"] * 2e-6


def test_zipf_slope_matches_numpy_polyfit(spark):
    """The quantized-integer OLS must agree with numpy lstsq on the
    same (ln rank, ln freq) points to the quantization error."""
    import duckdb
    import numpy as np

    row = QUERIES["zipf_term_slope"](spark, SF_DIR).collect()[0]
    con = duckdb.connect()
    tf = con.execute(
        "SELECT term, COUNT(*) AS c FROM (SELECT unnest(list_filter("
        "string_split(text, ' '), t -> t <> '')) AS term "
        f"FROM '{SF_DIR}/documents.parquet') GROUP BY term "
        "ORDER BY c DESC, term LIMIT 100"
    ).fetchdf()
    x = np.log(np.arange(1, len(tf) + 1, dtype=float))
    y = np.log(tf.c.values.astype(float))
    slope, intercept = np.polyfit(x, y, 1)
    assert abs(row["zipf_slope"] - slope) < 1e-4
    assert abs(row["zipf_intercept"] - intercept) < 1e-4


def test_kmv_estimate_matches_python_reference(spark):
    """Recompute the KMV estimate from raw md5 hashes in plain Python
    — pins the bottom-k rank selection and the (K-1)·2^48/h_K formula
    against a third implementation."""
    import hashlib

    import duckdb

    rows = {
        r["event_type"]: r
        for r in QUERIES["kmv_distinct_users_audit"](spark, SF_DIR).collect()
    }
    con = duckdb.connect()
    df = con.execute(
        "SELECT DISTINCT event_type, user_id "
        f"FROM '{SF_DIR}/events.parquet'"
    ).fetchdf()
    by_type: dict = {}
    for et, uid in zip(df.event_type, df.user_id):
        h = int(
            hashlib.md5(f"{et}:{uid}".encode()).hexdigest()[:12], 16
        )
        by_type.setdefault(et, set()).add(h)
    for et, hashes in by_type.items():
        ranked = sorted(hashes)
        h_k = ranked[7]  # K=8, 1-indexed rank 8
        assert rows[et]["h_k"] == h_k
        est = 7 * (1 << 48) / h_k
        assert abs(rows[et]["est_users"] - round(est, 4)) < 1e-6
        assert rows[et]["n_exact"] == len(hashes)
    # ADVICE r13: the event_type salt must keep the per-type bottom-k
    # states distinct even when every type sees the same user
    # population — degenerate identical h_k across all types would
    # mean the PARTITION BY is doing no work again.
    assert len({r["h_k"] for r in rows.values()}) == len(rows)


def test_roc_auc_matches_python_reference(spark):
    """Recompute the NB scores AND the tie-aware Mann–Whitney AUC in
    plain Python integers from the raw orders rows — independent of
    both engines' SQL."""
    import hashlib
    from collections import Counter, defaultdict

    import duckdb

    row = QUERIES["ssl_roc_auc_nb"](spark, SF_DIR).collect()[0]
    con = duckdb.connect()
    df = con.execute(
        "SELECT o_orderkey, o_orderstatus, o_orderpriority AS f1, "
        "EXTRACT(month FROM o_orderdate)::BIGINT AS f2 "
        f"FROM '{SF_DIR}/orders.parquet'"
    ).fetchdf()

    def mask(okey: int) -> int:
        return int(hashlib.md5(str(okey).encode()).hexdigest()[:4], 16) % 5

    lab = df[[mask(k) == 0 for k in df.o_orderkey]]
    pool = df[[mask(k) != 0 for k in df.o_orderkey]]
    cls = ["F", "O", "P"]
    n_c = Counter(lab.o_orderstatus)
    n1: dict = defaultdict(Counter)
    n2: dict = defaultdict(Counter)
    for _, r in lab.iterrows():
        n1[r.f1][r.o_orderstatus] += 1
        n2[r.f2][r.o_orderstatus] += 1
    scores = []
    for _, r in pool.iterrows():
        a = {
            c: n_c[c] * (n1[r.f1][c] + 1) * (n2[r.f2][c] + 1) for c in cls
        }
        b = {c: (n_c[c] + 5) * (n_c[c] + 12) for c in cls}
        t = {
            "F": a["F"] * b["O"] * b["P"],
            "O": a["O"] * b["F"] * b["P"],
            "P": a["P"] * b["F"] * b["O"],
        }
        score_q = (t["F"] * 10_000) // (t["F"] + t["O"] + t["P"])
        scores.append((score_q, r.o_orderstatus == "F"))
    grid: dict = defaultdict(lambda: [0, 0])
    for s, pos in scores:
        grid[s][0 if pos else 1] += 1
    u2 = 0
    g_below = 0
    for s in sorted(grid):
        p_s, g_s = grid[s]
        u2 += 2 * p_s * g_below + p_s * g_s
        g_below += g_s
    np_, ng = sum(g[0] for g in grid.values()), sum(g[1] for g in grid.values())
    assert row["n_pos"] == np_ and row["n_neg"] == ng
    assert row["u2"] == u2
    assert abs(row["auc"] - u2 / (2 * np_ * ng)) < 1e-6
