"""Unit/property tests for the late-r9 quartet: isotonic calibration,
Brier decomposition, Fellegi-Sunter record linkage, proximity search.

Oracle parity (the primary gate) is covered by test_oracle_parity /
driver_sim; these tests pin the algorithmic invariants the hash can't
see: monotonicity + PAVA equivalence of the isotonic fit, the
decomposition identities and bounds of the Brier readout, the
ground-truth accounting of the linkage histogram, and proximity-window
semantics.
"""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from tfm_semisup_spark.session import get_spark

    return get_spark(app_name="test-linkage-calibration")


def _pava(bins):
    """Reference weighted PAVA: bins = [(bin, n, h)] sorted by bin ->
    isotonic fit per bin (pool-adjacent-violators, L2, weights n)."""
    blocks = [[n, h, [b]] for b, n, h in bins]  # [weight, sum, members]
    i = 0
    while i < len(blocks) - 1:
        a, b = blocks[i], blocks[i + 1]
        if a[1] * b[0] > b[1] * a[0]:  # mean(a) > mean(b): violation
            blocks[i] = [a[0] + b[0], a[1] + b[1], a[2] + b[2]]
            del blocks[i + 1]
            i = max(i - 1, 0)
        else:
            i += 1
    fit = {}
    for w, s, members in blocks:
        for b in members:
            fit[b] = s / w
    return fit


def test_isotonic_matches_pava_and_is_monotone(spark):
    from tfm_semisup_spark.queries.ssl_queries import ssl_isotonic_calibration

    rows = sorted(
        ssl_isotonic_calibration(spark, SF).collect(), key=lambda r: r["bin"]
    )
    assert rows
    # monotone non-decreasing in bin order
    fits = [r["rate_iso"] for r in rows]
    assert all(a <= b + 1e-9 for a, b in zip(fits, fits[1:]))
    # equals the classic PAVA fit (same weighted L2 projection)
    ref = _pava([(r["bin"], r["n"], r["n_correct"]) for r in rows])
    for r in rows:
        assert abs(r["rate_iso"] - ref[r["bin"]]) < 5e-7  # 6-dp rounding
    # average-preserving under pooling: weighted fit total == hits
    # (up to the 6-dp output rounding, <= N * 5e-7)
    assert abs(
        sum(r["rate_iso"] * r["n"] for r in rows)
        - sum(r["n_correct"] for r in rows)
    ) < 0.01


def test_brier_decomposition_bounds_and_identity(spark):
    from tfm_semisup_spark.queries.ssl_queries import ssl_brier_decomposition

    row = ssl_brier_decomposition(spark, SF).collect()[0]
    assert row["n"] > 0
    assert 0.0 <= row["brier"] <= 1.0
    assert row["reliability"] >= 0.0
    assert row["resolution"] >= 0.0
    assert 0.0 <= row["uncertainty"] <= 0.25
    # resolution can't exceed uncertainty (it's the explained part of
    # the outcome variance)
    assert row["resolution"] <= row["uncertainty"] + 1e-6
    # Murphy identity holds up to the within-bin variance/covariance
    # remainder, bounded by the 1/20 bin width
    defect = row["brier"] - (
        row["reliability"] - row["resolution"] + row["uncertainty"]
    )
    assert abs(defect) < 0.11


def _nb_pool_rows(select: str):
    """Rows of ``select`` run in DuckDB after the exact-count NB
    oracles' own per-row CTEs (base, labeled/unlabeled, prior, the f1
    likelihoods, scored_v1, voted_v1, decided_v1) — an independent
    per-row reference for the grid replay."""
    import duckdb

    from tfm_semisup_spark.queries.ssl_queries import (
        _NB1_BASE_SQL,
        _NB1_PRIOR_SQL,
        _nb1_decided_sql,
        _nb1_lik_sql,
    )

    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM '{SF}/orders.parquet'")
    return con.execute(
        f"""WITH {_NB1_BASE_SQL},
{_NB1_PRIOR_SQL},
{_nb1_lik_sql("f1", "v1")},
{_nb1_decided_sql("f1", 5, "v1")}
{select}"""
    ).fetchall()


def test_brier_matches_numpy_reference(spark):
    """Recompute the four components from the raw per-row (f, hit)
    pool — the quantized-integer pipeline must agree to ~1e-6."""
    import numpy as np

    from tfm_semisup_spark.queries.ssl_queries import (
        _BRIER_SCALE,
        _ISO_BINS,
        ssl_brier_decomposition,
    )

    pool = _nb_pool_rows(
        f"SELECT (t_max * {_BRIER_SCALE}) // t_sum AS f, "
        "CASE WHEN pred_class = o_orderstatus THEN 1 ELSE 0 END AS hit "
        "FROM decided_v1"
    )
    f = np.array([int(r[0]) for r in pool], dtype=np.float64) / _BRIER_SCALE
    o = np.array([r[1] for r in pool], dtype=np.float64)
    n = len(f)
    bins = np.minimum(_ISO_BINS - 1, (f * _ISO_BINS).astype(np.int64))
    obar = o.mean()
    rel = res = 0.0
    for b in np.unique(bins):
        m = bins == b
        rel += m.sum() * (f[m].mean() - o[m].mean()) ** 2
        res += m.sum() * (o[m].mean() - obar) ** 2
    ref = {
        "brier": ((f - o) ** 2).mean(),
        "reliability": rel / n,
        "resolution": res / n,
        "uncertainty": obar * (1 - obar),
        "base_rate": obar,
    }
    row = ssl_brier_decomposition(spark, SF).collect()[0]
    for k, v in ref.items():
        assert abs(row[k] - v) < 2e-6, (k, row[k], v)


def test_record_linkage_truth_accounting(spark):
    from tfm_semisup_spark.queries.linkage import (
        _T_MATCH,
        _T_POSSIBLE,
        record_linkage_fs,
    )
    from tfm_semisup_spark.io import load_table

    rows = record_linkage_fs(spark, SF).collect()
    n_cust = load_table(spark, SF, "customer").count()
    # every customer pairs with its own corrupted re-release exactly
    # once (blocking fields are uncorrupted), so truth counts total N
    assert sum(r["n_true_match"] for r in rows) == n_cust
    assert all(r["n_true_match"] <= r["n_pairs"] for r in rows)
    # decision labels are the FS threshold function of the score
    for r in rows:
        want = (
            "match"
            if r["score"] >= _T_MATCH
            else "possible" if r["score"] >= _T_POSSIBLE else "nonmatch"
        )
        assert r["decision"] == want
    # the all-agree score level exists and is truth-dominated: an
    # uncorrupted B row agrees on all three fields with its A twin
    top = max(rows, key=lambda r: r["score"])
    assert top["decision"] == "match"
    assert top["n_true_match"] > 0


def test_proximity_window_semantics(spark):
    from tfm_semisup_spark.queries.text_analysis3 import (
        _PROX_K,
        _PROX_PAIRS,
        _PROX_TOP,
        text_proximity_search,
    )

    rows = text_proximity_search(spark, SF).collect()
    assert rows
    by_q = {}
    for r in rows:
        assert 0 <= r["min_dist"] <= _PROX_K
        assert r["n_close"] >= 1
        by_q.setdefault(r["query"], []).append(r)
    assert set(by_q) <= set(_PROX_PAIRS)
    for q, rs in by_q.items():
        assert len(rs) <= _PROX_TOP
        # ranking: min_dist asc, then n_close desc, then doc_id
        key = [(r["min_dist"], -r["n_close"], r["doc_id"]) for r in rs]
        assert key == sorted(key)
    # determinism
    again = text_proximity_search(spark, SF).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_logreg_irls_grid_convergence_and_determinism(spark):
    import numpy as np

    from tfm_semisup_spark.queries.ssl_queries import (
        _IRLS_STEPS,
        ssl_logreg_irls_grid,
    )
    from pyspark.sql import functions as F
    from tfm_semisup_spark.io import load_table

    rows = sorted(
        ssl_logreg_irls_grid(spark, SF).collect(), key=lambda r: r["step"]
    )
    assert [r["step"] for r in rows] == list(range(1, _IRLS_STEPS + 1))
    # NLL non-increasing across Newton steps (allow float wiggle)
    nlls = [r["nll"] for r in rows]
    assert all(a >= b - 1e-3 for a, b in zip(nlls, nlls[1:]))
    # gradient ~ 0 at the final iterate (recomputed from the raw grid)
    li = load_table(spark, SF, "lineitem").select(
        F.round(F.col("l_quantity"), 0).cast("int").alias("q"),
        F.round(F.col("l_discount") * 100, 0).cast("int").alias("d"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    grid = li.groupBy("q", "d").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos")
    ).collect()
    X = np.array([[1.0, r["q"], r["d"]] for r in grid])
    n = np.array([float(r["n"]) for r in grid])
    pos = np.array([float(r["pos"]) for r in grid])
    b = np.array([rows[-1]["beta0"], rows[-1]["beta1"], rows[-1]["beta2"]])
    p = 1.0 / (1.0 + np.exp(-(X @ b)))
    g = X.T @ (pos - n * p)
    assert np.abs(g).max() / max(n.sum(), 1.0) < 1e-3
    # determinism under a different shuffle parallelism
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        again = sorted(
            ssl_logreg_irls_grid(spark, SF).collect(), key=lambda r: r["step"]
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
    assert list(map(tuple, rows)) == list(map(tuple, again))


def test_bpe_train_merges_matches_python_reference(spark):
    from collections import Counter

    from pyspark.sql import functions as F

    from tfm_semisup_spark.io import load_table
    from tfm_semisup_spark.queries.text_analysis3 import (
        _BPE_MAX_WORD,
        _BPE_ROUNDS,
        bpe_train_merges,
    )

    rows = sorted(
        bpe_train_merges(spark, SF).collect(), key=lambda r: r["round"]
    )
    assert [r["round"] for r in rows] == list(range(1, _BPE_ROUNDS + 1))

    # pure-Python BPE over the same word-frequency table
    docs = load_table(spark, SF, "documents")
    wc = Counter()
    for r in docs.select("text").collect():
        for w in r["text"].split(" "):
            if 2 <= len(w) <= _BPE_MAX_WORD:
                wc[w] += 1
    vocab = {w: list(w) for w in wc}
    expect = []
    for rnd in range(1, _BPE_ROUNDS + 1):
        counts = Counter()
        for w, s in vocab.items():
            for a, b in zip(s, s[1:]):
                counts[(a, b)] += wc[w]
        (left, right), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0])
        )
        expect.append((rnd, left, right, cnt))
        for w, s in vocab.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == left and s[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            vocab[w] = out
    got = [
        (r["round"], r["left_sym"], r["right_sym"], r["pair_count"])
        for r in rows
    ]
    assert got == expect
    # determinism
    again = sorted(
        bpe_train_merges(spark, SF).collect(), key=lambda r: r["round"]
    )
    assert list(map(tuple, rows)) == list(map(tuple, again))


def test_bpe_merge_apply_handles_quote_and_backslash_symbols(spark):
    """ADVICE r9: the merge-apply used to interpolate the winning
    symbols into a SQL string — an apostrophe or backslash in a top
    pair generated invalid SQL and crashed the round. The lit-bound
    form must merge such symbols like any other."""
    from tfm_semisup_spark.queries.text_analysis3 import _bpe_merge_apply

    df = spark.createDataFrame(
        [(["'", "s", "x"],), (["\\", "'", "\\", "'"],), (["a", "'"],)],
        "s array<string>",
    )
    merged = df.select(_bpe_merge_apply("'", "s").alias("s")).collect()
    assert [r["s"] for r in merged] == [
        ["'s", "x"],
        ["\\", "'", "\\", "'"],
        ["a", "'"],
    ]
    merged2 = df.select(_bpe_merge_apply("\\", "'").alias("s")).collect()
    assert [r["s"] for r in merged2] == [
        ["'", "s", "x"],
        ["\\'", "\\'"],
        ["a", "'"],
    ]


def test_conformal_nb_coverage_and_reference(spark):
    import numpy as np

    from tfm_semisup_spark.queries.ssl_queries import (
        _BRIER_SCALE,
        ssl_conformal_nb,
    )

    row = ssl_conformal_nb(spark, SF).collect()[0]
    assert row["n_cal"] > 100 and row["n_eval"] > 100
    # split-conformal marginal guarantee (ties make it conservative)
    assert 0.88 <= row["coverage"] <= 1.0
    assert row["coverage"] <= row["avg_set_size"] <= 3.0
    assert row["n_covered"] == round(row["coverage"] * row["n_eval"])

    # numpy reference: recompute q_hat as the ceil(0.9(n+1))-th
    # smallest per-row calibration nonconformity (masks 1-2)
    S6 = _BRIER_SCALE
    alphas = np.sort(
        np.array(
            [
                int(r[0])
                for r in _nb_pool_rows(
                    f"SELECT {S6} - (CASE v.o_orderstatus WHEN 'F' THEN t_F "
                    f"WHEN 'O' THEN t_O ELSE t_P END * {S6}) "
                    "// (t_F + t_O + t_P) AS a "
                    "FROM voted_v1 v JOIN base b ON v.o_orderkey = b.o_orderkey "
                    "WHERE b.mask IN (1, 2)"
                )
            ]
        )
    )
    n = len(alphas)
    k = -(-9 * (n + 1) // 10)  # ceil(0.9 (n+1))
    assert row["q_hat"] == int(alphas[k - 1])
    # determinism under a different shuffle parallelism
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        again = ssl_conformal_nb(spark, SF).collect()[0]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
    assert tuple(row) == tuple(again)


# (test_conformal_oracle_prestage_parity retired in r10: the oracle is
# registered now, so the full tests/test_oracle_parity.py sweep and the
# driver window cover it — VERDICT r9 #4.)


def test_isotonic_operator_pools_planted_violation(spark):
    from tfm_semisup_spark.operators.calibration import isotonic_fit_binned

    # bins 0..3 with a planted violation at bin 1 (rate 0.9 > bin 2's
    # 0.1): PAVA pools bins 1-2 to (9+1)/(10+10) = 0.5
    bins = spark.createDataFrame(
        [(0, 10, 1), (1, 10, 9), (2, 10, 1), (3, 10, 10)],
        "bin int, n_k long, h_k long",
    )
    fit = {
        r["bin"]: r["fit"]
        for r in isotonic_fit_binned(bins).collect()
    }
    assert abs(fit[0] - 0.1) < 1e-12
    assert abs(fit[1] - 0.5) < 1e-12
    assert abs(fit[2] - 0.5) < 1e-12
    assert abs(fit[3] - 1.0) < 1e-12


def test_conformal_threshold_operator_known_quantile(spark):
    from tfm_semisup_spark.operators.calibration import conformal_threshold

    # n=19, miscoverage 0.1: k = ceil(0.9*20) = 18 -> 18th smallest of
    # 1..19 is 18
    alphas = spark.createDataFrame(
        [(i, 1) for i in range(1, 20)], "alpha long, cnt long"
    )
    row = conformal_threshold(alphas).collect()[0]
    assert row["n_cal"] == 19
    assert row["q_hat"] == 18
    # coarser miscoverage 0.5: k = ceil(0.5*20) = 10 -> q_hat = 10
    row = conformal_threshold(alphas, miscoverage=(1, 2)).collect()[0]
    assert row["q_hat"] == 10
    # ties: a score's count carries its duplicates
    tied = spark.createDataFrame([(5, 10), (7, 9)], "alpha long, cnt long")
    row = conformal_threshold(tied).collect()[0]
    assert row["n_cal"] == 19 and row["q_hat"] == 7
    # a repeated score value adds up its counts
    split = spark.createDataFrame(
        [(5, 4), (7, 9), (5, 6)], "alpha long, cnt long"
    )
    row = conformal_threshold(split).collect()[0]
    assert row["n_cal"] == 19 and row["q_hat"] == 7


def test_conformal_threshold_small_n_infinity_convention(spark):
    """ADVICE r9: with n_cal < 9 at alpha=0.1 the rank k exceeds n_cal
    and no score qualifies — q_hat must fall back to the +infinity
    convention (infinite_score) instead of a NULL that downstream set
    logic silently reads as uncovered; n_cal must stay the true count
    (0 for empty input), never NULL."""
    from tfm_semisup_spark.operators.calibration import conformal_threshold

    small = spark.createDataFrame(
        [(i, 1) for i in range(1, 6)], "alpha long, cnt long"
    )
    # default: documented NULL, but n_cal correct
    row = conformal_threshold(small).collect()[0]
    assert row["n_cal"] == 5 and row["q_hat"] is None
    row = conformal_threshold(small, infinite_score=999).collect()[0]
    assert row["n_cal"] == 5 and row["q_hat"] == 999
    empty = spark.createDataFrame([], "alpha long, cnt long")
    row = conformal_threshold(empty, infinite_score=999).collect()[0]
    assert row["n_cal"] == 0 and row["q_hat"] == 999
    # large-n behavior unchanged by the convention parameter
    big = spark.createDataFrame(
        [(i, 1) for i in range(1, 20)], "alpha long, cnt long"
    )
    row = conformal_threshold(big, infinite_score=999).collect()[0]
    assert row["q_hat"] == 18


def test_hard_negatives_band_and_bruteforce(spark):
    import numpy as np

    from pyspark.sql import functions as F

    from tfm_semisup_spark.io import load_table
    from tfm_semisup_spark.queries.similarity import (
        _HARDNEG_CEIL,
        _HARDNEG_FLOOR,
        _HARDNEG_K,
        similarity_hard_negatives,
    )

    rows = similarity_hard_negatives(spark, SF).collect()
    assert rows
    per_q = {}
    for r in rows:
        assert r["query_id"] != r["vec_id"]
        assert _HARDNEG_FLOOR - 1e-4 <= r["cosine_sim"] <= _HARDNEG_CEIL + 1e-4
        per_q.setdefault(r["query_id"], []).append(r)
    # numpy brute force: same band, same top-k
    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    pdf = emb.toPandas().sort_values("vec_id")
    ids = pdf["vec_id"].to_numpy()
    M = np.stack(pdf["embedding"].to_numpy())
    M = M / np.linalg.norm(M, axis=1, keepdims=True)
    S = M @ M.T
    for qid, rs in per_q.items():
        assert len(rs) <= _HARDNEG_K
        qi = int(np.where(ids == qid)[0][0])
        sims = S[qi].copy()
        sims[qi] = -2.0
        in_band = np.where(
            (sims >= _HARDNEG_FLOOR) & (sims < _HARDNEG_CEIL)
        )[0]
        order = sorted(
            in_band, key=lambda j: (-round(sims[j], 6), ids[j])
        )[: _HARDNEG_K]
        assert [r["vec_id"] for r in rs] == [int(ids[j]) for j in order]
    # determinism
    again = similarity_hard_negatives(spark, SF).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_ppl_prune_band_accounting(spark):
    import math

    from tfm_semisup_spark.queries.corpus_prep import corpus_ppl_prune

    rows = corpus_ppl_prune(spark, SF).collect()
    assert rows
    for r in rows:
        n = r["n_docs"]
        assert r["n_kept"] + r["n_dropped_low"] + r["n_dropped_high"] == n
        # value-cut semantics: the low cut covers AT LEAST ceil(n/10)
        # docs; the high remainder is AT MOST floor(n/10)
        assert r["n_dropped_low"] >= math.ceil(n / 10)
        assert r["n_dropped_high"] <= n - math.ceil(9 * n / 10)
        assert r["n_kept"] > 0
    # determinism under a different shuffle parallelism
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        again = corpus_ppl_prune(spark, SF).collect()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
