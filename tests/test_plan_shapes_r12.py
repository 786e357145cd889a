"""Round-12 plan and behavior pins.

- every r12-born query compiles under strict codegen (the governance
  auto-sweep keyed on driver_history birth rounds);
- the two vacuous-empty replacements (VERDICT r11 #5) return NONZERO
  rows at both correctness SFs — membership logic is data-exercised;
- the threshold-criterion two-round co-training actually exercises the
  cross-teach refit: round 1 promotes nonzero PROPER subsets for both
  views, and round 2's promotions include rows the round-1 cut
  rejected (the refit moved them across the fixed threshold);
- the portable sampled-quantile audit's full-data ranks honor the
  sampling-error intuition (rank/n brackets phi loosely);
- the portable TF-IDF norms respect the bucket bound and exact
  positivity invariants;
- DSIR's floor(ln * 1e6) quantization (ADVICE r11, accepted bounded
  risk — SCALE.md "Accepted bounded risk") is MONITORED: no bucket's
  ln(ratio)*1e6 sits within 1e-3 of an integer at either correctness
  SF, six orders above the ~1e-9 cross-engine ULP amplification.
"""

from __future__ import annotations

import duckdb
import pytest

from tests.conftest import SF_DIR, SF_DIR_01, strict_codegen_sweep
from tfm_semisup_spark.queries import QUERIES, load_all_queries

load_all_queries()

test_r12_queries_compile_under_strict_codegen = strict_codegen_sweep(12)


@pytest.mark.parametrize(
    "name", ["q11_top_value_parts", "anti_join_no_urgent_customers"]
)
@pytest.mark.parametrize("sf_dir", [SF_DIR, SF_DIR_01])
def test_vacuous_empty_replacements_return_rows(spark, name, sf_dir):
    assert QUERIES[name](spark, sf_dir).count() > 0


def test_two_round_threshold_cotrain_exercises_refit(spark):
    rows = QUERIES["ssl_cotrain_two_round_threshold"](spark, SF_DIR).collect()

    def tot(rnd, view, col):
        return sum(
            r[col] for r in rows if r["rnd"] == rnd and r["view_name"] == view
        )

    for view in ("priority", "month"):
        n1, p1 = tot(1, view, "n_scored"), tot(1, view, "n_promoted")
        # round 1: nonzero PROPER subset (the threshold neither
        # rejects nor swallows the whole pool)
        assert 0 < p1 < n1, (view, p1, n1)
    # shared pool: round 2 scores exactly the rows neither view
    # promoted in round 1 (both views rank the same pool)
    n1 = tot(1, "priority", "n_scored")
    n2 = tot(2, "priority", "n_scored")
    assert n2 == tot(2, "month", "n_scored")
    assert 0 < n2 < n1
    # the refit did real work: rows below the fixed cut under the
    # round-1 model crossed it after the cross-teach refit
    assert tot(2, "priority", "n_promoted") > 0
    assert tot(2, "month", "n_promoted") > 0


def test_quantile_sample_audit_rank_brackets(spark):
    rows = QUERIES["quantile_sample_audit"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 1 <= r["m"] <= r["n"]
        # with ~n/16 sampled rows the positional estimate's full-data
        # rank should land broadly around phi*n — loose brackets that
        # still catch swapped quantiles or broken rank math
        assert 0.2 * r["n"] <= r["rank_p50"] <= 0.8 * r["n"], r
        assert r["rank_p95"] >= r["rank_p50"]
        assert r["rank_p99"] >= r["rank_p95"]


def test_tfidf_portable_norm_invariants(spark):
    rows = QUERIES["text_tfidf_portable_norms"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 1 <= r["n_buckets"] <= 512
        assert r["tfidf_l1_q"] > 0
        assert r["tfidf_l2sq"] > 0.0
        # Cauchy-Schwarz-ish sanity: L2^2 <= L1^2 for nonnegative w
        assert r["tfidf_l2sq"] <= float(r["tfidf_l1_q"]) ** 2 + 1e-6


def test_pr_curve_invariants(spark):
    rows = sorted(
        QUERIES["ssl_pr_curve_nb"](spark, SF_DIR).collect(),
        key=lambda r: -r["score_q"],
    )
    assert len(rows) > 5
    last_pp = 0
    for r in rows:
        # cumulative counts grow as the cut lowers
        assert r["n_pred_pos"] > last_pp
        last_pp = r["n_pred_pos"]
        assert 0 <= r["n_true_pos"] <= r["n_pred_pos"]
        assert 0 <= r["precision_q"] <= 1_000_000
        assert 0 <= r["recall_q"] <= 1_000_000
    # the lowest cut predicts everything -> recall hits 1.0 exactly
    assert rows[-1]["recall_q"] == 1_000_000


def test_clustering_coefficient_bounds(spark):
    rows = QUERIES["item_clustering_coefficient"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["deg"] >= 2
        assert 0 <= r["triangles"] <= r["deg"] * (r["deg"] - 1) // 2
        assert 0 <= r["clustering_q"] <= 1_000_000


def test_retrieval_eval_invariants(spark):
    rows = QUERIES["retrieval_eval_mrr"](spark, SF_DIR).collect()
    assert len(rows) == 3  # the standard 3-query workload
    for r in rows:
        if r["n_relevant"] == 0:
            assert r["rr_q"] == 0 and r["recall10_q"] == 0
        else:
            assert r["first_rank"] >= 1
            assert r["rr_q"] == 1_000_000 // r["first_rank"]
            assert 0 <= r["recall10_q"] <= 1_000_000


def test_readability_profile_bounds(spark):
    rows = QUERIES["text_readability_scores"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0 < r["ttr_q"] <= 1_000_000
        # a word has at least one char and chars >= vowel groups
        assert r["chars_per_word_q"] >= 1_000
        assert 0 < r["syll_per_word_q"] <= r["chars_per_word_q"]


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_dsir_ln_quantization_boundary_margin(sf):
    from tfm_semisup_spark.queries.data_selection import (
        _BUCKET_SQL,
        _DSIR_BUCKETS,
        _LR_SCALE,
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"'/root/testdata/{sf}/documents.parquet'"
    )
    vals = con.execute(
        f"""
WITH toks AS (
  SELECT lang, unnest(list_filter(string_split(text, ' '), t -> t <> ''))
           AS term
  FROM documents
),
feats AS (SELECT lang, CAST({_BUCKET_SQL} AS BIGINT) AS b FROM toks),
target AS (SELECT b, COUNT(*)::HUGEINT AS ct FROM feats WHERE lang = 'en'
           GROUP BY b),
raw AS (SELECT b, COUNT(*)::HUGEINT AS cr FROM feats GROUP BY b),
tot AS (SELECT (SELECT SUM(ct) FROM target) AS tt,
               (SELECT SUM(cr) FROM raw) AS tr)
SELECT LN(CAST((COALESCE(t.ct, 0) + 1) * (o.tr + {_DSIR_BUCKETS}) AS DOUBLE)
          / CAST((r.cr + 1) * (o.tt + {_DSIR_BUCKETS}) AS DOUBLE))
         * {_LR_SCALE} AS x
FROM raw r LEFT JOIN target t ON r.b = t.b CROSS JOIN tot o
"""
    ).fetchall()
    assert vals
    margin = min(abs(v[0] - round(v[0])) for v in vals)
    assert margin > 1e-3, (
        f"a DSIR bucket's ln-quantization input sits {margin} from an "
        f"integer boundary at {sf} — inside cross-engine ULP territory; "
        f"see SCALE.md 'Accepted bounded risk' for the fallback plan"
    )
