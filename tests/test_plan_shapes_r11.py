"""Round-11 plan and behavior pins.

- every r11-born query compiles under strict codegen;
- the two-round CoTraining oracle actually EXERCISES the cross-teach
  refit: kBest promotes exactly max(1, n/10) per view in round 1, the
  shared round-2 pool shrinks by the union of both views' promotions,
  and view 1's round-2 promotions DIFFER from what an un-crossed
  (round-1) training pool would promote on the same round-2 pool —
  i.e. view 2's pseudo-labels measurably changed view 1's model.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR, strict_codegen_sweep
from tfm_semisup_spark.queries import QUERIES, load_all_queries

load_all_queries()


test_r11_queries_compile_under_strict_codegen = strict_codegen_sweep(11)


def test_two_round_cotrain_exercises_cross_teach(spark):
    rows = {
        (r["rnd"], r["view_name"], r["pred_class"]): r
        for r in QUERIES["ssl_cotrain_two_round_nb"](spark, SF_DIR).collect()
    }

    def tot(rnd, view, col):
        return sum(
            r[col] for (rn, v, _), r in rows.items() if rn == rnd and v == view
        )

    n1 = tot(1, "priority", "n_scored")
    assert n1 == tot(1, "month", "n_scored"), "round 1: shared pool"
    k1 = max(1, n1 // 10)
    for view in ("priority", "month"):
        assert tot(1, view, "n_promoted") == k1, "kBest must promote exactly k"
    n2 = tot(2, "priority", "n_scored")
    assert n2 == tot(2, "month", "n_scored"), "round 2: shared pool"
    # pool shrinks by the UNION of both views' promotions: between k
    # (total overlap) and 2k (disjoint)
    assert n1 - 2 * k1 <= n2 <= n1 - k1
    assert n2 < n1, "round-2 pool must shrink"
    k2 = max(1, n2 // 10)
    for view in ("priority", "month"):
        assert tot(2, view, "n_promoted") == k2

    # the cross-teach refit must CHANGE view 1's round-2 verdicts:
    # rebuild round 2 for the priority view in DuckDB (the oracle's
    # per-row _ct2_round_sql CTEs) with the crossed and the UN-crossed
    # round-1 training pool on the same round-2 pool and compare the
    # promoted sets
    import duckdb

    from tfm_semisup_spark.queries.ssl_queries import (
        _CT2_K_DIV,
        _NB1_BASE_SQL,
        _ct2_round_sql,
    )

    k = f"GREATEST(1, np // {_CT2_K_DIV})"
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM '{SF_DIR}/orders.parquet'")
    keys = con.execute(
        f"""WITH {_NB1_BASE_SQL},
train_r1 AS (SELECT f1, f2, o_orderstatus AS label FROM labeled),
pool_r1 AS (SELECT o_orderkey, o_orderstatus, f1, f2 FROM unlabeled),
{_ct2_round_sql("train_r1", "pool_r1", "f1", 5, "v1r1")},
{_ct2_round_sql("train_r1", "pool_r1", "f2", 12, "v2r1")},
pool_r2 AS (
  SELECT a.o_orderkey, a.o_orderstatus, a.f1, a.f2
  FROM ranked_v1r1 a JOIN ranked_v2r1 b ON a.o_orderkey = b.o_orderkey
  WHERE a.rn > GREATEST(1, a.np // {_CT2_K_DIV})
    AND b.rn > GREATEST(1, b.np // {_CT2_K_DIV})
),
crossed AS (
  SELECT * FROM train_r1
  UNION ALL SELECT f1, f2, pred_class AS label FROM ranked_v2r1 WHERE rn <= {k}
),
{_ct2_round_sql("crossed", "pool_r2", "f1", 5, "x")},
{_ct2_round_sql("train_r1", "pool_r2", "f1", 5, "u")}
SELECT 'pool', o_orderkey FROM pool_r2
UNION ALL SELECT 'with', o_orderkey FROM ranked_x WHERE rn <= {k}
UNION ALL SELECT 'without', o_orderkey FROM ranked_u WHERE rn <= {k}"""
    ).fetchall()

    def promoted_keys(side):
        return {key for s, key in keys if s == side}

    assert len(promoted_keys("pool")) == n2

    with_cross = promoted_keys("with")
    without_cross = promoted_keys("without")
    assert len(with_cross) == k2 and len(without_cross) == k2
    assert with_cross != without_cross, (
        "cross-teach refit did not change the priority view's round-2 "
        "promotions — the exchange is not being exercised"
    )
    # and the query's own round-2 output must match the crossed refit
    key_sum = tot(2, "priority", "promoted_key_sum")
    assert key_sum == sum(with_cross)


def test_full_chain_composes_and_releases(spark):
    """corpus_pipeline_full_chain (VERDICT r10 #7): the manifest's
    totals must reconcile with the standalone stages run independently,
    the within-shard positions must be exactly triangular per shard
    (any leaked pre-filter row or double-counted survivor breaks the
    closed form), and the query must leave no pinned RDD blocks
    (the release/truncate audit pattern)."""
    from tfm_semisup_spark.operators.lineage import release
    from tfm_semisup_spark.operators.quality import filter_quality_gopher
    from tfm_semisup_spark.io import load_table
    from tfm_semisup_spark.queries.corpus_prep import (
        _STRAT_H_SPARK,
        _stratified_threshold_sql,
    )

    def _cached_rdd_ids(s):
        return {
            info.id() for info in s.sparkContext._jsc.sc().getRDDStorageInfo()
        }

    before = _cached_rdd_ids(spark)
    df = QUERIES["corpus_pipeline_full_chain"](spark, SF_DIR)
    rows = df.collect()
    release(df)
    assert not (_cached_rdd_ids(spark) - before), "pinned RDDs leaked"

    # totals reconcile with the standalone stages composed by hand
    docs = load_table(spark, SF_DIR, "documents")
    q = filter_quality_gopher(docs)
    dd = q.groupBy(F.md5("text").alias("__fp")).agg(
        F.min("doc_id").alias("doc_id")
    )
    survivors = (
        q.join(dd.select("doc_id"), "doc_id", "semi")
        .where(F.expr(_STRAT_H_SPARK) < F.expr(_stratified_threshold_sql()))
    )
    n_expected = survivors.count()
    assert n_expected > 0, "chain filtered everything — constants drifted"
    assert sum(r["n_docs"] for r in rows) == n_expected
    assert sum(r["id_sum"] for r in rows) == (
        survivors.agg(F.sum("doc_id")).collect()[0][0]
    )

    # per-shard positions are a permutation of 1..k_s: sum of pos over
    # a shard == k_s (k_s + 1) / 2
    from collections import defaultdict

    n_by_shard, pos_by_shard = defaultdict(int), defaultdict(int)
    for r in rows:
        n_by_shard[r["shard"]] += r["n_docs"]
        pos_by_shard[r["shard"]] += r["pos_sum"]
    for s, k in n_by_shard.items():
        assert pos_by_shard[s] == k * (k + 1) // 2, (s, k, pos_by_shard[s])
    # deciles span 0..9 on any non-trivial survivor set
    deciles = {r["decile"] for r in rows}
    assert deciles <= set(range(10)) and len(deciles) >= 5
