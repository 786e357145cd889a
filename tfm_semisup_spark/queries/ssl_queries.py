"""Semi-supervised-learning query entries (rows-only checked).

Iterative ML training is genuinely non-SQL-expressible, so these have
no oracle_sql entries (driver contract: rows-only check). Each returns
one AllResults-schema row (FIXTURES.md A6) and is deterministic:
hash-based label masking (partitioning-independent), fixed classifier
seeds, hash-based CV folds.

Task mapping: embeddings(array<float> -> features via array_to_vector),
binary label "class 1 vs rest" (the reference's datasets are binary;
fMeasure(1) / hard-AUC metrics are label-1-positive — BASELINE.md).
"""

from __future__ import annotations

import functools
import math
from decimal import Decimal

from pyspark.ml import Pipeline
from pyspark.ml.classification import DecisionTreeClassifier, RandomForestClassifier
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tfm_semisup_spark.featurization import ArrayToVector
from tfm_semisup_spark.io import load_table
from tfm_semisup_spark.operators.co_training import CoTraining
from tfm_semisup_spark.operators.evaluation import cross_validate, evaluate_predictions
from tfm_semisup_spark.operators.grid import (
    RESULTS_SCHEMA,
    build_ssl_grid,
    run_experiment_grid,
)
from tfm_semisup_spark.operators.self_training import SelfTraining
from tfm_semisup_spark.operators.supervised import Supervised
from tfm_semisup_spark.operators.unlabeled import DeterministicLabelMasker
from tfm_semisup_spark.queries import ORACLES, register


def _labeled_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    df = ArrayToVector(inputCol="embedding", outputCol="features").transform(emb)
    return df.select(
        "vec_id",
        "features",
        F.when(F.col("label") == 1, 1.0).otherwise(0.0).alias("label"),
    )


def _masked(spark: SparkSession, sf_dir: str, pct: float = 0.3) -> DataFrame:
    return DeterministicLabelMasker(
        percentageLabeled=pct, idCol="vec_id", seed=11
    ).transform(_labeled_points(spark, sf_dir))


def _result_row(
    spark: SparkSession,
    data_name: str,
    clf: str,
    criterion: str,
    pct: float,
    value: float,
    model,
    eval_df: DataFrame,
) -> DataFrame:
    m = evaluate_predictions(model.transform(eval_df))
    s = model.ss_summary
    row = (
        data_name, clf, criterion, float(pct), float(value),
        int(s.iterations), int(s.labeled_initial), int(s.unlabeled_initial),
        int(s.labeled_final), int(s.unlabeled_final),
        float(round(s.percentage_labeled_final, 6)),
        float(round(m.accuracy, 6)), float(round(m.auc_roc, 6)),
        float(round(m.auc_pr, 6)), float(round(m.f1_label1, 6)),
    )
    return spark.createDataFrame([row], RESULTS_SCHEMA)


@register("ssl_selftrain_threshold")
def ssl_selftrain_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    data = _masked(spark, sf_dir, 0.3)
    st = SelfTraining(
        baseClassifier=DecisionTreeClassifier(seed=5), threshold=0.75, maxIter=4
    )
    model = st.fit(data)
    return _result_row(
        spark, "embeddings", "DT", "threshold", 0.3, 0.75, model,
        _labeled_points(spark, sf_dir),
    )


@register("ssl_selftrain_kbest")
def ssl_selftrain_kbest(spark: SparkSession, sf_dir: str) -> DataFrame:
    data = _masked(spark, sf_dir, 0.3)
    st = SelfTraining(
        baseClassifier=DecisionTreeClassifier(seed=5),
        criterion="kBest",
        kBest=0.5,
        maxIter=3,
    )
    model = st.fit(data)
    return _result_row(
        spark, "embeddings", "DT", "kBest", 0.3, 0.5, model,
        _labeled_points(spark, sf_dir),
    )


@register("ssl_selftrain_nb")
def ssl_selftrain_nb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NaiveBayes-backed SelfTraining — completes the reference's
    4-classifier set DT/RF/NB/LR (`SemiSupervisedAndBaseClassifiers
    .scala:140-143`). Gaussian event model because embeddings are
    signed (the reference's multinomial default assumes non-negative
    features; exercised on a scaled path in tests/test_baseline_parity
    .py). NB has no seed param — fully deterministic."""
    from pyspark.ml.classification import NaiveBayes

    data = _masked(spark, sf_dir, 0.3)
    st = SelfTraining(
        baseClassifier=NaiveBayes(modelType="gaussian"), threshold=0.75, maxIter=3
    )
    model = st.fit(data)
    return _result_row(
        spark, "embeddings", "NB", "threshold", 0.3, 0.75, model,
        _labeled_points(spark, sf_dir),
    )


@register("ssl_cotrain_threshold")
def ssl_cotrain_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    data = _masked(spark, sf_dir, 0.3)
    ct = CoTraining(
        baseClassifier=DecisionTreeClassifier(seed=5), threshold=0.75, maxIter=3
    )
    model = ct.fit(data)
    return _result_row(
        spark, "embeddings", "DT", "threshold", 0.3, 0.75, model,
        _labeled_points(spark, sf_dir),
    )


@register("ssl_cotrain_feature_split")
def ssl_cotrain_feature_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic Blum-Mitchell co-training (viewSplit='features'):
    disjoint half-vector views over one shared pool — the published
    algorithm alongside the reference's instance-split deviation
    (VERDICT r5 #7). Deterministic: hash-based masking, seeded trees,
    and per-view promotion that depends only on row content."""
    data = _masked(spark, sf_dir, 0.3)
    ct = CoTraining(
        baseClassifier=DecisionTreeClassifier(seed=5),
        threshold=0.75,
        maxIter=3,
        viewSplit="features",
    )
    model = ct.fit(data)
    return _result_row(
        spark, "embeddings", "DT", "featureSplit", 0.3, 0.75, model,
        _labeled_points(spark, sf_dir),
    )


@register("ssl_supervised_baseline")
def ssl_supervised_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    data = _masked(spark, sf_dir, 0.3)
    model = Supervised(baseClassifier=RandomForestClassifier(seed=5, numTrees=10)).fit(data)
    return _result_row(
        spark, "embeddings", "RF", "supervised", 0.3, 0.0, model,
        _labeled_points(spark, sf_dir),
    )


@register("ssl_cv_grid")
def ssl_cv_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-cell experiment grid with 2-fold CV — the reference's full
    E2 lifecycle (grid -> pipeline assembly -> CV -> results table)."""
    data = _labeled_points(spark, sf_dir)
    cells = build_ssl_grid(
        classifiers={"DT": lambda: DecisionTreeClassifier(seed=5)},
        percentages=[0.3],
        thresholds=[0.8],
        family="selfTraining",
        max_iter=2,
    )
    return run_experiment_grid(
        spark, data, "embeddings", [], cells, k=2, id_col="vec_id"
    )


@register("ssl_pipeline_end_to_end")
def ssl_pipeline_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Pipeline composition (featurization stage + masker + SSC
    estimator) as one pyspark.ml.Pipeline — class-distribution of
    predictions over the corpus (reference E1 lifecycle)."""
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "label", F.when(F.col("label") == 1, 1.0).otherwise(0.0)
    )
    pipeline = Pipeline(
        stages=[
            ArrayToVector(inputCol="embedding", outputCol="features"),
            DeterministicLabelMasker(percentageLabeled=0.3, idCol="vec_id", seed=11),
            SelfTraining(
                baseClassifier=DecisionTreeClassifier(seed=5), threshold=0.8, maxIter=3
            ),
        ]
    )
    model = pipeline.fit(emb)
    preds = model.transform(emb)
    return (
        preds.groupBy(F.col("prediction").cast("long").alias("prediction"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register("ssl_holdout_baselines")
def ssl_holdout_baselines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supervised hold-out baseline table (reference C12/E3 lifecycle;
    resultsClasificadoresBase.csv schema)."""
    from tfm_semisup_spark.operators.grid import run_holdout_baselines

    data = _labeled_points(spark, sf_dir)
    return run_holdout_baselines(
        spark,
        data,
        "embeddings",
        [],
        classifiers={"DT": lambda: DecisionTreeClassifier(seed=5)},
        percentages=[0.3, 0.6],
    )


@register("ssl_featurization_path")
def ssl_featurization_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical featurization path (reference C6
    indexStringColumnsStagePipeline + VectorAssembler,
    `FunctionsSemiSupervised.scala:32-42`): multi-col StringIndexer
    (handleInvalid=keep) + assembler over customer, then a supervised
    fit predicting a binarized balance class. Rows-only (StringIndexer
    ordering + DT are ML-side)."""
    from pyspark.ml import Pipeline

    from tfm_semisup_spark.featurization import build_featurization

    cust = load_table(spark, sf_dir, "customer").withColumn(
        "balance_class", F.when(F.col("c_acctbal") > 5000, "high").otherwise("low")
    )
    stages = build_featurization(
        categorical_cols=["c_mktsegment"],
        numeric_cols=["c_acctbal", "c_nationkey"],
        label_col="balance_class",
    )
    pipeline = Pipeline(
        stages=stages
        + [
            DeterministicLabelMasker(
                percentageLabeled=0.5, idCol="c_custkey", seed=11
            ),
            Supervised(baseClassifier=DecisionTreeClassifier(seed=5)),
        ]
    )
    model = pipeline.fit(cust)
    preds = model.transform(cust)
    return (
        preds.groupBy(
            F.col("label").cast("long").alias("label"),
            F.col("prediction").cast("long").alias("prediction"),
        ).agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# Graph-based SSL: clamped label propagation (operators/label_propagation.py)
# — the first ORACLE-CHECKED member of the SSL family. All vote
# arithmetic is integer with a deterministic tie-break, so the DuckDB
# unrolled-iteration CTE chain reproduces the fixed-point table
# exactly; the only float math (the cosine edge predicate) is the same
# expression on both sides over double-cast inputs, far from the
# threshold relative to ULP noise.
#
# ORACLE TIER — the graph is the exact-cosine pairs among a keyed
# subset (vec_id % 4, mirroring similarity_pairs_above's bound); the
# 100 TB edge path is the LSH-bucketed similarity tier (see the
# operator docstring). Seeds are a deterministic key slice
# (vec_id % 12 == 0 given the % 4 subset -> every 3rd node), matching
# the hash-mask seeding discipline of DeterministicLabelMasker.
# ---------------------------------------------------------------------------


def _lp_oracle(iters: int = 3, tau: float = 0.2) -> str:
    parts = [
        f"""
WITH sub AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v
  FROM embeddings WHERE vec_id % 4 = 0
),
p AS (
  SELECT a.vec_id AS sa, b.vec_id AS sb
  FROM sub a JOIN sub b ON a.vec_id < b.vec_id
  WHERE list_inner_product(a.v, b.v)
          / (sqrt(list_inner_product(a.v, a.v))
             * sqrt(list_inner_product(b.v, b.v))) >= {tau}
),
e AS (SELECT sa AS src, sb AS dst FROM p
      UNION ALL SELECT sb AS src, sa AS dst FROM p),
l0 AS (
  SELECT vec_id,
         CASE WHEN vec_id % 12 = 0 THEN 1 ELSE 0 END AS is_seed,
         label AS y_true,
         CASE WHEN vec_id % 12 = 0 THEN label END AS y
  FROM sub
)"""
    ]
    for t in range(1, iters + 1):
        parts.append(
            f""",
v{t} AS (
  SELECT e.dst AS vec_id, l.y, COUNT(*) AS c
  FROM e JOIN l{t - 1} l ON e.src = l.vec_id
  WHERE l.y IS NOT NULL GROUP BY e.dst, l.y
),
b{t} AS (
  SELECT vec_id, y FROM (
    SELECT vec_id, y,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY c DESC, y ASC) AS rn
    FROM v{t}) WHERE rn = 1
),
l{t} AS (
  SELECT l.vec_id, l.is_seed, l.y_true,
         CASE WHEN l.is_seed = 1 THEN l.y_true
              ELSE COALESCE(b.y, l.y) END AS y
  FROM l{t - 1} l LEFT JOIN b{t} b ON l.vec_id = b.vec_id
)"""
        )
    parts.append(
        f"""
SELECT vec_id, CAST(is_seed AS BIGINT) AS is_seed,
       CAST(y_true AS BIGINT) AS y_true,
       CAST(COALESCE(y, -1) AS BIGINT) AS y_pred
FROM l{iters}"""
    )
    return "".join(parts)


@register("ssl_label_propagation", _lp_oracle())
def ssl_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clamped majority-vote label propagation, 3 synchronous rounds
    over the exact-cosine graph (tau=0.2) on the vec_id % 4 subset;
    seeds = vec_id % 12 == 0. Output: (vec_id, is_seed, y_true,
    y_pred) with unreached nodes at -1."""
    from tfm_semisup_spark.functions.vector import cosine_paired, l2_norm_fixed
    from tfm_semisup_spark.io import embedding_dim
    from tfm_semisup_spark.operators.label_propagation import propagate_labels

    emb = load_table(spark, sf_dir, "embeddings")
    dim = embedding_dim(sf_dir)
    sub = emb.where(F.col("vec_id") % 4 == 0).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    # Norms projected per side BEFORE the pair join (graph build): the
    # cosine composite fused with join+filter overflows the JVM 64 KB
    # codegen limit and runs interpreted (vector.cosine_paired).
    a = sub.select(
        F.col("vec_id").alias("sa"),
        F.col("v").alias("va"),
        l2_norm_fixed("v", dim).alias("na"),
    )
    b = sub.select(
        F.col("vec_id").alias("sb"),
        F.col("v").alias("vb"),
        l2_norm_fixed("v", dim).alias("nb"),
    )
    edges = (
        a.join(b, F.col("sa") < F.col("sb"))
        .where(cosine_paired("va", "vb", "na", "nb", dim) >= 0.2)
        .select(F.col("sa").alias("src"), F.col("sb").alias("dst"))
    )
    nodes = sub.select(
        F.col("vec_id").alias("node"),
        F.when(F.col("vec_id") % 12 == 0, 1).otherwise(0).alias("is_seed"),
        F.col("label").alias("y_true"),
    )
    out = propagate_labels(nodes, edges, iters=3)
    return out.select(
        F.col("node").alias("vec_id"),
        F.col("is_seed").cast("long").alias("is_seed"),
        F.col("y_true").cast("long").alias("y_true"),
        F.coalesce(F.col("y"), F.lit(-1)).cast("long").alias("y_pred"),
    )


@register("ssl_tritrain")
def ssl_tritrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tri-Training (Zhou & Li 2005, operators/tri_training.py) on the
    masked embeddings task — the third disagreement-based SSC family
    member. Deterministic: hash-subsample diversification + fixed
    seeds; rows-only checked like the other iterative-ML entries."""
    from tfm_semisup_spark.operators.tri_training import TriTraining

    data = _masked(spark, sf_dir, 0.3)
    tt = TriTraining(baseClassifier=DecisionTreeClassifier(seed=5), maxIter=4)
    model = tt.fit(data)
    return _result_row(
        spark, "embeddings", "DT", "tri", 0.3, 0.0, model,
        _labeled_points(spark, sf_dir),
    )


@register("ssl_paired_fold_ttest")
def ssl_paired_fold_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired per-fold t-test: does SelfTraining beat its supervised
    baseline? The model-comparison readout the reference's thesis
    tables imply (AllResults rows compare SSC vs supervised per config;
    this adds the significance statistic — Dietterich's paired
    cross-validated t-test over k fold-accuracy differences).

    Rows-only by necessity (MLlib tree fits), deterministic end to
    end: ``cross_validate`` over hash folds of ``vec_id``, hash label
    masking of each fold's training rows, seeded DTs. One row:
    (k_folds, mean_acc_ssl, mean_acc_sup, mean_diff, t_stat);
    t = d̄ / (s_d/√k), 0.0 when every fold ties (s_d = 0 — ANSI-safe,
    no 0/0)."""
    k = 3
    pts = _labeled_points(spark, sf_dir)

    def fold_accuracies(est) -> list[float]:
        masker = DeterministicLabelMasker(
            percentageLabeled=0.3, idCol="vec_id", seed=11
        )
        cv = cross_validate(pts, Pipeline(stages=[masker, est]), k=k, id_col="vec_id")
        return [m.accuracy for m in cv.per_fold]

    accs_ssl = fold_accuracies(
        SelfTraining(
            baseClassifier=DecisionTreeClassifier(seed=5), threshold=0.75, maxIter=2
        )
    )
    accs_sup = fold_accuracies(Supervised(baseClassifier=DecisionTreeClassifier(seed=5)))
    diffs = [a_ssl - a_sup for a_ssl, a_sup in zip(accs_ssl, accs_sup)]
    mean_d = sum(diffs) / k
    var_d = sum((d - mean_d) ** 2 for d in diffs) / (k - 1)
    t = 0.0 if var_d == 0.0 else mean_d / math.sqrt(var_d / k)
    row = (
        k,
        float(round(sum(accs_ssl) / k, 6)),
        float(round(sum(accs_sup) / k, 6)),
        float(round(mean_d, 6)),
        float(round(t, 6)),
    )
    return spark.createDataFrame(
        [row],
        "k_folds int, mean_acc_ssl double, mean_acc_sup double, "
        "mean_diff double, t_stat double",
    )


# ---------------------------------------------------------------------------
# One SelfTraining promotion round, oracle-checked (VERDICT r8 #5)
# ---------------------------------------------------------------------------
#
# The SSL family's fits are rows-only by nature (MLlib tree training is
# not SQL), but the PROMOTION step — score the unlabeled pool, take the
# argmax class, promote rows whose posterior clears the threshold
# (``SelfTraining.scala:121-149``, our ``operators/self_training.py:177``)
# — is pure relational algebra once the base scorer is. This entry
# drives exactly that math through DuckDB with an exact-count
# categorical Naive Bayes as the base model:
#
#   task      orders: class = o_orderstatus in {F,O,P};
#             features f1 = o_orderpriority (V1=5 values),
#                      f2 = month(o_orderdate) (V2=12 values)
#   mask      labeled iff md5-uniform16(o_orderkey) % 5 == 0 (~20%,
#             the hash-mask convention of DeterministicLabelMasker —
#             partitioning-independent, portable to DuckDB)
#   model     add-one-smoothed NB fitted on the labeled pool as THREE
#             bounded aggregates (priors 3 cells, f1-likelihood 15,
#             f2-likelihood 36) — broadcast joined back onto the pool
#   score     posterior(c) up to the shared prior denominator is the
#             exact rational a_c/b_c with
#               a_c = n_c · (n1[f1,c]+1) · (n2[f2,c]+1)
#               b_c = (n_c+V1) · (n_c+V2)
#   argmax    cross-multiplied integer compare t_c = a_c·Π_{c'≠c}b_{c'}
#             (ties break to the lexicographically smaller class)
#   promote   normalized posterior ≥ 0.7 (the reference's default
#             threshold)  ⟺  10·t_max ≥ 7·(t_F+t_O+t_P)
#
# EVERY comparison is exact integer arithmetic (Spark DECIMAL(38,0),
# DuckDB HUGEINT) — no doubles anywhere, so no rounding boundary and no
# summation-order exposure; the hash mask makes membership portable.
# Magnitude bound: t ≤ n^7 < 10^38 holds through sf0.1 (n=150k); this
# is an ORACLE-parity tier — at corpus scale the promotion runs inside
# SelfTraining on log-space model scores, where a 1-ULP flip moves one
# borderline row between iterations, not a verdict.

from tfm_semisup_spark.operators.layout import (  # noqa: E402
    md5_uniform16_spark_sql,
    md5_uniform16_sql,
)

_ST1_KEY_MD5 = "md5(CAST(o_orderkey AS STRING))"
_ST1_MASK_SPARK = f"({md5_uniform16_spark_sql(_ST1_KEY_MD5)} % 5)"
_ST1_MASK_SQL = f"({md5_uniform16_sql(_ST1_KEY_MD5)} % 5)"
_ST1_V1, _ST1_V2 = 5, 12  # feature cardinalities (schema constants)

# -- oracle SQL fragments shared by every NB tier ---------------------------

_NB1_CLS = ["F", "O", "P"]


def _class_counts(col: str, prefix: str, suffix: str = "") -> str:
    """Per-class count columns ``SUM(CASE WHEN col = 'c' ...)::HUGEINT
    AS {prefix}c{suffix}`` — the NB fit's one aggregate shape."""
    return ", ".join(
        f"SUM(CASE WHEN {col} = '{c}' THEN 1 ELSE 0 END)::HUGEINT"
        f" AS {prefix}{c}{suffix}"
        for c in _NB1_CLS
    )


_NB1_PRIOR_SQL = (
    f"prior AS (SELECT {_class_counts('o_orderstatus', 'n_')} FROM labeled)"
)

_NB1_BASE_SQL = f"""base AS (
  SELECT o_orderkey, o_orderstatus,
         o_orderpriority AS f1,
         EXTRACT(month FROM o_orderdate)::BIGINT AS f2,
         {_ST1_MASK_SQL} AS mask
  FROM orders
),
labeled AS (SELECT * FROM base WHERE mask = 0),
unlabeled AS (SELECT * FROM base WHERE mask <> 0)"""

#: argmax over (t_F, t_O, t_P) with the F>=O>=P tie precedence
_ARGMAX_SQL = """CASE WHEN t_F >= t_O AND t_F >= t_P THEN 'F'
              WHEN t_O >= t_P THEN 'O' ELSE 'P' END AS pred_class,
         CASE WHEN t_F >= t_O AND t_F >= t_P THEN t_F
              WHEN t_O >= t_P THEN t_O ELSE t_P END AS t_max,
         t_F + t_O + t_P AS t_sum"""


def _st1_oracle() -> str:
    cls = _NB1_CLS
    ab = " , ".join(
        f"n_{c} * (COALESCE(n1_{c}, 0) + 1) * (COALESCE(n2_{c}, 0) + 1) AS a_{c}, "
        f"(n_{c} + {_ST1_V1}) * (n_{c} + {_ST1_V2}) AS b_{c}"
        for c in cls
    )
    return f"""
WITH {_NB1_BASE_SQL},
lik1 AS (SELECT f1, {_class_counts("o_orderstatus", "n1_")} FROM labeled GROUP BY f1),
lik2 AS (SELECT f2, {_class_counts("o_orderstatus", "n2_")} FROM labeled GROUP BY f2),
{_NB1_PRIOR_SQL},
scored AS (
  SELECT u.o_orderkey, u.o_orderstatus, {ab}
  FROM unlabeled u
  LEFT JOIN lik1 ON u.f1 = lik1.f1
  LEFT JOIN lik2 ON u.f2 = lik2.f2
  CROSS JOIN prior
),
voted AS (
  SELECT o_orderkey, o_orderstatus,
         a_F * b_O * b_P AS t_F,
         a_O * b_F * b_P AS t_O,
         a_P * b_F * b_O AS t_P
  FROM scored
),
decided AS (
  SELECT o_orderkey, o_orderstatus,
         {_ARGMAX_SQL}
  FROM voted
)
SELECT pred_class,
       COUNT(*)::BIGINT AS n_scored,
       SUM(CASE WHEN 10 * t_max >= 7 * t_sum THEN 1 ELSE 0 END)::BIGINT
         AS n_promoted,
       SUM(CASE WHEN 10 * t_max >= 7 * t_sum
                 AND pred_class = o_orderstatus THEN 1 ELSE 0 END)::BIGINT
         AS n_promoted_correct,
       SUM(CASE WHEN 10 * t_max >= 7 * t_sum THEN o_orderkey ELSE 0 END)::BIGINT
         AS promoted_key_sum
FROM decided
GROUP BY pred_class
"""


@register("ssl_selftrain_one_round_nb", _st1_oracle())
def ssl_selftrain_one_round_nb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact-arithmetic SelfTraining threshold-promotion round with
    an aggregate-expressed Naive Bayes scorer: (pred_class, n_scored,
    n_promoted, n_promoted_correct, promoted_key_sum). Threshold stays
    the reference default 0.7 (``SelfTraining.scala:121-149``).

    The prediction and the 10·t_max >= 7·t_sum flag are constant per
    (f1, f2) cell, so the round replays from the contingency grid
    (``_nb_grid``) on Python ints — see the grid-replay header."""
    lab, pool = _grid_split(_nb_grid(_nb_rows(spark, sf_dir)))
    predict = _nb_predictor(lab, (0, 1))
    sums: dict = {}
    for cell, (n, ks) in pool.items():
        pred, _, t = predict(cell)
        _tally(sums, pred, cell[-1], n, ks, 10 * max(t) >= 7 * sum(t))
    return spark.createDataFrame(
        _tally_rows(sums, cols=slice(0, 4)),
        "pred_class string, n_scored long, n_promoted long, "
        "n_promoted_correct long, promoted_key_sum long",
    )


# ---------------------------------------------------------------------------
# TWO SelfTraining rounds, oracle-checked end-to-end (VERDICT r9 #5)
# ---------------------------------------------------------------------------
#
# The one-round oracle above exercises score->argmax->threshold but not
# the REFIT-ON-PROMOTED step that makes self-training iterative
# (``SelfTraining.scala:121-149`` loops: fit, promote, re-fit on
# labeled + pseudo-labeled, promote again). This entry unrolls two full
# rounds as CTEs the way ``item_pagerank`` unrolls power iterations:
# round 1 is exactly the one-round math; its promoted rows join the
# training pool carrying their PREDICTED class as the label; the NB
# counts re-aggregate over that widened pool; round 2 scores only the
# remaining (non-promoted) unlabeled rows. All arithmetic stays exact
# integer (DECIMAL(38,0)/HUGEINT): counts only grow to n, so the
# t = a·b·b cross-multiplied magnitude bound n^7 < 10^38 from the
# one-round tier still holds through sf0.1.
#
# Threshold 0.4, NOT the reference's 0.7 default: the diffuse
# two-feature NB posterior on this data caps at ~0.44, so 0.7 promotes
# ZERO rows and a second round would re-run round 1 verbatim —
# exercising nothing (measured at both SFs). 0.4 promotes ~11% in
# round 1; the refit then visibly shifts round 2 (pool shrinks, pseudo
# -label feedback sharpens posteriors) — which is exactly the path
# this oracle exists to check. The one-round entry keeps 0.7 for
# parity with ``SelfTraining.scala``'s default.

_ST2_THR_NUM, _ST2_THR_DEN = 4, 10  # promote iff posterior >= 0.4


def _st2_round_sql(train: str, pool: str, tag: str) -> str:
    """CTEs scoring ``pool`` with an NB fitted on ``train`` (which must
    expose f1, f2, label): lik1_{tag}, lik2_{tag}, prior_{tag},
    decided_{tag} (carrying f1/f2 for a later refit)."""
    ab = " , ".join(
        f"n_{c} * (COALESCE(n1_{c}, 0) + 1) * (COALESCE(n2_{c}, 0) + 1) AS a_{c}, "
        f"(n_{c} + {_ST1_V1}) * (n_{c} + {_ST1_V2}) AS b_{c}"
        for c in _NB1_CLS
    )
    n1, n2 = _class_counts("label", "n1_"), _class_counts("label", "n2_")
    return f"""lik1_{tag} AS (SELECT f1, {n1} FROM {train} GROUP BY f1),
lik2_{tag} AS (SELECT f2, {n2} FROM {train} GROUP BY f2),
prior_{tag} AS (SELECT {_class_counts("label", "n_")} FROM {train}),
scored_{tag} AS (
  SELECT u.o_orderkey, u.o_orderstatus, u.f1, u.f2, {ab}
  FROM {pool} u
  LEFT JOIN lik1_{tag} ON u.f1 = lik1_{tag}.f1
  LEFT JOIN lik2_{tag} ON u.f2 = lik2_{tag}.f2
  CROSS JOIN prior_{tag}
),
decided_{tag} AS (
  SELECT o_orderkey, o_orderstatus, f1, f2,
         {_ARGMAX_SQL}
  FROM (
    SELECT o_orderkey, o_orderstatus, f1, f2,
           a_F * b_O * b_P AS t_F, a_O * b_F * b_P AS t_O,
           a_P * b_F * b_O AS t_P
    FROM scored_{tag}
  )
)"""


def _st2_summary_sql(tag: str, rnd: int) -> str:
    return f"""SELECT {rnd}::BIGINT AS rnd, pred_class,
       COUNT(*)::BIGINT AS n_scored,
       SUM(CASE WHEN {_ST2_THR_DEN} * t_max >= {_ST2_THR_NUM} * t_sum THEN 1 ELSE 0 END)::BIGINT
         AS n_promoted,
       SUM(CASE WHEN {_ST2_THR_DEN} * t_max >= {_ST2_THR_NUM} * t_sum
                 AND pred_class = o_orderstatus THEN 1 ELSE 0 END)::BIGINT
         AS n_promoted_correct,
       SUM(CASE WHEN {_ST2_THR_DEN} * t_max >= {_ST2_THR_NUM} * t_sum THEN o_orderkey ELSE 0 END)::BIGINT
         AS promoted_key_sum
FROM decided_{tag}
GROUP BY pred_class"""


def _st2_oracle() -> str:
    return f"""
WITH {_NB1_BASE_SQL},
train_r1 AS (
  SELECT f1, f2, o_orderstatus AS label FROM labeled
),
{_st2_round_sql("train_r1", "unlabeled", "r1")},
promoted_r1 AS (
  SELECT * FROM decided_r1 WHERE {_ST2_THR_DEN} * t_max >= {_ST2_THR_NUM} * t_sum
),
pool_r2 AS (
  SELECT o_orderkey, o_orderstatus, f1, f2
  FROM decided_r1 WHERE NOT ({_ST2_THR_DEN} * t_max >= {_ST2_THR_NUM} * t_sum)
),
train_r2 AS (
  SELECT f1, f2, o_orderstatus AS label FROM labeled
  UNION ALL
  SELECT f1, f2, pred_class AS label FROM promoted_r1
),
{_st2_round_sql("train_r2", "pool_r2", "r2")}
{_st2_summary_sql("r1", 1)}
UNION ALL
{_st2_summary_sql("r2", 2)}
"""


# -- sufficient-statistics grid replay --------------------------------------
#
# All 19 oracled NB entries are pure functions of the bounded
# (features x class) contingency grid: predictions, quantized
# confidences, bins, nonconformity scores and threshold promotion flags
# are constant per feature cell. So the Spark side of every NB tier is
# ONE map-side-combinable fact aggregate (count + o_orderkey sum per
# cell, <= 5·5·12·5·3 cells at any corpus size) and data-scale-free
# exact-integer replay on the driver — the ssl_logreg_irls_grid pattern
# (SCALE.md) applied to the promotion trajectories. Python ints are
# arbitrary-precision, so the replay is exactly the oracles'
# DECIMAL(38,0)/HUGEINT algebra (``//`` is their floor division on
# non-negative operands). Where a tier ends in a double (means, rates,
# kappa, AUC, t) that final expression stays a Spark expression over
# exact DECIMAL(38,0)/BIGINT inputs built with createDataFrame, so the
# rounding semantics are the oracles'. The kBest tiers additionally
# need the per-row o_orderkey boundary inside the rank-k confidence
# cohort (``_kbest_round``'s bounded probe). The replay, written once:
#
#   _nb_rows / _nb_grid   the masked projection and its contingency grid
#   _grid_split           labeled/pool cells (or fold, half, cal/eval)
#   _nb_predictor         the n-feature count fit + memoized argmax
#   _tally / _tally_rows  the per-class promotion summary
#   _kbest_round          the kBest cohort walk + boundary probe

_KBEST_CONF_SCALE = 1_000_000_000_000  # 10^12 confidence quantization
_NB_V = (_ST1_V1, _ST1_V2, 5)  # vocabulary size per position f1, f2, f3
_NB_COLS = {
    "f1": "o_orderpriority",
    "f2": "CAST(month(o_orderdate) AS BIGINT)",
    "mask": _ST1_MASK_SPARK,
}


def _nb_rows(spark: SparkSession, sf_dir: str, **keys: str) -> DataFrame:
    """orders as (o_orderkey, o_orderstatus, f1, f2, mask) plus extra
    key columns given as name=Spark SQL; ``f3`` joins customer."""
    orders = load_table(spark, sf_dir, "orders")
    if "f3" in keys:
        customer = load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_mktsegment"
        )
        orders = orders.join(customer, orders.o_custkey == customer.c_custkey)
    return orders.select(
        "o_orderkey",
        "o_orderstatus",
        *(F.expr(sql).alias(k) for k, sql in {**_NB_COLS, **keys}.items()),
    )


def _nb_grid(rows: DataFrame, lead=("mask",), feats=("f1", "f2")) -> dict:
    """The ONE fact-scale job of every NB entry: {lead key values:
    {(*feats, class): (n, o_orderkey sum)}}."""
    grid: dict = {}
    for r in (
        rows.groupBy(*lead, *feats, "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("o_orderkey").alias("ks"))
        .collect()
    ):
        cell = (*(r[f] for f in feats), r["o_orderstatus"])
        grid.setdefault(tuple(r[k] for k in lead), {})[cell] = (r["n"], r["ks"])
    return grid


def _grid_split(grid: dict, train=lambda m: m == 0, pool=lambda m: m != 0):
    """(train {cell: n}, pool {cell: (n, keysum)}) summed over the lead
    keys ``train`` / ``pool`` accept (default: labeled / unlabeled)."""
    tr: dict = {}
    pl: dict = {}
    for lead, cells in grid.items():
        for cell, (n, ks) in cells.items():
            if train(*lead):
                tr[cell] = tr.get(cell, 0) + n
            if pool(*lead):
                pn, pks = pl.get(cell, (0, 0))
                pl[cell] = (pn + n, pks + ks)
    return tr, pl


def _py_argmax(t: tuple) -> tuple:
    """(pred_class, t_max, t_sum) with the F>=O>=P tie precedence."""
    t_f, t_o, t_p = t
    if t_f >= t_o and t_f >= t_p:
        return "F", t_f, t_f + t_o + t_p
    if t_o >= t_p:
        return "O", t_o, t_f + t_o + t_p
    return "P", t_p, t_f + t_o + t_p


def _nb_predictor(train: dict, pos: tuple, scale: int = _KBEST_CONF_SCALE):
    """Memoized cell -> (pred_class, conf_q, t) of the add-one-smoothed
    exact-count NB fitted on ``train`` {(*features, class): n} over the
    feature positions ``pos``: a_c = n_c·Π(n_i[f_i, c] + 1), b_c =
    Π(n_c + V_i), t_c = a_c·Π_{c'≠c} b_c' (the oracles' cross-multiplied
    scores), F>=O>=P argmax, conf_q = floor(t_max·scale / t_sum)."""
    prior = {c: 0 for c in _NB1_CLS}
    lik: dict = {}
    for cell, n in train.items():
        c = cell[-1]
        prior[c] += n
        for i in pos:
            lik[(i, cell[i], c)] = lik.get((i, cell[i], c), 0) + n
    b = {c: math.prod(prior[c] + _NB_V[i] for i in pos) for c in _NB1_CLS}
    memo: dict = {}

    def predict(cell) -> tuple:
        key = tuple(cell[i] for i in pos)
        if key not in memo:
            a = {
                c: prior[c]
                * math.prod(lik.get((i, cell[i], c), 0) + 1 for i in pos)
                for c in _NB1_CLS
            }
            t = (
                a["F"] * b["O"] * b["P"],
                a["O"] * b["F"] * b["P"],
                a["P"] * b["F"] * b["O"],
            )
            pred, t_max, t_sum = _py_argmax(t)
            memo[key] = (pred, t_max * scale // t_sum, t)
        return memo[key]

    return predict


def _tally(
    sums: dict, pred: str, c: str, n: int, ks: int, promoted=True, cq=None
) -> None:
    """Add ``n`` pool rows of true class ``c`` (o_orderkey sum ``ks``)
    scored ``pred`` to sums[pred] = [n_scored, n_promoted,
    n_promoted_correct, promoted_key_sum, min_conf_q] — the per-class
    summary the promotion oracles GROUP BY pred_class."""
    s = sums.setdefault(pred, [0, 0, 0, 0, None])
    s[0] += n
    if promoted:
        s[1] += n
        s[2] += n if pred == c else 0
        s[3] += ks
        if cq is not None:
            s[4] = cq if s[4] is None else min(s[4], cq)


def _tally_rows(sums: dict, *lead, cols: slice) -> list:
    """Rows (*lead, pred_class, *summary[cols]) in class order; a class
    with no promotions reports the oracles' min_conf_q of -1."""
    rows = []
    for p in sorted(sums):
        *counts, min_q = sums[p]
        full = (*counts, -1 if min_q is None else min_q)
        rows.append((*lead, p, *full[cols]))
    return rows


def _kbest_round(rows: DataFrame, pool: dict, views: dict, k: int):
    """One kBest round: per view tag the promotion flag Column that is
    true exactly for the pool rows ranked rn <= k under the oracles'
    (conf_q DESC, o_orderkey) order, plus the flag-split pool grid
    [(cell, {tag: flag}, n, keysum)]. ``views`` maps tag -> (feature
    column, cell position, predictor); ``rows`` are the pool's rows,
    ``pool`` its cells.

    conf_q is constant per feature value, so the k-th ranked row sits
    in one tie-confidence cohort c_star and promotion inside it is an
    o_orderkey prefix: the levels are walked on the driver, then ONE
    action unions a bounded TakeOrderedAndProject probe per view for
    the prefix's last key (limit k_rem, one scalar out), and ONE
    aggregate splits the pool grid by the flags. A pool of fewer than
    k rows (only an empty one, k being max(1, n/10)) is promoted
    whole."""
    flags, ties, legs = {}, {}, []
    for tag, (col, pos, predict) in views.items():
        conf = {cell[pos]: predict(cell)[1] for cell in pool}
        lvl: dict = {}
        for cell, (n, _ks) in pool.items():
            lvl[conf[cell[pos]]] = lvl.get(conf[cell[pos]], 0) + n
        above_n, c_star = 0, None
        for cq in sorted(lvl, reverse=True):
            if above_n + lvl[cq] >= k:
                c_star = cq
                break
            above_n += lvl[cq]
        above = sorted(
            fv for fv, cq in conf.items() if c_star is None or cq > c_star
        )
        flags[tag] = F.col(col).isin(above) if above else F.lit(False)
        ties[tag] = sorted(fv for fv, cq in conf.items() if cq == c_star)
        if ties[tag]:
            legs.append(
                rows.where(F.col(col).isin(ties[tag]))
                .select("o_orderkey")
                .orderBy("o_orderkey")
                .limit(k - above_n)
                .agg(F.max("o_orderkey").alias("m"))
                .select(F.lit(tag).alias("tag"), "m")
            )
    if legs:
        for r in functools.reduce(DataFrame.unionByName, legs).collect():
            col = views[r["tag"]][0]
            flags[r["tag"]] = flags[r["tag"]] | (
                F.col(col).isin(ties[r["tag"]])
                & (F.col("o_orderkey") <= F.lit(r["m"]))
            )
    cell = ("f1", "f2", "o_orderstatus")
    grid = (
        rows.groupBy(*cell, *(f.alias(t) for t, f in flags.items()))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("o_orderkey").alias("ks"))
        .collect()
    )
    split = [
        (tuple(r[c] for c in cell), {t: r[t] for t in views}, r["n"], r["ks"])
        for r in grid
    ]
    return flags, split


_CT2_SUMMARY_SCHEMA = (
    "rnd long, view_name string, pred_class string, n_scored long, "
    "n_promoted long, n_promoted_correct long, promoted_key_sum long, "
    "min_conf_q long"
)


@register("ssl_selftrain_two_round_nb", _st2_oracle())
def ssl_selftrain_two_round_nb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two unrolled SelfTraining threshold rounds with an NB refit on
    the round-1 promotions (pseudo-labels): (rnd, pred_class, n_scored,
    n_promoted, n_promoted_correct, promoted_key_sum) — exercises the
    refit-on-promoted step no single-round oracle reaches.

    The threshold flag (10·t_max >= 4·t_sum) and the prediction are
    constant per (f1, f2) cell, so both rounds replay from the
    contingency grid (see the grid-replay header)."""
    train, pool = _grid_split(_nb_grid(_nb_rows(spark, sf_dir)))
    out_rows = []
    for rnd in (1, 2):
        predict = _nb_predictor(train, (0, 1))
        sums: dict = {}
        next_pool: dict = {}
        for (f1, f2, c), (n, ks) in pool.items():
            pred, _, t = predict((f1, f2, c))
            promoted = _ST2_THR_DEN * max(t) >= _ST2_THR_NUM * sum(t)
            _tally(sums, pred, c, n, ks, promoted)
            if promoted:
                train[(f1, f2, pred)] = train.get((f1, f2, pred), 0) + n
            else:
                next_pool[(f1, f2, c)] = (n, ks)
        out_rows += _tally_rows(sums, rnd, cols=slice(0, 4))
        pool = next_pool
    return spark.createDataFrame(
        out_rows,
        "rnd long, pred_class string, n_scored long, n_promoted long, "
        "n_promoted_correct long, promoted_key_sum long",
    )


# ---------------------------------------------------------------------------
# The other SSC promotion criteria, oracle-checked the same way
# ---------------------------------------------------------------------------
#
# ssl_selftrain_one_round_nb drove the THRESHOLD criterion through
# DuckDB; these three do the same for the rest of the reference's
# promotion surface (one exact-arithmetic round each):
#   - kBest      (``SelfTraining.scala:173`` — fixed promotion budget,
#                 confidence-ranked, deterministic tie-break)
#   - CoTraining (``CoTraining.scala:122-253`` — two views promote
#                 their confident rows to each other)
#   - TriTraining (Zhou & Li 2005 — promote for view i when the OTHER
#                 TWO views agree)
# All use SINGLE-feature exact-count NB scorers so every magnitude is
# bounded by n^4 (< 10^38 through sf1) and the kBest confidence
# quantization t_max·10^12/t_sum stays inside DECIMAL(38,0)/HUGEINT.


def _nb1_lik_sql(feat: str, tag: str) -> str:
    cells = _class_counts("o_orderstatus", "nf_", f"_{tag}")
    return f"lik_{tag} AS (SELECT {feat}, {cells} FROM labeled GROUP BY {feat})"


def _nb1_decided_sql(feat: str, V: int, tag: str) -> str:
    ab = ", ".join(
        f"p.n_{c} * (COALESCE(nf_{c}_{tag}, 0) + 1) AS a_{c}, "
        f"(p.n_{c} + {V}) AS b_{c}"
        for c in _NB1_CLS
    )
    return f"""scored_{tag} AS (
  SELECT u.o_orderkey, u.o_orderstatus, {ab}
  FROM unlabeled u
  LEFT JOIN lik_{tag} l ON u.{feat} = l.{feat}
  CROSS JOIN prior p
),
voted_{tag} AS (
  SELECT o_orderkey, o_orderstatus,
         a_F * b_O * b_P AS t_F, a_O * b_F * b_P AS t_O,
         a_P * b_F * b_O AS t_P
  FROM scored_{tag}
),
decided_{tag} AS (
  SELECT o_orderkey, o_orderstatus,
         {_ARGMAX_SQL}
  FROM voted_{tag}
)"""


def _nb1_base(spark: SparkSession, sf_dir: str):
    from tfm_semisup_spark.operators.lineage import truncate

    # the masked projection (with its md5 decode) is re-read by the
    # stump entries (split grid, leaf passes) and by the kBest
    # co-training rounds (contingency grid, boundary probes, flag-split
    # aggregates); checkpoint once so the scan+hash runs once (the
    # assortativity edge-list lesson)
    base = truncate(_nb_rows(spark, sf_dir), eager=True)
    return base.where(F.col("mask") == 0), base.where(F.col("mask") != 0)


# -- kBest ------------------------------------------------------------------

_KBEST_FRAC_DIV = 10  # promote top n_pool/10 this round
# conf_q cut: 0.37 quantized at 10^12 — shared by the one-round and
# two-round co-training THRESHOLD entries (measurement rationale at
# the two-round oracle builder below).
_CT2T_THR = 370_000_000_000


def _kbest_oracle() -> str:
    return f"""
WITH {_NB1_BASE_SQL},
{_NB1_PRIOR_SQL},
{_nb1_lik_sql("f1", "v1")},
{_nb1_decided_sql("f1", 5, "v1")},
conf AS (
  SELECT o_orderkey, o_orderstatus, pred_class,
         (t_max * {_KBEST_CONF_SCALE}) // t_sum AS conf_q
  FROM decided_v1
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY conf_q DESC, o_orderkey) AS rn,
         COUNT(*) OVER () AS n_pool
  FROM conf
)
SELECT pred_class,
       COUNT(*)::BIGINT AS n_promoted,
       SUM(CASE WHEN pred_class = o_orderstatus THEN 1 ELSE 0 END)::BIGINT
         AS n_promoted_correct,
       SUM(o_orderkey)::BIGINT AS promoted_key_sum,
       MIN(conf_q)::BIGINT AS min_conf_q
FROM ranked
WHERE rn <= GREATEST(1, n_pool // {_KBEST_FRAC_DIV})
GROUP BY pred_class
"""


@register("ssl_selftrain_one_round_kbest", _kbest_oracle())
def ssl_selftrain_one_round_kbest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One kBest SelfTraining promotion round (top n/10 by exact
    quantized confidence, okey tie-break): (pred_class, n_promoted,
    n_promoted_correct, promoted_key_sum, min_conf_q).

    Confidence floor(t_max·10^12/t_sum) is constant per f1 value, so
    the round is the contingency grid plus ``_kbest_round``'s bounded
    boundary probe and flag-split aggregate; the oracle ranks the same
    total order with ROW_NUMBER."""
    rows = _nb_rows(spark, sf_dir)
    lab, pool = _grid_split(_nb_grid(rows))
    predict = _nb_predictor(lab, (0,))
    k = max(1, sum(n for n, _ in pool.values()) // _KBEST_FRAC_DIV)
    _, split = _kbest_round(
        rows.where(F.col("mask") != 0), pool, {"v1": ("f1", 0, predict)}, k
    )
    sums: dict = {}
    for cell, fl, n, ks in split:
        if fl["v1"]:
            pred, cq, _ = predict(cell)
            _tally(sums, pred, cell[-1], n, ks, cq=cq)
    return spark.createDataFrame(
        _tally_rows(sums, cols=slice(1, 5)),
        "pred_class string, n_promoted long, n_promoted_correct long, "
        "promoted_key_sum long, min_conf_q long",
    )


# -- Co-training one round --------------------------------------------------

def _cotrain_oracle() -> str:
    # Promotion predicate: quantized-confidence cut at the measured
    # _CT2T_THR (0.37·10^12) the two-round siblings use. The r13
    # "above-uniform-prior" cut (3·t_max > t_sum) turned out to filter
    # NOTHING — it promoted the whole pool at every gate SF
    # (1185/1185 at sf0.001, 11953/11953 at sf0.01; ADVICE r13) — so
    # only the agreement join did selective work. Measured at 0.37
    # (r14): priority 959/1185 and month 983/1185 at sf0.001,
    # priority 4771/11953 and month 3982/11953 at sf0.01, agreement
    # 253 / 778 — genuinely proper, non-empty subsets at both gate
    # SFs. At sf0.1 the NB posteriors flatten and 0.37 promotes zero
    # (same documented trade as ssl_cotrain_two_round_threshold; no
    # constant is proper at all three SFs: 0.35, the largest cut
    # nonzero at sf0.1, promotes the whole pool at sf0.001).
    # tests/test_r14_shapes.py pins 0 < n_promoted < pool per view.
    prom = (
        "SELECT o_orderkey, o_orderstatus, pred_class FROM decided_{t} "
        f"WHERE (t_max * {_KBEST_CONF_SCALE}) // t_sum > {_CT2T_THR}"
    )
    grp = (
        "SELECT '{v}' AS view_name, pred_class, "
        "COUNT(*)::BIGINT AS n_promoted, "
        "SUM(CASE WHEN pred_class = o_orderstatus THEN 1 ELSE 0 END)::BIGINT"
        " AS n_promoted_correct, "
        "SUM(o_orderkey)::BIGINT AS promoted_key_sum "
        "FROM {src} GROUP BY pred_class"
    )
    return f"""
WITH {_NB1_BASE_SQL},
{_NB1_PRIOR_SQL},
{_nb1_lik_sql("f1", "v1")},
{_nb1_decided_sql("f1", 5, "v1")},
{_nb1_lik_sql("f2", "v2")},
{_nb1_decided_sql("f2", 12, "v2")},
prom_v1 AS ({prom.format(t="v1")}),
prom_v2 AS ({prom.format(t="v2")}),
agree AS (
  SELECT a.o_orderkey, a.o_orderstatus, a.pred_class
  FROM prom_v1 a JOIN prom_v2 b
    ON a.o_orderkey = b.o_orderkey AND a.pred_class = b.pred_class
)
{grp.format(v="priority", src="prom_v1")}
UNION ALL
{grp.format(v="month", src="prom_v2")}
UNION ALL
{grp.format(v="agreement", src="agree")}
"""


@register("ssl_cotrain_one_round_nb", _cotrain_oracle())
def ssl_cotrain_one_round_nb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One co-training exchange round (``CoTraining.scala:122-253``
    shape): two single-feature NB views each promote rows whose exact
    quantized confidence floor(t_max·10^12/t_sum) clears the measured
    _CT2T_THR cut (0.37 — a proper non-empty subset per view at both
    gate SFs, see the oracle comment; the reference's fixed 0.7 cut is
    vacuous on this near-flat 3-class data); the 'agreement' rows are
    what each view would hand the other with matching labels.
    (view_name, pred_class, n_promoted, n_promoted_correct,
    promoted_key_sum).

    Each view's prediction and conf_q > _CT2T_THR flag are constant
    per feature value and the agreement membership is a function of the
    (f1, f2) cell, so the exchange round replays from the contingency
    grid (see the grid-replay header)."""
    lab, pool = _grid_split(_nb_grid(_nb_rows(spark, sf_dir)))
    p1, p2 = _nb_predictor(lab, (0,)), _nb_predictor(lab, (1,))
    sums: dict = {"priority": {}, "month": {}, "agreement": {}}
    for cell, (n, ks) in pool.items():
        (a, qa, _), (b, qb, _) = p1(cell), p2(cell)
        c = cell[-1]
        if qa > _CT2T_THR:
            _tally(sums["priority"], a, c, n, ks)
        if qb > _CT2T_THR:
            _tally(sums["month"], b, c, n, ks)
        if qa > _CT2T_THR and qb > _CT2T_THR and a == b:
            _tally(sums["agreement"], a, c, n, ks)
    out_rows = []
    for view, s in sums.items():
        out_rows += _tally_rows(s, view, cols=slice(1, 4))
    return spark.createDataFrame(
        out_rows,
        "view_name string, pred_class string, n_promoted long, "
        "n_promoted_correct long, promoted_key_sum long",
    )


# -- Tri-training one round -------------------------------------------------

_NB1_BASE3_SQL = f"""base AS (
  SELECT o_orderkey, o_orderstatus,
         o_orderpriority AS f1,
         EXTRACT(month FROM o_orderdate)::BIGINT AS f2,
         c_mktsegment AS f3,
         {_ST1_MASK_SQL} AS mask
  FROM orders JOIN customer ON o_custkey = c_custkey
),
labeled AS (SELECT * FROM base WHERE mask = 0),
unlabeled AS (SELECT * FROM base WHERE mask <> 0)"""

#: tri-training views: target view -> (agreeing views, pseudo-label source)
_TT_VIEWS = {"priority": (1, 2, 1), "month": (0, 2, 0), "segment": (0, 1, 0)}


def _tt_grid(spark: SparkSession, sf_dir: str):
    """(labeled, pool) cells over (f1, f2, f3, class) — orders ⋈ customer."""
    rows = _nb_rows(spark, sf_dir, f3="c_mktsegment")
    return _grid_split(_nb_grid(rows, feats=("f1", "f2", "f3")))


def _tt_round(pool: dict, preds: list, trains=None) -> dict:
    """One tri-training pass: per target view, tally the pool cells the
    OTHER two views agree on, pseudo-labelled with that class; with
    ``trains`` (one training dict per view) also add them there."""
    sums: dict = {view: {} for view in _TT_VIEWS}
    for cell, (n, ks) in pool.items():
        p = [predict(cell)[0] for predict in preds]
        for i, (view, (ja, jb, lbl)) in enumerate(_TT_VIEWS.items()):
            if p[ja] == p[jb]:
                _tally(sums[view], p[lbl], cell[-1], n, ks)
                if trains is not None:
                    key = (*cell[:-1], p[lbl])
                    trains[i][key] = trains[i].get(key, 0) + n
    return sums


def _tritrain_oracle() -> str:
    grp = (
        "SELECT '{v}' AS target_view, {p} AS pred_class, "
        "COUNT(*)::BIGINT AS n_promoted, "
        "SUM(CASE WHEN {p} = o_orderstatus THEN 1 ELSE 0 END)::BIGINT"
        " AS n_promoted_correct, "
        "SUM(o_orderkey)::BIGINT AS promoted_key_sum "
        "FROM joined WHERE {j} = {k} GROUP BY {p}"
    )
    return f"""
WITH {_NB1_BASE3_SQL},
{_NB1_PRIOR_SQL},
{_nb1_lik_sql("f1", "v1")},
{_nb1_decided_sql("f1", 5, "v1")},
{_nb1_lik_sql("f2", "v2")},
{_nb1_decided_sql("f2", 12, "v2")},
{_nb1_lik_sql("f3", "v3")},
{_nb1_decided_sql("f3", 5, "v3")},
joined AS (
  SELECT d1.o_orderkey, d1.o_orderstatus,
         d1.pred_class AS p1, d2.pred_class AS p2, d3.pred_class AS p3
  FROM decided_v1 d1
  JOIN decided_v2 d2 ON d1.o_orderkey = d2.o_orderkey
  JOIN decided_v3 d3 ON d1.o_orderkey = d3.o_orderkey
)
{grp.format(v="priority", p="p2", j="p2", k="p3")}
UNION ALL
{grp.format(v="month", p="p1", j="p1", k="p3")}
UNION ALL
{grp.format(v="segment", p="p1", j="p1", k="p2")}
"""


@register("ssl_tritrain_one_round_nb", _tritrain_oracle())
def ssl_tritrain_one_round_nb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One tri-training promotion round (Zhou & Li 2005, the shape
    behind ``operators/tri_training.py``): three single-feature NB
    views; a row is promoted FOR view i with the class the OTHER TWO
    agree on. (target_view, pred_class, n_promoted,
    n_promoted_correct, promoted_key_sum).

    Every view's prediction is constant per feature value, so the
    agreement predicates are functions of the (f1, f2, f3) cell and the
    round replays from the orders ⋈ customer contingency grid (see the
    grid-replay header)."""
    lab, pool = _tt_grid(spark, sf_dir)
    sums = _tt_round(pool, [_nb_predictor(lab, (i,)) for i in range(3)])
    out_rows = []
    for view, s in sums.items():
        out_rows += _tally_rows(s, view, cols=slice(1, 4))
    return spark.createDataFrame(
        out_rows,
        "target_view string, pred_class string, n_promoted long, "
        "n_promoted_correct long, promoted_key_sum long",
    )


# -- Calibration of the NB scorer -------------------------------------------

def _calibration_oracle() -> str:
    return f"""
WITH {_NB1_BASE_SQL},
{_NB1_PRIOR_SQL},
{_nb1_lik_sql("f1", "v1")},
{_nb1_decided_sql("f1", 5, "v1")},
conf AS (
  SELECT o_orderkey, o_orderstatus, pred_class,
         (t_max * {_KBEST_CONF_SCALE}) // t_sum AS conf_q
  FROM decided_v1
),
binned AS (
  SELECT LEAST(9, (conf_q * 10) // {_KBEST_CONF_SCALE})::BIGINT AS bin,
         conf_q,
         CASE WHEN pred_class = o_orderstatus THEN 1 ELSE 0 END AS hit
  FROM conf
)
SELECT bin,
       COUNT(*)::BIGINT AS n,
       SUM(hit)::BIGINT AS n_correct,
       ROUND(CAST(SUM(conf_q) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             / CAST({_KBEST_CONF_SCALE} AS DOUBLE), 6) AS mean_conf,
       ROUND(CAST(SUM(hit) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
         AS accuracy
FROM binned
GROUP BY bin
"""


@register("ssl_nb_calibration_bins", _calibration_oracle())
def ssl_nb_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram of the exact-count NB scorer: decile bins
    of quantized posterior confidence vs realized accuracy on the
    unlabeled pool — the calibration readout a promotion threshold
    presumes: (bin, n, n_correct, mean_conf, accuracy). Confidence is
    the same exact integer conf_q = floor(t_max·10^12/t_sum) the
    kBest tier ranks by, so bin membership has no float boundary.

    Bins and their exact counts/conf_q sums replay from the contingency
    grid (``_nb_bins``); mean_conf and accuracy are the Spark double
    divisions over those DECIMAL(38,0)/BIGINT sums."""
    S = _KBEST_CONF_SCALE
    grid = _nb_bins(spark, sf_dir, S, 10)
    bins = spark.createDataFrame(
        [(b, n, h, Decimal(sq)) for b, (n, h, sq, _) in grid.items()],
        "bin long, n long, n_correct long, s_conf decimal(38,0)",
    )
    return bins.select(
        "bin",
        "n",
        "n_correct",
        F.round(
            F.col("s_conf").cast("double")
            / F.col("n").cast("double")
            / F.lit(float(S)),
            6,
        ).alias("mean_conf"),
        F.round(
            F.col("n_correct").cast("double") / F.col("n").cast("double"), 6
        ).alias("accuracy"),
    )


def _nb_bins(spark: SparkSession, sf_dir: str, scale: int, n_bins: int) -> dict:
    """Per-bin exact sums of the f1-view NB's quantized confidence
    q = floor(t_max·scale/t_sum) over the unlabeled pool, bin =
    min(n_bins - 1, floor(q·n_bins/scale)): {bin: [n, n_correct, Σq,
    Σ(q - hit·scale)²]} — the calibration, isotonic and Brier grids."""
    lab, pool = _grid_split(_nb_grid(_nb_rows(spark, sf_dir)))
    predict = _nb_predictor(lab, (0,), scale)
    bins: dict = {}
    for cell, (n, _ks) in pool.items():
        pred, q, _ = predict(cell)
        hit = int(pred == cell[-1])
        b = bins.setdefault(min(n_bins - 1, q * n_bins // scale), [0, 0, 0, 0])
        b[0] += n
        b[1] += n * hit
        b[2] += n * q
        b[3] += n * (q - hit * scale) ** 2
    return bins


# ---------------------------------------------------------------------------
# Isotonic recalibration of the NB scorer (PAVA on the binned grid)
# ---------------------------------------------------------------------------
#
# ssl_nb_calibration_bins reads the reliability diagram; THIS entry
# fits the monotone recalibration map over it — isotonic regression
# (the PAV algorithm of Ayer et al. 1955; the calibration method of
# Zadrozny & Elkan 2002, the standard alternative to Platt scaling for
# tree/NB scorers like the reference's base classifiers,
# ``BaseClassifiers.scala:46-193``). PAVA is sequential, but the L2
# isotonic fit has a closed minimax form
#
#   fit_i = max_{j<=i} min_{k>=i} weightedMean(rate, j..k)
#
# which IS relational algebra on a BOUNDED bin grid (B=20 confidence
# vigintiles): one fact-scale aggregate produces (bin, n_k, h_k);
# every window/join after that runs on <= B(B+1)/2 = 210 segment rows
# (two windows + one non-equi join on a broadcast-sized grid — the
# equidepth/midhinge discipline, so the global ORDER BY window is
# bounded and scale-free). Segment means are CAST(int)/CAST(int) —
# one correctly-rounded double division from exact integer prefix-sum
# differences, bit-equal cross-engine; MIN/MAX are order-free.

_ISO_BINS = 20


def _iso_oracle() -> str:
    S = _KBEST_CONF_SCALE
    return f"""
WITH {_NB1_BASE_SQL},
{_NB1_PRIOR_SQL},
{_nb1_lik_sql("f1", "v1")},
{_nb1_decided_sql("f1", 5, "v1")},
conf AS (
  SELECT LEAST({_ISO_BINS - 1},
               (((t_max * {S}) // t_sum) * {_ISO_BINS}) // {S})::BIGINT AS bin,
         CASE WHEN pred_class = o_orderstatus THEN 1 ELSE 0 END AS hit
  FROM decided_v1
),
bins AS (
  SELECT bin, COUNT(*)::HUGEINT AS n_k, SUM(hit)::HUGEINT AS h_k
  FROM conf GROUP BY bin
),
pre AS (
  SELECT bin, n_k, h_k,
         SUM(n_k) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS cn,
         SUM(h_k) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS ch
  FROM bins
),
seg AS (
  SELECT l.bin AS j, r.bin AS k,
         CAST(r.ch - (l.ch - l.h_k) AS DOUBLE)
           / CAST(r.cn - (l.cn - l.n_k) AS DOUBLE) AS m
  FROM pre l JOIN pre r ON l.bin <= r.bin
),
sm AS (
  SELECT j, k,
         MIN(m) OVER (PARTITION BY j ORDER BY k
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS sm
  FROM seg
),
iso AS (SELECT k AS bin, MAX(sm) AS fit FROM sm GROUP BY k)
SELECT b.bin,
       b.n_k::BIGINT AS n,
       b.h_k::BIGINT AS n_correct,
       ROUND(CAST(b.h_k AS DOUBLE) / CAST(b.n_k AS DOUBLE), 6) AS rate_raw,
       ROUND(i.fit, 6) AS rate_iso
FROM bins b JOIN iso i ON b.bin = i.bin
"""


@register("ssl_isotonic_calibration", _iso_oracle())
def ssl_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAVA) recalibration of the exact-count NB scorer via
    the closed minimax form on B=20 confidence vigintiles:
    (bin, n, n_correct, rate_raw, rate_iso); rate_iso is the L2
    monotone fit of accuracy-vs-confidence. The counted bin grid
    replays from the contingency grid (``_nb_bins``)."""
    grid = _nb_bins(spark, sf_dir, _KBEST_CONF_SCALE, _ISO_BINS)
    bins = spark.createDataFrame(
        [(b, n, h) for b, (n, h, _, _) in grid.items()],
        "bin long, n_k long, h_k long",
    )
    # bounded-grid minimax fit: <= B rows in, broadcast-sized windows
    # throughout (operators/calibration.py — the reusable API form)
    from tfm_semisup_spark.operators.calibration import isotonic_fit_binned

    iso = isotonic_fit_binned(bins)
    return bins.join(F.broadcast(iso), "bin").select(
        "bin",
        F.col("n_k").alias("n"),
        F.col("h_k").alias("n_correct"),
        F.round(
            F.col("h_k").cast("double") / F.col("n_k").cast("double"), 6
        ).alias("rate_raw"),
        F.round(F.col("fit"), 6).alias("rate_iso"),
    )


# ---------------------------------------------------------------------------
# Murphy decomposition of the Brier score
# ---------------------------------------------------------------------------
#
# The scalar companion of the reliability diagram: Brier score of the
# (quantized) NB confidence forecast for the event "prediction
# correct", decomposed per Murphy (1973) into reliability − resolution
# + uncertainty over B=20 forecast bins. Arithmetic follows the
# monthly_seasonal_index closure of the summation-order class: the
# forecast is quantized to an exact integer grid f = floor(t_max·10^6
# / t_sum); every sum (per-bin and global) is an exact integer; each
# per-bin fraction is quantized to floor(num·10^9/den) with an EXACT
# integer floor-division (Python ints in the grid replay, ``//``
# HUGEINT in DuckDB) and summed as integers; ONE double division per
# output column. Bin count is fixed (20), so every magnitude is bounded:
# (s_fk − 10^6·s_ok)²·10^9 <= (n·10^6)²·10^9 < 10^34 at sf1 —
# inside DECIMAL(38,0)/HUGEINT.

_BRIER_SCALE = 1_000_000  # forecast quantizer (10^6ths)
_BRIER_Q = 1_000_000_000  # per-bin term quantizer (10^-9 grid)


def _brier_oracle() -> str:
    S, Q, B = _BRIER_SCALE, _BRIER_Q, _ISO_BINS
    return f"""
WITH {_NB1_BASE_SQL},
{_NB1_PRIOR_SQL},
{_nb1_lik_sql("f1", "v1")},
{_nb1_decided_sql("f1", 5, "v1")},
conf AS (
  SELECT (t_max * {S}) // t_sum AS f,
         CASE WHEN pred_class = o_orderstatus THEN 1 ELSE 0 END AS hit
  FROM decided_v1
),
per_bin AS (
  SELECT LEAST({B - 1}, (f * {B}) // {S}) AS bin,
         COUNT(*)::HUGEINT AS n_k,
         SUM(hit)::HUGEINT AS s_ok,
         SUM(f)::HUGEINT AS s_fk,
         SUM((f - hit * {S}) * (f - hit * {S}))::HUGEINT AS sq_k
  FROM conf GROUP BY 1
),
tot AS (
  SELECT SUM(n_k) AS n, SUM(s_ok) AS s_o, SUM(sq_k) AS brier_num
  FROM per_bin
),
terms AS (
  SELECT SUM(((s_fk - {S} * s_ok) * (s_fk - {S} * s_ok) * {Q})
             // (n_k * {S} * {S})) AS rel_q,
         SUM(((t.n * s_ok - n_k * t.s_o) * (t.n * s_ok - n_k * t.s_o) * {Q})
             // (n_k * t.n * t.n)) AS res_q
  FROM per_bin CROSS JOIN tot t
)
SELECT t.n::BIGINT AS n,
       ROUND(CAST(t.s_o AS DOUBLE) / CAST(t.n AS DOUBLE), 6) AS base_rate,
       ROUND(CAST(t.brier_num AS DOUBLE)
             / CAST(t.n * {S} * {S} AS DOUBLE), 6) AS brier,
       ROUND(CAST(x.rel_q AS DOUBLE) / CAST(t.n * {Q} AS DOUBLE), 6)
         AS reliability,
       ROUND(CAST(x.res_q AS DOUBLE) / CAST(t.n * {Q} AS DOUBLE), 6)
         AS resolution,
       ROUND(CAST(t.s_o * (t.n - t.s_o) AS DOUBLE)
             / CAST(t.n * t.n AS DOUBLE), 6) AS uncertainty
FROM tot t CROSS JOIN terms x
"""


@register("ssl_brier_decomposition", _brier_oracle())
def ssl_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the quantized NB confidence forecast's
    Brier score over B=20 bins: one row (n, base_rate, brier,
    reliability, resolution, uncertainty). The per-bin sums and the
    quantized rel/res terms replay from the contingency grid
    (``_nb_bins``); the six outputs are the Spark double divisions over
    those exact DECIMAL(38,0) values (all NULL on an empty pool, like
    the oracle's SUMs)."""
    S, Q = _BRIER_SCALE, _BRIER_Q
    bins = _nb_bins(spark, sf_dir, S, _ISO_BINS).values()
    vals = [None] * 5
    if bins:
        n = sum(b[0] for b in bins)
        s_o = sum(b[1] for b in bins)
        rel_q = sum(
            (s_fk - S * s_ok) ** 2 * Q // (n_k * S * S)
            for n_k, s_ok, s_fk, _ in bins
        )
        res_q = sum(
            (n * s_ok - n_k * s_o) ** 2 * Q // (n_k * n * n)
            for n_k, s_ok, _, _ in bins
        )
        brier_num = sum(b[3] for b in bins)
        vals = [Decimal(v) for v in (n, s_o, brier_num, rel_q, res_q)]
    dec = "decimal(38,0)"
    return spark.createDataFrame(
        [tuple(vals)],
        f"n {dec}, s_o {dec}, brier_num {dec}, rel_q {dec}, res_q {dec}",
    ).select(
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("s_o").cast("double") / F.col("n").cast("double"), 6)
        .alias("base_rate"),
        F.round(
            F.col("brier_num").cast("double")
            / (F.col("n") * S * S).cast("double"),
            6,
        ).alias("brier"),
        F.round(
            F.col("rel_q").cast("double") / (F.col("n") * Q).cast("double"),
            6,
        ).alias("reliability"),
        F.round(
            F.col("res_q").cast("double") / (F.col("n") * Q).cast("double"),
            6,
        ).alias("resolution"),
        F.round(
            (F.col("s_o") * (F.col("n") - F.col("s_o"))).cast("double")
            / (F.col("n") * F.col("n")).cast("double"),
            6,
        ).alias("uncertainty"),
    )


# ---------------------------------------------------------------------------
# Distributed logistic regression via IRLS on a sufficient-stats grid
# ---------------------------------------------------------------------------
#
# The LR member of the reference's base-classifier family
# (``BaseClassifiers.scala:46-193`` wraps MLlib LogisticRegression)
# re-expressed Spark-first: when the features live on a BOUNDED grid
# (here quantity x discount, <= 50*11 = 550 cells), the full Newton /
# IRLS fit needs only the per-cell (n, pos) contingency table — ONE
# fact-scale groupBy; every iteration is then O(cells) on the driver,
# zero further passes over the data. This is the classical
# sufficient-statistics GLM decomposition: at 100 TB the shuffle is
# one map-side-combinable aggregate to 550 rows, and the iteration
# cost is data-scale-free.
#
# Rows-only by design, deterministic by construction: the grid counts
# are exact integers (partitioning-independent), the cells are sorted
# before the driver-side Newton loop, and numpy evaluates a FIXED
# operation order — no distributed double summation anywhere.

_IRLS_STEPS = 4


def _logreg_grid_fit(cells):
    """Newton/IRLS on sorted (q, d, n, pos) cells -> per-iteration
    (beta, nll). Pure numpy, fixed order; ridge 1e-6 for a safely
    invertible 3x3 Hessian."""
    import numpy as np

    cells = sorted(cells)
    X = np.array([[1.0, q, d] for q, d, _, _ in cells])
    n = np.array([float(c[2]) for c in cells])
    pos = np.array([float(c[3]) for c in cells])
    beta = np.zeros(3)
    out = []
    for _ in range(_IRLS_STEPS):
        eta = X @ beta
        p = 1.0 / (1.0 + np.exp(-eta))
        g = X.T @ (pos - n * p)
        w = n * p * (1.0 - p)
        H = (X * w[:, None]).T @ X + 1e-6 * np.eye(3)
        beta = beta + np.linalg.solve(H, g)
        eta = X @ beta
        # stable binomial NLL: sum n*log1p(exp(eta)) - pos*eta
        nll = float(
            np.sum(n * np.logaddexp(0.0, eta) - pos * eta)
        )
        out.append((beta.copy(), nll))
    return out


@register("ssl_logreg_irls_grid")
def ssl_logreg_irls_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic regression P(returnflag='R') ~ quantity + discount via
    IRLS over the bounded sufficient-statistics grid: one row per
    Newton step (step, beta0, beta1, beta2, nll)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_quantity"), 0).cast("int").alias("q"),
        F.round(F.col("l_discount") * 100, 0).cast("int").alias("d"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    grid = (
        li.groupBy("q", "d")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("y").cast("bigint").alias("pos"),
        )
        .collect()  # bounded: <= 550 value-grid cells, data-scale-free
    )
    cells = [(r["q"], r["d"], r["n"], r["pos"]) for r in grid]
    rows = [
        (
            step + 1,
            float(round(beta[0], 6)),
            float(round(beta[1], 6)),
            float(round(beta[2], 6)),
            float(round(nll, 3)),
        )
        for step, (beta, nll) in enumerate(_logreg_grid_fit(cells))
    ]
    return spark.createDataFrame(
        rows,
        "step int, beta0 double, beta1 double, beta2 double, nll double",
    )


# ---------------------------------------------------------------------------
# Split-conformal prediction sets for the NB scorer
# ---------------------------------------------------------------------------
#
# The distribution-free uncertainty layer on top of the promotion
# machinery (Vovk's conformal prediction, split/inductive form per
# Papadopoulos 2002 / Lei et al. 2018): calibrate a nonconformity
# quantile on a held-out hash split, then emit PREDICTION SETS
# {c : alpha_c <= q_hat} on the eval split — marginal coverage
# >= 1 - alpha guaranteed regardless of how miscalibrated the NB
# posteriors are (the model-free counterpart of the isotonic/Brier
# recalibration entries).
#
# Everything is exact integer arithmetic: nonconformity alpha_i =
# 10^6 - floor(t_true·10^6 / t_sum) (the kBest confidence quantization
# at Brier scale), the conformal rank k = ceil(0.9·(n_cal+1)) via
# integer floor-division, and q_hat = the k-th smallest alpha read off
# the counted alpha-value grid (bounded: f1 has 5 values, so <= 15
# distinct score vectors) — no global sort, no float boundary.
# Born rows-only in r9 purely for window-budget reasons; promoted to
# oracled in r10 (VERDICT r9 #4) — the oracle string attaches at the
# bottom of this module (its CTE helpers are defined after the query)
# and the EDF rotation schedules its first driver window mechanically.

_CONF_ALPHA_NUM, _CONF_ALPHA_DEN = 1, 10  # miscoverage alpha = 0.1


@register("ssl_conformal_nb")
def ssl_conformal_nb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction sets for the exact-count NB scorer
    (calibration = masks 1-2, eval = masks 3-4): one row (n_cal,
    q_hat, n_eval, n_covered, coverage, avg_set_size).

    The nonconformity scores are constant per f1 value, so both splits
    replay from the contingency grid: q_hat is ``conformal_threshold``
    over the counted (alpha, cnt) calibration grid, and coverage and
    set size are Spark aggregates over the count-weighted eval cells."""
    from tfm_semisup_spark.operators.calibration import conformal_threshold

    S6 = _BRIER_SCALE
    grid = _nb_grid(_nb_rows(spark, sf_dir))
    lab, cal = _grid_split(grid, pool=lambda m: m in (1, 2))
    _, ev = _grid_split(grid, pool=lambda m: m in (3, 4))
    predict = _nb_predictor(lab, (0,))

    def alphas(cell) -> tuple:
        t = predict(cell)[2]
        al = [S6 - t_c * S6 // sum(t) for t_c in t]
        return (*al, al[{"F": 0, "O": 1}.get(cell[-1], 2)])

    counted: dict = {}
    for cell, (n, _ks) in cal.items():
        a = alphas(cell)[3]
        counted[a] = counted.get(a, 0) + n
    # infinite_score = S6: alpha = S6 - p·S6/total is bounded by the
    # Brier scale, so S6 is this scale's +infinity — with a tiny
    # calibration pool every label enters the set (coverage 1) instead
    # of NULL comparisons silently reading as uncovered (ADVICE r9);
    # the oracle's qh CTE carries the same COALESCE
    qhat = conformal_threshold(
        spark.createDataFrame(list(counted.items()), "alpha long, cnt long"),
        miscoverage=(_CONF_ALPHA_NUM, _CONF_ALPHA_DEN),
        infinite_score=S6,
    )
    aev = spark.createDataFrame(
        [(*alphas(cell), n) for cell, (n, _ks) in ev.items()],
        "al_F long, al_O long, al_P long, al_true long, n long",
    ).crossJoin(F.broadcast(qhat))
    in_set = [
        F.when(F.col(f"al_{c}") <= F.col("q_hat"), 1).otherwise(0)
        for c in _NB1_CLS
    ]
    set_size = in_set[0] + in_set[1] + in_set[2]
    covered = F.when(F.col("al_true") <= F.col("q_hat"), F.col("n")).otherwise(0)
    return aev.groupBy("n_cal", "q_hat").agg(
        F.sum("n").cast("bigint").alias("n_eval"),
        F.sum(covered).cast("bigint").alias("n_covered"),
        F.round(
            F.sum(covered).cast("double") / F.sum("n").cast("double"), 6
        ).alias("coverage"),
        F.round(
            F.sum(set_size * F.col("n")).cast("double")
            / F.sum("n").cast("double"),
            6,
        ).alias("avg_set_size"),
    )


def _conformal_oracle() -> str:
    """DuckDB oracle for ssl_conformal_nb (promoted from rows-only in
    r10 per VERDICT r9 #4; verified hash-matching at sf0.001 and
    sf0.01 before promotion). Attached to ORACLES at the bottom of
    this module because its CTE helpers are defined after the query;
    covered by the full tests/test_oracle_parity.py sweep like every
    other oracle."""
    S6 = _BRIER_SCALE
    ab = " , ".join(
        f"p.n_{c} * (COALESCE(nf_{c}_v1, 0) + 1) AS a_{c}, "
        f"(p.n_{c} + 5) AS b_{c}"
        for c in _NB1_CLS
    )

    def pool_sql(tag: str) -> str:
        return f"""scored_{tag} AS (
  SELECT u.o_orderkey, u.o_orderstatus, {ab}
  FROM {tag} u
  LEFT JOIN lik_v1 l ON u.f1 = l.f1
  CROSS JOIN prior p
),
al_{tag} AS (
  SELECT o_orderkey, o_orderstatus,
         {S6} - (t_F * {S6}) // (t_F + t_O + t_P) AS al_F,
         {S6} - (t_O * {S6}) // (t_F + t_O + t_P) AS al_O,
         {S6} - (t_P * {S6}) // (t_F + t_O + t_P) AS al_P,
         CASE WHEN o_orderstatus = 'F'
                THEN {S6} - (t_F * {S6}) // (t_F + t_O + t_P)
              WHEN o_orderstatus = 'O'
                THEN {S6} - (t_O * {S6}) // (t_F + t_O + t_P)
              ELSE {S6} - (t_P * {S6}) // (t_F + t_O + t_P) END AS al_true
  FROM (
    SELECT o_orderkey, o_orderstatus,
           a_F * b_O * b_P AS t_F, a_O * b_F * b_P AS t_O,
           a_P * b_F * b_O AS t_P
    FROM scored_{tag}
  )
)"""

    return f"""
WITH {_NB1_BASE_SQL},
cal AS (SELECT * FROM base WHERE mask IN (1, 2)),
ev AS (SELECT * FROM base WHERE mask IN (3, 4)),
{_NB1_PRIOR_SQL},
{_nb1_lik_sql("f1", "v1")},
{pool_sql("cal")},
{pool_sql("ev")},
grid AS (
  SELECT al_true AS alpha, COUNT(*)::HUGEINT AS cnt FROM al_cal GROUP BY 1
),
cum AS (
  SELECT alpha, SUM(cnt) OVER (ORDER BY alpha ROWS BETWEEN UNBOUNDED
         PRECEDING AND CURRENT ROW) AS cum
  FROM grid
),
tot AS (SELECT COUNT(*)::HUGEINT AS n_cal FROM al_cal),
qh AS (
  -- conformal +inf convention on the Brier scale: when rank k exceeds
  -- n_cal no grid row qualifies and q_hat falls back to S6 (every
  -- label enters the set), mirroring conformal_threshold's
  -- infinite_score (ADVICE r9)
  SELECT COALESCE(MIN(CASE WHEN cum >= (9 * (t.n_cal + 1) + 9) // 10
                           THEN alpha END), {S6})::BIGINT AS q_hat,
         COALESCE(MIN(t.n_cal), 0)::BIGINT AS n_cal
  FROM cum CROSS JOIN tot t
)
SELECT q.n_cal, q.q_hat,
       COUNT(*)::BIGINT AS n_eval,
       SUM(CASE WHEN al_true <= q.q_hat THEN 1 ELSE 0 END)::BIGINT
         AS n_covered,
       ROUND(CAST(SUM(CASE WHEN al_true <= q.q_hat THEN 1 ELSE 0 END)
                  AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS coverage,
       ROUND(CAST(SUM((CASE WHEN al_F <= q.q_hat THEN 1 ELSE 0 END)
                      + (CASE WHEN al_O <= q.q_hat THEN 1 ELSE 0 END)
                      + (CASE WHEN al_P <= q.q_hat THEN 1 ELSE 0 END))
                  AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
         AS avg_set_size
FROM al_ev CROSS JOIN qh q
GROUP BY q.n_cal, q.q_hat
"""


# r10 promotion (VERDICT r9 #4): attach the pre-staged, parity-tested
# oracle to the already-registered query. register() forbids duplicate
# names, so the late attachment writes the ORACLES registry directly.
ORACLES["ssl_conformal_nb"] = _conformal_oracle()


# ---------------------------------------------------------------------------
# TWO CoTraining cross-teach rounds, oracle-checked end-to-end
# (VERDICT r10 #1)
# ---------------------------------------------------------------------------
#
# The one-round co-training oracle exercises the exchange (each view
# promotes to the other) but not the part that makes co-training
# co-training: view 1 REFITS on view 2's pseudo-labels (and vice
# versa), after which the two models diverge from any self-training
# trajectory (``CoTraining.scala:158-237`` — cross-teach at
# :172-173,215-216, refit at :158-160). This entry unrolls two full
# exchange->refit->exchange rounds as CTEs, the way
# ``ssl_selftrain_two_round_nb`` unrolled self-training.
#
# Promotion criterion: kBest (top n_pool/10 by exact quantized
# confidence, o_orderkey tie-break), NOT threshold. Measured reason:
# the single-feature NB posterior on this data caps at 0.38 (sf0.01,
# priority view) / 0.44 (sf0.001), so the reference's 0.7 default —
# and ANY fixed threshold robust across SFs — promotes zero rows for
# at least one view at some SF, reducing round 2 to a verbatim re-run
# of round 1 and exercising nothing. kBest is the reference's other
# first-class criterion (``CoTraining.scala`` kBest branch, same
# surface as ``SelfTraining.scala:173``) and promotes exactly
# max(1, n/10) rows per view at every SF, so the cross-teach refit
# and the pool shrink are exercised unconditionally.
#
# All arithmetic exact-integer (DECIMAL(38,0)/HUGEINT): single-feature
# NB scores are bounded by n^4 (~7e24 at sf1) and the quantized
# confidence numerator by n^4 * 10^12 < 10^38 through sf1.

_CT2_K_DIV = 10  # promote top n_pool/10 per view per round
_CT2_SCALE = 1_000_000_000_000  # 10^12 confidence quantization


def _ct2_round_sql(train: str, pool: str, feat: str, V: int, tag: str) -> str:
    """CTEs fitting a single-feature exact-count NB on ``train``
    (f1, f2, label) and ranking ``pool`` (o_orderkey, o_orderstatus,
    f1, f2) by quantized confidence: lik_{tag}, prior_{tag},
    scored_{tag}, ranked_{tag} (rn over conf_q DESC / okey, np)."""
    ab = ", ".join(
        f"p.n_{c} * (COALESCE(l.nf_{c}, 0) + 1) AS a_{c}, "
        f"(p.n_{c} + {V}) AS b_{c}"
        for c in _NB1_CLS
    )
    lik = _class_counts("label", "nf_")
    return f"""lik_{tag} AS (SELECT {feat}, {lik} FROM {train} GROUP BY {feat}),
prior_{tag} AS (SELECT {_class_counts("label", "n_")} FROM {train}),
scored_{tag} AS (
  SELECT u.o_orderkey, u.o_orderstatus, u.f1, u.f2, {ab}
  FROM {pool} u
  LEFT JOIN lik_{tag} l ON u.{feat} = l.{feat}
  CROSS JOIN prior_{tag} p
),
ranked_{tag} AS (
  SELECT *,
         ROW_NUMBER() OVER (ORDER BY conf_q DESC, o_orderkey) AS rn,
         COUNT(*) OVER () AS np
  FROM (
    SELECT o_orderkey, o_orderstatus, f1, f2,
           CASE WHEN t_F >= t_O AND t_F >= t_P THEN 'F'
                WHEN t_O >= t_P THEN 'O' ELSE 'P' END AS pred_class,
           ((CASE WHEN t_F >= t_O AND t_F >= t_P THEN t_F
                  WHEN t_O >= t_P THEN t_O ELSE t_P END)
            * {_CT2_SCALE}) // (t_F + t_O + t_P) AS conf_q
    FROM (
      SELECT o_orderkey, o_orderstatus, f1, f2,
             a_F * b_O * b_P AS t_F, a_O * b_F * b_P AS t_O,
             a_P * b_F * b_O AS t_P
      FROM scored_{tag}
    )
  )
)"""


def _ct2_summary_sql(
    tag: str, rnd: int, view: str, flag_sql: str | None = None
) -> str:
    """Per-class promotion summary over ``ranked_{tag}``. ``flag_sql``
    is the promotion predicate — defaults to the kBest rank cut; the
    threshold variant passes ``conf_q > <thr>`` (one builder for both
    criteria so their summary algebra cannot drift apart)."""
    k = flag_sql or f"rn <= GREATEST(1, np // {_CT2_K_DIV})"
    return f"""SELECT {rnd}::BIGINT AS rnd, '{view}' AS view_name, pred_class,
       COUNT(*)::BIGINT AS n_scored,
       SUM(CASE WHEN {k} THEN 1 ELSE 0 END)::BIGINT AS n_promoted,
       SUM(CASE WHEN {k} AND pred_class = o_orderstatus
                THEN 1 ELSE 0 END)::BIGINT AS n_promoted_correct,
       SUM(CASE WHEN {k} THEN o_orderkey ELSE 0 END)::BIGINT
         AS promoted_key_sum,
       COALESCE(MIN(CASE WHEN {k} THEN conf_q END), -1)::BIGINT
         AS min_conf_q
FROM ranked_{tag} GROUP BY pred_class"""


def _cotrain2_oracle() -> str:
    k = f"GREATEST(1, np // {_CT2_K_DIV})"
    return f"""
WITH {_NB1_BASE_SQL},
train_r1 AS (SELECT f1, f2, o_orderstatus AS label FROM labeled),
pool_r1 AS (SELECT o_orderkey, o_orderstatus, f1, f2 FROM unlabeled),
{_ct2_round_sql("train_r1", "pool_r1", "f1", 5, "v1r1")},
{_ct2_round_sql("train_r1", "pool_r1", "f2", 12, "v2r1")},
prom_v1r1 AS (SELECT * FROM ranked_v1r1 WHERE rn <= {k}),
prom_v2r1 AS (SELECT * FROM ranked_v2r1 WHERE rn <= {k}),
pool_r2 AS (
  SELECT a.o_orderkey, a.o_orderstatus, a.f1, a.f2
  FROM ranked_v1r1 a JOIN ranked_v2r1 b ON a.o_orderkey = b.o_orderkey
  WHERE a.rn > GREATEST(1, a.np // {_CT2_K_DIV})
    AND b.rn > GREATEST(1, b.np // {_CT2_K_DIV})
),
train_v1_r2 AS (
  SELECT * FROM train_r1
  UNION ALL SELECT f1, f2, pred_class AS label FROM prom_v2r1
),
train_v2_r2 AS (
  SELECT * FROM train_r1
  UNION ALL SELECT f1, f2, pred_class AS label FROM prom_v1r1
),
{_ct2_round_sql("train_v1_r2", "pool_r2", "f1", 5, "v1r2")},
{_ct2_round_sql("train_v2_r2", "pool_r2", "f2", 12, "v2r2")}
{_ct2_summary_sql("v1r1", 1, "priority")}
UNION ALL
{_ct2_summary_sql("v2r1", 1, "month")}
UNION ALL
{_ct2_summary_sql("v1r2", 2, "priority")}
UNION ALL
{_ct2_summary_sql("v2r2", 2, "month")}
"""


def _thr_cells(pool: dict, preds: list, thr: int) -> list:
    """[(cell, per-view conf_q > thr flags, n, keysum)] over ``pool``."""
    return [
        (cell, tuple(predict(cell)[1] > thr for predict in preds), n, ks)
        for cell, (n, ks) in pool.items()
    ]


def _ct2_exchange(cells, preds: list, trains=None):
    """One two-view exchange over the pool cells [(cell, (flag_v1,
    flag_v2), n, keysum)]: each view tallies its scores and
    promotions; with ``trains`` (one training dict per view) each
    view's promotions also join the OTHER view's training cells under
    their predicted class (the cross-teach). Unflagged cells stay in
    the pool. -> ((sums_v1, sums_v2), next_pool)."""
    sums: tuple = ({}, {})
    next_pool: dict = {}
    for cell, fl, n, ks in cells:
        out = [predict(cell) for predict in preds]
        for v in (0, 1):
            pred, cq, _ = out[v]
            _tally(sums[v], pred, cell[-1], n, ks, fl[v], cq)
            if trains is not None and fl[1 - v]:
                key = (*cell[:-1], out[1 - v][0])
                trains[v][key] = trains[v].get(key, 0) + n
        if not any(fl):
            pn, pks = next_pool.get(cell, (0, 0))
            next_pool[cell] = (pn + n, pks + ks)
    return sums, next_pool


@register("ssl_cotrain_two_round_nb", _cotrain2_oracle())
def ssl_cotrain_two_round_nb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two unrolled CoTraining kBest exchange rounds with cross-teach
    refits (view 1 refits on view 2's round-1 pseudo-labels and vice
    versa; both views' promotions leave the shared pool): (rnd,
    view_name, pred_class, n_scored, n_promoted, n_promoted_correct,
    promoted_key_sum, min_conf_q). Mirrors ``CoTraining.scala:158-237``
    (cross-teach :172-173,215-216) the way
    ``ssl_selftrain_two_round_nb`` mirrors ``SelfTraining.scala``.

    The kBest trajectory is a function of the contingency grid EXCEPT
    for the rank-k o_orderkey boundary inside each view's
    tie-confidence cohort: per round ``_kbest_round`` runs ONE unioned
    boundary probe and ONE flag-split grid aggregate over the
    checkpointed pool, and the summaries, cross-teach refits and next
    pool replay on the driver (see the grid-replay header)."""
    labeled, unlabeled = _nb1_base(spark, sf_dir)
    lab, pool = _grid_split(_nb_grid(labeled.unionByName(unlabeled)))
    trains = [dict(lab), dict(lab)]
    out_rows = []
    for rnd in (1, 2):
        preds = [_nb_predictor(tr, (i,)) for i, tr in enumerate(trains)]
        k = max(1, sum(n for n, _ in pool.values()) // _CT2_K_DIV)
        views = {"v1": ("f1", 0, preds[0]), "v2": ("f2", 1, preds[1])}
        flags, split = _kbest_round(unlabeled, pool, views, k)
        sums, pool = _ct2_exchange(
            [(cell, (fl["v1"], fl["v2"]), n, ks) for cell, fl, n, ks in split],
            preds,
            trains,
        )
        out_rows += _tally_rows(sums[0], rnd, "priority", cols=slice(0, 5))
        out_rows += _tally_rows(sums[1], rnd, "month", cols=slice(0, 5))
        unlabeled = unlabeled.where(~flags["v1"] & ~flags["v2"])
    return spark.createDataFrame(out_rows, _CT2_SUMMARY_SCHEMA)


# ---------------------------------------------------------------------------
# TWO CoTraining rounds under the THRESHOLD criterion (r12,
# VERDICT r11 #6)
# ---------------------------------------------------------------------------
#
# ``CoTraining.scala:158-196`` is the threshold branch; with the kBest
# two-round trajectory above, this closes the last reference branch
# without a multi-round oracle. Same cross-teach algebra, but the
# promotion predicate is a FIXED quantized-confidence cut instead of
# the top-k boundary — no bounded collect needed, the flag is a plain
# filter. Threshold choice is data-constrained (the kBest entry's
# comment documents why 0.7 promotes zero): conf_q > 0.37e12 is the
# measured sweet spot where BOTH views promote nonzero-but-proper
# subsets in round 1 AND round 2 stays non-vacuous at sf0.001 and
# sf0.01 (0.35 promotes the whole pool at sf0.001 → empty round 2;
# 0.39 promotes zero for the priority view at sf0.01). Round 2
# promoting its whole residual pool at these SFs is the refit doing
# real work: rows below the cut under the round-1 model cross the cut
# after the cross-teach refit. (_CT2T_THR itself is defined next to
# _KBEST_CONF_SCALE so the one-round entry can share it.)


def _cotrain2_threshold_oracle() -> str:
    thr = _CT2T_THR
    flag = f"conf_q > {thr}"
    return f"""
WITH {_NB1_BASE_SQL},
train_r1 AS (SELECT f1, f2, o_orderstatus AS label FROM labeled),
pool_r1 AS (SELECT o_orderkey, o_orderstatus, f1, f2 FROM unlabeled),
{_ct2_round_sql("train_r1", "pool_r1", "f1", 5, "v1r1")},
{_ct2_round_sql("train_r1", "pool_r1", "f2", 12, "v2r1")},
prom_v1r1 AS (SELECT * FROM ranked_v1r1 WHERE {flag}),
prom_v2r1 AS (SELECT * FROM ranked_v2r1 WHERE {flag}),
pool_r2 AS (
  SELECT a.o_orderkey, a.o_orderstatus, a.f1, a.f2
  FROM ranked_v1r1 a JOIN ranked_v2r1 b ON a.o_orderkey = b.o_orderkey
  WHERE a.conf_q <= {thr} AND b.conf_q <= {thr}
),
train_v1_r2 AS (
  SELECT * FROM train_r1
  UNION ALL SELECT f1, f2, pred_class AS label FROM prom_v2r1
),
train_v2_r2 AS (
  SELECT * FROM train_r1
  UNION ALL SELECT f1, f2, pred_class AS label FROM prom_v1r1
),
{_ct2_round_sql("train_v1_r2", "pool_r2", "f1", 5, "v1r2")},
{_ct2_round_sql("train_v2_r2", "pool_r2", "f2", 12, "v2r2")}
{_ct2_summary_sql("v1r1", 1, "priority", flag)}
UNION ALL
{_ct2_summary_sql("v2r1", 1, "month", flag)}
UNION ALL
{_ct2_summary_sql("v1r2", 2, "priority", flag)}
UNION ALL
{_ct2_summary_sql("v2r2", 2, "month", flag)}
"""


@register("ssl_cotrain_two_round_threshold", _cotrain2_threshold_oracle())
def ssl_cotrain_two_round_threshold(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two unrolled CoTraining THRESHOLD-criterion rounds with
    cross-teach refits — the multi-round oracle for the reference's
    threshold branch (``CoTraining.scala:158-196``; the kBest branch's
    trajectory is ``ssl_cotrain_two_round_nb``). Same output shape:
    (rnd, view_name, pred_class, n_scored, n_promoted,
    n_promoted_correct, promoted_key_sum, min_conf_q).

    Predictions and quantized confidences are constant per feature
    value (view 1 a function of f1, view 2 of f2) and the fixed-cut
    flag needs no per-row boundary, so both rounds replay from the
    contingency grid (see the grid-replay header)."""
    lab, pool = _grid_split(_nb_grid(_nb_rows(spark, sf_dir)))
    trains = [dict(lab), dict(lab)]
    out_rows = []
    for rnd in (1, 2):
        preds = [_nb_predictor(tr, (i,)) for i, tr in enumerate(trains)]
        sums, pool = _ct2_exchange(_thr_cells(pool, preds, _CT2T_THR), preds, trains)
        out_rows += _tally_rows(sums[0], rnd, "priority", cols=slice(0, 5))
        out_rows += _tally_rows(sums[1], rnd, "month", cols=slice(0, 5))
    return spark.createDataFrame(out_rows, _CT2_SUMMARY_SCHEMA)


# ---------------------------------------------------------------------------
# McNemar feature-ablation test on the exact-count NB pair (r11)
# ---------------------------------------------------------------------------
#
# The paired-classifier significance test the thesis family was
# missing: does the month feature actually help? Model A is the
# two-feature NB of ssl_selftrain_one_round_nb; model B is its
# f1-only ablation (same priors, same add-one smoothing, argmax by
# the same cross-multiplied integer compare). Both predict the SAME
# unlabeled pool, and McNemar's test (1947, with Edwards' continuity
# correction) examines only the DISCORDANT pairs:
#
#   chi2 = (|b - c| - 1)^2 / (b + c)
#   b = A correct, B wrong;  c = A wrong, B correct
#
# — the correct paired test where two independent-sample accuracy
# z-tests would double-count the shared pool. Everything is exact
# integer (the st1 algebra) except the single chi2 division; the
# b + c = 0 degenerate case is pinned to 0.0 on both engines.


def _nb2_scored_sql() -> str:
    """Shared CTE chain ``base .. scored`` building the two-feature NB
    (model A: a_c/b_c cross-multiply terms) and its f1-only ablation
    (model B: sa_c/sb_c) over the shared unlabeled pool — consumed by
    the paired-decided builder below AND the PR-curve entry."""
    ab = " , ".join(
        f"n_{c} * (COALESCE(n1_{c}, 0) + 1) * (COALESCE(n2_{c}, 0) + 1)"
        f" AS a_{c}, "
        f"(n_{c} + {_ST1_V1}) * (n_{c} + {_ST1_V2}) AS b_{c}, "
        f"n_{c} * (COALESCE(n1_{c}, 0) + 1) AS sa_{c}, "
        f"(n_{c} + {_ST1_V1}) AS sb_{c}"
        for c in _NB1_CLS
    )
    return f"""{_NB1_BASE_SQL},
lik1 AS (SELECT f1, {_class_counts("o_orderstatus", "n1_")} FROM labeled GROUP BY f1),
lik2 AS (SELECT f2, {_class_counts("o_orderstatus", "n2_")} FROM labeled GROUP BY f2),
{_NB1_PRIOR_SQL},
scored AS (
  SELECT u.o_orderkey, u.o_orderstatus, {ab}
  FROM unlabeled u
  LEFT JOIN lik1 ON u.f1 = lik1.f1
  LEFT JOIN lik2 ON u.f2 = lik2.f2
  CROSS JOIN prior
)"""


def _paired_decided_sql() -> str:
    """Shared CTE chain producing ``decided(o_orderstatus, pred_a,
    pred_b)`` — the paired-prediction table of the two-feature NB
    (model A) vs its f1-only ablation (model B) on the shared
    unlabeled pool. ONE builder consumed by BOTH the McNemar and the
    kappa oracles (ADVICE r11: the two copies could drift if one's
    smoothing or tie-break were later edited)."""
    return f"""{_nb2_scored_sql()},
decided AS (
  SELECT o_orderstatus,
         CASE WHEN a_F * b_O * b_P >= a_O * b_F * b_P
               AND a_F * b_O * b_P >= a_P * b_F * b_O THEN 'F'
              WHEN a_O * b_F * b_P >= a_P * b_F * b_O THEN 'O'
              ELSE 'P' END AS pred_a,
         CASE WHEN sa_F * sb_O * sb_P >= sa_O * sb_F * sb_P
               AND sa_F * sb_O * sb_P >= sa_P * sb_F * sb_O THEN 'F'
              WHEN sa_O * sb_F * sb_P >= sa_P * sb_F * sb_O THEN 'O'
              ELSE 'P' END AS pred_b
  FROM scored
)"""


def _py_paired_counts(spark: SparkSession, sf_dir: str) -> dict:
    """Grid replay of ``_paired_decided_sql``: both predictions — model
    A's two-feature NB argmax and model B's f1-only ablation — are
    constant per (f1, f2) cell, so the paired confusion counts are
    exact sums over the contingency grid. Returns {(pred_a, pred_b,
    status): n}."""
    lab, pool = _grid_split(_nb_grid(_nb_rows(spark, sf_dir)))
    pred_a, pred_b = _nb_predictor(lab, (0, 1)), _nb_predictor(lab, (0,))
    out: dict = {}
    for cell, (n, _ks) in pool.items():
        key = (pred_a(cell)[0], pred_b(cell)[0], cell[-1])
        out[key] = out.get(key, 0) + n
    return out


def _mcnemar_oracle() -> str:
    return f"""
WITH {_paired_decided_sql()},
counts AS (
  SELECT COUNT(*)::BIGINT AS n_pool,
         SUM(CASE WHEN pred_a = o_orderstatus THEN 1 ELSE 0 END)::BIGINT
           AS n_correct_a,
         SUM(CASE WHEN pred_b = o_orderstatus THEN 1 ELSE 0 END)::BIGINT
           AS n_correct_b,
         SUM(CASE WHEN pred_a = pred_b THEN 1 ELSE 0 END)::BIGINT
           AS n_agree,
         SUM(CASE WHEN pred_a = o_orderstatus
                   AND pred_b <> o_orderstatus THEN 1 ELSE 0 END)::BIGINT
           AS disc_b,
         SUM(CASE WHEN pred_a <> o_orderstatus
                   AND pred_b = o_orderstatus THEN 1 ELSE 0 END)::BIGINT
           AS disc_c
  FROM decided
)
SELECT n_pool, n_correct_a, n_correct_b, n_agree, disc_b, disc_c,
       CASE WHEN disc_b + disc_c = 0 THEN 0.0
            ELSE ROUND(CAST((ABS(disc_b - disc_c) - 1)
                            * (ABS(disc_b - disc_c) - 1) AS DOUBLE)
                       / CAST(disc_b + disc_c AS DOUBLE), 6) END
         AS mcnemar_chi2
FROM counts
"""


@register("ssl_mcnemar_feature_ablation", _mcnemar_oracle())
def ssl_mcnemar_feature_ablation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """McNemar continuity-corrected test between the two-feature NB
    and its f1-only ablation on the shared unlabeled pool: one row
    (n_pool, n_correct_a, n_correct_b, n_agree, disc_b, disc_c,
    mcnemar_chi2).

    The confusion counts replay from the contingency grid
    (``_py_paired_counts``); the chi2 expression is Spark SQL over the
    exact integer counts. Over an empty pool the sums are NULL, as the
    oracle's SUMs are."""
    pc = _py_paired_counts(spark, sf_dir)
    tests = (
        lambda a, b, c: a == c,  # n_correct_a
        lambda a, b, c: b == c,  # n_correct_b
        lambda a, b, c: a == b,  # n_agree
        lambda a, b, c: a == c != b,  # disc_b: A right, B wrong
        lambda a, b, c: b == c != a,  # disc_c: A wrong, B right
    )
    counts = spark.createDataFrame(
        [(
            sum(pc.values()),
            *(sum(n for key, n in pc.items() if t(*key)) if pc else None
              for t in tests),
        )],
        "n_pool long, n_correct_a long, n_correct_b long, n_agree long, "
        "disc_b long, disc_c long",
    )
    bc = F.col("disc_b") + F.col("disc_c")
    dev = F.abs(F.col("disc_b") - F.col("disc_c")) - 1
    return counts.select(
        "n_pool",
        "n_correct_a",
        "n_correct_b",
        "n_agree",
        "disc_b",
        "disc_c",
        F.when(bc == 0, F.lit(0.0))
        .otherwise(
            F.round((dev * dev).cast("double") / bc.cast("double"), 6)
        )
        .alias("mcnemar_chi2"),
    )


# ---------------------------------------------------------------------------
# Two-round TriTraining with per-view refits (r11)
# ---------------------------------------------------------------------------
#
# The multi-round closure of ssl_tritrain_one_round_nb, symmetric to
# what ssl_cotrain_two_round_nb did for co-training: round 1 promotes
# for view i the rows the OTHER TWO views agree on (Zhou & Li 2005);
# round 2 REFITS each view's single-feature NB on labeled ∪ its own
# round-1 pseudo-labeled set (pseudo-label = the agreed class, NOT the
# truth — the defining tri-training mechanic) and re-scores the FULL
# unlabeled pool (tri-training refreshes pseudo-labels each round
# rather than consuming the pool). Output is the per-round, per-view
# promotion summary; a plan pin asserts the refit actually moved at
# least one view's promotion set.
#
# Arithmetic: the st1/tritrain exact-integer NB algebra throughout —
# priors and likelihoods of the AUGMENTED training sets are still
# plain conditional counts, so everything stays DECIMAL(38,0)/HUGEINT
# cross-multiplied compares with zero doubles.


def _tt2_train_sql(feat: str, tag: str, pred: str) -> str:
    """Round-2 training set for one view: labeled rows plus the
    round-1 pseudo set (agreed class as the label)."""
    return f"""train2_{tag} AS (
  SELECT {feat} AS feat, o_orderstatus FROM labeled
  UNION ALL
  SELECT {feat} AS feat, {pred} AS o_orderstatus FROM pseudo_{tag}
)"""


def _tt2_decided_sql(feat: str, V: int, tag: str) -> str:
    cells = _class_counts("o_orderstatus", "nf_", f"_{tag}2")
    pri = _class_counts("o_orderstatus", "n_")
    ab = ", ".join(
        f"p.n_{c} * (COALESCE(nf_{c}_{tag}2, 0) + 1) AS a_{c}, "
        f"(p.n_{c} + {V}) AS b_{c}"
        for c in _NB1_CLS
    )
    return f"""lik2_{tag} AS (
  SELECT feat, {cells} FROM train2_{tag} GROUP BY feat
),
prior2_{tag} AS (SELECT {pri} FROM train2_{tag}),
scored2_{tag} AS (
  SELECT u.o_orderkey, u.o_orderstatus, {ab}
  FROM unlabeled u
  LEFT JOIN lik2_{tag} l ON u.{feat} = l.feat
  CROSS JOIN prior2_{tag} p
),
decided2_{tag} AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN a_F * b_O * b_P >= a_O * b_F * b_P
               AND a_F * b_O * b_P >= a_P * b_F * b_O THEN 'F'
              WHEN a_O * b_F * b_P >= a_P * b_F * b_O THEN 'O'
              ELSE 'P' END AS pred_class
  FROM scored2_{tag}
)"""


def _tritrain2_oracle() -> str:
    grp = (
        "SELECT {r} AS rnd, '{v}' AS target_view, {p} AS pred_class, "
        "COUNT(*)::BIGINT AS n_promoted, "
        "SUM(CASE WHEN {p} = o_orderstatus THEN 1 ELSE 0 END)::BIGINT"
        " AS n_promoted_correct, "
        "SUM(o_orderkey)::BIGINT AS promoted_key_sum "
        "FROM {src} WHERE {j} = {k} GROUP BY {p}"
    )
    return f"""
WITH {_NB1_BASE3_SQL},
{_NB1_PRIOR_SQL},
{_nb1_lik_sql("f1", "v1")},
{_nb1_decided_sql("f1", 5, "v1")},
{_nb1_lik_sql("f2", "v2")},
{_nb1_decided_sql("f2", 12, "v2")},
{_nb1_lik_sql("f3", "v3")},
{_nb1_decided_sql("f3", 5, "v3")},
joined AS (
  SELECT u.o_orderkey, u.o_orderstatus, u.f1, u.f2, u.f3,
         d1.pred_class AS p1, d2.pred_class AS p2, d3.pred_class AS p3
  FROM unlabeled u
  JOIN decided_v1 d1 ON u.o_orderkey = d1.o_orderkey
  JOIN decided_v2 d2 ON u.o_orderkey = d2.o_orderkey
  JOIN decided_v3 d3 ON u.o_orderkey = d3.o_orderkey
),
pseudo_v1 AS (SELECT f1, p2 AS agreed FROM joined WHERE p2 = p3),
pseudo_v2 AS (SELECT f2, p1 AS agreed FROM joined WHERE p1 = p3),
pseudo_v3 AS (SELECT f3, p1 AS agreed FROM joined WHERE p1 = p2),
{_tt2_train_sql("f1", "v1", "agreed")},
{_tt2_train_sql("f2", "v2", "agreed")},
{_tt2_train_sql("f3", "v3", "agreed")},
{_tt2_decided_sql("f1", 5, "v1")},
{_tt2_decided_sql("f2", 12, "v2")},
{_tt2_decided_sql("f3", 5, "v3")},
joined2 AS (
  SELECT d1.o_orderkey, d1.o_orderstatus,
         d1.pred_class AS p1, d2.pred_class AS p2, d3.pred_class AS p3
  FROM decided2_v1 d1
  JOIN decided2_v2 d2 ON d1.o_orderkey = d2.o_orderkey
  JOIN decided2_v3 d3 ON d1.o_orderkey = d3.o_orderkey
)
{grp.format(r=1, v="priority", p="p2", j="p2", k="p3", src="joined")}
UNION ALL
{grp.format(r=1, v="month", p="p1", j="p1", k="p3", src="joined")}
UNION ALL
{grp.format(r=1, v="segment", p="p1", j="p1", k="p2", src="joined")}
UNION ALL
{grp.format(r=2, v="priority", p="p2", j="p2", k="p3", src="joined2")}
UNION ALL
{grp.format(r=2, v="month", p="p1", j="p1", k="p3", src="joined2")}
UNION ALL
{grp.format(r=2, v="segment", p="p1", j="p1", k="p2", src="joined2")}
"""


@register("ssl_tritrain_two_round_nb", _tritrain2_oracle())
def ssl_tritrain_two_round_nb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two tri-training rounds with per-view refits on pseudo-labeled
    agreement sets: (rnd, target_view, pred_class, n_promoted,
    n_promoted_correct, promoted_key_sum).

    Every per-view prediction is constant per feature value, so the
    agreement sets are constant per (f1, f2, f3) cell and both rounds
    replay from the orders ⋈ customer contingency grid (see the
    grid-replay header). Round 2 refits each view on labeled ∪ its
    round-1 pseudo-labels and re-scores the full pool."""
    lab, pool = _tt_grid(spark, sf_dir)
    trains = [dict(lab) for _ in _TT_VIEWS]
    out_rows = []
    for rnd in (1, 2):
        preds = [_nb_predictor(tr, (i,)) for i, tr in enumerate(trains)]
        sums = _tt_round(pool, preds, trains)
        for view, s in sums.items():
            out_rows += _tally_rows(s, rnd, view, cols=slice(1, 4))
    return spark.createDataFrame(
        out_rows,
        "rnd long, target_view string, pred_class string, n_promoted long, "
        "n_promoted_correct long, promoted_key_sum long",
    )


# ---------------------------------------------------------------------------
# Cohen's kappa between the two NB models (r11)
# ---------------------------------------------------------------------------
#
# The agreement companion to ssl_mcnemar_feature_ablation: McNemar
# tests whether the two classifiers' ERROR rates differ; kappa
# (Cohen 1960) measures how much they AGREE beyond chance —
# κ = (p_o − p_e)/(1 − p_e) with p_e from the prediction marginals.
# Clearing denominators, κ = (agree·n − Σ_c row_c·col_c)
# / (n² − Σ_c row_c·col_c) — an exact integer ratio with ONE double
# division (n² passes BIGINT at ~3·10⁹ pool rows; DECIMAL/HUGEINT).


def _kappa_oracle() -> str:
    cls = ["F", "O", "P"]
    rowcol = " + ".join(
        f"(SELECT COUNT(*)::HUGEINT FROM decided WHERE pred_a = '{c}')"
        f" * (SELECT COUNT(*)::HUGEINT FROM decided WHERE pred_b = '{c}')"
        for c in cls
    )
    return f"""
WITH {_paired_decided_sql()},
counts AS (
  SELECT COUNT(*)::HUGEINT AS n,
         SUM(CASE WHEN pred_a = pred_b THEN 1 ELSE 0 END)::HUGEINT
           AS agree,
         ({rowcol}) AS rowcol
  FROM decided
)
SELECT n::BIGINT AS n_pool,
       agree::BIGINT AS n_agree,
       ROUND(CAST(agree * n - rowcol AS DOUBLE)
             / CAST(n * n - rowcol AS DOUBLE), 6) AS kappa
FROM counts
"""


@register("ssl_kappa_agreement", _kappa_oracle())
def ssl_kappa_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the two-feature NB and its f1-only
    ablation on the shared pool: one row (n_pool, n_agree, kappa) —
    the chance-corrected agreement next to McNemar's error-rate
    contrast. Exact integer ratio, one double division.

    The agreement/marginal counts replay from the contingency grid
    (``_py_paired_counts``); the kappa expression is Spark SQL over the
    same DECIMAL(38,0) counts. Over an empty pool n_agree and kappa are
    NULL, as in the oracle."""
    cls = _NB1_CLS
    pc = _py_paired_counts(spark, sf_dir)
    n = sum(pc.values())
    agree = sum(v for (pa, pb, _c), v in pc.items() if pa == pb) if pc else None
    ra = {c: sum(v for (pa, _pb, _c), v in pc.items() if pa == c) for c in cls}
    rb = {c: sum(v for (_pa, pb, _c), v in pc.items() if pb == c) for c in cls}
    dec = "decimal(38,0)"
    counts = spark.createDataFrame(
        [
            tuple(
                None if v is None else Decimal(v)
                for v in (n, agree, *[ra[c] for c in cls], *[rb[c] for c in cls])
            )
        ],
        f"n {dec}, agree {dec}, "
        + ", ".join(f"ra_{c} {dec}" for c in cls)
        + ", "
        + ", ".join(f"rb_{c} {dec}" for c in cls),
    )
    rowcol = (
        F.col("ra_F") * F.col("rb_F")
        + F.col("ra_O") * F.col("rb_O")
        + F.col("ra_P") * F.col("rb_P")
    )
    return counts.select(
        F.col("n").cast("bigint").alias("n_pool"),
        F.col("agree").cast("bigint").alias("n_agree"),
        F.round(
            (F.col("agree") * F.col("n") - rowcol).cast("double")
            / (F.col("n") * F.col("n") - rowcol).cast("double"),
            6,
        ).alias("kappa"),
    )


# ---------------------------------------------------------------------------
# Precision-recall curve of the NB scorer (r12)
# ---------------------------------------------------------------------------
#
# The threshold-sweep eval readout next to the calibration deciles and
# the paired tests: treating class 'F' as positive, sweep every
# DISTINCT quantized posterior cut and report the confusion counts at
# each operating point. The score grid is bounded by the feature
# cardinality (|f1| x |f2| combinations), so the curve is a counted-
# grid window cumsum — never a per-row global sort (the
# revenue_lorenz_deciles discipline). All arithmetic exact integers:
# score_q = t_F·10⁴ // Σt (an exact floor division),
# precision/recall = 10⁶-scaled integer floor divisions.
#
# Score-scale budget: the TWO-feature model's t terms are ~n⁷ (a_c is
# a triple product of counts, b_c a double product) — measured
# ~1.5e26 at sf0.1, so a 10¹² scale overflows DECIMAL(38,0) there
# (the first cut did exactly that; sf0.001/sf0.01 gates passed and
# the sf0.1 bench caught it). 10⁴ keeps t·scale < 10³⁸ through sf1
# (~1.5e37) at curve resolution 1e-4 — distinct feature combos whose
# posteriors collide at 4 digits merge into one operating point,
# identically on both engines.

_PR_SCALE = 1_000_000
_PR_SCORE_SCALE = 10_000


def _f_score_grid(spark: SparkSession, sf_dir: str) -> dict:
    """{score_q: [n_F, n_other]} over the unlabeled pool, score_q =
    floor(t_F·10⁴/t_sum) of the two-feature NB — the PR and ROC grids."""
    lab, pool = _grid_split(_nb_grid(_nb_rows(spark, sf_dir)))
    predict = _nb_predictor(lab, (0, 1))
    grid: dict = {}
    for cell, (n, _ks) in pool.items():
        t = predict(cell)[2]
        g = grid.setdefault(t[0] * _PR_SCORE_SCALE // sum(t), [0, 0])
        g[0 if cell[-1] == "F" else 1] += n
    return grid


def _pr_curve_oracle() -> str:
    return f"""
WITH {_nb2_scored_sql()},
probs AS (
  SELECT o_orderstatus,
         ((a_F * b_O * b_P) * {_PR_SCORE_SCALE})
           // (a_F * b_O * b_P + a_O * b_F * b_P + a_P * b_F * b_O)
           AS score_q
  FROM scored
),
grid AS (
  SELECT score_q, COUNT(*)::HUGEINT AS n,
         SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)::HUGEINT
           AS npos
  FROM probs GROUP BY score_q
),
tot AS (SELECT SUM(npos)::HUGEINT AS p FROM grid),
cum AS (
  SELECT score_q,
         SUM(n) OVER (ORDER BY score_q DESC) AS pp,
         SUM(npos) OVER (ORDER BY score_q DESC) AS tp
  FROM grid
)
SELECT CAST(score_q AS BIGINT) AS score_q,
       CAST(pp AS BIGINT) AS n_pred_pos,
       CAST(tp AS BIGINT) AS n_true_pos,
       CAST((tp * {_PR_SCALE}) // pp AS BIGINT) AS precision_q,
       CAST(CASE WHEN t.p = 0 THEN 0
                 ELSE (tp * {_PR_SCALE}) // t.p END AS BIGINT) AS recall_q
FROM cum CROSS JOIN tot t
ORDER BY score_q DESC
"""


@register("ssl_pr_curve_nb", _pr_curve_oracle())
def ssl_pr_curve_nb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision-recall operating points of the two-feature NB for
    class 'F', one row per distinct quantized score cut: (score_q,
    n_pred_pos, n_true_pos, precision_q, recall_q).

    score_q is constant per (f1, f2) cell, so the curve replays from
    the contingency grid on Python ints (``_f_score_grid``)."""
    grid = _f_score_grid(spark, sf_dir)
    p_tot = sum(p for p, _ in grid.values())
    pp = tp = 0
    out_rows = []
    for sq in sorted(grid, reverse=True):
        p, g = grid[sq]
        pp += p + g
        tp += p
        out_rows.append(
            (
                sq,
                pp,
                tp,
                tp * _PR_SCALE // pp,
                0 if p_tot == 0 else tp * _PR_SCALE // p_tot,
            )
        )
    return spark.createDataFrame(
        out_rows,
        "score_q long, n_pred_pos long, n_true_pos long, "
        "precision_q long, recall_q long",
    )


# ---------------------------------------------------------------------------
# Paired per-fold t-test, EXACT-INTEGER NB sibling (r13, VERDICT r12 #3)
# ---------------------------------------------------------------------------
#
# ``ssl_paired_fold_ttest`` above (Dietterich's paired cross-validated
# t-test) is rows-only by necessity — MLlib tree fits aren't SQL. This
# sibling promotes the STATISTIC itself to an oracled entry by pairing
# the two single-feature exact-count NB views (f1=priority V=5 vs
# f2=month V=12) over md5-hash-assigned folds — the
# conversion_wilson_bounds recipe: every count is an exact integer,
# the per-fold accuracy difference is quantized once
# (d_q = floor((c1-c2)·10^9/n), computed with a non-negative numerator
# so floor semantics agree across engines), and the t statistic
# reduces to t = T·sqrt(k(k-1)/S) with T = Σd_q and
# S = Σ(k·d_q − T)² — ONE sqrt from exact integers, zero
# summation-order exposure. Magnitudes: |d_q| ≤ 10^9 at ANY SF (the
# quantization bounds it, not the data), so S ≤ 3·(6·10^9)² ≈ 10^20
# — HUGEINT/DECIMAL(38,0) safe at every SF (the ssl_pr_curve_nb
# DECIMAL-budget lesson applied at design time).
#
# 100 TB shape: 6 bounded NB fits (broadcast aggregates), one scan per
# fold pair; the fold column is a narrow hash projection.

_PFT_K = 3
_PFT_DQ_SCALE = 1_000_000_000  # 10^9 per-fold diff quantization
_PFT_FOLD_SQL = f"({md5_uniform16_sql(_ST1_KEY_MD5)} % {_PFT_K})"
_PFT_FOLD_SPARK = f"({md5_uniform16_spark_sql(_ST1_KEY_MD5)} % {_PFT_K})"


def _pft_oracle() -> str:
    parts, folds = [], []
    for f in range(_PFT_K):
        parts.append(
            f"train_{f} AS (SELECT f1, f2, o_orderstatus AS label "
            f"FROM base WHERE fold <> {f}),\n"
            f"test_{f} AS (SELECT o_orderkey, o_orderstatus, f1, f2 "
            f"FROM base WHERE fold = {f}),\n"
            + _ct2_round_sql(f"train_{f}", f"test_{f}", "f1", 5, f"a{f}")
            + ",\n"
            + _ct2_round_sql(f"train_{f}", f"test_{f}", "f2", 12, f"b{f}")
        )
        cor = (
            "SELECT SUM(CASE WHEN pred_class = o_orderstatus THEN 1 ELSE 0"
            " END) FROM ranked_{t}"
        )
        folds.append(
            f"SELECT {f}::BIGINT AS fold,\n"
            f"  (SELECT COUNT(*) FROM test_{f})::BIGINT AS n_test,\n"
            f"  ({cor.format(t=f'a{f}')})::BIGINT AS correct_f1,\n"
            f"  ({cor.format(t=f'b{f}')})::BIGINT AS correct_f2"
        )
    return f"""
WITH base AS (
  SELECT o_orderkey, o_orderstatus,
         o_orderpriority AS f1,
         EXTRACT(month FROM o_orderdate)::BIGINT AS f2,
         {_PFT_FOLD_SQL} AS fold
  FROM orders
),
{",".join(parts)},
folds AS ({" UNION ALL ".join(folds)}),
d AS (
  SELECT fold, n_test, correct_f1, correct_f2,
         ((correct_f1 - correct_f2 + n_test) * {_PFT_DQ_SCALE}) // n_test
           - {_PFT_DQ_SCALE} AS d_q
  FROM folds
),
tot AS (SELECT SUM(d_q)::BIGINT AS t_sum FROM d),
sq AS (
  SELECT SUM(({_PFT_K} * d.d_q - tot.t_sum)::HUGEINT
             * ({_PFT_K} * d.d_q - tot.t_sum)::HUGEINT) AS s_sum
  FROM d, tot
)
SELECT d.fold, d.n_test, d.correct_f1, d.correct_f2, d.d_q::BIGINT AS d_q,
       ROUND(CAST(tot.t_sum AS DOUBLE)
             / ({_PFT_K}.0 * {_PFT_DQ_SCALE}), 6) AS mean_diff,
       CASE WHEN sq.s_sum = 0 THEN 0.0
            ELSE ROUND(CAST(tot.t_sum AS DOUBLE)
                       * sqrt({_PFT_K * (_PFT_K - 1)}.0
                              / CAST(sq.s_sum AS DOUBLE)), 6)
       END AS t_stat
FROM d, tot, sq
"""


@register("ssl_paired_fold_ttest_nb", _pft_oracle())
def ssl_paired_fold_ttest_nb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired per-fold t-test between the two exact-count NB views
    (priority vs month) over md5-assigned folds: one row per fold
    (fold, n_test, correct_f1, correct_f2, d_q) carrying the shared
    (mean_diff, t_stat). The t-test ALGEBRA (fold pairing, variance,
    the statistic) is driver-checked; the MLlib-model comparison stays
    on the rows-only ``ssl_paired_fold_ttest``.

    Each fold's per-view correct counts are exact sums over the
    (fold, f1, f2, class) contingency grid, replayed on Python ints
    (d_q's floor division has a non-negative numerator); mean_diff and
    t_stat are Spark double expressions over the exact BIGINT/DECIMAL
    values. An empty fold has NULL counts and d_q, and the sums skip
    it, as the oracle's SUMs do."""
    grid = _nb_grid(_nb_rows(spark, sf_dir, fold=_PFT_FOLD_SPARK), lead=("fold",))
    fold_rows = []
    for f in range(_PFT_K):
        train, test = _grid_split(grid, lambda k: k != f, lambda k: k == f)
        p1, p2 = _nb_predictor(train, (0,)), _nb_predictor(train, (1,))
        n_test = sum(n for n, _ in test.values())
        c1 = c2 = d_q = None
        if test:
            c1 = sum(n for cell, (n, _) in test.items() if p1(cell)[0] == cell[-1])
            c2 = sum(n for cell, (n, _) in test.items() if p2(cell)[0] == cell[-1])
            d_q = (c1 - c2 + n_test) * _PFT_DQ_SCALE // n_test - _PFT_DQ_SCALE
        fold_rows.append((f, n_test, c1, c2, d_q))
    dqs = [r[4] for r in fold_rows if r[4] is not None]
    t_sum = sum(dqs) if dqs else None
    s_sum = Decimal(sum((_PFT_K * d - t_sum) ** 2 for d in dqs)) if dqs else None
    d = spark.createDataFrame(
        [(*r, t_sum, s_sum) for r in fold_rows],
        "fold long, n_test long, correct_f1 long, correct_f2 long, "
        "d_q long, t_sum long, s_sum decimal(38,0)",
    )
    t_stat = F.when(F.col("s_sum") == 0, F.lit(0.0)).otherwise(
        F.round(
            F.col("t_sum").cast("double")
            * F.sqrt(
                F.lit(float(_PFT_K * (_PFT_K - 1))) / F.col("s_sum").cast("double")
            ),
            6,
        )
    )
    return d.select(
        "fold",
        "n_test",
        "correct_f1",
        "correct_f2",
        "d_q",
        F.round(
            F.col("t_sum").cast("double") / F.lit(float(_PFT_K * _PFT_DQ_SCALE)),
            6,
        ).alias("mean_diff"),
        t_stat.alias("t_stat"),
    )


# ---------------------------------------------------------------------------
# TWO CoTraining rounds under the FEATURE-split view construction
# (r13, VERDICT r12 #7)
# ---------------------------------------------------------------------------
#
# ``ssl_cotrain_feature_split`` (rows-only, MLlib trees) implements the
# classic Blum & Mitchell 1998 view construction our CoTraining
# operator exposes as ``viewSplit='features'``
# (operators/co_training.py:49): DISJOINT feature halves over ONE
# shared pool, both views' promotions merged into ONE shared labeled
# set with disagreements resolved by the higher posterior. This entry
# oracles that trajectory with the exact-count NB algebra — the
# defining difference from ``ssl_cotrain_two_round_threshold``
# (the reference's cross-teach: each view keeps its OWN labeled pool
# and is taught by the OTHER view's promotions) is the shared
# train_r2 built through a FULL OUTER JOIN disagreement resolution
# (higher conf_q wins; tie → the priority view, deterministic).
#
# Views: the feature vector {f1=priority, f2=month} split into
# {f1} / {f2}. Threshold: the measured _CT2T_THR (0.37) — round 1
# promotes proper subsets of both views at sf0.001/sf0.01; round 2
# promotes its whole residual pool at these SFs (the refit doing real
# work — rows below the cut under the round-1 model cross it after
# the shared-pool refit; same documented behavior as the cross-teach
# threshold entry). Magnitudes: single-feature NB, n^4 — sf1-safe.


def _cotrain2_fsplit_oracle() -> str:
    thr = _CT2T_THR
    flag = f"conf_q > {thr}"
    res_summary = f"""SELECT 1::BIGINT AS rnd, 'resolved' AS view_name, pred_class,
       COUNT(*)::BIGINT AS n_scored,
       COUNT(*)::BIGINT AS n_promoted,
       SUM(CASE WHEN pred_class = o_orderstatus THEN 1 ELSE 0 END)::BIGINT
         AS n_promoted_correct,
       SUM(o_orderkey)::BIGINT AS promoted_key_sum,
       MIN(win_conf)::BIGINT AS min_conf_q
FROM resolved GROUP BY pred_class"""
    return f"""
WITH {_NB1_BASE_SQL},
train_r1 AS (SELECT f1, f2, o_orderstatus AS label FROM labeled),
pool_r1 AS (SELECT o_orderkey, o_orderstatus, f1, f2 FROM unlabeled),
{_ct2_round_sql("train_r1", "pool_r1", "f1", 5, "v1r1")},
{_ct2_round_sql("train_r1", "pool_r1", "f2", 12, "v2r1")},
prom_v1r1 AS (SELECT * FROM ranked_v1r1 WHERE {flag}),
prom_v2r1 AS (SELECT * FROM ranked_v2r1 WHERE {flag}),
resolved AS (
  SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
         COALESCE(a.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
         COALESCE(a.f1, b.f1) AS f1, COALESCE(a.f2, b.f2) AS f2,
         CASE WHEN a.o_orderkey IS NOT NULL
               AND (b.o_orderkey IS NULL OR a.conf_q >= b.conf_q)
              THEN a.pred_class ELSE b.pred_class END AS pred_class,
         CASE WHEN a.o_orderkey IS NOT NULL
               AND (b.o_orderkey IS NULL OR a.conf_q >= b.conf_q)
              THEN a.conf_q ELSE b.conf_q END AS win_conf
  FROM prom_v1r1 a FULL OUTER JOIN prom_v2r1 b ON a.o_orderkey = b.o_orderkey
),
train_r2 AS (
  SELECT * FROM train_r1
  UNION ALL SELECT f1, f2, pred_class AS label FROM resolved
),
pool_r2 AS (
  SELECT a.o_orderkey, a.o_orderstatus, a.f1, a.f2
  FROM ranked_v1r1 a JOIN ranked_v2r1 b ON a.o_orderkey = b.o_orderkey
  WHERE a.conf_q <= {thr} AND b.conf_q <= {thr}
),
{_ct2_round_sql("train_r2", "pool_r2", "f1", 5, "v1r2")},
{_ct2_round_sql("train_r2", "pool_r2", "f2", 12, "v2r2")}
{_ct2_summary_sql("v1r1", 1, "priority", flag)}
UNION ALL
{_ct2_summary_sql("v2r1", 1, "month", flag)}
UNION ALL
{res_summary}
UNION ALL
{_ct2_summary_sql("v1r2", 2, "priority", flag)}
UNION ALL
{_ct2_summary_sql("v2r2", 2, "month", flag)}
"""


@register("ssl_cotrain_two_round_feature_split", _cotrain2_fsplit_oracle())
def ssl_cotrain_two_round_feature_split(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two Blum–Mitchell FEATURE-split co-training rounds (one shared
    labeled set, disagreements resolved by higher quantized posterior,
    tie → priority view): (rnd, view_name, pred_class, n_scored,
    n_promoted, n_promoted_correct, promoted_key_sum, min_conf_q),
    including the rnd-1 'resolved' merge rows. Oracles the
    ``viewSplit='features'`` trajectory of operators/co_training.py:49
    the way ``ssl_cotrain_two_round_threshold`` oracles the
    reference's cross-teach branch (``CoTraining.scala:158-196``).

    Both views' predictions and quantized confidences are constant per
    feature value, so the merge, the shared refit and round 2 replay
    from the contingency grid (see the grid-replay header)."""
    train, pool = _grid_split(_nb_grid(_nb_rows(spark, sf_dir)))
    preds = [_nb_predictor(train, (i,)) for i in (0, 1)]
    cells = _thr_cells(pool, preds, _CT2T_THR)
    sums, pool = _ct2_exchange(cells, preds)
    resolved: dict = {}
    for cell, fl, n, ks in cells:
        if any(fl):
            # disagreement resolution: higher conf_q wins, tie -> priority
            (pa, qa, _), (pb, qb, _) = preds[0](cell), preds[1](cell)
            pred, cq = (pa, qa) if fl[0] and (not fl[1] or qa >= qb) else (pb, qb)
            _tally(resolved, pred, cell[-1], n, ks, cq=cq)
            train[(*cell[:-1], pred)] = train.get((*cell[:-1], pred), 0) + n
    out_rows = (
        _tally_rows(sums[0], 1, "priority", cols=slice(0, 5))
        + _tally_rows(sums[1], 1, "month", cols=slice(0, 5))
        + _tally_rows(resolved, 1, "resolved", cols=slice(0, 5))
    )
    preds = [_nb_predictor(train, (i,)) for i in (0, 1)]
    sums, _ = _ct2_exchange(_thr_cells(pool, preds, _CT2T_THR), preds)
    out_rows += _tally_rows(sums[0], 2, "priority", cols=slice(0, 5))
    out_rows += _tally_rows(sums[1], 2, "month", cols=slice(0, 5))
    return spark.createDataFrame(out_rows, _CT2_SUMMARY_SCHEMA)


# ---------------------------------------------------------------------------
# Two Newton/IRLS steps of logistic regression, ORACLED (r13)
# ---------------------------------------------------------------------------
#
# ``ssl_logreg_irls_grid`` (rows-only, numpy sufficient-stats Newton)
# gets an oracled sibling the way BPE training did: the ITERATIVE
# OPTIMIZER itself is unrolled into relational algebra. Model:
# P(y=1|x) = sigmoid(b0 + b1·x) with y = (o_orderstatus = 'F') and
# x = order month. Because x has 12 distinct values, the dataset
# reduces EXACTLY to 12 cells (x, n_x, k_x) and each Newton step is a
# fixed expression over that bounded grid:
#
# - step 1 from beta = (0,0): p = 1/2 exactly, so the gradient and
#   Hessian are EXACT INTEGER moments (2g = [2sk-sn, 2skx-snx],
#   H = M/4 with M = [[sn,snx],[snx,snxx]]) and beta_1 = 2·M^-1·(2g)/2
#   reduces to two integer cross-products over one integer
#   determinant — single division each, zero libm.
# - step 2: eta = b0_1 + b1_1·x is the same double on both engines
#   (exact-integer inputs, fixed expression tree); each cell's
#   gradient/Hessian contribution is FLOOR-quantized at 10^9 so the
#   cross-cell sums are order-free exact integers (|h11 term| <=
#   x²·n_x·p(1-p)·10^9 ~ 5·10^16 at sf1 — BIGINT; the 2x2 solve's
#   cross-products ~ 10^32 — DECIMAL(38,0)/HUGEINT); the scale
#   cancels in H^-1·g, two final divisions, round 6.
#
# The per-cell step-2 expressions are generated ONCE (_LRN_CELL_EXPRS)
# and evaluated verbatim by both engines (the PACF shared-text
# precedent); exp() is the same libm call both sides (the PMI ln
# precedent).
#
# 100 TB shape: ONE fact-scale groupBy to the 12-cell grid; both
# Newton steps run on bounded relations (the sufficient-stats
# factoring that makes IRLS distributed-friendly in the first place).

_LRN_SCALE = 1_000_000_000

#: step-1 beta numerators/denominator over the integer moments
_LRN_STEP1 = [
    ("det1", "sn * snxx - snx * snx"),
    ("num0", "snxx * (2 * sk - sn) - snx * (2 * skx - snx)"),
    ("num1", "sn * (2 * skx - snx) - snx * (2 * sk - sn)"),
    ("b0_1", "CAST(2 * num0 AS DOUBLE) / det1"),
    ("b1_1", "CAST(2 * num1 AS DOUBLE) / det1"),
]

#: step-2 per-cell quantized contributions (evaluated on cells x step1)
_LRN_CELL_EXPRS = [
    ("p", "1.0 / (1.0 + exp(-(b0_1 + b1_1 * x)))"),
    ("gq0", f"CAST(FLOOR((k_x - n_x * p) * {_LRN_SCALE}) AS BIGINT)"),
    ("gq1", f"CAST(FLOOR(x * (k_x - n_x * p) * {_LRN_SCALE}) AS BIGINT)"),
    ("hq00", f"CAST(FLOOR(n_x * p * (1.0 - p) * {_LRN_SCALE}) AS BIGINT)"),
    ("hq01", f"CAST(FLOOR(x * n_x * p * (1.0 - p) * {_LRN_SCALE}) AS BIGINT)"),
    (
        "hq11",
        f"CAST(FLOOR(x * x * n_x * p * (1.0 - p) * {_LRN_SCALE}) AS BIGINT)",
    ),
]


def _lrn_oracle() -> str:
    step1_cols = ",\n         ".join(
        f"({expr}) AS {alias}" for alias, expr in _LRN_STEP1
    )
    cell_ctes = ""
    prev = "c2"
    for i, (alias, expr) in enumerate(_LRN_CELL_EXPRS):
        name = f"e{i}"
        cell_ctes += f"{name} AS (SELECT *, ({expr}) AS {alias} FROM {prev}),\n"
        prev = name
    return f"""
WITH cells AS (
  SELECT EXTRACT(month FROM o_orderdate)::BIGINT AS x,
         COUNT(*)::BIGINT AS n_x,
         SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)::BIGINT AS k_x
  FROM orders GROUP BY 1
),
m AS (
  SELECT SUM(n_x)::BIGINT AS sn, SUM(k_x)::BIGINT AS sk,
         SUM(n_x * x)::BIGINT AS snx, SUM(k_x * x)::BIGINT AS skx,
         SUM(n_x * x * x)::BIGINT AS snxx
  FROM cells
),
step1 AS (
  SELECT sn,
         {step1_cols}
  FROM m
),
c2 AS (SELECT c.*, s.b0_1, s.b1_1, s.sn FROM cells c CROSS JOIN step1 s),
{cell_ctes}sums AS (
  SELECT MAX(sn) AS n, MAX(b0_1) AS b0_1, MAX(b1_1) AS b1_1,
         SUM(gq0)::BIGINT AS sg0, SUM(gq1)::BIGINT AS sg1,
         SUM(hq00)::BIGINT AS sh00, SUM(hq01)::BIGINT AS sh01,
         SUM(hq11)::BIGINT AS sh11
  FROM {prev}
)
SELECT CAST(n AS BIGINT) AS n,
       ROUND(b0_1, 6) AS b0_step1,
       ROUND(b1_1, 6) AS b1_step1,
       ROUND(b0_1 + CAST(sh11::HUGEINT * sg0 - sh01::HUGEINT * sg1 AS DOUBLE)
                    / CAST(sh00::HUGEINT * sh11 - sh01::HUGEINT * sh01
                           AS DOUBLE), 6) AS b0_step2,
       ROUND(b1_1 + CAST(sh00::HUGEINT * sg1 - sh01::HUGEINT * sg0 AS DOUBLE)
                    / CAST(sh00::HUGEINT * sh11 - sh01::HUGEINT * sh01
                           AS DOUBLE), 6) AS b1_step2
FROM sums
"""


@register("ssl_logreg_newton_two_step", _lrn_oracle())
def ssl_logreg_newton_two_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two unrolled Newton/IRLS steps of single-feature logistic
    regression (y = order-is-F on order month), computed entirely on
    the 12-cell sufficient-statistics grid: (n, b0_step1, b1_step1,
    b0_step2, b1_step2). The oracled sibling of the rows-only
    ``ssl_logreg_irls_grid`` — the optimizer's MATH is driver-checked;
    the multi-feature numpy tier stays rows-only."""
    orders = load_table(spark, sf_dir, "orders")
    cells = orders.groupBy(
        F.month("o_orderdate").cast("bigint").alias("x")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_x"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
        .cast("bigint")
        .alias("k_x"),
    )
    m = cells.agg(
        F.sum("n_x").cast("bigint").alias("sn"),
        F.sum("k_x").cast("bigint").alias("sk"),
        F.sum(F.col("n_x") * F.col("x")).cast("bigint").alias("snx"),
        F.sum(F.col("k_x") * F.col("x")).cast("bigint").alias("skx"),
        F.sum(F.col("n_x") * F.col("x") * F.col("x"))
        .cast("bigint")
        .alias("snxx"),
    )
    step1 = m
    for alias, expr in _LRN_STEP1:
        step1 = step1.selectExpr("*", f"({expr}) AS {alias}")
    step1 = step1.select("sn", "b0_1", "b1_1")
    c2 = cells.crossJoin(F.broadcast(step1))
    for alias, expr in _LRN_CELL_EXPRS:
        c2 = c2.selectExpr("*", f"({expr}) AS {alias}")
    dec = "decimal(38,0)"
    sums = c2.agg(
        F.max("sn").alias("n"),
        F.max("b0_1").alias("b0_1"),
        F.max("b1_1").alias("b1_1"),
        F.sum("gq0").cast(dec).alias("sg0"),
        F.sum("gq1").cast(dec).alias("sg1"),
        F.sum("hq00").cast(dec).alias("sh00"),
        F.sum("hq01").cast(dec).alias("sh01"),
        F.sum("hq11").cast(dec).alias("sh11"),
    )
    det2 = (
        F.col("sh00") * F.col("sh11") - F.col("sh01") * F.col("sh01")
    ).cast("double")
    d0 = (F.col("sh11") * F.col("sg0") - F.col("sh01") * F.col("sg1")).cast(
        "double"
    )
    d1 = (F.col("sh00") * F.col("sg1") - F.col("sh01") * F.col("sg0")).cast(
        "double"
    )
    return sums.select(
        F.col("n").cast("bigint").alias("n"),
        F.round("b0_1", 6).alias("b0_step1"),
        F.round("b1_1", 6).alias("b1_step1"),
        F.round(F.col("b0_1") + d0 / det2, 6).alias("b0_step2"),
        F.round(F.col("b1_1") + d1 / det2, 6).alias("b1_step2"),
    )


# ---------------------------------------------------------------------------
# TWO CoTraining rounds under the reference's INSTANCE-split view
# construction (r13) — completes the multi-round trio
# ---------------------------------------------------------------------------
#
# ``CoTraining.scala:137-142`` is the reference's actual deviation
# from Blum–Mitchell: the labeled AND unlabeled pools are each split
# 50/50 (seed 8 there; a portable md5 half here — note the 'i' salt
# keeps the half independent of the labeled/unlabeled mask), and two
# copies of the SAME classifier (single-feature NB on f1) cross-teach:
# model A's confident pseudo-labels join model B's labeled pool and
# vice versa (``:172-173``, ``:215-216``), each model consuming its
# OWN unlabeled half. With the f1/f2 cross-teach trajectory
# (``ssl_cotrain_two_round_nb`` / ``_threshold``) and the shared-pool
# feature split (``_feature_split``), this oracles all three view
# constructions as multi-round trajectories.
#
# Threshold 0.36 (quantized 10^12) is the measured sweet spot for the
# HALF-data NB posteriors: round 1 promotes proper subsets of both
# pools at sf0.001 AND sf0.01 (461/584, 485/601; 2312/5916,
# 3601/6037), round 2 promotes nonzero for both views — PROPER subsets
# at sf0.01 (2460/3604, 1189/2436) — while 0.35 promotes whole pools
# in round 1 (empty round 2) and the f1/f2 entry's 0.37 zeroes view
# A's round 2 at sf0.01.

_CTI_THR = 360_000_000_000
_CTI_HALF_KEY_SQL = "md5('i' || CAST(o_orderkey AS VARCHAR))"
_CTI_HALF_KEY_SPARK = "md5('i' || CAST(o_orderkey AS STRING))"


def _cotrain2_instance_oracle() -> str:
    thr = _CTI_THR
    flag = f"conf_q > {thr}"
    half = f"({md5_uniform16_sql(_CTI_HALF_KEY_SQL)} % 2)"
    return f"""
WITH {_NB1_BASE_SQL},
lab_a AS (SELECT f1, f2, o_orderstatus AS label FROM labeled
          WHERE {half} = 0),
lab_b AS (SELECT f1, f2, o_orderstatus AS label FROM labeled
          WHERE {half} = 1),
pool_a AS (SELECT o_orderkey, o_orderstatus, f1, f2 FROM unlabeled
           WHERE {half} = 0),
pool_b AS (SELECT o_orderkey, o_orderstatus, f1, f2 FROM unlabeled
           WHERE {half} = 1),
{_ct2_round_sql("lab_a", "pool_a", "f1", 5, "va1")},
{_ct2_round_sql("lab_b", "pool_b", "f1", 5, "vb1")},
prom_a AS (SELECT * FROM ranked_va1 WHERE {flag}),
prom_b AS (SELECT * FROM ranked_vb1 WHERE {flag}),
tr_a2 AS (SELECT * FROM lab_a
          UNION ALL SELECT f1, f2, pred_class AS label FROM prom_b),
tr_b2 AS (SELECT * FROM lab_b
          UNION ALL SELECT f1, f2, pred_class AS label FROM prom_a),
pl_a2 AS (SELECT o_orderkey, o_orderstatus, f1, f2 FROM ranked_va1
          WHERE conf_q <= {thr}),
pl_b2 AS (SELECT o_orderkey, o_orderstatus, f1, f2 FROM ranked_vb1
          WHERE conf_q <= {thr}),
{_ct2_round_sql("tr_a2", "pl_a2", "f1", 5, "va2")},
{_ct2_round_sql("tr_b2", "pl_b2", "f1", 5, "vb2")}
{_ct2_summary_sql("va1", 1, "half_a", flag)}
UNION ALL
{_ct2_summary_sql("vb1", 1, "half_b", flag)}
UNION ALL
{_ct2_summary_sql("va2", 2, "half_a", flag)}
UNION ALL
{_ct2_summary_sql("vb2", 2, "half_b", flag)}
"""


@register("ssl_cotrain_two_round_instance_split", _cotrain2_instance_oracle())
def ssl_cotrain_two_round_instance_split(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two co-training rounds under the reference's INSTANCE-split
    construction (``CoTraining.scala:137-142``): labeled and unlabeled
    pools hash-halved, two copies of the same single-feature NB
    cross-teach, each consuming its own pool half. (rnd, view_name,
    pred_class, n_scored, n_promoted, n_promoted_correct,
    promoted_key_sum, min_conf_q).

    Each half's prediction and quantized confidence are constant per
    f1 value, so both rounds replay from the (mask, half) contingency
    grid (see the grid-replay header)."""
    half = f"({md5_uniform16_spark_sql(_CTI_HALF_KEY_SPARK)} % 2)"
    grid = _nb_grid(_nb_rows(spark, sf_dir, half=half), lead=("mask", "half"))
    trains, pools = [], []
    for h in (0, 1):
        lab, pool = _grid_split(
            grid,
            lambda m, x, h=h: m == 0 and x == h,
            lambda m, x, h=h: m != 0 and x == h,
        )
        trains.append(lab)
        pools.append(pool)
    out_rows = []
    for rnd in (1, 2):
        preds = [_nb_predictor(tr, (0,)) for tr in trains]
        for h, view in ((0, "half_a"), (1, "half_b")):
            sums: dict = {}
            rest: dict = {}
            for cell, (n, ks) in pools[h].items():
                pred, cq, _ = preds[h](cell)
                _tally(sums, pred, cell[-1], n, ks, cq > _CTI_THR, cq)
                if cq > _CTI_THR:
                    # cross-teach: this half's promotions join the
                    # other half's training pool
                    key = (*cell[:-1], pred)
                    trains[1 - h][key] = trains[1 - h].get(key, 0) + n
                else:
                    rest[cell] = (n, ks)
            pools[h] = rest
            out_rows += _tally_rows(sums, rnd, view, cols=slice(0, 5))
    return spark.createDataFrame(out_rows, _CT2_SUMMARY_SCHEMA)


# ---------------------------------------------------------------------------
# EXACT tie-aware ROC-AUC via Mann–Whitney rank-sum (r13)
# ---------------------------------------------------------------------------
#
# The PR curve above enumerates operating points; this is the other
# canonical ranking metric — the exact probability a random positive
# outranks a random negative, with the standard 1/2 credit for ties:
#
#   AUC = [ Σ_s p_s·G_below(s) + p_s·g_s/2 ] / (n_pos·n_neg)
#
# over the distinct quantized-score grid (p_s/g_s = positives/
# negatives at score s, G_below = negatives strictly below). Doubling
# clears the half: 2U = Σ 2·p_s·G_below + p_s·g_s is an EXACT BIGINT
# (≤ 2·n_pos·n_neg ~ 10^12 at sf1), so the only division is the final
# AUC — round 6. Scores are the PR curve's quantized two-feature NB
# posteriors (shared _nb2_scored builder; colliding posteriors tie,
# identically on both engines — exactly what the tie term is for).
#
# 100 TB shape: one groupBy to the bounded score grid, one window
# cumsum over it, one aggregate. (MLlib's own areaUnderROC is the
# rows-only tier; this is its exact relational twin.)


def _roc_auc_oracle() -> str:
    return f"""
WITH {_nb2_scored_sql()},
probs AS (
  SELECT o_orderstatus,
         ((a_F * b_O * b_P) * {_PR_SCORE_SCALE})
           // (a_F * b_O * b_P + a_O * b_F * b_P + a_P * b_F * b_O)
           AS score_q
  FROM scored
),
grid AS (
  SELECT score_q,
         SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)::BIGINT AS p_s,
         SUM(CASE WHEN o_orderstatus = 'F' THEN 0 ELSE 1 END)::BIGINT AS g_s
  FROM probs GROUP BY score_q
),
cum AS (
  SELECT p_s, g_s,
         COALESCE(SUM(g_s) OVER (ORDER BY score_q
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS g_below
  FROM grid
),
tot AS (SELECT SUM(p_s)::BIGINT AS np, SUM(g_s)::BIGINT AS ng FROM grid),
u AS (SELECT SUM(2 * p_s * g_below + p_s * g_s)::BIGINT AS u2 FROM cum)
SELECT t.np AS n_pos, t.ng AS n_neg, u.u2 AS u2,
       ROUND(CAST(u.u2 AS DOUBLE) / (2.0 * t.np * t.ng), 6) AS auc
FROM u CROSS JOIN tot t
"""


@register("ssl_roc_auc_nb", _roc_auc_oracle())
def ssl_roc_auc_nb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-aware ROC-AUC (Mann–Whitney rank-sum) of the
    two-feature NB's class-F posterior over the unlabeled pool:
    (n_pos, n_neg, u2, auc). Shares the PR curve's score grid; the
    only division is the final AUC.

    The rank-sum replays from the contingency grid on Python ints
    (``_f_score_grid``); the AUC division keeps the Spark double
    semantics. Over an empty pool every column is NULL, as the
    oracle's SUMs are."""
    grid = _f_score_grid(spark, sf_dir)
    n_pos = n_neg = u2 = None
    if grid:
        n_pos = sum(p for p, _ in grid.values())
        n_neg = sum(g for _, g in grid.values())
        u2 = g_below = 0
        for sq in sorted(grid):
            p_s, g_s = grid[sq]
            u2 += 2 * p_s * g_below + p_s * g_s
            g_below += g_s
    return spark.createDataFrame(
        [(n_pos, n_neg, u2)], "np long, ng long, u2 long"
    ).select(
        F.col("np").alias("n_pos"),
        F.col("ng").alias("n_neg"),
        "u2",
        F.round(
            F.col("u2").cast("double") / (2.0 * F.col("np") * F.col("ng")), 6
        ).alias("auc"),
    )


# ---------------------------------------------------------------------------
# Depth-1 DECISION STUMP self-training — the oracled siblings for the
# reference's tree-classifier branch (r14, VERDICT r13 #5).
# ---------------------------------------------------------------------------
#
# ``ssl_selftrain_threshold`` / ``ssl_selftrain_kbest`` run MLlib's
# DecisionTreeClassifier inside SelfTraining (rows-only: MLlib's tree
# internals aren't SQL-expressible), so until r14 the TREE branch of
# ``SemiSupervisedAndBaseClassifiers.scala:140-143`` had no
# oracle-checked sibling — NB/LR got theirs (exact-count NB rounds,
# IRLS). A depth-1 stump IS exactly expressible: candidate splits are
# a bounded grid (one-vs-rest on the categorical o_orderpriority,
# <=thr on month), the CART split criterion reduces to exact integer
# algebra, and the fitted stump is a CASE WHEN.
#
# Split score: weighted Gini impurity after a binary split is
# n_total - (SL/nL + SR/nR) with S = sum of squared per-class counts,
# so MINIMIZING impurity == MAXIMIZING (SL*nR + SR*nL)/(nL*nR) —
# quantized to score_q = floor(num * 10^9 / den), exact integers on
# both engines (HUGEINT // vs the DECIMAL(38,0) pmod-subtract).
# Magnitude: num <= 2*n^3*10^9 ~ 7e27 at sf1 — inside DECIMAL(38,0).
#
# Promotion threshold: leaf confidences measured at the winning split
# (leaf posteriors floor(n_max*10^12/n_leaf)): sf0.001 left/right
# 0.4211/0.3643, sf0.01 0.3839/0.3412 — _CT2T_THR (0.37) sits between
# them at BOTH gate SFs, so exactly the left leaf promotes: a proper,
# non-empty subset of the pool (57-leaf stump side at sf0.001, 620 at
# sf0.01 of the labeled grid; pool promotions measured nonzero).
# At sf0.1 both leaves fall below 0.37 (0.3556/0.3361) and the
# promotion columns are zero — same documented single-constant trade
# as the co-training threshold entries; the two output rows (one per
# leaf) keep the entry non-vacuous at every SF.
#
# Scale: the ONLY fact-scale work is one groupBy of the labeled pool
# to the (f1, f2, class) grid (~180 cells) and one pass assigning the
# unlabeled pool to leaves; everything between is bounded 16-row
# algebra. Same sufficient-statistics shape as the NB/IRLS entries.

_STUMP_SCORE_SCALE = 1_000_000_000  # 10^9


def _fd(num, den):
    """Exact integer floor-division on DECIMAL(38,0) (operands
    nonnegative): (num - pmod(num, den)) / den — the divisible
    numerator makes the decimal division exact (never F.floor over a
    rounded quotient)."""
    return ((num - F.pmod(num, den)) / den).cast("decimal(38,0)")

_STUMP_GRID_SQL = """grid AS (
  SELECT f1, f2, o_orderstatus AS cls, COUNT(*)::HUGEINT AS cnt
  FROM labeled GROUP BY 1, 2, 3
),
splits AS (
  SELECT (ROW_NUMBER() OVER (ORDER BY f1) - 1)::BIGINT AS split_id,
         'f1' AS feat, f1 AS sval, CAST(NULL AS BIGINT) AS thr
  FROM (SELECT DISTINCT f1 FROM labeled)
  UNION ALL
  SELECT (100 + t)::BIGINT, 'f2', CAST(NULL AS VARCHAR), t::BIGINT
  FROM (SELECT unnest(generate_series(1, 11)) AS t)
),
per_side_cls AS (
  SELECT s.split_id, s.feat, s.sval, s.thr,
         CASE WHEN (s.feat = 'f1' AND g.f1 = s.sval)
               OR (s.feat = 'f2' AND g.f2 <= s.thr) THEN 1 ELSE 0
         END AS is_left,
         g.cls, SUM(g.cnt) AS n
  FROM grid g CROSS JOIN splits s
  GROUP BY 1, 2, 3, 4, 5, 6
),
per_split AS (
  SELECT split_id, feat, sval, thr,
         SUM(CASE WHEN is_left = 1 THEN n ELSE 0 END) AS n_left,
         SUM(CASE WHEN is_left = 0 THEN n ELSE 0 END) AS n_right,
         SUM(CASE WHEN is_left = 1 THEN n * n ELSE 0 END) AS sl,
         SUM(CASE WHEN is_left = 0 THEN n * n ELSE 0 END) AS sr
  FROM per_side_cls GROUP BY 1, 2, 3, 4
),
scored AS (
  SELECT split_id, feat, sval, thr, n_left, n_right,
         ((sl * n_right + sr * n_left) * {scale})
           // (n_left * n_right) AS score_q
  FROM per_split WHERE n_left > 0 AND n_right > 0
)"""


def _stump_audit_oracle() -> str:
    grid = _STUMP_GRID_SQL.format(scale=_STUMP_SCORE_SCALE)
    return f"""
WITH {_NB1_BASE_SQL},
{grid}
SELECT split_id, feat, COALESCE(sval, CAST(thr AS VARCHAR)) AS split_val,
       n_left::BIGINT AS n_left, n_right::BIGINT AS n_right,
       score_q::BIGINT AS score_q,
       (ROW_NUMBER() OVER (ORDER BY score_q DESC, split_id))::BIGINT AS rk
FROM scored
"""


@register("ssl_stump_split_audit", _stump_audit_oracle())
def ssl_stump_split_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CART split-selection grid for a depth-1 stump over the labeled
    pool: every candidate split (one-vs-rest on f1, <=thr on f2) with
    its side sizes, exact quantized purity score and rank — (split_id,
    feat, split_val, n_left, n_right, score_q, rk). rk=1 is the stump
    MLlib's DecisionTreeClassifier(maxDepth=1) would pick under Gini;
    the split-choice math is driver-checked and pinned against a
    plain-Python reimplementation (tests/test_r14_shapes.py)."""
    from pyspark.sql import Window

    labeled, _ = _nb1_base(spark, sf_dir)
    scored = _stump_scored(spark, labeled)
    w = Window.orderBy(F.desc("score_q"), "split_id")
    return scored.select(
        "split_id",
        "feat",
        F.coalesce("sval", F.col("thr").cast("string")).alias("split_val"),
        F.col("n_left").cast("bigint").alias("n_left"),
        F.col("n_right").cast("bigint").alias("n_right"),
        F.col("score_q").cast("bigint").alias("score_q"),
        F.row_number().over(w).cast("bigint").alias("rk"),
    )


def _stump_scored(spark: SparkSession, labeled: DataFrame) -> DataFrame:
    """Candidate-split score grid (split_id, feat, sval, thr, n_left,
    n_right, score_q) — bounded (~16 rows); exact DECIMAL algebra."""
    grid = labeled.groupBy("f1", "f2", F.col("o_orderstatus").alias("cls")).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("cnt")
    )
    from pyspark.sql import Window

    f1_splits = (
        labeled.select("f1")
        .distinct()
        .select(
            (F.row_number().over(Window.orderBy("f1")) - 1)
            .cast("bigint")
            .alias("split_id"),
            F.lit("f1").alias("feat"),
            F.col("f1").alias("sval"),
            F.lit(None).cast("bigint").alias("thr"),
        )
    )
    f2_splits = spark.range(1, 12).select(
        (F.col("id") + 100).cast("bigint").alias("split_id"),
        F.lit("f2").alias("feat"),
        F.lit(None).cast("string").alias("sval"),
        F.col("id").cast("bigint").alias("thr"),
    )
    splits = f1_splits.unionByName(f2_splits)
    is_left = F.when(
        ((F.col("feat") == "f1") & (F.col("f1") == F.col("sval")))
        | ((F.col("feat") == "f2") & (F.col("f2") <= F.col("thr"))),
        1,
    ).otherwise(0)
    per_side_cls = (
        grid.crossJoin(F.broadcast(splits))
        .select("split_id", "feat", "sval", "thr", is_left.alias("is_left"), "cls", "cnt")
        .groupBy("split_id", "feat", "sval", "thr", "is_left", "cls")
        .agg(F.sum("cnt").cast("decimal(38,0)").alias("n"))
    )
    z = F.lit(0).cast("decimal(38,0)")
    per_split = per_side_cls.groupBy("split_id", "feat", "sval", "thr").agg(
        F.sum(F.when(F.col("is_left") == 1, F.col("n")).otherwise(z))
        .cast("decimal(38,0)")
        .alias("n_left"),
        F.sum(F.when(F.col("is_left") == 0, F.col("n")).otherwise(z))
        .cast("decimal(38,0)")
        .alias("n_right"),
        F.sum(
            F.when(F.col("is_left") == 1, F.col("n") * F.col("n")).otherwise(z)
        )
        .cast("decimal(38,0)")
        .alias("sl"),
        F.sum(
            F.when(F.col("is_left") == 0, F.col("n") * F.col("n")).otherwise(z)
        )
        .cast("decimal(38,0)")
        .alias("sr"),
    )
    num = (
        F.col("sl") * F.col("n_right") + F.col("sr") * F.col("n_left")
    ) * F.lit(_STUMP_SCORE_SCALE)
    den = F.col("n_left") * F.col("n_right")
    return per_split.where(
        (F.col("n_left") > 0) & (F.col("n_right") > 0)
    ).select(
        "split_id",
        "feat",
        "sval",
        "thr",
        "n_left",
        "n_right",
        _fd(num, den).alias("score_q"),
    )


def _stump_threshold_oracle() -> str:
    grid = _STUMP_GRID_SQL.format(scale=_STUMP_SCORE_SCALE)
    thr = _CT2T_THR
    return f"""
WITH {_NB1_BASE_SQL},
{grid},
winner AS (
  SELECT split_id, feat, sval, thr FROM scored
  ORDER BY score_q DESC, split_id LIMIT 1
),
lab_leaf AS (
  SELECT CASE WHEN (w.feat = 'f1' AND l.f1 = w.sval)
               OR (w.feat = 'f2' AND l.f2 <= w.thr) THEN 1 ELSE 0
         END AS leaf,
         l.o_orderstatus AS cls, COUNT(*)::HUGEINT AS n
  FROM labeled l CROSS JOIN winner w GROUP BY 1, 2
),
leafstats AS (
  SELECT leaf, cls AS pred_class, n_leaf,
         ((n * {_KBEST_CONF_SCALE}) // n_leaf) AS conf_q
  FROM (
    SELECT leaf, cls, n, SUM(n) OVER (PARTITION BY leaf) AS n_leaf,
           ROW_NUMBER() OVER (PARTITION BY leaf ORDER BY n DESC, cls) AS rn
    FROM lab_leaf
  ) WHERE rn = 1
),
pool_leaf AS (
  SELECT CASE WHEN (w.feat = 'f1' AND u.f1 = w.sval)
               OR (w.feat = 'f2' AND u.f2 <= w.thr) THEN 1 ELSE 0
         END AS leaf,
         u.o_orderkey, u.o_orderstatus
  FROM unlabeled u CROSS JOIN winner w
)
SELECT ls.leaf::BIGINT AS leaf, ls.pred_class,
       ls.n_leaf::BIGINT AS n_leaf, ls.conf_q::BIGINT AS conf_q,
       SUM(CASE WHEN p.o_orderkey IS NOT NULL AND ls.conf_q > {thr}
                THEN 1 ELSE 0 END)::BIGINT AS n_promoted,
       SUM(CASE WHEN p.o_orderkey IS NOT NULL AND ls.conf_q > {thr}
                 AND p.o_orderstatus = ls.pred_class
                THEN 1 ELSE 0 END)::BIGINT AS n_promoted_correct,
       SUM(CASE WHEN p.o_orderkey IS NOT NULL AND ls.conf_q > {thr}
                THEN p.o_orderkey ELSE 0 END)::BIGINT AS promoted_key_sum
FROM leafstats ls LEFT JOIN pool_leaf p ON p.leaf = ls.leaf
GROUP BY 1, 2, 3, 4
"""


@register("ssl_stump_one_round_threshold", _stump_threshold_oracle())
def ssl_stump_one_round_threshold(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One THRESHOLD-criterion SelfTraining promotion round with a
    depth-1 Gini stump as the base classifier — the tree-branch
    sibling of ``ssl_selftrain_one_round_nb``: (leaf, pred_class,
    n_leaf, conf_q, n_promoted, n_promoted_correct,
    promoted_key_sum), one row per stump leaf. The leaf posterior is
    constant per leaf, so the _CT2T_THR cut promotes exactly the
    high-confidence leaf at both gate SFs (measured: left/right
    0.4211/0.3643 at sf0.001, 0.3839/0.3412 at sf0.01)."""
    labeled, unlabeled = _nb1_base(spark, sf_dir)
    scored = _stump_scored(spark, labeled)
    win = (
        scored.orderBy(F.desc("score_q"), "split_id")
        .select("feat", "sval", "thr")
        .limit(1)
        .collect()[0]
    )
    if win["feat"] == "f1":
        member = F.col("f1") == F.lit(win["sval"])
    else:
        member = F.col("f2") <= F.lit(int(win["thr"]))
    leaf_col = F.when(member, 1).otherwise(0).alias("leaf")
    lab_leaf = labeled.select(
        leaf_col, F.col("o_orderstatus").alias("cls")
    ).groupBy("leaf", "cls").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n")
    )
    from pyspark.sql import Window

    wl = Window.partitionBy("leaf")
    wr = Window.partitionBy("leaf").orderBy(F.desc("n"), "cls")
    num = F.col("n") * F.lit(_KBEST_CONF_SCALE)
    leafstats = (
        lab_leaf.withColumn("n_leaf", F.sum("n").over(wl))
        .withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") == 1)
        .select(
            "leaf",
            F.col("cls").alias("pred_class"),
            "n_leaf",
            _fd(num, F.col("n_leaf")).alias("conf_q"),
        )
    )
    pool_leaf = unlabeled.select(leaf_col, "o_orderkey", "o_orderstatus")
    thr = F.lit(_CT2T_THR).cast("decimal(38,0)")
    out = (
        leafstats.alias("ls")
        .join(pool_leaf.alias("p"), "leaf", "left")
        .groupBy(
            F.col("leaf"),
            F.col("pred_class"),
            F.col("n_leaf"),
            F.col("conf_q"),
        )
        .agg(
            F.sum(
                F.when(
                    F.col("o_orderkey").isNotNull() & (F.col("conf_q") > thr),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_promoted"),
            F.sum(
                F.when(
                    F.col("o_orderkey").isNotNull()
                    & (F.col("conf_q") > thr)
                    & (F.col("o_orderstatus") == F.col("pred_class")),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_promoted_correct"),
            F.sum(
                F.when(
                    F.col("o_orderkey").isNotNull() & (F.col("conf_q") > thr),
                    F.col("o_orderkey"),
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("promoted_key_sum"),
        )
        .select(
            F.col("leaf").cast("bigint").alias("leaf"),
            "pred_class",
            F.col("n_leaf").cast("bigint").alias("n_leaf"),
            F.col("conf_q").cast("bigint").alias("conf_q"),
            "n_promoted",
            "n_promoted_correct",
            "promoted_key_sum",
        )
    )
    return out
