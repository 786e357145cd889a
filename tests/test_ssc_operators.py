"""SSC operator tests: invariants the reference's behavior implies
(SURVEY.md §5): masked fraction ~ p, promoted ⊆ unlabeled (pool sizes
monotone), iterations ≤ maxIter, metrics in [0,1], deterministic seeds.
"""

from __future__ import annotations

import math

import pytest
from pyspark.ml import Pipeline
from pyspark.ml.classification import DecisionTreeClassifier, LinearSVC
from pyspark.sql import functions as F

from tfm_semisup_spark.featurization import ArrayToVector
from tfm_semisup_spark.io import load_table
from tfm_semisup_spark.operators.co_training import CoTraining
from tfm_semisup_spark.operators.evaluation import (
    cross_validate,
    metrics_from_confusion,
)
from tfm_semisup_spark.operators.grid import build_ssl_grid, run_experiment_grid
from tfm_semisup_spark.operators.self_training import SelfTraining, require_probabilistic
from tfm_semisup_spark.operators.supervised import Supervised
from tfm_semisup_spark.operators.unlabeled import (
    DeterministicLabelMasker,
    UnlabeledTransformer,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def labeled_points(spark):
    emb = load_table(spark, SF, "embeddings")
    df = ArrayToVector(inputCol="embedding", outputCol="features").transform(emb)
    # binary task: label 1 vs rest (reference datasets are binary)
    return df.select(
        "vec_id",
        "features",
        F.when(F.col("label") == 1, 1.0).otherwise(0.0).alias("label"),
    ).cache()


def test_unlabeled_transformer_masks_fraction(labeled_points):
    out = UnlabeledTransformer(percentageLabeled=0.3, seed=11).transform(labeled_points)
    total = out.count()
    assert total == labeled_points.count()  # no row loss
    n_unlab = out.where(F.isnan("labelSelection")).count()
    assert 0.5 < n_unlab / total < 0.9  # ~0.7 expected
    # labeled rows keep their label
    assert (
        out.where(~F.isnan("labelSelection"))
        .where(F.col("labelSelection") != F.col("label"))
        .count()
        == 0
    )
    # seeded determinism
    again = UnlabeledTransformer(percentageLabeled=0.3, seed=11).transform(labeled_points)
    assert again.where(F.isnan("labelSelection")).count() == n_unlab


def test_deterministic_masker_exact_and_stable(labeled_points):
    masker = DeterministicLabelMasker(percentageLabeled=0.1, idCol="vec_id", seed=7)
    out = masker.transform(labeled_points)
    kept1 = sorted(r["vec_id"] for r in out.where(~F.isnan("labelSelection")).collect())
    kept2 = sorted(
        r["vec_id"]
        for r in masker.transform(labeled_points.repartition(13)).where(
            ~F.isnan("labelSelection")
        ).collect()
    )
    assert kept1 == kept2  # partitioning-independent membership
    assert 0.05 < len(kept1) / out.count() < 0.15


def test_require_probabilistic_rejects_svc():
    with pytest.raises(TypeError):
        require_probabilistic(LinearSVC())


def test_self_training_threshold(labeled_points):
    data = UnlabeledTransformer(percentageLabeled=0.3, seed=11).transform(labeled_points)
    st = SelfTraining(
        baseClassifier=DecisionTreeClassifier(seed=5), threshold=0.75, maxIter=4
    )
    model = st.fit(data)
    s = model.ss_summary
    assert s.labeled_initial + s.unlabeled_initial == labeled_points.count()
    assert s.labeled_final >= s.labeled_initial
    assert s.unlabeled_final <= s.unlabeled_initial
    assert s.labeled_final + s.unlabeled_final == labeled_points.count()
    assert 1 <= s.iterations <= 4
    preds = model.transform(labeled_points)
    assert preds.where(F.col("prediction").isNull()).count() == 0


def test_self_training_kbest(labeled_points):
    data = UnlabeledTransformer(percentageLabeled=0.3, seed=11).transform(labeled_points)
    st = SelfTraining(
        baseClassifier=DecisionTreeClassifier(seed=5),
        criterion="kBest",
        kBest=0.5,
        maxIter=3,
    )
    model = st.fit(data)
    s = model.ss_summary
    # per-iteration budget k = round(0.5 * U / 2), rounded half up like
    # the reference's Scala math.round; after ≤2 promotions
    expected_k = math.floor(0.5 * s.unlabeled_initial / 2 + 0.5)
    assert s.labeled_final - s.labeled_initial <= 2 * expected_k
    assert s.labeled_final > s.labeled_initial


def test_co_training_threshold(labeled_points):
    data = UnlabeledTransformer(percentageLabeled=0.3, seed=11).transform(labeled_points)
    ct = CoTraining(
        baseClassifier=DecisionTreeClassifier(seed=5), threshold=0.75, maxIter=3
    )
    model = ct.fit(data)
    s = model.ss_summary
    assert s.labeled_initial + s.unlabeled_initial == labeled_points.count()
    assert s.labeled_final >= s.labeled_initial
    assert 1 <= s.iterations <= 3
    assert model.transform(labeled_points).select("prediction").distinct().count() <= 2


def test_co_training_feature_split_threshold(labeled_points):
    """viewSplit='features' (Blum-Mitchell): disjoint half-vector views
    over one shared pool; summary bookkeeping must balance and the
    final model predicts on the FULL feature vector."""
    data = UnlabeledTransformer(percentageLabeled=0.3, seed=11).transform(labeled_points)
    ct = CoTraining(
        baseClassifier=DecisionTreeClassifier(seed=5),
        threshold=0.75,
        maxIter=3,
        viewSplit="features",
    )
    model = ct.fit(data)
    s = model.ss_summary
    assert s.labeled_initial + s.unlabeled_initial == labeled_points.count()
    assert s.labeled_final + s.unlabeled_final == labeled_points.count()
    assert s.labeled_final >= s.labeled_initial
    assert 1 <= s.iterations <= 3
    preds = model.transform(labeled_points)
    assert preds.count() == labeled_points.count()
    assert preds.select("prediction").distinct().count() <= 2


def test_co_training_feature_split_kbest(labeled_points):
    data = UnlabeledTransformer(percentageLabeled=0.4, seed=11).transform(labeled_points)
    ct = CoTraining(
        baseClassifier=DecisionTreeClassifier(seed=5),
        criterion="kBest",
        kBest=0.5,
        maxIter=3,
        viewSplit="features",
    )
    s = ct.fit(data).ss_summary
    # kBest promotes a fixed per-iteration budget: pools move
    assert s.labeled_final > s.labeled_initial
    assert s.unlabeled_final < s.unlabeled_initial


def test_co_training_rejects_unknown_view_split(labeled_points):
    data = UnlabeledTransformer(percentageLabeled=0.3, seed=11).transform(labeled_points)
    with pytest.raises(ValueError, match="viewSplit"):
        CoTraining(
            baseClassifier=DecisionTreeClassifier(seed=5), viewSplit="bogus"
        ).fit(data)


def test_supervised_baseline(labeled_points):
    data = UnlabeledTransformer(percentageLabeled=0.5, seed=11).transform(labeled_points)
    model = Supervised(baseClassifier=DecisionTreeClassifier(seed=5)).fit(data)
    s = model.ss_summary
    assert s.labeled_final == s.labeled_initial  # no promotion
    assert s.iterations == 0


def test_metrics_from_confusion_hand_computed():
    # pred/label cells: TP=40, FN=10, FP=20, TN=30
    cells = [(1.0, 1.0, 40), (0.0, 1.0, 10), (1.0, 0.0, 20), (0.0, 0.0, 30)]
    m = metrics_from_confusion(cells)
    assert m.accuracy == pytest.approx(0.7)
    tpr, fpr = 0.8, 0.4
    assert m.auc_roc == pytest.approx((1 + tpr - fpr) / 2)  # 0.7
    prec, rec, prior = 40 / 60, 0.8, 0.5
    assert m.f1_label1 == pytest.approx(2 * prec * rec / (prec + rec))
    assert m.auc_pr == pytest.approx(rec * prec + (1 - rec) * (prec + prior) / 2)
    assert m.n_rows == 100


def test_cross_validate_pipeline(labeled_points):
    pipeline = Pipeline(
        stages=[
            UnlabeledTransformer(percentageLabeled=0.5, seed=11),
            SelfTraining(baseClassifier=DecisionTreeClassifier(seed=5), maxIter=2),
        ]
    )
    cv = cross_validate(labeled_points, pipeline, k=2, id_col="vec_id")
    assert len(cv.per_fold) == 2
    assert 0.0 <= cv.metrics.accuracy <= 1.0
    assert 0.0 <= cv.metrics.auc_roc <= 1.0
    assert cv.metrics.n_rows == labeled_points.count()
    assert cv.ss_summary.labeled_initial > 0


def test_experiment_grid_results_schema(spark, labeled_points):
    cells = build_ssl_grid(
        classifiers={"DT": lambda: DecisionTreeClassifier(seed=5)},
        percentages=[0.3],
        thresholds=[0.8],
        family="selfTraining",
        max_iter=2,
    )
    results = run_experiment_grid(
        spark, labeled_points, "embeddings", [], cells, k=2, id_col="vec_id"
    )
    rows = results.collect()
    assert len(rows) == 1
    row = rows[0].asDict()
    assert row["data"] == "embeddings"
    assert row["classifier"] == "DT"
    assert row["criterion"] == "threshold"
    assert row["thresholdOrKBest"] == 0.8
    assert 0.0 <= row["accuracy"] <= 1.0
    assert not math.isnan(row["percentageLabeledFinal"])
    assert list(results.columns) == [
        "data", "classifier", "criterion", "percentageLabeled",
        "thresholdOrKBest", "iteration", "LabeledInitial", "UnLabeledInitial",
        "LabeledFinal", "UnLabeledFinal", "percentageLabeledFinal",
        "accuracy", "AUC", "PR", "F1score",
    ]


def test_score_based_roc_auc_hand_computed(spark):
    """Known case: scores [0.9,0.8,0.4,0.3] labels [1,0,1,0] ->
    pairs: (0.9 vs 0.8): pos>neg ok; (0.9 vs 0.3): ok; (0.4 vs 0.8): bad;
    (0.4 vs 0.3): ok -> AUC = 3/4. Plus a tie case for midranks."""
    from pyspark.ml.linalg import Vectors

    from tfm_semisup_spark.operators.evaluation import score_based_roc_auc

    rows = [
        (Vectors.dense([0.1, 0.9]), 1.0),
        (Vectors.dense([0.2, 0.8]), 0.0),
        (Vectors.dense([0.6, 0.4]), 1.0),
        (Vectors.dense([0.7, 0.3]), 0.0),
    ]
    df = spark.createDataFrame(rows, ["probability", "label"])
    assert score_based_roc_auc(df) == pytest.approx(0.75)

    # perfect separation -> 1.0
    rows2 = [
        (Vectors.dense([0.1, 0.9]), 1.0),
        (Vectors.dense([0.3, 0.7]), 1.0),
        (Vectors.dense([0.8, 0.2]), 0.0),
    ]
    assert score_based_roc_auc(
        spark.createDataFrame(rows2, ["probability", "label"])
    ) == pytest.approx(1.0)

    # full tie -> 0.5 (midranks)
    rows3 = [
        (Vectors.dense([0.5, 0.5]), 1.0),
        (Vectors.dense([0.5, 0.5]), 0.0),
    ]
    assert score_based_roc_auc(
        spark.createDataFrame(rows3, ["probability", "label"])
    ) == pytest.approx(0.5)


def test_score_auc_distributed_matches_numpy_midranks(spark):
    """5000 random scores quantized to 2dp (heavy ties) across 8 range
    partitions must equal the numpy midrank AUC — exercises the
    cross-partition cumulative offsets."""
    import numpy as np
    from pyspark.ml.linalg import Vectors

    from tfm_semisup_spark.operators.evaluation import score_based_roc_auc

    rng = np.random.default_rng(42)
    scores = np.round(rng.random(5000), 2)
    labels = (rng.random(5000) < np.clip(scores + 0.2 * rng.standard_normal(5000), 0, 1)).astype(float)
    df = spark.createDataFrame(
        [(Vectors.dense([1 - s, s]), l) for s, l in zip(scores.tolist(), labels.tolist())],
        ["probability", "label"],
    ).repartition(16)

    order = np.argsort(scores, kind="stable")
    ranks = np.empty(len(scores))
    sorted_scores = scores[order]
    i = 0
    while i < len(sorted_scores):
        j = i
        while j < len(sorted_scores) and sorted_scores[j] == sorted_scores[i]:
            j += 1
        ranks[order[i:j]] = (i + 1 + j) / 2.0  # midrank of tie block
        i = j
    p = labels.sum()
    n = len(labels) - p
    expected = (ranks[labels == 1.0].sum() - p * (p + 1) / 2.0) / (p * n)

    assert score_based_roc_auc(df, n_range_partitions=8) == pytest.approx(
        float(expected), abs=1e-9
    )


def test_score_auc_plan_has_no_unpartitioned_window(spark):
    """The VERDICT r1 weakness: the old rank used Window.orderBy with no
    partitionBy (all rows -> one partition). Assert every Window node in
    the executed plan carries a partition spec."""
    import re

    from pyspark.ml.linalg import Vectors

    from tfm_semisup_spark.operators.evaluation import midranked_score_groups
    from tfm_semisup_spark.operators.lineage import release

    rows = [
        (Vectors.dense([1 - s / 10, s / 10]), float(s % 2)) for s in range(10)
    ]
    df = spark.createDataFrame(rows, ["probability", "label"])
    per_score, groups = midranked_score_groups(df, n_range_partitions=4)
    try:
        plan = groups._jdf.queryExecution().executedPlan().toString()
    finally:
        release(per_score)
    n_windows = 0
    for line in plan.splitlines():
        m = re.search(r"\bWindow\b.*windowspecdefinition\(([^)]*)\)", line)
        if m:
            n_windows += 1
            # spec args: partition cols..., order col ASC/DESC..., frame
            assert "pid" in m.group(1), f"unpartitioned Window in plan: {line}"
    assert n_windows >= 1, f"no Window node found — vacuous test:\n{plan}"


def test_selftraining_with_naivebayes_end_to_end(labeled_points):
    """NB completes the reference's 4-classifier set DT/RF/NB/LR
    (`SemiSupervisedAndBaseClassifiers.scala:140-143`); duck-typed
    probabilistic contract must hold through a real ST fit. Gaussian
    event model (signed embedding features). NB is seedless ->
    deterministic: two fits agree exactly."""
    from pyspark.ml.classification import NaiveBayes

    from tfm_semisup_spark.operators.evaluation import evaluate_predictions

    require_probabilistic(NaiveBayes())

    data = DeterministicLabelMasker(
        percentageLabeled=0.3, idCol="vec_id", seed=11
    ).transform(labeled_points)

    def fit_once():
        model = SelfTraining(
            baseClassifier=NaiveBayes(modelType="gaussian"),
            threshold=0.75,
            maxIter=3,
        ).fit(data)
        m = evaluate_predictions(model.transform(labeled_points))
        return model.ss_summary, m

    s1, m1 = fit_once()
    s2, m2 = fit_once()
    assert s1 == s2
    assert m1 == m2
    assert s1.labeled_final >= s1.labeled_initial
    assert s1.labeled_final + s1.unlabeled_final == s1.labeled_initial + s1.unlabeled_initial
    assert 0.0 <= m1.accuracy <= 1.0 and m1.n_rows == 500


def test_cotraining_with_naivebayes_runs(labeled_points):
    from pyspark.ml.classification import NaiveBayes

    data = DeterministicLabelMasker(
        percentageLabeled=0.4, idCol="vec_id", seed=11
    ).transform(labeled_points)
    model = CoTraining(
        baseClassifier=NaiveBayes(modelType="gaussian"), threshold=0.7, maxIter=2
    ).fit(data)
    preds = model.transform(labeled_points)
    assert preds.count() == 500
    assert preds.select("prediction").distinct().count() <= 2


def test_kbest_order_tie_break_partitioning_independent(spark):
    """Tied probMax rows must be promoted identically under any
    partitioning (ADVICE r1: bare desc(probMax).limit(k) leaves ties to
    partition order). kbest_order adds a content hash tie-break."""
    from pyspark.ml.linalg import Vectors

    from tfm_semisup_spark.operators.self_training import kbest_order

    rows = [
        (Vectors.dense([float(i), float(i % 3)]), float(i % 2), 0.9)
        for i in range(40)
    ] + [
        (Vectors.dense([100.0 + i, 0.0]), 1.0, 0.95) for i in range(5)
    ]
    df = spark.createDataFrame(rows, ["features", "prediction", "probMax"])
    picks = []
    for nparts in (1, 3, 11):
        top = (
            df.repartition(nparts)
            .orderBy(*kbest_order("features"))
            .limit(10)
            .collect()
        )
        picks.append(sorted((tuple(r["features"]), r["prediction"]) for r in top))
    assert picks[0] == picks[1] == picks[2]
    # the 5 strictly-higher rows are always in
    assert sum(1 for f, _ in picks[0] if f[0] >= 100.0) == 5


def test_feature_split_threshold_rule_matches_either_view_rule(spark):
    """The feature split promotes its merged (prediction, probMax)
    frame through the shared threshold rule. That equals the per-view
    rule it replaced: promote when EITHER view is confident, label from
    view 1 iff it is confident and better than (or tied with) view 2 or
    view 2 is not confident. Pinned on equal posteriors, each view alone
    above t, both, neither and NaN posteriors."""
    from tfm_semisup_spark.operators.co_training import _better_view

    t = 0.7
    nan = float("nan")
    pms = [
        (0.8, 0.8), (0.5, 0.5),  # pm1 == pm2
        (0.9, 0.7), (0.71, 0.2),  # pm1 > t >= pm2
        (0.7, 0.95), (0.1, 0.8),  # pm2 > t >= pm1
        (0.8, 0.9), (0.9, 0.8),  # both views above t
        (0.3, 0.6), (0.7, 0.7),  # neither view above t
        (nan, 0.5), (0.9, nan), (nan, 0.9), (nan, nan),  # NaN posteriors
    ]
    df = spark.createDataFrame(
        [(i, 0.0, pm1, 1.0, pm2) for i, (pm1, pm2) in enumerate(pms)],
        "id int, __pred1 double, __pm1 double, __pred2 double, __pm2 double",
    )
    pm1, pm2 = F.col("__pm1"), F.col("__pm2")
    either = (pm1 > t) | (pm2 > t)
    winner = F.when(
        (pm1 > t) & ((pm1 >= pm2) | (pm2 <= t)), F.col("__pred1")
    ).otherwise(F.col("__pred2"))
    merged = df.select("id", either.alias("either"), winner.alias("winner"), *_better_view())
    confident = CoTraining(threshold=t)._confident()
    rows = merged.select("id", "either", "winner", "prediction", confident.alias("c")).collect()
    assert len(rows) == len(pms)
    for r in rows:
        assert r["c"] == r["either"], pms[r["id"]]
        if r["either"]:
            assert r["prediction"] == r["winner"], pms[r["id"]]
    # every case is exercised: both outcomes of the rule, both labels
    assert {r["c"] for r in rows} == {True, False}
    assert {r["winner"] for r in rows if r["either"]} == {0.0, 1.0}


def test_paired_fold_ttest_deterministic_and_sane(spark):
    from tfm_semisup_spark.queries import QUERIES, load_all_queries

    load_all_queries()
    from tests.conftest import SF_DIR

    (a,) = QUERIES["ssl_paired_fold_ttest"](spark, SF_DIR).collect()
    (b,) = QUERIES["ssl_paired_fold_ttest"](spark, SF_DIR).collect()
    assert tuple(a) == tuple(b)
    assert a.k_folds == 3
    assert 0.0 <= a.mean_acc_ssl <= 1.0 and 0.0 <= a.mean_acc_sup <= 1.0
    assert abs(a.mean_diff - round(a.mean_acc_ssl - a.mean_acc_sup, 6)) < 2e-6
