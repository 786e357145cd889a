"""Tri-Training (Zhou & Li 2005) tests: bookkeeping invariants,
determinism, the no-posterior-needed property (LinearSVC works), the
majority-vote contract, persistence, and the Pipeline/CV stage
contract."""

from __future__ import annotations

import pytest
from pyspark.ml import Pipeline
from pyspark.ml.classification import DecisionTreeClassifier, LinearSVC
from pyspark.sql import functions as F

from tfm_semisup_spark.featurization import ArrayToVector
from tfm_semisup_spark.io import load_table
from tfm_semisup_spark.operators.evaluation import cross_validate
from tfm_semisup_spark.operators.tri_training import TriTraining, TriTrainingModel
from tfm_semisup_spark.operators.unlabeled import (
    DeterministicLabelMasker,
    UnlabeledTransformer,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def points(spark):
    emb = load_table(spark, SF, "embeddings")
    df = ArrayToVector(inputCol="embedding", outputCol="features").transform(emb)
    return df.select(
        "vec_id",
        "features",
        F.when(F.col("label") == 1, 1.0).otherwise(0.0).alias("label"),
    )


@pytest.fixture(scope="module")
def masked(points):
    return DeterministicLabelMasker(
        percentageLabeled=0.3, idCol="vec_id", seed=11
    ).transform(points).cache()


@pytest.fixture(scope="module")
def fitted(masked):
    tt = TriTraining(baseClassifier=DecisionTreeClassifier(seed=5), maxIter=4)
    return tt.fit(masked), tt


def test_summary_bookkeeping(fitted, masked):
    model, _ = fitted
    s = model.ss_summary
    assert s.labeled_initial + s.unlabeled_initial == masked.count()
    assert 1 <= s.iterations <= 4
    assert s.labeled_final >= s.labeled_initial
    assert s.labeled_final + s.unlabeled_final == masked.count()


def test_transform_majority_vote(fitted, masked):
    model, _ = fitted
    out = model.transform(masked.select("vec_id", "features"))
    assert "prediction" in out.columns
    # recompute each base model's vote and check the 2-of-3 rule
    votes = masked.select("vec_id", "features")
    for i, m in enumerate(model.models):
        scored = m.transform(votes)
        votes = scored.select(
            *[F.col(c) for c in votes.columns],
            F.col("prediction").alias(f"p{i}"),
        )
    joined = out.select("vec_id", "prediction").join(votes, "vec_id")
    expected = F.when(F.col("p1") == F.col("p2"), F.col("p1")).otherwise(
        F.col("p0")
    )
    assert joined.where(F.col("prediction") != expected).count() == 0
    # binary labels only
    assert out.where(~F.col("prediction").isin(0.0, 1.0)).count() == 0


def test_deterministic_refit(masked):
    preds = []
    sums = []
    for _ in range(2):
        tt = TriTraining(baseClassifier=DecisionTreeClassifier(seed=5), maxIter=3)
        m = tt.fit(masked.repartition(7) if _ else masked)
        sums.append(
            (
                m.ss_summary.labeled_final,
                m.ss_summary.unlabeled_final,
                m.ss_summary.iterations,
            )
        )
        preds.append(
            sorted(
                (r["vec_id"], r["prediction"])
                for r in m.transform(masked.select("vec_id", "features")).collect()
            )
        )
    assert sums[0] == sums[1]
    assert preds[0] == preds[1]


def test_works_without_posterior(masked):
    # the family's differentiator: no probability column required, so
    # LinearSVC (excluded from self/co-training) qualifies
    tt = TriTraining(baseClassifier=LinearSVC(maxIter=5), maxIter=2)
    model = tt.fit(masked)
    out = model.transform(masked.select("vec_id", "features"))
    assert out.where(~F.col("prediction").isin(0.0, 1.0)).count() == 0


def test_save_load_roundtrip(fitted, masked, tmp_path):
    model, _ = fitted
    path = str(tmp_path / "tri_model")
    model.save(path)
    loaded = TriTrainingModel.load(path)
    assert loaded.ss_summary == model.ss_summary
    a = sorted(
        (r["vec_id"], r["prediction"])
        for r in model.transform(masked.select("vec_id", "features")).collect()
    )
    b = sorted(
        (r["vec_id"], r["prediction"])
        for r in loaded.transform(masked.select("vec_id", "features")).collect()
    )
    assert a == b


def test_cross_validate_pipeline_stage(points):
    """TriTraining is an Estimator: it runs as a Pipeline stage after the
    label masking, under k-fold CV like the reference's SSC families,
    and its copy keeps every Param, seed included."""
    tt = TriTraining(baseClassifier=DecisionTreeClassifier(seed=5), maxIter=2, seed=7)
    pipe = Pipeline(
        stages=[UnlabeledTransformer(percentageLabeled=0.3, seed=11), tt]
    )
    cv = cross_validate(points, pipe, k=2, id_col="vec_id")
    s = cv.ss_summary
    assert s.labeled_initial > 0 and s.unlabeled_initial > 0
    assert 1 <= s.iterations <= 2
    assert cv.metrics.n_rows == points.count()
    assert 0.0 <= cv.metrics.accuracy <= 1.0
    assert tt.copy().getOrDefault("seed") == 7
