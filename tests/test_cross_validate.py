"""cross_validate runs its folds concurrently: the result equals a
serial per-fold loop exactly, two folds' fits overlap in time, a
failing fold still releases the fold checkpoint, and an SSC copy owns
its base classifier."""

from __future__ import annotations

import math
import time

import pytest
from pyspark.ml import Estimator, Model, Pipeline
from pyspark.ml.classification import DecisionTreeClassifier, NaiveBayes
from pyspark.ml.linalg import Vectors
from pyspark.sql import functions as F

from tfm_semisup_spark.operators.co_training import CoTraining
from tfm_semisup_spark.operators.evaluation import (
    _find_ss_summary,
    assign_folds,
    cross_validate,
    evaluate_predictions,
)
from tfm_semisup_spark.operators.results import SemiSupervisedSummary
from tfm_semisup_spark.operators.self_training import SelfTraining
from tfm_semisup_spark.operators.supervised import Supervised
from tfm_semisup_spark.operators.tri_training import TriTraining
from tfm_semisup_spark.operators.unlabeled import UnlabeledTransformer


@pytest.fixture(scope="module")
def tiny(spark):
    """72 rows, 3 features, a label the features mostly explain."""
    rows = []
    for i in range(72):
        a, b, c = math.sin(i * 1.7), math.cos(i * 0.9), (i * 37 % 11) / 11.0
        rows.append((i, Vectors.dense([a, b, c]), 1.0 if a + 0.5 * c > 0.2 else 0.0))
    return spark.createDataFrame(rows, ["vec_id", "features", "label"])


def _nb():
    # the cheapest probabilistic base to fit: one aggregate job
    return NaiveBayes(modelType="gaussian")


ESTIMATORS = {
    "self-threshold": lambda base: SelfTraining(baseClassifier=base, maxIter=2, threshold=0.7),
    "self-kbest": lambda base: SelfTraining(
        baseClassifier=base, maxIter=3, criterion="kBest", kBest=0.6
    ),
    "co-training": lambda base: CoTraining(baseClassifier=base, maxIter=2, threshold=0.7),
    "supervised": lambda base: Supervised(baseClassifier=base),
    "tri-training": lambda base: TriTraining(baseClassifier=base, maxIter=2, seed=7),
}


def _serial_reference(data, pipeline, k):
    """The folds one after another, each on its own pipeline copy."""
    folded = assign_folds(data, k, id_col="vec_id")
    per_fold, summaries = [], []
    for i in range(k):
        train = folded.where(F.col("fold") != i).drop("fold")
        test = folded.where(F.col("fold") == i).drop("fold")
        model = pipeline.copy().fit(train)
        per_fold.append(evaluate_predictions(model.transform(test)))
        summaries.append(_find_ss_summary(model))
    return per_fold, summaries


@pytest.mark.parametrize(
    "name,k",
    # every estimator once, both fold counts (k threads each); the two
    # costliest fits run at k=2 to keep the suite short
    [
        ("self-threshold", 2),
        ("self-threshold", 3),
        ("self-kbest", 3),
        ("supervised", 3),
        ("co-training", 2),
        ("tri-training", 2),
    ],
)
def test_concurrent_folds_equal_serial_reference(tiny, name, k):
    pipeline = Pipeline(
        stages=[UnlabeledTransformer(percentageLabeled=0.4, seed=11), ESTIMATORS[name](_nb())]
    )
    cv = cross_validate(tiny, pipeline, k=k, id_col="vec_id")
    per_fold, summaries = _serial_reference(tiny, pipeline, k)
    assert cv.per_fold == per_fold
    assert cv.ss_summary == SemiSupervisedSummary(
        *(sum(getattr(s, f) for s in summaries) // k for f in (
            "labeled_initial", "unlabeled_initial", "labeled_final",
            "unlabeled_final", "iterations",
        ))
    )
    assert cv.ss_summary.labeled_initial > 0


class _EchoModel(Model):
    def _transform(self, dataset):
        return dataset.withColumn("prediction", F.col("label"))


class _StubEstimator(Estimator):
    """Records each fit's (start, end) wall time in a list its copies
    share; a fit whose training rows include ``poison_id`` raises."""

    def __init__(self, fits: list, poison_id: int | None = None):
        super().__init__()
        self.fits = fits
        self.poison_id = poison_id

    def _fit(self, dataset):
        start = time.monotonic()
        ids = {r["vec_id"] for r in dataset.select("vec_id").collect()}
        if self.poison_id in ids:
            raise RuntimeError("poisoned fold")
        time.sleep(0.5)
        self.fits.append((start, time.monotonic()))
        return _EchoModel()


def test_fold_fits_overlap_in_time(tiny):
    fits: list = []
    cv = cross_validate(tiny, Pipeline(stages=[_StubEstimator(fits)]), k=2, id_col="vec_id")
    assert cv.metrics.accuracy == 1.0 and cv.metrics.n_rows == 72
    assert len(fits) == 2
    (s0, e0), (s1, e1) = fits
    assert max(s0, s1) < min(e0, e1), f"fold fits ran one after another: {fits}"


def _persisted_rdd_ids(spark):
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {info.id() for info in infos}


def test_failing_fold_propagates_and_releases_checkpoint(spark, tiny):
    before = _persisted_rdd_ids(spark)
    fits: list = []
    pipeline = Pipeline(stages=[_StubEstimator(fits, poison_id=0)])
    with pytest.raises(RuntimeError, match="poisoned fold"):
        cross_validate(tiny, pipeline, k=2, id_col="vec_id")
    # the fold without row 0 in its training set still ran to the end
    assert len(fits) == 1
    assert _persisted_rdd_ids(spark) - before == set()


def test_ssc_copy_owns_its_base_classifier():
    for make in ESTIMATORS.values():
        est = make(DecisionTreeClassifier(seed=5, maxDepth=2))
        cp = est.copy()
        assert cp.baseClassifier is not est.baseClassifier
        assert cp.baseClassifier.extractParamMap() == est.baseClassifier.extractParamMap()
        assert cp.baseClassifier.getSeed() == 5
        assert {p.name: v for p, v in cp.extractParamMap().items()} == {
            p.name: v for p, v in est.extractParamMap().items()
        }
