"""Supervised baseline wrapper (reference C4: ``Supervised.scala:38-42``).

Drops unlabeled rows and fits the base classifier on the rest. The
reference computes the labeled set as ``isNaN filter + exceptAll`` —
a full shuffle where a complementary filter is semantically identical
(the split key IS the sentinel column; SURVEY.md §4) — so here it is a
filter over the checkpoint ``_split_pools`` takes of the projected
input, whose job also counts both pools. The base classifier fits on
that materialized pool rather than re-running the featurization and
masking pipeline in each of its own jobs.
"""

from __future__ import annotations

from pyspark import keyword_only
from pyspark.ml import Estimator
from pyspark.sql import DataFrame

from tfm_semisup_spark.operators.lineage import release
from tfm_semisup_spark.operators.results import SemiSupervisedSummary
from tfm_semisup_spark.operators.self_training import SelfTrainingModel, _SSCParams


class Supervised(Estimator, _SSCParams):
    @keyword_only
    def __init__(
        self,
        *,
        baseClassifier=None,
        labelSelectionCol: str = "labelSelection",
        featuresCol: str = "features",
        labelCol: str = "label",
    ):
        super().__init__()
        self._init_ssc()

    def _fit(self, dataset: DataFrame) -> SelfTrainingModel:
        labeled, _, n_lab, n_unlab = self._split_pools(dataset)
        summary = SemiSupervisedSummary(n_lab, n_unlab, n_lab, n_unlab, 0)
        model = self.baseClassifier.fit(labeled)
        release(labeled)
        return SelfTrainingModel(model, summary)
