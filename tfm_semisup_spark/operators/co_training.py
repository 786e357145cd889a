"""Co-Training estimator (reference C3: ``CoTraining.scala:122-253``,
algorithm: Blum & Mitchell 1998).

The reference's variant splits *instances*, not feature views: labeled
AND unlabeled pools are each split 50/50 with seed 8
(``CoTraining.scala:137-142``); two copies of the same base classifier
cross-teach — model 1's confident pseudo-labels are appended to model
2's labeled pool and vice versa (``:172-173``, ``:215-216``); the final
model is fit on the union of both labeled pools (``:251``). That
deviation from classic feature-split co-training is preserved for
parity (SURVEY.md §2.1 C3) as the DEFAULT; ``viewSplit='features'``
additionally implements the published Blum & Mitchell algorithm —
disjoint feature-column views over one shared pool (VERDICT r5 #7).

Same promotion criteria as SelfTraining (threshold / kBest; in kBest
the per-iteration budget comes from the TOTAL unlabeled count,
``CoTraining.scala:199``, and applies to each view). Both view
constructions promote through the same ``_SSCParams`` steps as
SelfTraining; the feature split first merges its two views' scores
into one (prediction, probMax) frame, the higher posterior winning.
Same physical re-engineering: isnan complementary-filter split,
localCheckpoint per iteration, arithmetic pool-size bookkeeping,
codegen'd probMax.
"""

from __future__ import annotations

from pyspark import keyword_only
from pyspark.ml import Estimator
from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tfm_semisup_spark.operators.lineage import release
from tfm_semisup_spark.operators.results import SemiSupervisedSummary
from tfm_semisup_spark.operators.self_training import (
    SelfTrainingModel,
    _SSCParams,
    posterior,
)

_SPLIT_SEED = 8  # reference: `CoTraining.scala:137,140`


def _better_view() -> list:
    """The feature split's two view scores (``__pred1``, ``__pm1``,
    ``__pred2``, ``__pm2``) merged into (prediction, probMax): the
    higher posterior and its view's label, view 1's on ties. Since
    ``greatest(pm1, pm2) > t`` iff ``pm1 > t or pm2 > t`` (also under
    Spark's NaN-is-largest ordering), the threshold rule on the merged
    frame promotes exactly the rows where either view is confident."""
    pm1, pm2 = F.col("__pm1"), F.col("__pm2")
    return [
        F.when(pm1 >= pm2, F.col("__pred1")).otherwise(F.col("__pred2")).alias("prediction"),
        F.greatest(pm1, pm2).alias("probMax"),
    ]


class CoTraining(Estimator, _SSCParams):
    """Defaults mirror the reference (``CoTraining.scala:25-30``):
    threshold=0.7, maxIter=3, criterion='threshold', kBest=1.0.

    ``viewSplit`` selects the view construction: ``'instances'``
    (default — the reference's deviation, split the pools 50/50) or
    ``'features'`` (classic Blum & Mitchell 1998: two classifiers see
    DISJOINT halves of the feature vector over ONE shared pool, each
    promotes its confident pseudo-labels into the shared labeled set,
    disagreements resolved by the higher posterior)."""

    viewSplit = Param(
        Params._dummy(),
        "viewSplit",
        "view construction: 'instances' (reference parity, "
        "CoTraining.scala:137-142) | 'features' (Blum-Mitchell "
        "disjoint feature-column views)",
        TypeConverters.toString,
    )

    @keyword_only
    def __init__(
        self,
        *,
        baseClassifier=None,
        threshold: float = 0.7,
        maxIter: int = 3,
        criterion: str = "threshold",
        kBest: float = 1.0,
        labelSelectionCol: str = "labelSelection",
        featuresCol: str = "features",
        labelCol: str = "label",
        checkpointDir: str = "",
        viewSplit: str = "instances",
    ):
        super().__init__()
        self._init_ssc(
            threshold=0.7,
            maxIter=3,
            criterion="threshold",
            kBest=1.0,
            viewSplit="instances",
        )

    def _fit(self, dataset: DataFrame) -> SelfTrainingModel:
        self._check_criterion()
        view_split = self.getOrDefault(self.viewSplit)
        if view_split not in ("instances", "features"):
            raise ValueError(f"unknown viewSplit {view_split!r}")
        if view_split == "features":
            return self._fit_feature_split(dataset)
        base = self.baseClassifier
        max_iter = self.getOrDefault(self.maxIter)

        labeled, unlabeled, n_lab_ini, n_unlab_ini = self._split_pools(dataset)
        # checkpoint each of the four views once, counting its rows
        # inside that checkpoint job
        views = [
            self._truncate_counting(view, name)
            for view, name in zip(
                labeled.randomSplit([0.5, 0.5], seed=_SPLIT_SEED)
                + unlabeled.randomSplit([0.5, 0.5], seed=_SPLIT_SEED),
                ("labeled view 1", "labeled view 2", "unlabeled view 1", "unlabeled view 2"),
            )
        ]
        (lab1, n_lab1), (lab2, n_lab2), (unlab1, n_unlab1), (unlab2, n_unlab2) = [
            (view, n["rows"]) for view, n in views
        ]
        # the views are materialized: free the pools' shared checkpoint
        release(labeled)

        model1 = base.fit(lab1)
        model2 = base.fit(lab2)
        it = 1
        # budget from the TOTAL unlabeled pool (`CoTraining.scala:199`)
        k = self._kbest_budget(n_unlab_ini)

        # pool_src_{1,2}: the checkpoint each view's `unlabX` lazily
        # reads from; freed once the round's scoring re-materializes it
        # into predsX (operators/lineage.py:release)
        pool_src1, pool_src2 = unlab1, unlab2
        while it < max_iter and n_unlab1 > 0 and n_unlab2 > 0:
            preds1, n_conf1 = self._score(model1, unlab1)
            preds2, n_conf2 = self._score(model2, unlab2)
            release(pool_src1)
            release(pool_src2)
            pool_src1, pool_src2 = preds1, preds2
            promo1, unlab1, n_promo1 = self._promote(preds1, n_conf1, k, n_unlab1)
            promo2, unlab2, n_promo2 = self._promote(preds2, n_conf2, k, n_unlab2)

            # cross-teaching: view 1 learns from view 2's confident labels
            # and vice versa (`CoTraining.scala:172-173`)
            grown1 = self._truncate_lineage(lab1.unionAll(promo2))
            grown2 = self._truncate_lineage(lab2.unionAll(promo1))
            release(lab1)
            release(lab2)
            lab1, lab2 = grown1, grown2
            n_unlab1 -= n_promo1
            n_unlab2 -= n_promo2
            n_lab1 += n_promo2
            n_lab2 += n_promo1

            if n_unlab1 > 0 and n_unlab2 > 0:
                model1 = base.fit(lab1)
                model2 = base.fit(lab2)
                it += 1

        summary = SemiSupervisedSummary(
            n_lab_ini, n_unlab_ini, n_lab1 + n_lab2, n_unlab1 + n_unlab2, it
        )
        # final model: fit on the union of both views' pools
        # (`CoTraining.scala:251`)
        final_model = base.fit(lab1.unionAll(lab2))
        release(pool_src1)
        release(pool_src2)
        release(lab1)
        release(lab2)
        return SelfTrainingModel(final_model, summary)

    def _fit_feature_split(self, dataset: DataFrame) -> SelfTrainingModel:
        """Classic Blum-Mitchell co-training (viewSplit='features'):
        the feature vector is sliced into two disjoint halves; one
        shared labeled pool trains two classifiers, each seeing only
        its half. Both score the SHARED unlabeled pool into one frame
        whose prediction is the higher-posterior view's label (view 1
        on ties) and whose probMax is the higher posterior; that frame
        promotes through the shared ``_checkpoint_scored`` and
        ``_promote`` steps, so a row is promoted when either view is
        confident (threshold) or lands in the global top k of
        ``kbest_order`` (kBest). The final model is fit on the FULL
        feature vector so it is usable downstream exactly like the
        instance-split model.

        Physical shape matches the instance-split loop: per-iteration
        lineage truncation, complementary filters, arithmetic pool
        bookkeeping; both models score the same checkpointed pool, so
        each iteration costs two narrow model scans plus the MLlib
        fits."""
        from pyspark.ml.feature import VectorSlicer

        base = self.baseClassifier
        max_iter = self.getOrDefault(self.maxIter)
        feats = self.getOrDefault(self.featuresCol)
        label = self.getOrDefault(self.labelCol)

        labeled, unlabeled, n_lab_ini, n_unlab_ini = self._split_pools(dataset)

        head = dataset.select(feats).head()
        if head is None:
            raise ValueError("empty dataset")
        dim = head[0].size
        if dim < 2:
            raise ValueError(
                f"feature-split co-training needs >=2 features, got {dim}"
            )
        half = dim // 2
        s1 = VectorSlicer(inputCol=feats, outputCol="__v1", indices=list(range(half)))
        s2 = VectorSlicer(inputCol=feats, outputCol="__v2", indices=list(range(half, dim)))

        def views(pool: DataFrame, *cols) -> DataFrame:
            return self._truncate_lineage(
                s2.transform(s1.transform(pool)).select(feats, "__v1", "__v2", *cols)
            )

        pools = labeled  # a filter over the pools' shared checkpoint
        labeled = views(labeled, label)
        unlabeled = views(unlabeled)
        release(pools)
        n_lab, n_unlab = n_lab_ini, n_unlab_ini

        base1 = base.copy({base.featuresCol: "__v1"})
        base2 = base.copy({base.featuresCol: "__v2"})
        model1 = base1.fit(labeled)
        model2 = base2.fit(labeled)
        it = 1
        k = self._kbest_budget(n_unlab_ini)

        pool_src = unlabeled
        while it < max_iter and n_unlab > 0:
            scored = model1.transform(unlabeled).select(
                feats,
                "__v1",
                "__v2",
                F.col("prediction").alias("__pred1"),
                posterior(model1).alias("__pm1"),
            )
            scored = model2.transform(scored).select(
                feats,
                "__v1",
                "__v2",
                "__pred1",
                "__pm1",
                F.col("prediction").alias("__pred2"),
                posterior(model2).alias("__pm2"),
            )
            preds, n_confident = self._checkpoint_scored(
                scored.select(feats, "__v1", "__v2", *_better_view())
            )
            release(pool_src)
            pool_src = preds
            promoted, unlabeled, n_promoted = self._promote(
                preds, n_confident, k, n_unlab
            )
            grown = self._truncate_lineage(labeled.unionAll(promoted))
            release(labeled)
            labeled = grown
            n_unlab -= n_promoted
            n_lab += n_promoted

            if n_unlab > 0:
                model1 = base1.fit(labeled)
                model2 = base2.fit(labeled)
                it += 1

        summary = SemiSupervisedSummary(n_lab_ini, n_unlab_ini, n_lab, n_unlab, it)
        final_model = base.fit(labeled.select(feats, label))
        release(pool_src)
        release(labeled)
        return SelfTrainingModel(final_model, summary)
