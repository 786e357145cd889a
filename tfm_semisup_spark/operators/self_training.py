"""Self-Training estimator (reference C2: ``SelfTraining.scala:121-207``,
algorithm: Yarowsky 1995).

Iteratively: fit the base classifier on the labeled pool; predict the
unlabeled pool; promote confident predictions (threshold criterion:
``probMax > threshold``, ``SelfTraining.scala:146-170``; kBest
criterion: global top-k by ``probMax``, ``:172-196``) into the labeled
pool with their predicted label; repeat until maxIter or no unlabeled
rows remain.

Deliberate re-engineering vs the reference (SURVEY.md §4):

- labeled/unlabeled split by complementary ``isnan`` filters instead of
  ``filter(isNaN)`` + full-dataset ``exceptAll`` (`SelfTraining.scala:
  129-130`) — the sentinel column itself is the split key, so the
  exceptAll shuffle of the whole dataset is pure waste. ``exceptAll``
  is kept only where multiset semantics are load-bearing: the kBest
  "rest = predictions − top-k" (`:178`).
- no ``count()`` job at all instead of the reference's 2-4 per
  iteration (`:133-140,156-157`): the pool sizes and each round's
  confident-row count are observed metrics of the checkpoint jobs that
  materialize those frames anyway (``lineage.truncate_counting``);
  pool sizes are then maintained arithmetically.
- ``localCheckpoint`` on the projected input pool, on each iteration's
  predictions and on the grown labeled pool: the reference's plan
  grows every iteration (union-of-unions re-evaluated at each action;
  its cache() calls are immediately undone by unpersist,
  `:143-144,167-168`). Checkpointing truncates lineage — the one
  genuinely custom physical concern in the rebuild, and what makes
  100+ iterations viable on a cluster.
- max posterior via ``array_max(vector_to_array(probability))`` instead
  of a UDF (`:128`) — stays inside whole-stage codegen.

The fitted ``SelfTrainingModel`` delegates transform to the final base
model and carries the pool bookkeeping as ``ss_summary`` (replacing the
reference's mutable SemiSupervisedDataResults side-channel).
"""

from __future__ import annotations

import math
import os

from pyspark import keyword_only
from pyspark.ml import Estimator, Model
from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.ml.util import DefaultParamsReader, DefaultParamsWriter, MLWriter
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tfm_semisup_spark.functions.vector import prob_max
from tfm_semisup_spark.operators.lineage import release, truncate_counting
from tfm_semisup_spark.operators.results import SemiSupervisedSummary

CRITERIA = ("threshold", "kBest")


def kbest_order(features_col: str) -> list:
    """Deterministic kBest promotion order: probMax descending, ties
    broken by a hash of (features, prediction). The reference's
    ``orderBy(desc("probMax")).limit(k)`` (`SelfTraining.scala:177`)
    leaves tie-breaking to partition order — rerun- and
    partitioning-sensitive, which violates this repo's determinism rule
    for rows-only checks. The hash tie-break is content-defined, so the
    same rows win regardless of cluster layout. (Identical duplicate
    rows remain interchangeable — multiset semantics make either pick
    equivalent.)"""
    from pyspark.ml.functions import vector_to_array

    return [
        F.desc("probMax"),
        F.xxhash64(vector_to_array(F.col(features_col)), F.col("prediction")),
    ]


def require_probabilistic(classifier) -> None:
    """Runtime stand-in for the reference's ProbabilisticClassifier
    generic bound (``SelfTraining.scala:17-24``): any classifier whose
    model emits a probability column qualifies; LinearSVC et al. do not
    (same exclusion the reference applies — SURVEY §2.2)."""
    if not hasattr(classifier, "getProbabilityCol"):
        raise TypeError(
            f"{type(classifier).__name__} exposes no probabilityCol; "
            "self/co-training needs a probabilistic classifier"
        )


def posterior(model):
    """Max class posterior (probMax) of the rows ``model`` scores."""
    return prob_max(
        model.getProbabilityCol() if hasattr(model, "getProbabilityCol") else "probability"
    )


class _SSCParams(Params):
    """Params and pseudo-labelling steps shared by the SSC estimators
    (SelfTraining, CoTraining, Supervised, TriTraining). Each estimator
    keeps its own loop; the steps every loop takes live here once."""

    threshold = Param(
        Params._dummy(),
        "threshold",
        "min posterior to promote a pseudo-label (criterion=threshold)",
        TypeConverters.toFloat,
    )
    maxIter = Param(
        Params._dummy(), "maxIter", "max training iterations", TypeConverters.toInt
    )
    criterion = Param(
        Params._dummy(), "criterion", "promotion criterion: threshold | kBest",
        TypeConverters.toString,
    )
    kBest = Param(
        Params._dummy(),
        "kBest",
        "fraction of the unlabeled pool promoted over the run (criterion=kBest)",
        TypeConverters.toFloat,
    )
    labelSelectionCol = Param(
        Params._dummy(),
        "labelSelectionCol",
        "masked label column; NaN == unlabeled",
        TypeConverters.toString,
    )
    featuresCol = Param(
        Params._dummy(), "featuresCol", "features column", TypeConverters.toString
    )
    labelCol = Param(Params._dummy(), "labelCol", "label column", TypeConverters.toString)
    checkpointDir = Param(
        Params._dummy(),
        "checkpointDir",
        "reliable checkpoint directory (HDFS/S3); empty -> localCheckpoint",
        TypeConverters.toString,
    )

    # -- construction ---------------------------------------------------

    def _init_ssc(self, **defaults) -> None:
        """Constructor body: the shared column defaults plus the
        estimator's own, then the keyword arguments its
        ``@keyword_only __init__`` received (``baseClassifier`` is a
        plain attribute, not a Param)."""
        kwargs = dict(self._input_kwargs)
        self.baseClassifier = kwargs.pop("baseClassifier", None)
        self._setDefault(
            labelSelectionCol="labelSelection",
            featuresCol="features",
            labelCol="label",
            checkpointDir="",
            **defaults,
        )
        self._set(**kwargs)

    def copy(self, extra=None):
        """A copy with its own copy of the base classifier, so copies
        fitted concurrently (the folds of ``cross_validate``) never
        drive one Java estimator."""
        base = self.baseClassifier
        new = type(self)(baseClassifier=None if base is None else base.copy())
        return self._copyValues(new, extra)

    def _check_criterion(self) -> None:
        """The probabilistic-classifier bound and a known criterion."""
        require_probabilistic(self.baseClassifier)
        criterion = self.getOrDefault(self.criterion)
        if criterion not in CRITERIA:
            raise ValueError(f"criterion must be one of {CRITERIA}, got {criterion!r}")

    # -- pseudo-labelling steps ------------------------------------------

    def _truncate_lineage(self, df: DataFrame) -> DataFrame:
        """Lineage truncation per iteration (SURVEY §4: the one custom
        physical concern). localCheckpoint is fast but pins blocks to
        executors — on a real cluster with dynamic allocation or
        preemption, set checkpointDir to durable storage and pay the
        write for restart-safety. Superseded checkpoints are freed
        eagerly in the fit loops (operators/lineage.py:release)."""
        from tfm_semisup_spark.operators.lineage import truncate

        return truncate(df, self.getOrDefault(self.checkpointDir) or None)

    def _truncate_counting(self, df: DataFrame, name: str, **conditions):
        """``_truncate_lineage`` that also counts the rows satisfying
        each condition inside the checkpoint job
        (operators/lineage.py:truncate_counting)."""
        return truncate_counting(
            df, name, self.getOrDefault(self.checkpointDir) or None, **conditions
        )

    def _split_pools(self, dataset: DataFrame):
        """(labeled, unlabeled, n_labeled, n_unlabeled): the input
        projected to (features, label as double, isnan flag of the
        masked-label column) is checkpointed ONCE, and both pool sizes
        are counted inside that checkpoint job; the pools are
        complementary filters on the flag over the checkpoint — vs the
        reference's filter + full-dataset exceptAll and separate count
        jobs (``SelfTraining.scala:129-140``). The pools share the
        checkpoint: ``release`` of either frees it, so release only
        once neither is read again."""
        sel = self.getOrDefault(self.labelSelectionCol)
        feats = self.getOrDefault(self.featuresCol)
        label = self.getOrDefault(self.labelCol)
        flag = F.col("__unlabeled")
        pool, n = self._truncate_counting(
            dataset.select(
                feats,
                F.col(label).cast("double").alias(label),
                F.isnan(sel).alias("__unlabeled"),
            ),
            "labeled/unlabeled pool",
            labeled=~flag,
            unlabeled=flag,
        )
        labeled = pool.where(~flag).select(feats, label)
        unlabeled = pool.where(flag).select(feats, label)
        return labeled, unlabeled, n["labeled"], n["unlabeled"]

    def _score(self, model, pool: DataFrame):
        """``_checkpoint_scored`` of the pool scored into (features,
        prediction, probMax)."""
        feats = self.getOrDefault(self.featuresCol)
        return self._checkpoint_scored(
            model.transform(pool)
            .withColumn("probMax", posterior(model))
            .select(feats, "prediction", "probMax")
        )

    def _checkpoint_scored(self, scored: DataFrame):
        """(preds, n_confident): a scored pool (any columns plus
        prediction and probMax) truncated so each round's plan starts
        from materialized data, not the whole history, and the number
        of its ``_confident`` rows, counted inside that checkpoint job."""
        preds, n = self._truncate_counting(
            scored, "scored pool", confident=self._confident()
        )
        return preds, n["confident"]

    def _confident(self):
        """The threshold rule: ``probMax > threshold`` (``SelfTraining.scala:146-170``)."""
        return F.col("probMax") > self.getOrDefault(self.threshold)

    def _kbest_budget(self, n_unlabeled: int) -> int:
        """Rows promoted per round under kBest, fixed up front from the
        initial unlabeled count: ``round(kBest * U / (maxIter - 1))``
        (``SelfTraining.scala:173``, ``CoTraining.scala:199``) with
        Scala's half-up ``math.round``; 0 under threshold or
        maxIter <= 1."""
        max_iter = self.getOrDefault(self.maxIter)
        if self.getOrDefault(self.criterion) != "kBest" or max_iter <= 1:
            return 0
        per_round = self.getOrDefault(self.kBest) * n_unlabeled / (max_iter - 1)
        return math.floor(per_round + 0.5)  # Python's round rounds half to even

    def _promote(self, preds: DataFrame, n_confident: int, k: int, n_pool: int):
        """Split a scored pool into (promoted, rest, n_promoted), both
        frames carrying every column of ``preds`` but prediction and
        probMax, plus label = prediction; no Spark job. threshold: the
        ``_confident`` rows, which ``_checkpoint_scored`` already counted
        (``n_confident``). kBest: the global top k in ``kbest_order``
        (``SelfTraining.scala:172-196``), min(k, pool) rows; rest is
        ``exceptAll`` because its multiset semantics are load-bearing."""
        if self.getOrDefault(self.criterion) == "threshold":
            confident = self._confident()
            promoted = preds.where(confident)
            rest = preds.where(~confident)
            n_promoted = n_confident
        else:
            feats = self.getOrDefault(self.featuresCol)
            promoted = preds.orderBy(*kbest_order(feats)).limit(k)
            rest = preds.exceptAll(promoted)
            n_promoted = min(k, n_pool)
        cols = [c for c in preds.columns if c not in ("prediction", "probMax")]
        cols.append(F.col("prediction").alias(self.getOrDefault(self.labelCol)))
        return promoted.select(*cols), rest.select(*cols), n_promoted


class _SSCModelWriter(MLWriter):
    def __init__(self, instance: "_SSCModel"):
        super().__init__()
        self.instance = instance

    def saveImpl(self, path: str) -> None:
        from dataclasses import asdict

        models = self.instance._base_models()
        for i, m in enumerate(models):
            m.save(os.path.join(path, f"base{i}"))
        DefaultParamsWriter.saveMetadata(
            self.instance,
            path,
            self.sparkSession,
            extraMetadata={
                "base_classes": [f"{type(m).__module__}.{type(m).__name__}" for m in models],
                "ss_summary": asdict(self.instance.ss_summary),
            },
        )


class _SSCModel(Model):
    """A fitted SSC model: its base model(s) plus the fit's pool
    bookkeeping as ``ss_summary`` (replacing the reference's mutable
    SemiSupervisedDataResults side-channel).

    Persistence (the reference has none; models only lived inside
    notebook sessions) uses MLlib's layout and goes through Spark's
    filesystem layer, so any Hadoop URI works (file://, hdfs://,
    s3a://): ``<path>/metadata`` (DefaultParamsWriter JSON plus the
    summary and each base model's class) and ``<path>/base<i>`` (each
    base model's own writer). ``save`` overwrites an existing path."""

    def __init__(self, ss_summary: SemiSupervisedSummary | None = None):
        super().__init__()
        self.ss_summary = ss_summary or SemiSupervisedSummary()

    def _base_models(self) -> list:
        raise NotImplementedError

    @classmethod
    def _from_base_models(cls, models: list, ss_summary: SemiSupervisedSummary):
        raise NotImplementedError

    def copy(self, extra=None):
        return self._from_base_models(list(self._base_models()), self.ss_summary)

    def save(self, path: str) -> None:
        _SSCModelWriter(self).overwrite().save(path)

    @classmethod
    def load(cls, path: str):
        import importlib

        meta = DefaultParamsReader.loadMetadata(
            path, SparkSession.active(), f"{cls.__module__}.{cls.__name__}"
        )
        models = []
        for i, qualname in enumerate(meta["base_classes"]):
            module, cls_name = qualname.rsplit(".", 1)
            base_cls = getattr(importlib.import_module(module), cls_name)
            models.append(base_cls.load(os.path.join(path, f"base{i}")))
        return cls._from_base_models(models, SemiSupervisedSummary(**meta["ss_summary"]))


class SelfTrainingModel(_SSCModel):
    """Wrapper over the final fitted base model; transform delegates."""

    def __init__(self, base_model=None, ss_summary: SemiSupervisedSummary | None = None):
        super().__init__(ss_summary)
        self.base_model = base_model

    def _transform(self, dataset: DataFrame) -> DataFrame:
        return self.base_model.transform(dataset)

    def _base_models(self) -> list:
        return [self.base_model]

    @classmethod
    def _from_base_models(cls, models, ss_summary):
        return cls(models[0], ss_summary)


class SelfTraining(Estimator, _SSCParams):
    """Defaults mirror the reference (``SelfTraining.scala:26-30``):
    threshold=0.7, maxIter=7, criterion='threshold', kBest=1.0. The
    masked-label column defaults to 'labelSelection' (the reference
    defaults to 'label' but every call site overrides it to
    'labelSelection' via setColumnLabelName)."""

    @keyword_only
    def __init__(
        self,
        *,
        baseClassifier=None,
        threshold: float = 0.7,
        maxIter: int = 7,
        criterion: str = "threshold",
        kBest: float = 1.0,
        labelSelectionCol: str = "labelSelection",
        featuresCol: str = "features",
        labelCol: str = "label",
        checkpointDir: str = "",
    ):
        super().__init__()
        self._init_ssc(threshold=0.7, maxIter=7, criterion="threshold", kBest=1.0)

    def _fit(self, dataset: DataFrame) -> SelfTrainingModel:
        self._check_criterion()
        base = self.baseClassifier
        max_iter = self.getOrDefault(self.maxIter)

        labeled, unlabeled, n_lab, n_unlab = self._split_pools(dataset)
        n_lab_ini, n_unlab_ini = n_lab, n_unlab

        model = base.fit(labeled)
        it = 1
        k = self._kbest_budget(n_unlab)

        prev_preds = None
        while it < max_iter and n_unlab > 0:
            preds, n_confident = self._score(model, unlabeled)
            # `unlabeled` (a lazy select over the previous round's preds
            # checkpoint) was just re-materialized into `preds`; the old
            # blocks are now unreachable — free them before the fit.
            release(prev_preds)
            prev_preds = preds
            promoted, unlabeled, n_promoted = self._promote(
                preds, n_confident, k, n_unlab
            )
            grown = self._truncate_lineage(labeled.unionAll(promoted))
            release(labeled)
            labeled = grown
            n_lab += n_promoted
            n_unlab -= n_promoted

            model = base.fit(labeled)
            if n_unlab == 0:
                break
            it += 1

        release(prev_preds)
        release(labeled)
        summary = SemiSupervisedSummary(n_lab_ini, n_unlab_ini, n_lab, n_unlab, it)
        return SelfTrainingModel(model, summary)
