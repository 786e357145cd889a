"""Experiment grid construction + execution (reference C7-C9, C11-C13).

The reference builds nested name->Pipeline arrays
(``FunctionsSemiSupervised.scala:51-126``), pre-creates an empty
results DataFrame with one row per grid cell (``:139-183``), and
updates it cell-by-cell with chained ``withColumn(when(4-key match))``
projections (``:203-253``) — so the final plan embeds every scalar
result as a literal in a tower of CASE WHENs.

Rebuild: a plain Python product grid, results collected as rows, ONE
``spark.createDataFrame`` at the end (SURVEY.md §3 rebuild note a).
Output schema matches ``AllResults.csv`` (FIXTURES.md A6) so the
reference's published artifacts are directly comparable.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.ml import Estimator, Pipeline
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from tfm_semisup_spark.operators.co_training import CoTraining
from tfm_semisup_spark.operators.evaluation import cross_validate
from tfm_semisup_spark.operators.lineage import release
from tfm_semisup_spark.operators.self_training import SelfTraining
from tfm_semisup_spark.operators.supervised import Supervised
from tfm_semisup_spark.operators.unlabeled import UnlabeledTransformer

RESULTS_SCHEMA = StructType(
    [
        StructField("data", StringType()),
        StructField("classifier", StringType()),
        StructField("criterion", StringType()),
        StructField("percentageLabeled", DoubleType()),
        StructField("thresholdOrKBest", DoubleType()),
        StructField("iteration", IntegerType()),
        StructField("LabeledInitial", LongType()),
        StructField("UnLabeledInitial", LongType()),
        StructField("LabeledFinal", LongType()),
        StructField("UnLabeledFinal", LongType()),
        StructField("percentageLabeledFinal", DoubleType()),
        StructField("accuracy", DoubleType()),
        StructField("AUC", DoubleType()),
        StructField("PR", DoubleType()),
        StructField("F1score", DoubleType()),
    ]
)

FAMILIES = ("selfTraining", "coTraining", "supervised")

MASK_SEED = 11  # reference: `UnlabeledTransformer.scala:14`

# reference Adult config (`SemiSupervisedAndBaseClassifiers.scala:399,463`;
# `BaseClassifiers.scala:568-570`): a categorical feature has >32 distinct
# values, so tree classifiers need maxBins raised to 42
ADULT_MAX_BINS = 42


def reference_classifiers(
    seed: int = 5,
    max_bins: int = 32,
    nb_model_type: str = "multinomial",
) -> dict[str, Callable[[], Estimator]]:
    """The reference's 4-classifier set — DT, RF, NB, LR
    (``SemiSupervisedAndBaseClassifiers.scala:140-143``), all Spark
    defaults like the reference, plus the two published knobs:

    - ``max_bins``: pass ``ADULT_MAX_BINS`` (42) to reproduce the Adult
      config (``:399,463``) where a categorical feature exceeds the
      32-bin default;
    - ``nb_model_type``: the reference's ``new NaiveBayes()`` is
      multinomial (non-negative features only — its KEEL/Adult inputs
      are); pass ``'gaussian'`` for signed feature spaces such as
      embeddings.

    LinearSVC is deliberately absent: no probabilityCol, same exclusion
    the reference applies for SSL (``SelfTraining.scala:17-24``).
    """
    from pyspark.ml.classification import (
        DecisionTreeClassifier,
        LogisticRegression,
        NaiveBayes,
        RandomForestClassifier,
    )

    return {
        "DT": lambda: DecisionTreeClassifier(seed=seed, maxBins=max_bins),
        "RF": lambda: RandomForestClassifier(seed=seed, maxBins=max_bins),
        "NB": lambda: NaiveBayes(modelType=nb_model_type),
        "LR": lambda: LogisticRegression(),
    }


def baseline_classifiers(
    seed: int = 5,
    max_bins: int = 32,
    nb_model_type: str = "multinomial",
) -> dict[str, Callable[[], Estimator]]:
    """The reference's SUPERVISED-baseline classifier set: the four SSL
    classifiers plus LinearSVC (``BaseClassifiers.scala:334,573`` — LSVM
    appears in the hold-out baseline grid only; published BCW anchor
    0.9653 ``resultsClasificadoresBase.csv:20``). Kept separate from
    ``reference_classifiers`` because LinearSVC has no probabilityCol
    and is excluded from the SSC families (``SelfTraining.scala:17-24``,
    enforced by ``require_probabilistic``)."""
    from pyspark.ml.classification import LinearSVC

    clfs = reference_classifiers(
        seed=seed, max_bins=max_bins, nb_model_type=nb_model_type
    )
    clfs["LSVM"] = lambda: LinearSVC()
    return clfs


@dataclass(frozen=True)
class GridCell:
    classifier_name: str
    criterion: str
    percentage_labeled: float
    threshold_or_kbest: float
    estimator: Estimator


def build_ssl_grid(
    classifiers: dict[str, Callable[[], Estimator]],
    percentages: list[float],
    thresholds: list[float] | None = None,
    kbests: list[float] | None = None,
    criteria: tuple[str, ...] = ("threshold",),
    family: str = "selfTraining",
    max_iter: int = 7,
) -> list[GridCell]:
    """Python-product re-expression of ``pipelineModelsSelfTraining`` /
    ``pipelineModelsCoTraining`` (``FunctionsSemiSupervised.scala:51-126``):
    criterion x percentage x (threshold|kBest) x classifier."""
    if family not in FAMILIES:
        raise ValueError(f"family must be one of {FAMILIES}")
    ssc = {"selfTraining": SelfTraining, "coTraining": CoTraining}.get(family)
    cells: list[GridCell] = []
    for criterion in criteria:
        values = (thresholds or [0.7]) if criterion == "threshold" else (kbests or [1.0])
        for pct in percentages:
            for value in values:
                for clf_name, make_clf in classifiers.items():
                    base = make_clf()
                    if ssc is None:
                        est: Estimator = Supervised(baseClassifier=base)
                    else:
                        est = ssc(
                            baseClassifier=base,
                            criterion=criterion,
                            threshold=value,
                            kBest=value,
                            maxIter=max_iter,
                        )
                    cells.append(
                        GridCell(clf_name, criterion, pct, value, est)
                    )
    return cells


def run_experiment_grid(
    spark: SparkSession,
    data: DataFrame,
    data_name: str,
    featurization: list,
    cells: list[GridCell],
    k: int = 4,
    id_col: str | None = None,
) -> DataFrame:
    """Executor re-expression of ``SupervisedAndSemiSupervisedResuts``
    (``FunctionsSemiSupervised.scala:188-257``): per cell, assemble
    Pipeline([featurization..., UnlabeledTransformer(pct), estimator]),
    run k-fold CV, collect one result row; build the results table once."""
    rows = []
    for cell in cells:
        pipeline = Pipeline(
            stages=list(featurization)
            + [
                UnlabeledTransformer(
                    percentageLabeled=cell.percentage_labeled, seed=MASK_SEED
                ),
                cell.estimator,
            ]
        )
        cv = cross_validate(data, pipeline, k=k, id_col=id_col)
        ss = cv.ss_summary
        m = cv.metrics
        rows.append(
            (
                data_name,
                cell.classifier_name,
                cell.criterion,
                float(cell.percentage_labeled),
                float(cell.threshold_or_kbest),
                int(ss.iterations),
                int(ss.labeled_initial),
                int(ss.unlabeled_initial),
                int(ss.labeled_final),
                int(ss.unlabeled_final),
                float(ss.percentage_labeled_final),
                float(m.accuracy),
                float(m.auc_roc),
                float(m.auc_pr),
                float(m.f1_label1),
            )
        )
    return spark.createDataFrame(rows, RESULTS_SCHEMA)


HOLDOUT_SCHEMA = StructType(
    [
        StructField("data", StringType()),
        StructField("clasificador", StringType()),
        StructField("porcentajeEtiquetado", DoubleType()),
        StructField("accuracy", DoubleType()),
        StructField("AUC", DoubleType()),
        StructField("PR", DoubleType()),
        StructField("F1score", DoubleType()),
    ]
)

HOLDOUT_SPLIT_SEED = 8  # reference: `BaseClassifiers.scala:296` (75/25)
HOLDOUT_SUBSET_SEED = 11  # reference: `BaseClassifiers.scala:100`


def run_holdout_baselines(
    spark: SparkSession,
    data: DataFrame,
    data_name: str,
    featurization: list,
    classifiers: dict[str, Callable[[], Estimator]],
    percentages: list[float],
    train_fraction: float = 0.75,
) -> DataFrame:
    """Supervised hold-out baseline runner (reference C12:
    ``generadorModeloResutladosCompleto``, ``BaseClassifiers.scala:87-165``).

    One fixed train/test split (seed 8); per (percentage, classifier):
    seeded randomSplit keeps `percentage` of training (seed 11), fit the
    featurization+classifier pipeline, evaluate on the held-out test.
    The per-percentage subset is reused across classifiers (same-seed
    split of the same input — the reference relies on this too).

    Results collected as rows -> ONE createDataFrame
    (resultsClasificadoresBase.csv schema, FIXTURES.md) instead of the
    reference's per-cell CASE-WHEN updates (``:142-153``).
    """
    from tfm_semisup_spark.operators.evaluation import evaluate_predictions

    train, test = data.randomSplit(
        [train_fraction, 1.0 - train_fraction], seed=HOLDOUT_SPLIT_SEED
    )
    train = train.localCheckpoint(eager=True)
    test = test.localCheckpoint(eager=True)
    rows = []
    for pct in percentages:
        subset = train.randomSplit([pct, 1.0 - pct], seed=HOLDOUT_SUBSET_SEED)[0]
        subset = subset.localCheckpoint(eager=True)
        for clf_name, make_clf in classifiers.items():
            pipeline = Pipeline(stages=list(featurization) + [make_clf()])
            model = pipeline.fit(subset)
            m = evaluate_predictions(model.transform(test))
            rows.append(
                (
                    data_name,
                    clf_name,
                    float(pct),
                    float(m.accuracy),
                    float(m.auc_roc),
                    float(m.auc_pr),
                    float(m.f1_label1),
                )
            )
        release(subset)
    # free the split checkpoints now, not at the next driver GC
    release(train)
    release(test)
    return spark.createDataFrame(rows, HOLDOUT_SCHEMA)


def write_all_results_csv(results: DataFrame, path: str) -> None:
    """Emit a grid results table in the reference's AllResults.csv
    shape (`notebooks/SemiSupervised/Results/AllResults.csv`: exact
    same 15-column header, comma-separated, header row first). One
    part file via coalesce(1): the results table is one row per grid
    cell — always tiny regardless of corpus scale."""
    results.coalesce(1).write.mode("overwrite").option("header", True).csv(path)
