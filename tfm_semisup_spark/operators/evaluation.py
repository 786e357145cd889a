"""k-fold cross-validation + metrics (reference C10:
``FunctionsSemiSupervised.scala:263-330``).

The reference round-trips DataFrame -> RDD (``MLUtils.kFold(data.rdd)``)
-> DataFrame per fold, then computes each metric with a separate mllib
metrics object over a ``predictionAndLabels`` RDD — several full passes
per fold, outside Catalyst. Rebuild (SURVEY.md §3 "rebuild lifecycle"):

- fold membership is a COLUMN (seeded, checkpointed once); folds are
  selected by filter — the data never leaves the DataFrame API;
- ALL metrics derive from one confusion-matrix pass
  (``groupBy(prediction, label).count()`` -> a handful of cells
  collected to the driver) — one distributed job per fold instead of
  one per metric;
- the folds run CONCURRENTLY, ``min(k, defaultParallelism)`` in
  flight: a fold is mostly driver-side planning between small jobs,
  so one fold's planning overlaps the other folds' jobs (the pattern
  of ``pyspark.ml.tuning.CrossValidator._fit``). Each fold fits its
  own ``pipeline.copy()``; results are gathered in fold order, so the
  averages are the serial loop's.

Metric parity quirk, preserved knowingly (BASELINE.md caveat): the
reference feeds HARD 0/1 predictions to BinaryClassificationMetrics
(``FunctionsSemiSupervised.scala:294-300``), so its "AUC"/"PR" are
single-threshold trapezoids, not true score AUCs:

- areaUnderROC over points (0,0), (FPR, TPR), (1,1)  == (1+TPR-FPR)/2
  (balanced accuracy);
- areaUnderPR over points (0, prec), (rec, prec), (1, prior).

``score_based_roc_auc`` computes the CORRECT probability-ranked AUC
(Mann-Whitney rank form over distributed two-phase midranks — no
global-sort window) for when parity with the reference's quirk is not
wanted. Positive class is label 1.0 (reference: ``metrics.fMeasure(1)``).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.ml import Pipeline
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from tfm_semisup_spark.operators.lineage import release
from tfm_semisup_spark.operators.results import SemiSupervisedSummary

KFOLD_SEED = 8  # reference: `FunctionsSemiSupervised.scala:273`


@dataclass(frozen=True)
class ClassificationMetrics:
    accuracy: float
    auc_roc: float
    auc_pr: float
    f1_label1: float
    n_rows: int


@dataclass
class CVResult:
    metrics: ClassificationMetrics
    ss_summary: SemiSupervisedSummary
    per_fold: list[ClassificationMetrics] = field(default_factory=list)


def metrics_from_confusion(cells: list[tuple[float, float, int]]) -> ClassificationMetrics:
    """All four reference metrics from (prediction, label, count) cells.

    Positive class == 1.0; multiclass inputs are binarized for the
    ROC/PR/F1 quantities (same effect as mllib's fMeasure(1) and the
    reference's hard-prediction BinaryClassificationMetrics).
    """
    total = sum(n for _, _, n in cells)
    if total == 0:
        return ClassificationMetrics(0.0, 0.0, 0.0, 0.0, 0)
    correct = sum(n for p, l, n in cells if p == l)
    tp = sum(n for p, l, n in cells if p == 1.0 and l == 1.0)
    fp = sum(n for p, l, n in cells if p == 1.0 and l != 1.0)
    fn = sum(n for p, l, n in cells if p != 1.0 and l == 1.0)
    pos = tp + fn
    neg = total - pos

    accuracy = correct / total
    tpr = tp / pos if pos else 0.0
    fpr = fp / neg if neg else 0.0
    precision = tp / (tp + fp) if (tp + fp) else 0.0
    recall = tpr
    f1 = 2 * precision * recall / (precision + recall) if (precision + recall) else 0.0

    # hard-prediction trapezoids (reference parity; see module docstring)
    auc_roc = (1.0 + tpr - fpr) / 2.0
    prior = pos / total
    auc_pr = recall * precision + (1.0 - recall) * (precision + prior) / 2.0
    return ClassificationMetrics(accuracy, auc_roc, auc_pr, f1, total)


def evaluate_predictions(
    predictions: DataFrame,
    prediction_col: str = "prediction",
    label_col: str = "label",
) -> ClassificationMetrics:
    """One distributed pass -> driver-side metric arithmetic."""
    cells = [
        (row[prediction_col], row[label_col], row["n"])
        for row in predictions.groupBy(prediction_col, label_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ]
    return metrics_from_confusion(cells)


def midranked_score_groups(
    predictions: DataFrame,
    probability_col: str = "probability",
    label_col: str = "label",
    n_range_partitions: int = 32,
) -> tuple[DataFrame, DataFrame]:
    """(score, cnt, pos_cnt, midrank) per distinct score, computed
    WITHOUT a global-sort window (an unpartitioned ``Window.orderBy``
    moves every row to ONE partition; a scale-killer on a 100 TB
    prediction set):

    1. ``groupBy(score)`` collapses rows to one (cnt, pos_cnt) pair per
       distinct score — a normal hash-shuffle reduction;
    2. ``repartitionByRange(score)`` range-partitions the distinct
       scores; per-partition totals (one tiny row per partition) are
       collected and turned into cumulative *offsets* on the driver;
    3. the midrank of each score group = its partition's offset + the
       within-partition running count (a PARTITIONED window) +
       (cnt+1)/2 — classic two-phase distributed cumulative sum.

    Returns (per-score checkpoint, midranked groups): the groups read
    the checkpoint, so the caller releases it once it is done with them.
    """
    from pyspark.ml.functions import vector_to_array
    from pyspark.sql.window import Window

    score = F.element_at(vector_to_array(F.col(probability_col)), 2)
    per_score = (
        predictions.select(
            score.alias("score"), (F.col(label_col) == 1.0).alias("is_pos")
        )
        .groupBy("score")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.when(F.col("is_pos"), 1).otherwise(0)).alias("pos_cnt"),
        )
        .repartitionByRange(n_range_partitions, "score")
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=False)  # pin pid: same partitioning for both passes
    )
    # per-partition totals -> cumulative offsets (bounded: one row per partition)
    totals = {
        r["pid"]: r["t"]
        for r in per_score.groupBy("pid").agg(F.sum("cnt").alias("t")).collect()
    }
    running = 0
    offsets = []
    for pid in sorted(totals):
        offsets.append((pid, running))
        running += totals[pid]
    spark = predictions.sparkSession
    offsets_df = spark.createDataFrame(offsets or [(0, 0)], "pid int, offset long")

    w_part = (
        Window.partitionBy("pid")
        .orderBy("score")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return per_score, (
        per_score.join(F.broadcast(offsets_df), "pid")
        .withColumn("cum_through", F.sum("cnt").over(w_part))
        .select(
            "score",
            "cnt",
            "pos_cnt",
            (
                F.col("offset")
                + (F.col("cum_through") - F.col("cnt"))
                + (F.col("cnt") + 1) / 2.0
            ).alias("midrank"),
        )
    )


def score_based_roc_auc(
    predictions: DataFrame,
    probability_col: str = "probability",
    label_col: str = "label",
    n_range_partitions: int = 32,
) -> float:
    """True ROC AUC from the positive-class posterior (not the
    reference's hard-prediction trapezoid).

    Mann-Whitney rank form: AUC = (R_pos - P(P+1)/2) / (P*N), with
    average ranks for score ties, over the distributed midranks of
    ``midranked_score_groups`` (no single-partition sort anywhere).
    """
    per_score, groups = midranked_score_groups(
        predictions, probability_col, label_col, n_range_partitions
    )
    try:
        agg = groups.agg(
            F.sum(F.col("pos_cnt") * F.col("midrank")).alias("r_pos"),
            F.sum("pos_cnt").alias("p"),
            F.sum(F.col("cnt") - F.col("pos_cnt")).alias("n"),
        ).head()
    finally:
        release(per_score)
    p, n = agg["p"], agg["n"]
    if not p or not n:
        return 0.0
    return float((agg["r_pos"] - p * (p + 1) / 2.0) / (p * n))


def assign_folds(
    df: DataFrame,
    k: int,
    seed: int = KFOLD_SEED,
    id_col: str | None = None,
    fold_col: str = "fold",
) -> DataFrame:
    """Fold membership as a column.

    With an id column: ``pmod(xxhash64(id, seed), k)`` — fully
    deterministic across reruns/partitionings (the 100 TB choice).
    Without: seeded ``rand`` — deterministic only for a fixed plan, so
    the result is checkpointed by cross_validate before use.
    """
    if id_col is not None:
        fold = F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(k))
    else:
        fold = F.floor(F.rand(seed) * k)
    return df.withColumn(fold_col, F.least(fold.cast("int"), F.lit(k - 1)))


def _find_ss_summary(model) -> SemiSupervisedSummary:
    stages = getattr(model, "stages", [model])
    for stage in reversed(stages):
        summary = getattr(stage, "ss_summary", None)
        if summary is not None:
            return summary
    return SemiSupervisedSummary()


def cross_validate(
    data: DataFrame,
    pipeline: Pipeline,
    k: int = 4,
    seed: int = KFOLD_SEED,
    id_col: str | None = None,
) -> CVResult:
    """k-fold CV of a full pipeline (featurization + masking + SSC
    estimator), averaging the reference's 4 metrics + pool bookkeeping
    over folds (``FunctionsSemiSupervised.scala:317-325``).

    Fold membership is checkpointed once; the k folds then fit and
    evaluate on ``min(k, defaultParallelism)`` threads, each through
    ``inheritable_thread_target`` so its jobs keep the caller's job
    group and local properties. Every fold fits its own
    ``pipeline.copy()``, made on the calling thread (the SSC copies
    carry their own base classifier), so no estimator instance is
    shared between threads and ``pipeline``'s stages are never fitted
    themselves. Per-fold metrics and summaries are kept in fold order.
    The fold checkpoint is released once every fold thread has
    returned or failed; the first failing fold's error (in fold order)
    then propagates."""
    spark = data.sparkSession
    folded = assign_folds(data, k, seed, id_col).localCheckpoint(eager=True)

    def run_fold(i: int, fold_pipeline: Pipeline):
        train = folded.where(F.col("fold") != i).drop("fold")
        test = folded.where(F.col("fold") == i).drop("fold")
        model = fold_pipeline.fit(train)
        return evaluate_predictions(model.transform(test)), _find_ss_summary(model)

    copies = [pipeline.copy() for _ in range(k)]
    threads = min(k, spark.sparkContext.defaultParallelism)
    try:
        with ThreadPoolExecutor(max_workers=threads) as pool:
            run = inheritable_thread_target(spark)(run_fold)
            folds = list(pool.map(run, range(k), copies))
    finally:
        # the pool's exit has joined every fold thread: free the fold
        # checkpoint now, not at the next driver GC
        release(folded)
    per_fold = [m for m, _ in folds]
    summaries = [s for _, s in folds]

    avg = ClassificationMetrics(
        accuracy=sum(m.accuracy for m in per_fold) / k,
        auc_roc=sum(m.auc_roc for m in per_fold) / k,
        auc_pr=sum(m.auc_pr for m in per_fold) / k,
        f1_label1=sum(m.f1_label1 for m in per_fold) / k,
        n_rows=sum(m.n_rows for m in per_fold),
    )
    ss = SemiSupervisedSummary(
        labeled_initial=sum(s.labeled_initial for s in summaries) // k,
        unlabeled_initial=sum(s.unlabeled_initial for s in summaries) // k,
        labeled_final=sum(s.labeled_final for s in summaries) // k,
        unlabeled_final=sum(s.unlabeled_final for s in summaries) // k,
        iterations=sum(s.iterations for s in summaries) // k,
    )
    return CVResult(metrics=avg, ss_summary=ss, per_fold=per_fold)
