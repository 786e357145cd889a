"""SSC loop edge cases pinning reference semantics (SelfTraining.scala
loop guards): maxIter=1 means no promotion rounds; threshold=0 promotes
everything in one round; CoTraining kBest branch; Adult-style
categorical featurization with maxBins (A2 fixture path)."""

from __future__ import annotations

import pytest
from pyspark.ml import Pipeline
from pyspark.ml.classification import DecisionTreeClassifier
from pyspark.sql import functions as F

from tfm_semisup_spark.featurization import ArrayToVector, build_featurization
from tfm_semisup_spark.io import load_table
from tfm_semisup_spark.operators.co_training import CoTraining
from tfm_semisup_spark.operators.self_training import SelfTraining
from tfm_semisup_spark.operators.unlabeled import DeterministicLabelMasker

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def masked(spark):
    emb = load_table(spark, SF, "embeddings")
    df = ArrayToVector(inputCol="embedding", outputCol="features").transform(emb)
    pts = df.select(
        "vec_id", "features",
        F.when(F.col("label") == 1, 1.0).otherwise(0.0).alias("label"),
    )
    return DeterministicLabelMasker(
        percentageLabeled=0.3, idCol="vec_id", seed=11
    ).transform(pts).cache()


def test_self_training_max_iter_one_no_promotion(masked):
    st = SelfTraining(baseClassifier=DecisionTreeClassifier(seed=5), maxIter=1)
    model = st.fit(masked)
    s = model.ss_summary
    assert s.iterations == 1  # reference: iter starts at 1, loop never entered
    assert s.labeled_final == s.labeled_initial
    assert s.unlabeled_final == s.unlabeled_initial


def test_self_training_threshold_zero_promotes_all(masked):
    # probMax > 0 is true for every row -> one promotion round empties
    # the unlabeled pool and the loop stops on countUnlabeled == 0
    st = SelfTraining(
        baseClassifier=DecisionTreeClassifier(seed=5), threshold=0.0, maxIter=5
    )
    model = st.fit(masked)
    s = model.ss_summary
    assert s.unlabeled_final == 0
    assert s.labeled_final == s.labeled_initial + s.unlabeled_initial
    assert s.iterations == 1


def test_self_training_invalid_criterion(masked):
    st = SelfTraining(baseClassifier=DecisionTreeClassifier(seed=5), criterion="nope")
    with pytest.raises(ValueError, match="criterion"):
        st.fit(masked)


def test_co_training_kbest(masked):
    ct = CoTraining(
        baseClassifier=DecisionTreeClassifier(seed=5),
        criterion="kBest",
        kBest=0.5,
        maxIter=3,
    )
    model = ct.fit(masked)
    s = model.ss_summary
    assert s.labeled_final > s.labeled_initial
    assert s.labeled_final + s.unlabeled_final == s.labeled_initial + s.unlabeled_initial
    assert 1 <= s.iterations <= 3


def test_adult_style_featurization_with_maxbins(spark):
    """A2 fixture path: mixed categorical/continuous, StringIndexer
    handleInvalid=keep, DT with maxBins (the reference needs
    maxBins=42 for Adult's high-cardinality categoricals)."""
    cust = load_table(spark, SF, "customer").withColumn(
        "clase", F.when(F.col("c_acctbal") > 0, "pos").otherwise("neg")
    )
    stages = build_featurization(
        categorical_cols=["c_mktsegment"],
        numeric_cols=["c_acctbal", "c_nationkey"],
        label_col="clase",
        handle_invalid="keep",
    )
    pipe = Pipeline(stages=stages + [DecisionTreeClassifier(seed=5, maxBins=42)])
    model = pipe.fit(cust)
    preds = model.transform(cust)
    assert preds.where(F.col("prediction").isNull()).count() == 0
    acc = preds.where(F.col("prediction") == F.col("label")).count() / preds.count()
    assert acc > 0.9  # label is a function of a feature; DT should nail it


def test_reliable_checkpoint_dir(spark, masked, tmp_path):
    """checkpointDir set -> reliable .checkpoint() path (cluster-grade
    lineage truncation); results identical to the localCheckpoint path."""
    st_local = SelfTraining(
        baseClassifier=DecisionTreeClassifier(seed=5), threshold=0.75, maxIter=3
    )
    st_reliable = SelfTraining(
        baseClassifier=DecisionTreeClassifier(seed=5),
        threshold=0.75,
        maxIter=3,
        checkpointDir=str(tmp_path / "ckpt"),
    )
    s1 = st_local.fit(masked).ss_summary
    s2 = st_reliable.fit(masked).ss_summary
    assert s1 == s2
    import os
    assert os.listdir(tmp_path / "ckpt")  # checkpoint data actually written


@pytest.mark.parametrize("uri", [False, True], ids=["path", "file_uri"])
@pytest.mark.parametrize(
    "family", [SelfTraining, CoTraining], ids=["self_training", "co_training"]
)
def test_model_persistence(spark, masked, tmp_path, monkeypatch, family, uri):
    """A fitted SSC model (for CoTraining, the final union-fit base model
    in a SelfTrainingModel) round-trips through save/load with identical
    transform output — the 100 TB grid user checkpoints fitted models
    between stages instead of refitting (VERDICT r2 item 6). Saving to
    a Hadoop URI writes every file under the target directory and
    nothing under the working directory."""
    from tfm_semisup_spark.operators.self_training import SelfTrainingModel

    model = family(
        baseClassifier=DecisionTreeClassifier(seed=5), threshold=0.75, maxIter=2
    ).fit(masked)
    target = tmp_path / "model"
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    path = target.as_uri() if uri else str(target)
    model.save(path)
    model.save(path)  # saving again overwrites

    assert list(cwd.iterdir()) == []
    assert {p.name for p in target.iterdir()} == {"metadata", "base0"}
    loaded = SelfTrainingModel.load(path)
    assert loaded.ss_summary == model.ss_summary
    orig = sorted(
        (r["vec_id"], r["prediction"]) for r in model.transform(masked).collect()
    )
    back = sorted(
        (r["vec_id"], r["prediction"]) for r in loaded.transform(masked).collect()
    )
    assert orig == back


#: Spark jobs of one fit on ``pinned_input``, per estimator setting
FIT_JOBS = {
    "self_threshold": 23,
    "self_kbest": 36,
    "co_instances": 39,
    "co_features": 23,
    "supervised": 11,
    "tri": 87,
}


def _pinned_estimator(case: str):
    from pyspark.ml.classification import NaiveBayes

    from tfm_semisup_spark.operators.supervised import Supervised
    from tfm_semisup_spark.operators.tri_training import TriTraining

    dt = DecisionTreeClassifier(seed=5)
    return {
        "self_threshold": lambda: SelfTraining(
            baseClassifier=dt, threshold=0.75, maxIter=3
        ),
        "self_kbest": lambda: SelfTraining(
            baseClassifier=dt, criterion="kBest", kBest=0.5, maxIter=3
        ),
        "co_instances": lambda: CoTraining(
            baseClassifier=dt, threshold=0.75, maxIter=3
        ),
        "co_features": lambda: CoTraining(
            baseClassifier=NaiveBayes(modelType="gaussian"),
            criterion="kBest",
            kBest=0.5,
            maxIter=3,
            viewSplit="features",
        ),
        "supervised": lambda: Supervised(baseClassifier=dt),
        "tri": lambda: TriTraining(baseClassifier=dt, maxIter=3),
    }[case]()


@pytest.fixture(scope="module")
def pinned_input(masked):
    # a checkpoint scan: the fits below read materialized blocks, so no
    # job count depends on whether an earlier test filled the cache
    return masked.localCheckpoint()


@pytest.mark.parametrize("case", sorted(FIT_JOBS))
def test_fit_job_count_pinned(spark_jobs, pinned_input, case):
    """Each SSC estimator's ``fit`` on a fixed masked input runs a pinned
    number of Spark jobs. At this size a fit's time follows its job
    count, so a change to the eager job cascade shows up here first."""
    est = _pinned_estimator(case)
    assert spark_jobs(lambda: est.fit(pinned_input)) == FIT_JOBS[case]


@pytest.mark.parametrize("case", sorted(FIT_JOBS))
def test_fit_summary_same_under_both_checkpoints(pinned_input, tmp_path, case):
    """The pool bookkeeping, counted inside the fit's checkpoint jobs,
    is the same under localCheckpoint and under a reliable
    ``Dataset.checkpoint`` (checkpointDir), and matches explicit
    count() cross-checks on the same input."""
    s = _pinned_estimator(case).fit(pinned_input).ss_summary
    reliable = _pinned_estimator(case)
    reliable.set(reliable.checkpointDir, (tmp_path / "ckpt").as_uri())
    assert reliable.fit(pinned_input).ss_summary == s
    unlabeled = F.isnan("labelSelection")
    n_lab = pinned_input.where(~unlabeled).count()
    n_unlab = pinned_input.where(unlabeled).count()
    assert (s.labeled_initial, s.unlabeled_initial) == (n_lab, n_unlab)
    assert s.labeled_final + s.unlabeled_final == n_lab + n_unlab
    assert s.labeled_final >= s.labeled_initial


@pytest.mark.parametrize("case", sorted(FIT_JOBS))
def test_fit_with_empty_unlabeled_pool(masked, case):
    """percentageLabeled=1.0 leaves the unlabeled pool empty: every
    estimator fits on the labeled rows alone and promotes nothing."""
    all_labeled = DeterministicLabelMasker(
        percentageLabeled=1.0, idCol="vec_id", seed=11
    ).transform(masked.drop("labelSelection"))
    s = _pinned_estimator(case).fit(all_labeled).ss_summary
    n = all_labeled.count()
    assert (s.labeled_initial, s.unlabeled_initial) == (n, 0)
    assert (s.labeled_final, s.unlabeled_final) == (n, 0)


def test_split_pools_zero_partition_input(spark, masked):
    """A zero-partition input yields two empty pools, not a hang or a
    missing metrics row."""
    empty = spark.createDataFrame(spark.sparkContext.emptyRDD(), masked.schema)
    assert empty.rdd.getNumPartitions() == 0
    labeled, unlabeled, n_lab, n_unlab = SelfTraining()._split_pools(empty)
    assert (n_lab, n_unlab) == (0, 0)
    assert labeled.count() == unlabeled.count() == 0


@pytest.mark.parametrize("reliable", [False, True], ids=["local", "reliable"])
def test_truncate_counting_matches_count(masked, tmp_path, reliable):
    """Counts observed inside the checkpoint job equal count() over the
    checkpointed frame, for either checkpoint kind."""
    from tfm_semisup_spark.operators.lineage import truncate_counting

    ckpt_dir = (tmp_path / "ckpt").as_uri() if reliable else None
    conds = {
        "unlabeled": F.isnan("labelSelection"),
        "positive": F.col("label") > 0.5,
        "never": F.lit(False),
    }
    out, n = truncate_counting(masked, "masked input", ckpt_dir, **conds)
    assert n == {
        "rows": out.count(),
        **{key: out.where(cond).count() for key, cond in conds.items()},
    }


def test_truncate_counting_leaves_session_serializable(masked):
    """Counting must not give the session state that tasks cannot
    serialize: a random forest keeps its training summary, which holds
    the session, and its transform UDF ships that to every task. (An
    ``Observation`` breaks exactly this with "Task not serializable".)"""
    from pyspark.ml.classification import RandomForestClassifier

    from tfm_semisup_spark.operators.lineage import release, truncate_counting

    pool, n = truncate_counting(masked, "masked input", positive=F.col("label") > 0.5)
    model = RandomForestClassifier(numTrees=3, seed=5).fit(pool)
    preds = model.transform(pool).select("prediction").collect()
    assert len(preds) == n["rows"]
    release(pool)


@pytest.mark.parametrize(
    "metrics",
    [None, {"rows": 3}, {"rows": 3, "x": None}, {"rows": 3, "x": 4}, {"rows": 3, "x": -1}],
    ids=["no_row", "missing", "null", "above_rows", "negative"],
)
def test_check_counts_rejects_bad_rows(metrics):
    """An absent observed row, an absent or null count, or a count
    outside [0, rows] raises, naming the frame."""
    from tfm_semisup_spark.operators.lineage import check_counts

    with pytest.raises(RuntimeError, match="scored pool: observed"):
        check_counts("scored pool", metrics, ["x"])


@pytest.mark.parametrize(
    "kbest,n_unlabeled,max_iter,budget", [(1.0, 5, 3, 3), (0.5, 346, 3, 87)]
)
def test_kbest_budget_rounds_half_up(kbest, n_unlabeled, max_iter, budget):
    """round(kBest * |U| / (maxIter - 1)) is Scala's half-up math.round
    (``SelfTraining.scala:173``): 2.5 -> 3 and 86.5 -> 87, where
    Python's round would give 2 and 86."""
    st = SelfTraining(criterion="kBest", kBest=kbest, maxIter=max_iter)
    assert st._kbest_budget(n_unlabeled) == budget
