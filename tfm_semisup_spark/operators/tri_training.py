"""Tri-Training estimator (Zhou & Li 2005) — the third member of the
classic disagreement-based SSC family, alongside the reference's
self-training (``SelfTraining.scala:121-207``) and co-training
(``CoTraining.scala:122-253``). The reference stops at two members;
tri-training completes the published family the same way the
feature-split option completed co-training (VERDICT r5 #7).

Algorithm (faithful to the paper):

- three classifiers start from diversified samples of the labeled pool
  (the paper bootstraps; here a DETERMINISTIC content-hash ~63.2%
  subsample per classifier stands in — same expected unique mass as a
  bootstrap, reproducible on any partitioning, per this repo's
  rows-only determinism rule);
- each round, for classifier i with peers (j, k): the peers' COMBINED
  error e_i is measured on the labeled pool over rows where they
  agree; if e_i improved vs the previous round, the candidate set
  L_i = {x in U : h_j(x) = h_k(x)} (with the agreed pseudo-label) is
  accepted when e_i·|L_i| < e'_i·l'_i — the paper's PAC-style noise
  bound — optionally SUBSAMPLED (deterministic hash order) to
  ceil(e'_i·l'_i/e_i − 1) to restore the inequality;
- accepted classifiers refit on L ∪ L_i (L_i is NOT accumulated across
  rounds — each round re-derives it, per the paper);
- the loop ends when no classifier updates (or maxIter);
- prediction is the MAJORITY VOTE of the three (ties — all three
  disagree, only possible with >2 classes — fall to h1).

Unlike self/co-training no posterior is needed anywhere, so any MLlib
classifier qualifies (including LinearSVC, which the reference must
exclude — SURVEY §2.2).

Physical shape (the repo's iterative-fit discipline):
- per round, the unlabeled pool is scored ONCE by all three models
  into one checkpointed frame (three narrow model scans fused into a
  single pass over U, not 6 per-pair scans); same for the labeled
  pool;
- all three pairwise agreement/error counts, and the three candidate
  counts, are observed metrics of those two checkpoint jobs
  (``lineage.truncate_counting``): no aggregate or count() job of
  their own. The pools are filters over the one checkpoint
  ``_split_pools`` takes; superseded blocks are released eagerly
  (O(1) lineage at any round count);
- the only driver-side state is the 3-element (e'_i, l'_i) bookkeeping.
"""

from __future__ import annotations

import math

from pyspark import keyword_only
from pyspark.ml import Estimator
from pyspark.ml.functions import vector_to_array
from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tfm_semisup_spark.operators.lineage import release
from tfm_semisup_spark.operators.results import SemiSupervisedSummary
from tfm_semisup_spark.operators.self_training import _SSCModel, _SSCParams

#: deterministic stand-in for bootstrap sampling: keep rows whose
#: content hash lands under 632/1000 (a bootstrap's expected unique
#: fraction, 1 - 1/e).
_BOOT_PERMILLE = 632


def _vote_columns(models, df: DataFrame) -> DataFrame:
    """``df`` plus each model's prediction as ``__p0``, ``__p1``, ...:
    the models score one after another in one narrow pass."""
    for i, m in enumerate(models):
        df = m.transform(df).select(
            *[F.col(c) for c in df.columns], F.col("prediction").alias(f"__p{i}")
        )
    return df


class TriTrainingModel(_SSCModel):
    """Majority vote over the three fitted base models."""

    def __init__(self, models=None, ss_summary=None):
        super().__init__(ss_summary)
        self.models = models or []

    def _transform(self, dataset: DataFrame) -> DataFrame:
        out = _vote_columns(self.models, dataset)
        # majority: 2-of-3 agreement wins; full disagreement -> h1
        p1, p2 = F.col("__p1"), F.col("__p2")
        vote = (
            F.when(p1 == p2, p1).otherwise(F.col("__p0"))
        )  # covers p0==p1, p0==p2 (p0 wins those anyway) and all-distinct
        return out.withColumn("prediction", vote).drop("__p0", "__p1", "__p2")

    def _base_models(self) -> list:
        return self.models

    @classmethod
    def _from_base_models(cls, models, ss_summary):
        return cls(models, ss_summary)


class TriTraining(Estimator, _SSCParams):
    """Zhou & Li 2005 defaults: maxIter bounds the outer rounds (the
    paper runs to stability; 10 is far past convergence on the test
    fixtures). ``seed`` diversifies the three hash-subsamples."""

    seed = Param(
        Params._dummy(),
        "seed",
        "salt of the three hash-subsamples and of the candidate order",
        TypeConverters.toInt,
    )

    @keyword_only
    def __init__(
        self,
        *,
        baseClassifier=None,
        maxIter: int = 10,
        labelSelectionCol: str = "labelSelection",
        featuresCol: str = "features",
        labelCol: str = "label",
        checkpointDir: str = "",
        seed: int = 13,
    ):
        super().__init__()
        self._init_ssc(maxIter=10, seed=13)

    # -- helpers -------------------------------------------------------

    def _content_hash(self, salt: int):
        feats = self.getOrDefault(self.featuresCol)
        return F.xxhash64(vector_to_array(F.col(feats)), F.lit(salt))

    def _score_all(self, models, pool: DataFrame, extra_cols, name: str, **conditions):
        """One pass: pool + __p0/__p1/__p2 prediction columns,
        checkpointed, and the rows satisfying each condition counted
        inside that checkpoint job."""
        votes = _vote_columns(models, pool).select(*extra_cols, "__p0", "__p1", "__p2")
        return self._truncate_counting(votes, name, **conditions)

    def _fit(self, dataset: DataFrame) -> TriTrainingModel:
        base = self.baseClassifier
        max_iter = self.getOrDefault(self.maxIter)
        feats = self.getOrDefault(self.featuresCol)
        label = self.getOrDefault(self.labelCol)
        seed = self.getOrDefault(self.seed)

        labeled, unlabeled, n_lab_ini, n_unlab_ini = self._split_pools(dataset)
        unlabeled = unlabeled.select(feats)
        pairs = ((1, 2), (0, 2), (0, 1))

        def agree(j, k):
            return F.col(f"__p{j}") == F.col(f"__p{k}")

        # diversified deterministic subsamples (bootstrap stand-in)
        models = []
        for i in range(3):
            sub = labeled.where(
                F.pmod(self._content_hash(seed + i), F.lit(1000))
                < _BOOT_PERMILLE
            )
            models.append(base.fit(sub))

        e_prev = [0.5, 0.5, 0.5]
        l_prev = [0, 0, 0]
        it = 0
        n_last_accept = [0, 0, 0]
        while it < max_iter:
            it += 1
            # for each pair (j,k): labeled rows where they agree and how
            # many of those miss the true label
            lab_scored, agg = self._score_all(
                models,
                labeled,
                [label],
                "labeled pool scored by the three models",
                **{f"agree_{j}{k}": agree(j, k) for j, k in pairs},
                **{
                    f"err_{j}{k}": agree(j, k) & (F.col(f"__p{j}") != F.col(label))
                    for j, k in pairs
                },
            )
            release(lab_scored)

            # candidates for classifier i: unlabeled rows its peers agree on
            unlab_scored, cand_counts = self._score_all(
                models,
                unlabeled,
                [feats],
                "unlabeled pool scored by the three models",
                **{f"cand_{i}": agree(j, k) for i, (j, k) in enumerate(pairs)},
            )

            updated = False
            new_models = list(models)
            for i, (j, k) in enumerate(pairs):
                n_agree = agg[f"agree_{j}{k}"]
                if n_agree == 0:
                    continue
                e_i = agg[f"err_{j}{k}"] / n_agree
                if e_i >= e_prev[i]:
                    continue
                n_cand = cand_counts[f"cand_{i}"]
                if n_cand == 0:
                    continue
                li = l_prev[i]
                if li == 0:
                    # paper: first-round prior size so the bound can fire
                    li = math.floor(e_i / (e_prev[i] - e_i) + 1)
                take = None
                if li < n_cand:
                    if e_i * n_cand < e_prev[i] * li:
                        take = n_cand
                    elif li > e_i / (e_prev[i] - e_i):
                        take = math.ceil(e_prev[i] * li / e_i - 1)
                        if take > n_cand:
                            take = None
                if take is None or take <= 0:
                    continue
                cand = unlab_scored.where(agree(j, k))
                if take < n_cand:
                    cand = cand.orderBy(
                        F.pmod(self._content_hash(seed + 100 + i), F.lit(1 << 31))
                    ).limit(take)
                pseudo = cand.select(feats, F.col(f"__p{j}").alias(label))
                new_models[i] = base.fit(labeled.unionAll(pseudo))
                e_prev[i] = e_i
                l_prev[i] = take
                n_last_accept[i] = take
                updated = True
            release(unlab_scored)
            models = new_models
            if not updated:
                break

        # Pool semantics differ from self/co-training: U is never
        # consumed — each round re-derives every L_i as a VIEW of the
        # shared pool. The summary therefore reports the largest
        # augmented training set (L ∪ L_i) any classifier ended on,
        # which keeps labeled_final + unlabeled_final == total.
        max_accept = max(n_last_accept)
        summary = SemiSupervisedSummary(
            n_lab_ini,
            n_unlab_ini,
            n_lab_ini + max_accept,
            n_unlab_ini - max_accept,
            it,
        )
        release(labeled)  # the pools share one checkpoint
        return TriTrainingModel(models, summary)
