"""Training bookkeeping summary.

Replaces the reference's ``SemiSupervisedDataResults`` mutable
side-channel (``SemiSupervisedDataResults.scala:3-11``, written from
inside estimators at ``SelfTraining.scala:199-203``). A shared mutable
object is not reproducible under concurrent fits; instead each fit
returns its bookkeeping as an immutable summary attached to the model
it returns (``model.ss_summary``), the one place the summary lives.
Estimators keep no state from a fit, so the folds of
``evaluation.cross_validate``, which fit concurrently, share nothing:
read the per-fold summaries off the fold models, or the averaged
``CVResult.ss_summary``.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class SemiSupervisedSummary:
    """Labeled/unlabeled pool sizes before/after training + iterations.

    Field meanings match the reference's results columns
    (``FunctionsSemiSupervised.scala:303-307``): LabeledInitial,
    UnLabeledInitial, LabeledFinal, UnLabeledFinal, iteration.
    """

    labeled_initial: int = 0
    unlabeled_initial: int = 0
    labeled_final: int = 0
    unlabeled_final: int = 0
    iterations: int = 0

    @property
    def percentage_labeled_final(self) -> float:
        total = self.labeled_final + self.unlabeled_final
        return float(self.labeled_final) / total if total else 0.0
