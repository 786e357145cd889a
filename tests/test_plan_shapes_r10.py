"""Round-10 plan and behavior pins.

- every r10-born query compiles under strict codegen (janino failures
  fatal) — the silent-interpreted-fallback defect class;
- the two-round SelfTraining oracle actually EXERCISES the
  refit-on-promoted step (nonzero round-1 promotions, a round-2 pool
  strictly smaller than round 1) — a threshold the data cannot clear
  would silently reduce it to the one-round entry run twice.
"""

from __future__ import annotations

from tests.conftest import SF_DIR, strict_codegen_sweep
from tfm_semisup_spark.queries import QUERIES, load_all_queries

load_all_queries()


test_r10_queries_compile_under_strict_codegen = strict_codegen_sweep(10)


def test_two_round_selftrain_exercises_refit(spark):
    rows = {
        (r["rnd"], r["pred_class"]): r
        for r in QUERIES["ssl_selftrain_two_round_nb"](spark, SF_DIR).collect()
    }
    promoted_r1 = sum(r["n_promoted"] for (rnd, _), r in rows.items() if rnd == 1)
    scored_r1 = sum(r["n_scored"] for (rnd, _), r in rows.items() if rnd == 1)
    scored_r2 = sum(r["n_scored"] for (rnd, _), r in rows.items() if rnd == 2)
    assert promoted_r1 > 0, "round 1 promoted nothing — refit unexercised"
    assert scored_r2 == scored_r1 - promoted_r1, "round-2 pool must shrink"
    # the refit must actually CHANGE the verdicts: identical per-class
    # promotion counts on the shrunken pool would mean the widened
    # training counts had no effect (vanishingly unlikely when the
    # pseudo-labels shift the likelihoods)
    r1 = {c: rows[(1, c)]["n_promoted"] for (rnd, c) in rows if rnd == 1}
    r2 = {c: rows[(2, c)]["n_promoted"] for (rnd, c) in rows if rnd == 2}
    assert r1 != r2
