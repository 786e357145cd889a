"""Reusable calibration operators: binned isotonic fit + conformal
threshold.

The query tier (``queries/ssl_queries.py``) demos these on the NB
scorer; this module is the user-facing API form — each function takes
an already-aggregated BOUNDED relation (the one fact-scale shuffle is
the caller's, exactly like the equidepth/midhinge quantile tiers) and
returns a DataFrame, so both compose with any upstream scorer.

- ``isotonic_fit_binned``: L2 isotonic regression over an ordered bin
  grid via the closed minimax form fit_i = max_{j<=i} min_{k>=i}
  weightedMean(j..k) (Ayer et al. 1955; the PAV fit) — two windows +
  one non-equi join over <= B(B+1)/2 segment rows, scale-free for
  bounded B. Property-pinned against classic PAVA in
  tests/test_stats5_properties.py and tests/test_linkage_calibration.py.
- ``conformal_threshold``: the split-conformal quantile q_hat = the
  ceil((1-miscoverage)(n+1))-th smallest nonconformity, read off the
  caller's COUNTED (score, count) grid (no global sort) with the rank
  computed by exact integer ceil-division — deterministic under any
  partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def isotonic_fit_binned(
    bins: DataFrame,
    bin_col: str = "bin",
    n_col: str = "n_k",
    h_col: str = "h_k",
    out_col: str = "fit",
) -> DataFrame:
    """Monotone (non-decreasing in ``bin_col`` order) L2 fit of the
    per-bin rate ``h/n`` with weights ``n``: returns (bin_col,
    out_col). ``bins`` must be a BOUNDED grid — every window below
    runs on a broadcast-sized relation."""
    w = Window.orderBy(bin_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    pre = bins.select(
        bin_col,
        n_col,
        h_col,
        F.sum(n_col).over(w).alias("_cn"),
        F.sum(h_col).over(w).alias("_ch"),
    )
    left = pre.select(
        F.col(bin_col).alias("_j"),
        (F.col("_cn") - F.col(n_col)).alias("_cn0"),
        (F.col("_ch") - F.col(h_col)).alias("_ch0"),
    )
    right = pre.select(F.col(bin_col).alias("_k"), "_cn", "_ch")
    seg = left.join(F.broadcast(right), F.col("_j") <= F.col("_k")).select(
        "_j",
        "_k",
        (
            (F.col("_ch") - F.col("_ch0")).cast("double")
            / (F.col("_cn") - F.col("_cn0")).cast("double")
        ).alias("_m"),
    )
    wsm = Window.partitionBy("_j").orderBy("_k").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    sm = seg.select("_j", "_k", F.min("_m").over(wsm).alias("_sm"))
    return sm.groupBy(F.col("_k").alias(bin_col)).agg(
        F.max("_sm").alias(out_col)
    )


def conformal_threshold(
    grid: DataFrame,
    alpha_col: str = "alpha",
    n_col: str = "cnt",
    miscoverage: tuple[int, int] = (1, 10),
    infinite_score=None,
) -> DataFrame:
    """Split-conformal calibration threshold over integer
    nonconformity scores: ONE row (n_cal, q_hat) where q_hat is the
    ceil((1 - num/den)(n_cal + 1))-th smallest score. ``grid`` is the
    COUNTED score grid — one row per score value ``alpha_col`` with its
    calibration count ``n_col`` (a value may repeat; its counts add
    up) — so the caller's one aggregate is the only pass over the
    scores and there is no global sort. The rank uses exact integer
    ceil-division, so there is no float boundary at any n.

    When the conformal rank k exceeds n_cal (calibration sets smaller
    than den/num - 1, or an empty grid) no score is a valid threshold
    and the conventional answer is +infinity — every candidate enters
    the prediction set (Vovk; ADVICE r9: the old NULL q_hat silently
    made downstream coverage comparisons evaluate as UNcovered). Pass
    ``infinite_score`` = the scale's maximum possible score to adopt
    that convention on the score's own (integer) type; the default
    ``None`` keeps NULL for callers that gate on n_cal themselves.
    ``n_cal`` always reports the true calibration count (0 for an
    empty grid, never NULL)."""
    num, den = miscoverage
    w = Window.orderBy(alpha_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # the first row whose running count reaches k carries the k-th
    # smallest score; repeated values only split a level's count
    cum = grid.select(
        F.col(alpha_col).alias("_a"), F.sum(n_col).over(w).alias("_cum")
    )
    # n_cal = the LAST cumulative count — an unpartitioned max window
    # over the bounded value grid (the established exception)
    n_cal = F.max("_cum").over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    k = F.expr(f"(({den - num} * (__n_cal + 1)) + {den - 1}) div {den}")
    out = (
        cum.withColumn("__n_cal", n_cal)
        .agg(
            # a global aggregate yields exactly one row even on empty
            # input (NULL q_hat / NULL max), so the coalesces below
            # define both conventions
            F.min(F.when(F.col("_cum") >= k, F.col("_a"))).alias("q_hat"),
            F.max("__n_cal").alias("n_cal"),
        )
        .withColumn("n_cal", F.coalesce("n_cal", F.lit(0).cast("bigint")))
    )
    if infinite_score is not None:
        out = out.withColumn(
            "q_hat", F.coalesce("q_hat", F.lit(infinite_score))
        )
    return out.select("n_cal", "q_hat")
