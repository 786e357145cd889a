"""Lineage truncation + explicit block release for iterative operators.

Iterative algorithms (SelfTraining/CoTraining rounds, connected-
components label propagation) re-derive a DataFrame from its previous
version each round. Three physical concerns follow:

1. **Truncation** — without it the plan (and the recomputation cost of
   any action) grows with the round count. ``truncate`` materializes
   the round's result and cuts the plan back to a scan of those blocks
   (``localCheckpoint``; or a durable ``checkpoint`` when a directory
   is given — the right choice on preemptible clusters).

2. **Release** — ``localCheckpoint`` pins MEMORY_AND_DISK blocks until
   the JVM garbage-collects the RDD handle, which on a large driver
   heap can be minutes later. Rounds of superseded checkpoints then sit
   in the unified-memory storage region, and because up to
   ``spark.memory.storageFraction`` of it is eviction-protected, later
   stages lose execution memory and spill (measured here: a MinHash
   join after a 6-round components run went 6s -> 65s). MLlib's ALS
   unpersists superseded factor RDDs for exactly this reason;
   ``release`` is the Dataset-API equivalent: unpersist the
   checkpoint's backing RDD as soon as the next round's checkpoint is
   materialized.

3. **Counting** — an iterative operator usually needs the size of
   the frame it just truncated (a pool, the confident part of a
   scored pool). A ``count()`` after the checkpoint is a second job
   over the same blocks. ``truncate_counting`` instead observes the
   counts (``DataFrame.observe``) on the frame it checkpoints, so they
   are aggregated inside the checkpoint job and cost no job of their
   own. Each count is exact: the observe node is the top of the
   checkpointed plan, with no exchange above it, so it runs in the
   job's result stage, and Spark applies a result-stage accumulator
   update once per partition (a retried or speculative task does not
   count twice). The metrics are read synchronously from the observed
   frame's own query execution, which is the one Spark's checkpoint
   action runs. The name-keyed ``observe`` is used, not an
   ``Observation``: the first ``Observation`` gives the session a
   non-serializable ObservationManager, and every later task that
   captures the session (an MLlib model that keeps its training
   summary, e.g. a random forest) then fails with "Task not
   serializable". A missing metrics row, or a count outside
   [0, rows], raises ``RuntimeError`` naming the frame; unlike
   ``release`` below, the py4j read of the metrics is not best-effort.

``release`` reaches through the analyzed plan (``LogicalRDD``) to the
backing RDD via py4j — a private-API touch, so it is strictly
best-effort: any failure degrades to the old behavior (blocks freed at
the next JVM GC), never to an error. Correctness is unaffected either
way; a released DataFrame must simply not be read again.
"""

from __future__ import annotations

import json
import uuid

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ROWS = "rows"


def truncate(
    df: DataFrame, checkpoint_dir: str | None = None, eager: bool = True
) -> DataFrame:
    """Materialize ``df`` and truncate its lineage (eager checkpoint).

    ``checkpoint_dir`` -> durable ``checkpoint`` (survives executor
    loss); otherwise ``localCheckpoint`` (fast, executor-pinned).

    ``eager=False`` defers materialization to the CALLER'S next action
    — use when that action is guaranteed and cheap (e.g. the
    convergence-sum aggregate an iterative round runs anyway), saving
    one full job per round. The caller owns the guarantee: a lazy
    checkpoint that is unpersisted before any action would recompute.
    """
    if checkpoint_dir:
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() != checkpoint_dir:
            sc.setCheckpointDir(checkpoint_dir)
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def truncate_counting(
    df: DataFrame, name: str, checkpoint_dir: str | None = None, **conditions: Column
) -> tuple[DataFrame, dict[str, int]]:
    """Eager ``truncate`` of ``df`` that also counts, in the same job,
    its rows (key ``rows``) and the rows satisfying each boolean
    condition (a null condition does not count). Returns the
    checkpointed frame and ``{key: count}``; ``name`` labels the frame
    in the errors raised when the counts are missing or out of range.
    The metrics row is read through the observed frame's query
    execution via py4j."""
    key = f"truncate_counting_{uuid.uuid4().hex}"
    observed = df.observe(
        key,
        F.count(F.lit(1)).alias(ROWS),
        *[F.count(F.when(cond, 1)).alias(k) for k, cond in conditions.items()],
    )
    out = truncate(observed, checkpoint_dir)
    found = observed._jdf.queryExecution().observedMetrics().get(key)
    metrics = None if found.isEmpty() else json.loads(found.get().json())
    return out, check_counts(name, metrics, list(conditions))


def check_counts(name: str, metrics: dict | None, keys: list[str]) -> dict[str, int]:
    """``{rows, *keys: count}`` from the observed metrics row of
    ``name`` (None: no row), each count checked against the frame's
    row count."""
    keys = [ROWS, *keys]
    missing = [k for k in keys if (metrics or {}).get(k) is None]
    if missing:
        raise RuntimeError(f"{name}: observed metrics row lacks {missing}")
    rows = metrics[ROWS]
    bad = {k: metrics[k] for k in keys if not 0 <= metrics[k] <= rows}
    if bad:
        raise RuntimeError(f"{name}: observed counts {bad} outside [0, {rows}] rows")
    return {k: int(metrics[k]) for k in keys}


def release(df: DataFrame | None) -> None:
    """Free the blocks behind a checkpointed DataFrame NOW instead of
    at the next driver GC. Best-effort; silently a no-op when the plan
    isn't a checkpoint scan or the private API moved. The caller must
    not read ``df`` afterwards."""
    if df is None:
        return
    try:
        plan = df._jdf.queryExecution().analyzed()
        # unpersist every checkpoint-scan LEAF, not just a bare
        # LogicalRDD root — a caller wrapping the checkpointed result
        # (orderBy, select, ...) otherwise silently leaks it (r4
        # review: dedup_semantic_semdedup's final truncate survived
        # release because the registered query adds an orderBy)
        leaves = plan.collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.getClass().getSimpleName() == "LogicalRDD":
                leaf.rdd().unpersist(False)
    except Exception:
        pass
