"""Connected components over near-duplicate pair graphs.

The dedup tier produces PAIR lists (MinHash LSH / SimHash / capped
n-gram Jaccard); a real corpus dedup needs CLUSTERS — each document
assigned the min doc_id reachable through near-dup edges, so one
canonical keeper survives per cluster (transitive closure, same
semantics as the union-find pass most pipeline stacks run after LSH).

Algorithm: iterative min-label propagation with a pointer-jumping step
(label-of-label) each round, so convergence is O(log diameter) rounds
instead of O(diameter) — the property that matters on adversarial
chain-shaped clusters at 100 TB. Each round shuffles (node, label)
pairs only (never document payloads):

  1. closed-neighborhood min: edges+self-loops ⋈ labels, groupBy node,
     min(label) — the self-loop rows fold the "keep own label" case
     into the same aggregate, so no separate labels join is needed
     (r2 ran 4 shuffles/round; this runs 3);
  2. pointer jump:  labels ⋈ labels on (label = node).

Lineage is truncated each round (localCheckpoint; pass
``checkpoint_dir`` for durable truncation on a preemptible cluster —
same discipline as SelfTraining, operators/self_training.py).
Termination is exact: labels are per-node monotonically non-increasing
(closed-neighborhood min can only lower them), so a round changes
nothing iff sum(label) is unchanged — one overflow-safe decimal
aggregate per round replaces r2's old_label carry column + inequality
count. Rounds-to-convergence is recorded in ``last_convergence_rounds``
(read by PLANS.md tooling; logged at DEBUG).

Deterministic: the component label is min(doc_id) over the cluster —
content-defined, independent of partitioning and execution order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tfm_semisup_spark.operators.lineage import release, truncate

#: rounds the most recent connected_components() call took to converge
#: (including the final confirming round) — perf instrumentation for
#: PLANS.md / SCALE.md; not part of the result contract.
last_convergence_rounds: int = 0


def _symmetric_edges(pairs: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """Undirected edge list as both orientations, deduped: (u, v)."""
    return (
        pairs.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .union(pairs.select(F.col(dst_col).alias("u"), F.col(src_col).alias("v")))
        .distinct()
    )


def _with_self_loops(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """Self-loop rows make the per-round groupBy-min a CLOSED-
    neighborhood min (own label participates), eliminating the labels
    re-join r2 ran to compute least(own, neighbor-min)."""
    return edges.union(nodes.select("u", F.col("u").alias("v")))


def _propagation_round(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """ONE min-label propagation round (the executed loop body AND the
    round_plan evidence build the plan through this single helper —
    ADVICE r3: hand-duplicated construction let the documented plan
    drift from the executed one):

      1. closed-neighborhood min: edges(+self-loops) ⋈ labels,
         groupBy node, min(label);
      2. pointer jump: label <- label(label) (path halving).
    """
    stepped = (
        edges.join(labels, edges["v"] == labels["node"])
        .groupBy("u")
        .agg(F.min("label").alias("label"))
        .withColumnRenamed("u", "node")
    )
    parent = stepped.select(
        F.col("node").alias("p_node"), F.col("label").alias("p_label")
    )
    return stepped.join(parent, stepped["label"] == parent["p_node"], "left").select(
        "node",
        F.least(F.col("label"), F.coalesce("p_label", F.col("label"))).alias("label"),
    )


#: edge-count bound under which the graph is solved driver-side with
#: union-find instead of distributed label rounds. A near-dup pair
#: graph is SPARSE relative to its corpus (pairs survive banding +
#: verification), so real invocations usually land far under this;
#: 2M edges collect as ~32 MB of longs — trivially driver-safe. The
#: distributed path is unchanged above the bound, and every property
#: test runs BOTH paths (small_graph_max_edges=0 forces distributed).
SMALL_GRAPH_MAX_EDGES = 2_000_000


def _driver_union_find(edge_rows) -> list[tuple[int, int]]:
    """Min-label union-find over a collected edge list: the same
    (node, min reachable id) contract as the distributed rounds.
    Path-halving + union-by-label keeps it near-linear."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for u, v in edge_rows:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            # union by MIN id so the root IS the component label
            lo, hi = (ru, rv) if ru < rv else (rv, ru)
            parent[hi] = lo
    return sorted((x, find(x)) for x in parent)


def connected_components(
    pairs: DataFrame,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
    small_graph_max_edges: int = SMALL_GRAPH_MAX_EDGES,
    pairs_materialized: bool = False,
) -> DataFrame:
    """(node, component) for every node incident to an edge in
    ``pairs``; component = min node id reachable.

    ``pairs`` is an undirected edge list (one row per pair, either
    orientation). Graphs at or under ``small_graph_max_edges`` edges
    (counted AFTER dedup/symmetrization, on the materialized edge set)
    are solved driver-side with union-find — the shortcut every
    production graph engine takes, since a verified near-dup pair list
    is orders of magnitude smaller than its corpus; label-propagation
    rounds each cost jobs + shuffles that dwarf a bounded collect.
    Larger graphs run the distributed min-label + pointer-jumping
    rounds: O(log diameter) rounds, max_iter bounds the loop (25
    covers diameter ~2^25), raises if not converged (never silently
    wrong). Both paths produce identical labels (min id reachable) —
    property-tested against each other.

    ``pairs_materialized=True`` (the caller passes a checkpoint scan)
    takes a fast path that compares the RAW pair-row count — before
    dedup and symmetrization, duplicates and both orientations counted
    — against ``small_graph_max_edges``. The raw count is never below
    the deduped edge count, so the fast path only ever sends a graph
    the general path would also solve driver-side; a raw count over
    the bound falls through to the general path, which re-decides on
    the deduped edge set.
    """
    global last_convergence_rounds

    # r15 fast path: when the CALLER already materialized ``pairs``
    # (a checkpoint scan — semantic_dedup's pair tier), the small-graph
    # decision and collect can run directly on those blocks: one cheap
    # count + one collect, skipping the symmetric-distinct exchange AND
    # its checkpoint job. Union-find is orientation-insensitive, so
    # feeding it the raw (a, b) pairs yields the identical labels the
    # symmetrized collect produced.
    if pairs_materialized and small_graph_max_edges > 0:
        n_pairs = pairs.count()
        if n_pairs <= small_graph_max_edges:
            rows = _driver_union_find(
                (r[src_col], r[dst_col])
                for r in pairs.select(src_col, dst_col).collect()
            )
            last_convergence_rounds = 0
            return pairs.sparkSession.createDataFrame(
                rows, "node long, component long"
            )
    # materialize the (possibly expensive) upstream pair pipeline ONCE;
    # nodes / self-loops / labels all derive from this checkpoint, not
    # from the raw plan (deriving them lazily re-ran the whole dedup
    # pipeline up to 3x inside the setup jobs)
    base = truncate(_symmetric_edges(pairs, src_col, dst_col), checkpoint_dir)

    # count on the checkpointed blocks (cheap) to pick the path; the
    # symmetric edge set has 2 rows/pair, so compare against 2x
    n_sym = base.count()
    # small_graph_max_edges <= 0 DISABLES the fast path entirely (the
    # property tests use it to force the distributed rounds — without
    # the guard an empty graph satisfied n_sym <= 0 and the
    # distributed path's empty-input handling went untested)
    if small_graph_max_edges > 0 and n_sym <= 2 * small_graph_max_edges:
        # u <= v keeps self-loop nodes (every node incident to an edge
        # must appear in the output, component = itself)
        rows = _driver_union_find(
            (r["u"], r["v"]) for r in base.where(F.col("u") <= F.col("v")).collect()
        )
        last_convergence_rounds = 0
        out = pairs.sparkSession.createDataFrame(
            rows, "node long, component long"
        )
        release(base)
        return out

    nodes = base.select("u").distinct()
    edges = truncate(_with_self_loops(base, nodes), checkpoint_dir)

    # labels are monotonically non-increasing per node, so the total is
    # a strictly decreasing progress measure: unchanged sum <=> fixed
    # point. decimal(38,0) keeps the sum exact for any int64 ids/count.
    # NOTE: riding the sum on the checkpoint job would save one job per
    # round. It must not use an ``Observation``: the first one gives the
    # session a non-serializable ObservationManager, and later tasks
    # that capture the session fail with "Task not serializable"
    # (unrelated MLlib fits — see lineage.py). An observed
    # localCheckpoint itself is safe: the name-keyed ``df.observe`` that
    # lineage.truncate_counting reads does not touch the manager. Until
    # the sum moves there, it stays a separate tiny aggregate over the
    # fresh blocks.
    _sum = F.sum(F.col("label").cast("decimal(38,0)"))

    labels = nodes.select(F.col("u").alias("node"), F.col("u").alias("label"))
    labels = truncate(labels, checkpoint_dir)
    release(base)
    prev_sum = labels.agg(_sum).head()[0]

    ckpt = labels  # handle to the blocks backing the current labels
    for rounds in range(1, max_iter + 1):
        # LAZY checkpoint: the convergence-sum aggregate below is this
        # round's guaranteed first action, so it materializes the
        # checkpoint blocks as it runs — one job per round instead of
        # the eager checkpoint job + a separate sum job.
        jumped = truncate(
            _propagation_round(edges, labels), checkpoint_dir, eager=False
        )

        new_sum = jumped.agg(_sum).head()[0]
        release(ckpt)  # superseded round's blocks, freed eagerly
        ckpt = jumped
        labels = jumped
        if new_sum == prev_sum:
            last_convergence_rounds = rounds
            release(edges)
            return labels.select("node", F.col("label").alias("component"))
        prev_sum = new_sum

    release(edges)
    release(ckpt)
    raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")


def cluster_keepers(components: DataFrame) -> DataFrame:
    """(component, n_members) per near-dup cluster; the component label
    IS the keeper doc_id (min of the cluster), so deletion lists are
    `members where node != component`."""
    return components.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_members")
    )


def round_plan(
    pairs: DataFrame, src_col: str = "doc_a", dst_col: str = "doc_b"
) -> DataFrame:
    """One un-truncated label-propagation round, for plan inspection
    (PLANS.md): the checkpointing in connected_components erases the
    per-round operator tree, so this rebuilds it lazily through the
    SAME helpers the executed loop uses (_symmetric_edges /
    _with_self_loops / _propagation_round) — the evidence cannot drift
    from the operator."""
    edges = _symmetric_edges(pairs, src_col, dst_col)
    nodes = edges.select("u").distinct()
    edges = _with_self_loops(edges, nodes)
    labels = nodes.select(F.col("u").alias("node"), F.col("u").alias("label"))
    return _propagation_round(edges, labels)
