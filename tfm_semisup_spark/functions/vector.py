"""Vector/array columnar helpers.

The reference computes the max posterior probability with a Scala UDF
``udf((v: Vector) => v.toArray.max)`` (``SelfTraining.scala:128``,
``CoTraining.scala:128``). A Python UDF here would add a per-row
JVM<->Python pickle boundary inside the self-training loop; instead we
stay in Tungsten codegen with ``vector_to_array`` + ``array_max``.

Embedding similarity has two forms, both JVM-side:

- ``dot``/``l2_norm``/``cosine_similarity``: higher-order functions
  (``zip_with``/``aggregate``). CAVEAT: Spark evaluates HOFs in
  INTERPRETED mode (they are excluded from whole-stage codegen), so
  per-element lambda dispatch + array allocation sit in the hot loop.
- ``dot_fixed``/``cosine_similarity_fixed``: when the dimension is
  known (every embedding table has one), a flat fixed-arity sum of
  ``element_at`` products — stays inside whole-stage codegen, the
  right form for the 100 TB scan. Summation order is identical to the
  fold (left-to-right by index), so results are bit-equal and oracle
  parity is unaffected.

The numpy forms serve the Arrow kernels (SemDeDup, the IVF/PQ tiers,
the ANN hard-negative band) and keep the same bit-equality contract:

- ``sq_dists``: row-to-centroid squared distances in centroid blocks
  whose temporary stays under ``_SQ_DISTS_BLOCK_ELEMS`` elements;
  bit-equal to the naive (rows x k x dim) broadcast, which a 10k-row
  Arrow batch would make 1.3 GB deep at k=256, dim 64.
- ``pair_dot``: row-pair dots accumulated one dimension at a time,
  left to right, in float64 — the Add chain ``dot_fixed`` compiles,
  term for term.
- ``row_norms``: float64 row L2 norms (``l2_norm``'s numpy twin).
- ``map_vector_batches``: the ``mapInPandas`` plumbing every kernel
  shares — array columns stacked to float64 matrices, the output
  schema derived from the input fields, typed empty frames
  (``empty_frame``).
"""

from __future__ import annotations

from pyspark.ml.functions import vector_to_array
from pyspark.sql import Column
from pyspark.sql import functions as F


def prob_max(probability_col: str | Column = "probability") -> Column:
    """Max class posterior from an ml Vector column (no UDF).

    Re-expression of the reference's ``v.toArray.max`` UDF
    (SelfTraining.scala:128).
    """
    col = F.col(probability_col) if isinstance(probability_col, str) else probability_col
    return F.array_max(vector_to_array(col))


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<numeric> columns, JVM-side."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<numeric> columns (brute-force path
    of the similarity-search operator; the scale path is LSH bucketing in
    ``operators/similarity.py``)."""
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


# Above this dimension the flat form is NOT generated: a 3*dim-term
# expression tree eventually exceeds whole-stage-codegen's practical
# limits (JVM 64KB method bodies / deep Add-chain recursion), at which
# point Spark SILENTLY falls back to interpreted evaluation of the
# huge flat tree — strictly worse than the HOF fold (same interpreted
# mode, far bigger tree, and a seconds-long failed compile first).
# 256 is conservative: testdata dim 64 compiles fine; real embedding
# dims (1-4k) take the HOF path. Both forms fold left-to-right by
# index, so results are bit-equal and oracle parity is unaffected
# (equality-tested at dim 1024 in tests/test_vector_functions.py).
CODEGEN_DIM_LIMIT = 256


def dot_fixed(a: str | Column, b: str | Column, dim: int) -> Column:
    """Codegen-friendly dot product for a KNOWN dimension: flat sum of
    element_at products (1-indexed), bit-equal to ``dot``'s fold.
    Dimensions past CODEGEN_DIM_LIMIT fall back to the HOF ``dot``
    (see the constant's rationale).

    Pass column NAMES (not Column objects) on hot construction paths:
    the flat tree is then built as ONE SQL string parsed JVM-side in a
    single call, instead of ~4*dim Py4J round trips building the tree
    node by node (measured: the Column-object form added ~1.2s of
    driver-side plan construction per query at dim 64 — more than the
    0.4s the sf0.1 scan itself takes)."""
    if dim > CODEGEN_DIM_LIMIT:
        return dot(_as_col(a), _as_col(b))
    return _dot_flat(a, b, dim)


def _as_col(c: str | Column) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _dot_flat(a: str | Column, b: str | Column, dim: int) -> Column:
    """Unguarded flat form (test hook — callers use ``dot_fixed``)."""
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(_dot_flat_sql(a, b, dim))
    ac, bc = _as_col(a), _as_col(b)
    total = F.element_at(ac, 1) * F.element_at(bc, 1)
    for k in range(2, dim + 1):
        total = total + F.element_at(ac, k) * F.element_at(bc, k)
    return total


def _dot_flat_sql(a: str, b: str, dim: int) -> str:
    """SQL text of the flat dot — identical left-to-right Add chain as
    the Column-object builder, so the parsed tree is the same tree."""
    return " + ".join(
        f"element_at({a}, {k}) * element_at({b}, {k})" for k in range(1, dim + 1)
    )


def l2_norm_fixed(a: str | Column, dim: int) -> Column:
    if dim > CODEGEN_DIM_LIMIT:
        return l2_norm(_as_col(a))
    return F.sqrt(_dot_flat(a, a, dim))


def cosine_similarity_fixed(a: str | Column, b: str | Column, dim: int) -> Column:
    """``cosine_similarity`` in flat fixed-arity form — whole-stage
    codegen keeps the similarity scan on the fast path at corpus scale.
    Prefer passing column names (see ``dot_fixed``).

    The composite emits THREE flat trees (dot + two norms ≈ 3*dim
    terms), so its guard applies CODEGEN_DIM_LIMIT to the composite
    arity (3*dim), not the single-tree dim — past that it delegates to
    the HOF form (bit-equal) rather than emitting a tree that janino
    will refuse and Spark will run interpreted.

    DO NOT use this inside a pair join: even under the 3*dim guard the
    composite fuses with the join + filter into one generated method
    and can exceed the JVM 64 KB method limit (observed at dim 64 —
    janino "Code grows beyond 64 KB", silent interpreted fallback of
    the hot scan). For pair joins, project ``l2_norm_fixed`` per side
    BEFORE the join and combine with ``cosine_paired`` — the fused
    join-stage method then holds the dot alone (regression-tested with
    spark.sql.codegen.fallback=false in tests/test_plan_shapes_r8.py).
    """
    if 3 * dim > CODEGEN_DIM_LIMIT:
        return cosine_similarity(_as_col(a), _as_col(b))
    return dot_fixed(a, b, dim) / (l2_norm_fixed(a, dim) * l2_norm_fixed(b, dim))


def cosine_paired(
    a: str | Column,
    b: str | Column,
    norm_a: str | Column,
    norm_b: str | Column,
    dim: int,
) -> Column:
    """Pair-join cosine with per-side PRE-COMPUTED L2 norms.

    ``norm_a``/``norm_b`` must be ``l2_norm_fixed`` projections made on
    each side before the join, so each side's norm is computed once per
    row (not once per pair) in its own codegen stage, and the method
    fused with the join + filter contains only the dot (dim terms) and
    one divide — 1/3 of the composite's arity, under the JVM 64 KB
    method limit. Bit-equal to ``cosine_similarity_fixed``: the same
    sqrt-of-sum-of-squares values feed the same final divide, and both
    dot forms fold left-to-right by index."""
    return dot_fixed(a, b, dim) / (_as_col(norm_a) * _as_col(norm_b))


# ---------------------------------------------------------------------------
# numpy forms for the Arrow kernels
# ---------------------------------------------------------------------------

#: element budget of one (rows x centroid-block x dim) float64 temporary
#: inside ``sq_dists`` — ~128 MB. Blocking over centroids computes the
#: IDENTICAL per-(row, centroid) values as the full broadcast (no
#: reduction crosses a block), so assignments and trained centroids are
#: bit-equal to the unblocked form.
_SQ_DISTS_BLOCK_ELEMS = 16_777_216


def sq_dists(points, centroids, out=None, bufs=None):
    """(n, k) float64 squared euclidean distances from each row of
    ``points`` (n, dim) to each row of ``centroids`` (k, dim).

    Centroids are taken in blocks sized so the (n x block x dim)
    temporary stays under ``_SQ_DISTS_BLOCK_ELEMS`` elements whenever
    one row block (n x dim) fits it. Each cell is the same contiguous
    last-axis sum of squared differences as
    ``((points[:, None] - centroids[None]) ** 2).sum(axis=2)``, so the
    values are bit-equal to it. ``out`` receives the result (e.g. a
    row slice of a caller-owned matrix); ``bufs`` is a dict that keeps
    the block buffer across calls (one Lloyd thread's iterations) —
    the tail block reuses a prefix of it."""
    import numpy as np

    n, dim = points.shape
    k = centroids.shape[0]
    if out is None:
        out = np.empty((n, k), dtype=np.float64)
    step = max(1, _SQ_DISTS_BLOCK_ELEMS // max(1, n * dim))
    size = n * min(step, k) * dim
    flat = None if bufs is None else bufs.get("diff")
    if flat is None or flat.size < size:
        flat = np.empty(size, dtype=np.float64)
        if bufs is not None:
            bufs["diff"] = flat
    for s in range(0, k, step):
        block = centroids[s : s + step]
        w = block.shape[0]
        diff = flat[: n * w * dim].reshape(n, w, dim)
        np.subtract(points[:, None, :], block[None, :, :], out=diff)
        np.multiply(diff, diff, out=diff)
        out[:, s : s + w] = diff.sum(axis=2)
    return out


def pair_dot(a, b, dim: int, ia=None, ib=None):
    """Dot products of rows ``a[ia]`` and ``b[ib]`` (index arrays; None
    takes every row in order), accumulated one dimension at a time:
    ``acc = a0*b0; acc += a1*b1; ...`` in float64. That is the
    left-associative Add chain ``dot_fixed`` compiles, term for term,
    so the values are bit-equal to it. Only (pairs,) columns are
    gathered, never a pairs x dim matrix."""
    ia = slice(None) if ia is None else ia
    ib = slice(None) if ib is None else ib
    acc = a[ia, 0] * b[ib, 0]
    for d in range(1, dim):
        acc += a[ia, d] * b[ib, d]
    return acc


def row_norms(m):
    """float64 L2 norm of each row of ``m``."""
    import numpy as np

    return np.sqrt((m * m).sum(axis=1))


def stack_f64(col):
    """An Arrow-batch list column (pandas Series of arrays) as an
    (n, dim) float64 matrix."""
    import numpy as np

    return np.stack(col.to_numpy()).astype(np.float64, copy=False)


def empty_frame(ddl: str):
    """Empty pandas frame typed for the DDL schema ``ddl``: list
    columns are object-typed, so Arrow converts an empty batch without
    inferring float64 for them."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    return to_arrow_schema(StructType.fromDDL(ddl)).empty_table().to_pandas()


def map_vector_batches(df, vec_cols, kernel, new_fields: str, drop=()):
    """``mapInPandas`` over ``df`` for a numpy vector kernel.

    Per non-empty Arrow batch, each column in ``vec_cols`` is stacked to
    a float64 matrix and ``kernel(*matrices)`` returns ``(mask, new)``:
    ``mask`` (a boolean row mask, or None for every row) selects the
    input rows that are emitted, and ``new`` maps each name in
    ``new_fields`` to its values for those rows — a numpy array, or a
    list for an array column (emitted object-typed, so a batch the mask
    empties still converts to a list column). The output schema is the
    input fields minus ``drop``, then ``new_fields`` (a DDL string);
    empty batches emit a typed empty frame."""
    import numpy as np
    import pandas as pd

    kept = [f for f in df.schema.fields if f.name not in drop]
    keep = [f.name for f in kept]
    schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in kept] + [new_fields]
    )
    empty = empty_frame(schema)

    def batches(it):
        for pdf in it:
            if len(pdf) == 0:
                yield empty
                continue
            mask, new = kernel(*(stack_f64(pdf[c]) for c in vec_cols))
            rows = pdf[keep] if mask is None else pdf.loc[mask, keep]
            yield rows.reset_index(drop=True).assign(
                **{
                    name: v if isinstance(v, np.ndarray) else pd.Series(v, dtype=object)
                    for name, v in new.items()
                }
            )

    return df.mapInPandas(batches, schema=schema)
