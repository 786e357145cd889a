"""Approximate nearest-neighbor search over embeddings (SURVEY.md §2.3).

Two paths:

- brute-force cosine top-k (``queries/similarity.py``): exact, zero
  shuffle, O(N) scan — the oracle baseline and the right answer when
  the query batch is small.
- LSH-bucketed ANN (here): BucketedRandomProjectionLSH
  ``approxNearestNeighbors`` — sub-linear candidate set via
  random-hyperplane buckets; the 100 TB path when query volume is high
  (bucketing amortizes across queries).

An IVF-style variant (k-means coarse quantizer + per-centroid inverted
lists) is the classic next step; LSH covers the same access pattern
with model-free determinism (seeded), so it ships first.
"""

from __future__ import annotations

from pyspark.ml.feature import BucketedRandomProjectionLSH
from pyspark.ml.functions import array_to_vector
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tfm_semisup_spark.functions.vector import (
    map_vector_batches,
    sq_dists,
    stack_f64,
)


def build_ann_index(
    embeddings: DataFrame,
    vector_col: str = "features",
    bucket_length: float = 0.5,
    num_hash_tables: int = 3,
    seed: int = 42,
):
    """Fit the LSH 'index' (a set of random hyperplanes — tiny model,
    broadcastable; the bucketed dataset is what lives at scale)."""
    lsh = BucketedRandomProjectionLSH(
        inputCol=vector_col,
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=seed,
    )
    return lsh.fit(embeddings)


def with_feature_vectors(embeddings: DataFrame, array_col: str = "embedding") -> DataFrame:
    return embeddings.withColumn(
        "features", array_to_vector(F.col(array_col).cast("array<double>"))
    )


def ann_top_k(
    model,
    embeddings: DataFrame,
    query_vector,
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """k approximate nearest neighbors (euclidean) of one query vector."""
    neighbors = model.approxNearestNeighbors(embeddings, query_vector, k)
    return neighbors.select(
        F.col(id_col), F.round("distCol", 4).alias("euclidean")
    )


def resolve_num_centroids(approx_n: int) -> int:
    """IVF coarse-quantizer size for a corpus of ~approx_n vectors:
    ~sqrt(N) (the classic balance point — expected bucket size then
    also ~sqrt(N), so probe cost and bucket-scan cost shrink together
    as N grows; faiss guidance is sqrt(N)..16·sqrt(N)), clamped to
    [8, 65_536]. The r1-r3 FIXED default (16) kept a constant bucket
    count, so each bucket grew linearly with the corpus and the
    pruning ratio decayed (VERDICT r3 #5 — the same
    latent-fixed-default class as SemDeDup's num_clusters)."""
    import math

    return max(8, min(65_536, int(round(math.sqrt(max(1, int(approx_n)))))))


def build_ivf_index(
    embeddings: DataFrame,
    vector_col: str = "features",
    num_centroids: int | None = None,
    seed: int = 42,
    id_col: str = "vec_id",
):
    """IVF coarse quantizer: k-means centroids + bucketed dataset.

    The classic ANN scale path next to LSH: fit k centroids (tiny model,
    broadcast), assign every vector to its nearest centroid ONCE at
    index-build time; queries probe only the closest n_probe buckets.
    ``num_centroids=None`` (default) derives ~sqrt(N) centroids from
    the corpus size (``resolve_num_centroids``) so the pruning ratio
    holds as N grows; pass an explicit value to pin it.
    Returns (kmeans_model, bucketed DataFrame with `ivf_bucket`).
    """
    from pyspark.ml.clustering import KMeans

    if num_centroids is None:
        # approx over the id column, like every sibling index builder
        # (a full count() was the one remaining exact-count probe; HLL
        # over the Vector column itself is not supported)
        num_centroids = resolve_num_centroids(
            embeddings.agg(
                F.approx_count_distinct(id_col).alias("n")
            ).head()["n"]
        )
    km = KMeans(k=num_centroids, seed=seed, featuresCol=vector_col,
                predictionCol="ivf_bucket")
    model = km.fit(embeddings)
    return model, model.transform(embeddings)


def resolve_n_probe(num_centroids: int) -> int:
    """Default probe count for a coarse quantizer of ``num_centroids``
    buckets: ~sqrt(num_centroids), min 3 (faiss guidance: nprobe grows
    sublinearly with nlist). With num_centroids itself derived as
    ~sqrt(N), a FIXED n_probe would shrink the probed fraction — and
    recall — as the corpus grows (r4 review finding)."""
    import math

    return max(3, int(round(math.sqrt(max(1, num_centroids)))))


def ivf_top_k(
    kmeans_model,
    bucketed: DataFrame,
    query_vector,
    k: int = 10,
    n_probe: int | None = None,
    id_col: str = "vec_id",
    vector_col: str = "features",
) -> DataFrame:
    """k nearest neighbors (euclidean) probing the n_probe closest
    centroids' buckets only — candidate set is ~n_probe/num_centroids
    of the corpus; partition pruning does the rest if the index is
    written partitioned by bucket."""
    import numpy as np
    from pyspark.ml.functions import vector_to_array
    from pyspark.sql import functions as F

    centers = kmeans_model.clusterCenters()
    if n_probe is None:
        n_probe = resolve_n_probe(len(centers))
    q = np.asarray(query_vector.toArray() if hasattr(query_vector, "toArray") else query_vector)
    order = np.argsort([float(np.linalg.norm(q - c)) for c in centers])
    probe = [int(b) for b in order[:n_probe]]

    arr = vector_to_array(F.col(vector_col))
    q_lit = F.expr(_sql_array1d(q))
    dist = F.sqrt(
        F.aggregate(
            F.zip_with(arr, q_lit, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    # order by the EXACT distance; rounding first could flip the k-th
    # boundary between near-tied candidates
    return (
        bucketed.where(F.col("ivf_bucket").isin(probe))
        .select(id_col, dist.alias("__d"))
        .orderBy("__d", id_col)
        .limit(k)
        .select(id_col, F.round("__d", 4).alias("euclidean"))
    )


def collect_train_sample(
    train: DataFrame, id_col: str, array_col: str, max_train_rows: int
):
    """Deterministic bounded training sample as a numpy matrix: rows of
    ``train`` ordered by (abs(xxhash64(id)), id), truncated to
    ``max_train_rows`` (r15, guide §4.3/§6 Arrow driver transfers).

    The r14 form ``sorted(df.collect(), ...)`` pickled every sampled
    row (array<double> cells are the worst case for the pickle path);
    this collects the same (__h, __id, __v) frame via Arrow
    ``toPandas`` — the conf is set for the call and restored, so the
    fast path holds under the driver's vanilla session too. The sort
    key (__h, __id) is total (ids unique), so the selected rows — and
    the trained centroids/codebooks — are identical to the pickled
    form at any partitioning."""
    import numpy as np

    sel = train.select(
        F.abs(F.xxhash64(F.col(id_col))).alias("__h"),
        F.col(id_col).alias("__id"),
        F.col(array_col).cast("array<double>").alias("__v"),
    )
    spark = train.sparkSession
    key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "true")
        pdf = sel.toPandas()
    finally:
        # leave the session conf as found, including a key never set
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    pdf = pdf.sort_values(["__h", "__id"], kind="stable").head(max_train_rows)
    if len(pdf) == 0:
        return np.empty((0, 0), dtype=np.float64)
    return stack_f64(pdf["__v"])


#: driver threads for the Lloyd distance pass. numpy's elementwise ops
#: release the GIL, and every (row, centroid) cell is computed
#:independently — row-chunking across threads writes disjoint d2
#: slices with bit-identical values, whatever the scheduling. The
#: distance pass is memory-bandwidth bound single-threaded (profiled
#: r15: 1.2 s of the ANN miner's 4.6 s at sf0.1, ~8 s at sf1's
#: 9k × 141 shape), so a few threads recover most of it.
_LLOYD_THREADS = 8

#: per-iteration element count (n × k × dim) below which the distance
#: pass stays single-threaded: the PQ codebook trainings are 16 tiny
#: sub-space problems (~256k elems each) where pool dispatch per
#: iteration costs more than it saves (measured r15: ivfpq 0.74× with
#: unconditional threading, 1.28× for the big ANN shape). 4M elems ≈
#: the point where the ~32 MB of buffer traffic dwarfs dispatch.
_LLOYD_THREAD_MIN_ELEMS = 4_000_000


def _lloyd(points, k: int, seed: int, iters: int = 25):
    """Seeded deterministic Lloyd's k-means on a driver-side numpy
    sample (the standard way PQ codebooks are trained — e.g. faiss
    trains on a bounded in-memory sample, never the full corpus).
    Empty clusters keep their previous centroid. Distances come from
    ``sq_dists`` (centroid blocks — bit-equal to the naive broadcast,
    bounded temporaries) with the row axis chunked across
    _LLOYD_THREADS driver threads (r15; values are per-cell
    independent, so the parallel pass is bit-equal too). An empty
    sample raises ``ValueError``: there is nothing to cluster."""
    import os
    from concurrent.futures import ThreadPoolExecutor

    import numpy as np

    n = points.shape[0]
    if n == 0:
        raise ValueError(
            "Lloyd's k-means got an empty training sample (0 rows): "
            "the input has no vectors to train centroids on"
        )
    rng = np.random.RandomState(seed)
    centroids = points[rng.choice(n, size=min(k, n), replace=False)].copy()
    if centroids.shape[0] < k:  # degenerate tiny sample: pad by repeat
        centroids = np.vstack([centroids] * (k // centroids.shape[0] + 1))[:k]
    dim = points.shape[1] if points.ndim == 2 else 1
    # r14: d2/diff buffers allocated once (not per iteration), and the
    # per-cluster update uses a STABLE argsort + contiguous slices —
    # rows within a cluster keep their original order, so each
    # slice.mean(axis=0) reduces the SAME array points[mask] built,
    # bit-equal to the masked form (pinned in
    # tests/test_r14_opt_shapes.py) without k boolean scans per
    # iteration.
    d2 = np.empty((n, k), dtype=np.float64)
    n_threads = max(
        1, min(_LLOYD_THREADS, os.cpu_count() or 1, n)
    )
    if n * k * dim < _LLOYD_THREAD_MIN_ELEMS:
        n_threads = 1
    # row chunks per thread; each thread owns one persistent block
    # buffer (sq_dists' bufs), sized by ITS chunk
    bounds_r = [
        (i * n // n_threads, (i + 1) * n // n_threads)
        for i in range(n_threads)
    ]
    bounds_r = [(lo, hi) for lo, hi in bounds_r if hi > lo]
    thread_bufs: list[dict[str, "np.ndarray"]] = [{} for _ in bounds_r]

    def dist_chunk(ci: int) -> None:
        lo, hi = bounds_r[ci]
        sq_dists(points[lo:hi], centroids, out=d2[lo:hi], bufs=thread_bufs[ci])

    pool = ThreadPoolExecutor(max_workers=len(bounds_r)) if len(bounds_r) > 1 else None
    prev_assign = None
    for _ in range(iters):
        if pool is None:
            dist_chunk(0)
        else:
            list(pool.map(dist_chunk, range(len(bounds_r))))
        assign = d2.argmin(axis=1)
        # fixed-point early exit (r15) — BIT-EQUAL to running all
        # ``iters`` rounds: the centroid update is a pure function of
        # the assignment (non-empty clusters take their slice mean,
        # empty clusters keep their previous value), so an unchanged
        # assignment reproduces the current centroids exactly and every
        # remaining iteration is a no-op. Pinned against the
        # full-iteration form in tests/test_r15_opt_shapes.py.
        if prev_assign is not None and np.array_equal(assign, prev_assign):
            break
        prev_assign = assign.copy()
        order = np.argsort(assign, kind="stable")
        sorted_pts = points[order]
        uniq, starts = np.unique(assign[order], return_index=True)
        ends = np.append(starts[1:], n)
        for c, s0, e0 in zip(uniq, starts, ends):
            centroids[c] = sorted_pts[s0:e0].mean(axis=0)
    if pool is not None:
        pool.shutdown(wait=False)
    return centroids


def build_pq_index(
    embeddings: DataFrame,
    array_col: str = "embedding",
    m: int = 16,
    codes: int = 32,
    seed: int = 42,
    train_mod: int = None,
    id_col: str = "vec_id",
    max_train_rows: int = 100_000,
    train_source: DataFrame | None = None,
):
    """Product quantization (Jégou et al. 2011, "Product Quantization
    for Nearest Neighbor Search"): split the D-dim vector into ``m``
    subspaces, k-means each subspace into ``codes`` centroids, encode
    every vector as ``m`` small integer codes.

    The third ANN tier next to LSH (hyperplane buckets) and IVF (coarse
    quantizer): PQ compresses the CORPUS itself — 64 float32 dims
    (256 B) become m code bytes, so a 100 TB embedding corpus scans as
    a few TB of codes, and query scoring is table lookups instead of
    float dot products.

    Scale shape:
    - codebooks are trained DRIVER-SIDE on a bounded deterministic
      sample: ``train_mod`` defaults to None and is then DERIVED from
      ``approx_count_distinct(id)`` so the hash sample
      (``xxhash64(id) % train_mod == 0``) targets ``max_train_rows``
      rows whatever the corpus size; the collected sample is then
      HARD-capped at ``max_train_rows`` by (xxhash64, id) order —
      deterministic under any partitioning. This mirrors production
      PQ practice (faiss): k-means on a sample, broadcast the tiny
      m×codes codebook. The FULL corpus is never collected — at 100 TB
      the driver sees ≤ max_train_rows vectors, period.
    - encoding is ONE narrow vectorized-Arrow pass (mapInPandas):
      numpy argmins the blocked (batch × codes) squared distances per
      subspace (``sq_dists``) — no shuffle, parallelism = input
      partitions. The Catalyst alternatives both fail at this
      arithmetic density: HOF forms evaluate interpreted (~1.5 ms/row
      measured at dim 64), and the flat codegen form is a 4096-term
      expression past whole-stage-codegen's limits (SCALE.md r4).

    Returns ``(codebooks, encoded)``: codebooks as a list of m numpy
    arrays [codes × dsub]; ``encoded`` = input plus ``pq_codes``
    (array<int>, 0-based). Deterministic: seeded numpy k-means +
    hash-based sample (partitioning-independent).
    """
    import numpy as np

    # r14 (guide §1.2 don't compute things you throw away): codebooks
    # depend only on (id, vector) — callers composing PQ on top of an
    # opaque projection (build_ivfpq_index's Arrow bucket assignment)
    # pass the PRE-projection frame as train_source so the sampling
    # scan and the N-estimate don't execute the projection; the
    # sampled (__h, __id, __v) rows are identical either way.
    if train_source is None:
        train_source = embeddings
    if train_mod is None:
        approx_n = train_source.agg(
            F.approx_count_distinct(id_col).alias("n")
        ).head()["n"]
        train_mod = max(1, -(-int(approx_n) // max_train_rows))
    train = train_source
    if train_mod > 1:
        train = train.where(F.abs(F.xxhash64(F.col(id_col))) % train_mod == 0)
    # Arrow sample collect (r15, guide §4.3) — same rows, same order
    sample = collect_train_sample(train, id_col, array_col, max_train_rows)

    dim = sample.shape[1]
    bounds = [(j * dim // m, (j + 1) * dim // m) for j in range(m)]
    codebooks = [
        _lloyd(np.ascontiguousarray(sample[:, lo:hi]), codes, seed + j)
        for j, (lo, hi) in enumerate(bounds)
    ]

    # Encoding kernel: one vectorized Arrow pass (mapInPandas), numpy
    # argmining each subspace's blocked squared distances — the faiss
    # kernel shape. This is a sanctioned Arrow
    # boundary, not a convenience: the Catalyst alternatives both
    # fail at this arithmetic density (m*codes = 512 distance folds
    # per row). HOF forms (transform/aggregate/zip_with) evaluate
    # INTERPRETED and re-evaluate the array<float>->array<double> cast
    # per lambda reference (measured ~1.5 ms/row at dim 64 — 3 s for
    # 2000 rows); the flat codegen form is a 4096-term expression,
    # past whole-stage-codegen's limits (functions/vector.py
    # CODEGEN_DIM_LIMIT rationale). Narrow op: no shuffle, parallelism
    # = input partitions. Deterministic: numpy argmin takes the first
    # minimum, matching the previous fold's strict '<'.
    def encode(V):
        out = np.empty((len(V), m), dtype=np.int32)
        for j, ((lo, hi), cb) in enumerate(zip(bounds, codebooks)):
            out[:, j] = sq_dists(V[:, lo:hi], cb).argmin(axis=1)
        return None, {"pq_codes": list(out)}

    encoded = map_vector_batches(
        embeddings, [array_col], encode, "pq_codes array<int>"
    )
    return codebooks, encoded


def _sql_double(x) -> str:
    """Shortest-roundtrip double literal with Spark SQL's D suffix
    (bare decimals parse as DECIMAL, not DOUBLE)."""
    return f"{float(x)!r}D"


def _sql_array1d(vals) -> str:
    return "array(" + ", ".join(_sql_double(v) for v in vals) + ")"


def pq_top_k(
    codebooks,
    encoded: DataFrame,
    query_vector,
    k: int = 10,
    refine: int = 8,
    id_col: str = "vec_id",
    array_col: str = "embedding",
) -> DataFrame:
    """PQ asymmetric-distance (ADC) top-k with exact re-rank.

    1. driver computes the tiny m×codes lookup table (squared distance
       of each query SUBvector to each codebook centroid) — broadcast
       as literals;
    2. ADC score per corpus row = sum of m table lookups on its codes
       (``F.get`` — pure codegen, no float math per dimension);
    3. the ``k·refine`` ADC shortlist is re-ranked by EXACT distance on
       the original vectors, so quantization error only costs recall,
       never returns a wrong distance.

    At 100 TB the ADC pass scans codes only (~32× narrower than the
    raw vectors); the exact re-rank touches ``k·refine`` rows.
    Deterministic: seeded codebooks, (distance, id) tie-breaks.
    """
    import numpy as np

    q = np.asarray(
        query_vector.toArray() if hasattr(query_vector, "toArray") else query_vector,
        dtype=float,
    )
    m = len(codebooks)
    dim = len(q)
    bounds = [(j * dim // m, (j + 1) * dim // m) for j in range(m)]

    # Single-parse SQL forms (see build_pq_index): the m ADC lookup
    # tables and the dim-length query literal would otherwise cost
    # ~m*codes + dim Py4J calls per query.
    adc_terms = []
    for j, ((lo, hi), cb) in enumerate(zip(bounds, codebooks)):
        tbl = _sql_array1d(sq_dists(q[None, lo:hi], cb)[0])
        adc_terms.append(f"get({tbl}, get(pq_codes, {j}))")
    adc = F.expr(" + ".join(adc_terms))

    shortlist = (
        encoded.select(id_col, array_col, adc.alias("__adc"))
        .orderBy("__adc", id_col)
        .limit(k * refine)
    )
    exact = F.expr(
        f"sqrt(aggregate(zip_with(cast({array_col} as array<double>), "
        f"{_sql_array1d(q)}, (x, y) -> (x - y) * (x - y)), "
        f"0.0D, (acc, v) -> acc + v))"
    )
    return (
        shortlist.select(id_col, exact.alias("__d"))
        .orderBy("__d", id_col)
        .limit(k)
        .select(id_col, F.round("__d", 4).alias("euclidean"))
    )


def ann_top_k_batch(
    model,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    max_distance: float = 5.0,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Top-k per query for a whole QUERY SET in one pass:
    ``approxSimilarityJoin`` compares only same-LSH-bucket pairs (the
    bucketing amortizes across queries — this is where LSH beats N
    single-query scans), then a per-query PARTITIONED rank window takes
    k. Deterministic: seeded hyperplanes + (dist, id) tie-break."""
    from pyspark.sql.window import Window

    joined = model.approxSimilarityJoin(queries, corpus, max_distance, distCol="dist")
    w = Window.partitionBy(query_id_col).orderBy("dist", id_col)
    return (
        joined.select(
            F.col(f"datasetA.{query_id_col}").alias(query_id_col),
            F.col(f"datasetB.{id_col}").alias(id_col),
            F.col("dist"),
        )
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .select(
            query_id_col, id_col, F.round("dist", 4).alias("euclidean")
        )
    )


def ivf_top_k_batch(
    kmeans_model,
    bucketed: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_probe: int | None = None,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    vector_col: str = "features",
) -> DataFrame:
    """Batch IVF retrieval, fully columnar (no per-query driver work):

    1. centroids (tiny) broadcast-cross-joined to the query set; a
       per-query PARTITIONED rank keeps the n_probe nearest buckets;
    2. the corpus joins the probe list on ``ivf_bucket`` — a broadcast
       hash join when the query set is small, so each corpus row is
       compared only against queries probing ITS bucket
       (~n_probe/num_centroids of the query set);
    3. exact distance + per-query partitioned rank takes k.

    Deterministic: k-means is seeded, ties broken on (dist, id).
    """
    from pyspark.ml.functions import vector_to_array
    from pyspark.sql.window import Window

    if n_probe is None:
        n_probe = resolve_n_probe(len(kmeans_model.clusterCenters()))
    spark = bucketed.sparkSession
    centers_df = spark.createDataFrame(
        [
            (i, [float(x) for x in c])
            for i, c in enumerate(kmeans_model.clusterCenters())
        ],
        "ivf_bucket int, center array<double>",
    )

    def sq_dist(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    qarr = vector_to_array(F.col(vector_col)).cast("array<double>")
    w_probe = Window.partitionBy(query_id_col).orderBy("__cd", "ivf_bucket")
    probes = (
        queries.select(query_id_col, qarr.alias("__qv"))
        .crossJoin(F.broadcast(centers_df))
        .withColumn("__cd", sq_dist(F.col("__qv"), F.col("center")))
        .withColumn("__rn", F.row_number().over(w_probe))
        .where(F.col("__rn") <= n_probe)
        .select(query_id_col, "__qv", "ivf_bucket")
    )

    carr = vector_to_array(F.col(vector_col)).cast("array<double>")
    w_k = Window.partitionBy(query_id_col).orderBy("__d", id_col)
    return (
        bucketed.select(id_col, "ivf_bucket", carr.alias("__cv"))
        .join(F.broadcast(probes), "ivf_bucket")
        .withColumn("__d", F.sqrt(sq_dist(F.col("__cv"), F.col("__qv"))))
        .withColumn("__rn", F.row_number().over(w_k))
        .where(F.col("__rn") <= k)
        .select(query_id_col, id_col, F.round("__d", 4).alias("euclidean"))
    )


def build_ivfpq_index(
    embeddings: DataFrame,
    array_col: str = "embedding",
    id_col: str = "vec_id",
    num_centroids: int | None = None,
    m: int = 16,
    codes: int = 32,
    seed: int = 42,
    max_train_rows: int = 100_000,
):
    """IVF-PQ composition (the faiss IndexIVFPQ shape, Jégou et al.
    2011): a coarse quantizer prunes the corpus to n_probe buckets,
    then PQ/ADC scores only the surviving rows — the standard
    billion-scale ANN layout.

    Both training passes are the repo's bounded driver-side pattern
    (hash-mod sample, seeded Lloyd's); the corpus-side work is two
    columnar projections (bucket assignment + PQ encode) that compose
    into ONE narrow pass over the table. ``num_centroids=None``
    derives ~sqrt(N) coarse buckets (``resolve_num_centroids``); past
    DRIVER_TRAIN_MAX_CLUSTERS the coarse tier trains/assigns with
    distributed KMeans. Returns (centroids, codebooks, encoded) where
    encoded carries ``ivfpq_bucket`` + ``pq_codes``; write it
    ``partitionBy(ivfpq_bucket)`` and queries touch
    n_probe/num_centroids of the files (partition pruning)."""
    import numpy as np

    from tfm_semisup_spark.operators.semantic_dedup import (
        DRIVER_TRAIN_MAX_CLUSTERS,
        assign_clusters,
        train_semantic_centroids,
    )

    # r14: the N-estimate runs ONCE and feeds the coarse trainer, the
    # coarse cluster count, AND the PQ trainer's sampling mod —
    # previously train_semantic_centroids and build_pq_index each
    # re-ran their own approx_count_distinct scan (and the PQ one
    # executed the Arrow bucket assignment it was layered on)
    approx_n = embeddings.agg(
        F.approx_count_distinct(id_col).alias("n")
    ).head()["n"]
    if num_centroids is None:
        num_centroids = resolve_num_centroids(approx_n)
    if num_centroids > DRIVER_TRAIN_MAX_CLUSTERS:
        # past driver-trainable size (and past what a k×dim literal
        # projection should codegen): distributed KMeans trains AND
        # assigns; centroids come off the fitted model for the probe
        # ordering in ivfpq_top_k
        from tfm_semisup_spark.operators.semantic_dedup import (
            assign_clusters_mllib,
        )

        assigned, km = assign_clusters_mllib(
            embeddings,
            array_col,
            num_centroids,
            seed,
            out_col="ivfpq_bucket",
            return_model=True,
        )
        centroids = np.asarray([c.toArray() for c in km.clusterCenters()])
    else:
        centroids = train_semantic_centroids(
            embeddings,
            array_col,
            id_col,
            num_centroids,
            seed,
            max_train_rows,
            approx_n=approx_n,
        )
        assigned = assign_clusters(
            embeddings, centroids, array_col, out_col="ivfpq_bucket"
        )
    # r14: train_source=embeddings + the derived train_mod keep the PQ
    # trainer's two driver jobs (N-estimate, sample collect) off the
    # Arrow bucket-assignment lineage — previously each re-ran the
    # full assignment pass just to sample training vectors
    codebooks, encoded = build_pq_index(
        assigned,
        array_col=array_col,
        m=m,
        codes=codes,
        seed=seed,
        train_mod=max(1, -(-int(approx_n) // max_train_rows)),
        id_col=id_col,
        max_train_rows=max_train_rows,
        train_source=embeddings,
    )
    return centroids, codebooks, encoded


def ivfpq_top_k(
    centroids,
    codebooks,
    encoded: DataFrame,
    query_vector,
    k: int = 10,
    n_probe: int | None = None,
    refine: int = 8,
    id_col: str = "vec_id",
    array_col: str = "embedding",
) -> DataFrame:
    """Probe the n_probe nearest coarse buckets, ADC-score only their
    rows, exact re-rank (delegates to pq_top_k on the bucket-pruned
    set). Deterministic: seeded centroids/codebooks, (distance, id)
    tie-breaks."""
    import numpy as np

    if n_probe is None:
        n_probe = resolve_n_probe(len(centroids))
    q = np.asarray(
        query_vector.toArray() if hasattr(query_vector, "toArray") else query_vector,
        dtype=float,
    )
    order = np.argsort([float(np.linalg.norm(q - c)) for c in np.asarray(centroids)])
    probe = [int(b) for b in order[:n_probe]]
    pruned = encoded.where(F.col("ivfpq_bucket").isin(probe))
    return pq_top_k(
        codebooks, pruned, query_vector, k=k, refine=refine,
        id_col=id_col, array_col=array_col,
    )
