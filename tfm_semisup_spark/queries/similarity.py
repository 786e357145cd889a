"""Similarity search over the embeddings table (SURVEY.md §2.3).

Brute-force cosine top-k is the oracle-checkable baseline: one narrow
pass over embeddings against a broadcast query vector — at 100 TB this
is a full scan but zero shuffle (TakeOrderedAndProject for the top-k).
The LSH-bucketed ANN variant (sub-linear candidate set) lives in
``operators/similarity.py`` and is rows-only checked.

Arithmetic parity: embeddings are float32 on disk; BOTH sides cast to
double before the dot products so the only engine difference is
summation order (then rounded away).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tfm_semisup_spark.functions.vector import (
    cosine_paired,
    cosine_similarity_fixed,
    l2_norm_fixed,
)
from tfm_semisup_spark.io import embedding_dim, load_table
from tfm_semisup_spark.queries import register

COSINE_TOPK_ORACLE = """
WITH q AS (
  SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
),
scored AS (
  SELECT e.vec_id,
         list_inner_product(e.embedding::DOUBLE[], q.qv)
           / (sqrt(list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
              * sqrt(list_inner_product(q.qv, q.qv))) AS sim
  FROM embeddings e, q
  WHERE e.vec_id <> 0
)
SELECT vec_id, ROUND(sim, 4) AS cosine_sim
FROM scored
ORDER BY sim DESC, vec_id
LIMIT 10
"""


@register("similarity_cosine_topk", COSINE_TOPK_ORACLE)
def similarity_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flat fixed-arity cosine (functions/vector.py): the corpus-scan
    dot product stays inside whole-stage codegen — HOF aggregate/
    zip_with forms are interpreted, the wrong hot path at 100 TB.
    ``dim`` comes from a driver-side pyarrow footer/first-batch peek
    (io.embedding_dim, memoized) — the r3 per-call ``F.size().head()``
    probe cost a full Spark job per invocation (3.4x bench regression,
    VERDICT r3)."""
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "emb_d", F.col("embedding").cast("array<double>")
    )
    dim = embedding_dim(sf_dir)
    query = emb.where(F.col("vec_id") == 0).select(F.col("emb_d").alias("qv"))
    scored = (
        emb.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(query))
        .select(
            "vec_id",
            cosine_similarity_fixed("emb_d", "qv", dim).alias("sim"),
        )
    )
    return (
        scored.orderBy(F.desc("sim"), "vec_id")
        .limit(10)
        .select("vec_id", F.round("sim", 4).alias("cosine_sim"))
    )


# Pairwise high-similarity pairs among a keyed subset (vec_id % 20 == 0):
# the all-pairs form of similarity join, oracle-checkable. The subset keeps
# the cross join quadratic-in-a-constant; the full-corpus path is LSH.
PAIRS_ORACLE = """
WITH sub AS (
  SELECT vec_id, embedding::DOUBLE[] AS v
  FROM embeddings WHERE vec_id % 20 = 0
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       ROUND(
         list_inner_product(a.v, b.v)
           / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))),
         4) AS cosine_sim
FROM sub a JOIN sub b ON a.vec_id < b.vec_id
WHERE list_inner_product(a.v, b.v)
        / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))) > 0.25
"""


@register("similarity_pairs_above", PAIRS_ORACLE)
def similarity_pairs_above(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE TIER — exact all-pairs over a fixed vec_id%20 subset.
    The non-equi join compiles to BroadcastNestedLoopJoin: O(subset²),
    by design bounded here and NOT the corpus path. For full-corpus
    similarity pairs use the LSH tier (embedding_near_dup_pairs /
    similarity_embedding_neardup_lsh in operators/dedup.py) — bucketed
    candidates, never blind all-pairs."""
    emb = load_table(spark, sf_dir, "embeddings")
    dim = embedding_dim(sf_dir)
    sub = emb.where(F.col("vec_id") % 20 == 0).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    # Norms are projected per SIDE before the join (once per row, own
    # codegen stage); the method fused with the join+filter then holds
    # only the dot — the composite cosine fused there overflows the
    # JVM 64 KB method limit and silently runs interpreted
    # (functions/vector.py cosine_paired rationale).
    a = sub.select(
        F.col("vec_id").alias("vec_a"),
        F.col("v").alias("va"),
        l2_norm_fixed("v", dim).alias("na"),
    )
    b = sub.select(
        F.col("vec_id").alias("vec_b"),
        F.col("v").alias("vb"),
        l2_norm_fixed("v", dim).alias("nb"),
    )
    sim = cosine_paired("va", "vb", "na", "nb", dim)
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .where(sim > 0.25)
        .select("vec_a", "vec_b", F.round(sim, 4).alias("cosine_sim"))
    )


# ---------------------------------------------------------------------------
# Scale-path ANN (rows-only: LSH bucketing; seeded deterministic).
# ---------------------------------------------------------------------------


@register("similarity_ann_lsh_topk")
def similarity_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tfm_semisup_spark.operators.similarity import (
        ann_top_k,
        build_ann_index,
        with_feature_vectors,
    )

    emb = with_feature_vectors(load_table(spark, sf_dir, "embeddings"))
    model = build_ann_index(emb)
    query_vec = emb.where(F.col("vec_id") == 0).head()["features"]
    return ann_top_k(model, emb.where(F.col("vec_id") != 0), query_vec, k=10)


@register("similarity_embedding_neardup_lsh")
def similarity_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tfm_semisup_spark.operators.dedup import embedding_near_dup_pairs
    from tfm_semisup_spark.operators.similarity import with_feature_vectors

    emb = with_feature_vectors(load_table(spark, sf_dir, "embeddings"))
    return embedding_near_dup_pairs(emb, distance_threshold=1.2)


@register("similarity_ivf_topk")
def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (k-means coarse quantizer, n_probe buckets searched) —
    rows-only; seeded KMeans keeps it deterministic."""
    from tfm_semisup_spark.operators.similarity import (
        build_ivf_index,
        ivf_top_k,
        with_feature_vectors,
    )

    emb = with_feature_vectors(load_table(spark, sf_dir, "embeddings"))
    model, bucketed = build_ivf_index(emb, num_centroids=8)
    q = emb.where(F.col("vec_id") == 0).head()["features"]
    return ivf_top_k(
        model, bucketed.where(F.col("vec_id") != 0), q, k=10, n_probe=3
    )


@register("similarity_pq_topk")
def similarity_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (rows-only: k-means codebooks are
    engine-side). Third tier next to LSH/IVF — compresses the corpus to
    m code bytes per vector (~32x narrower scan at 100 TB), ADC lookup
    scoring, exact re-rank of the shortlist. Recall vs exact top-k
    asserted in tests/test_extension_operators.py.

    ``max_train_rows=256`` forces the SAMPLED codebook-training path
    (hash-mod sample + hard driver cap) at every test SF — the same
    path a 100 TB corpus takes; no full-table collect is reachable
    from this query. Deterministic: the sample is selected by
    ``xxhash64(vec_id)`` order, independent of partitioning."""
    from tfm_semisup_spark.operators.similarity import build_pq_index, pq_top_k

    emb = load_table(spark, sf_dir, "embeddings")
    codebooks, encoded = build_pq_index(emb, max_train_rows=256)
    q = emb.where(F.col("vec_id") == 0).head()["embedding"]
    return pq_top_k(
        codebooks, encoded.where(F.col("vec_id") != 0), q, k=10
    )


# Batch top-k: the SAME broadcast-small-side + per-query PARTITIONED
# rank pattern that serves a production retrieval batch. Ranking uses
# round-6 similarity (+vec_id) so the k-th boundary is decided
# identically by both engines regardless of float summation order.
BATCH_TOPK_K = 5

BATCH_TOPK_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id % 100 = 1
),
scored AS (
  SELECT q.query_id, e.vec_id,
         list_inner_product(e.embedding::DOUBLE[], q.qv)
           / (sqrt(list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
              * sqrt(list_inner_product(q.qv, q.qv))) AS sim
  FROM embeddings e, q
  WHERE e.vec_id <> q.query_id
)
SELECT query_id, vec_id, ROUND(sim, 4) AS cosine_sim
FROM scored
QUALIFY row_number() OVER (PARTITION BY query_id
                           ORDER BY ROUND(sim, 6) DESC, vec_id) <= {BATCH_TOPK_K}
"""


@register("similarity_topk_batch", BATCH_TOPK_ORACLE)
def similarity_topk_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact batch retrieval: broadcast the (small) query set against
    the corpus scan — one narrow pass whatever the corpus size — then a
    per-query PARTITIONED window takes k. The scale shape for 'embed a
    batch of prompts, retrieve k docs each'; the LSH-amortized variant
    is ann_top_k_batch (operators/similarity.py, rows-only)."""
    from pyspark.sql.window import Window

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "emb_d", F.col("embedding").cast("array<double>")
    )
    dim = embedding_dim(sf_dir)
    queries = emb.where(F.col("vec_id") % 100 == 1).select(
        F.col("vec_id").alias("query_id"), F.col("emb_d").alias("qv")
    )
    scored = (
        emb.crossJoin(F.broadcast(queries))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            cosine_similarity_fixed("emb_d", "qv", dim).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round("sim", 6)), "vec_id"
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= BATCH_TOPK_K)
        .select("query_id", "vec_id", F.round("sim", 4).alias("cosine_sim"))
    )


@register("similarity_ann_batch_topk")
def similarity_ann_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-amortized batch ANN (rows-only: bucketing is engine-side).
    Same query set as similarity_topk_batch; recall vs the exact batch
    is asserted in tests/test_extension_operators.py."""
    from tfm_semisup_spark.operators.similarity import (
        ann_top_k_batch,
        build_ann_index,
        with_feature_vectors,
    )

    emb = with_feature_vectors(load_table(spark, sf_dir, "embeddings"))
    queries = emb.where(F.col("vec_id") % 100 == 1).select(
        F.col("vec_id").alias("query_id"), "features"
    )
    corpus = emb.where(F.col("vec_id") % 100 != 1)
    model = build_ann_index(emb)
    return ann_top_k_batch(model, corpus, queries, k=BATCH_TOPK_K)


@register("similarity_ivf_batch_topk")
def similarity_ivf_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch IVF retrieval (rows-only: k-means bucketing is engine-
    side). Columnar probe assignment — broadcast centroids, per-query
    partitioned rank for n_probe buckets, bucket-join to the corpus —
    no per-query driver loop. Recall vs exact asserted in
    tests/test_extension_operators.py."""
    from tfm_semisup_spark.operators.similarity import (
        build_ivf_index,
        ivf_top_k_batch,
        with_feature_vectors,
    )

    emb = with_feature_vectors(load_table(spark, sf_dir, "embeddings"))
    model, bucketed = build_ivf_index(emb)
    queries = emb.where(F.col("vec_id") % 100 == 1).select(
        F.col("vec_id").alias("query_id"), "features"
    )
    corpus = bucketed.where(F.col("vec_id") % 100 != 1)
    # n_probe derives ~sqrt(num_centroids) so the probed fraction
    # tracks the derived coarse-quantizer size (r4 review finding)
    return ivf_top_k_batch(model, corpus, queries, k=BATCH_TOPK_K)


@register("similarity_ivfpq_topk")
def similarity_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed IVF-PQ retrieval (rows-only: k-means + PQ are engine-
    side): coarse buckets prune the corpus, ADC scores the survivors,
    exact re-rank orders the shortlist — the billion-scale layout.
    Recall vs exact top-k asserted in tests/test_extension_operators
    .py. max_train_rows=256 keeps both trainers on the sampled path at
    every SF (same rationale as similarity_pq_topk)."""
    from tfm_semisup_spark.operators.similarity import (
        build_ivfpq_index,
        ivfpq_top_k,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents, books, encoded = build_ivfpq_index(emb, max_train_rows=256)
    q = emb.where(F.col("vec_id") == 0).head()["embedding"]
    return ivfpq_top_k(
        cents, books, encoded.where(F.col("vec_id") != 0), q, k=10
    )


# ---------------------------------------------------------------------------
# Per-label centroid statistics (flat-aggregation shape)
# ---------------------------------------------------------------------------
#
# Embedding-space diagnostics: per-label vector count, within-label
# inertia (mean squared distance to the label centroid), and centroid
# norm. The scale-defining trick: inertia NEVER joins centroids back
# to vectors — E||x - c||² = E||x||² - ||c||² when c is the label
# mean, so one pass of flat (label, dim) partial sums (sum v, sum v²,
# count — all map-side combinable; shuffle volume is |labels| x dim
# rows of three doubles, independent of corpus size) yields
# everything. posexplode is 0-based, generate_subscripts 1-based; the
# index is only a grouping key, never output.

CENTROID_STATS_ORACLE = """
WITH flat AS (
  SELECT label, unnest(embedding)::DOUBLE AS v,
         generate_subscripts(embedding, 1) AS pos
  FROM embeddings
),
per_dim AS (
  SELECT label, pos, SUM(v) AS s1, SUM(v * v) AS s2, COUNT(*)::BIGINT AS n
  FROM flat GROUP BY label, pos
)
SELECT label,
       MAX(n) AS n_vecs,
       round(SUM(s2) / MAX(n) - SUM((s1 / n) * (s1 / n)), 6) AS inertia,
       round(sqrt(SUM((s1 / n) * (s1 / n))), 6) AS centroid_norm
FROM per_dim
GROUP BY label
ORDER BY label
"""


@register("label_centroid_stats", CENTROID_STATS_ORACLE)
def label_centroid_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(label, n_vecs, inertia, centroid_norm) in one flat-sum pass —
    no centroid-to-vector join."""
    emb = load_table(spark, sf_dir, "embeddings")
    flat = emb.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v"),
    )
    per_dim = flat.groupBy("label", "pos").agg(
        F.sum("v").alias("s1"),
        F.sum(F.col("v") * F.col("v")).alias("s2"),
        F.count(F.lit(1)).alias("n"),
    )
    cmean_sq = (F.col("s1") / F.col("n")) * (F.col("s1") / F.col("n"))
    return (
        per_dim.groupBy("label")
        .agg(
            F.max("n").alias("n_vecs"),
            F.round(
                F.sum("s2") / F.max("n") - F.sum(cmean_sq), 6
            ).alias("inertia"),
            F.round(F.sqrt(F.sum(cmean_sq)), 6).alias("centroid_norm"),
        )
        .orderBy("label")
    )


@register("embedding_pca_spectrum")
def embedding_pca_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed exact-covariance PCA fit (operators/pca.py): top-8
    spectrum of the embedding corpus — (component, eigenvalue,
    explained_ratio). Rows-only by necessity (eigendecomposition is
    not SQL-expressible) but deterministic under ANY partitioning: the
    corpus pass accumulates QUANTIZED integer moments, so the
    covariance handed to numpy is bit-identical regardless of batch or
    partition boundaries (see the operator docstring; partitioning
    independence pinned in tests/test_pca.py)."""
    from tfm_semisup_spark.io import embedding_dim
    from tfm_semisup_spark.operators.pca import fit_pca

    emb = load_table(spark, sf_dir, "embeddings")
    dim = embedding_dim(sf_dir)
    _, vals, ratio, _ = fit_pca(emb, "embedding", dim, k=8)
    rows = [
        (i, float(round(vals[i], 6)), float(round(ratio[i], 6)))
        for i in range(len(vals))
    ]
    return spark.createDataFrame(
        rows, "component long, eigenvalue double, explained_ratio double"
    )


# ---------------------------------------------------------------------------
# Hard-negative mining (contrastive-training data prep)
# ---------------------------------------------------------------------------
#
# The embedding-training companion of batch retrieval: for each anchor,
# the most USEFUL negatives are the nearest neighbors that are close
# but not near-duplicates (the in-batch/ANCE hard-negative recipe —
# Xiong et al. 2021). Same scale shape as similarity_topk_batch (ONE
# broadcast-query corpus scan, per-anchor partitioned window), plus a
# similarity BAND filter: sim >= the floor (informative) and < the
# near-dup ceiling (would be a false negative). Rows-only bookkeeping:
# the band edges compare unrounded per-pair doubles (fixed per pair —
# no aggregation, so no ordering exposure); ranking reuses the
# round-6/vec_id tie discipline. At corpus scale the exact scan is
# replaced by the ANN tiers feeding the same band filter.
#
# Codegen discipline (the r8 cosine-pair lesson, re-hit here): per-side
# norms are projected BEFORE the join and the band is folded into ONE
# CASE expression (NULL outside the band) — a naive two-comparison
# band filter collapsed into the BroadcastNestedLoopJoin residual
# inlines the flat 64-dim dot once PER comparison and overflows
# janino's 64 KB method limit (caught live: ERROR CodeGenerator +
# silent interpreted fallback on the first cut of this query).

_HARDNEG_K = 5
_HARDNEG_FLOOR = 0.2
_HARDNEG_CEIL = 0.95


@register("similarity_hard_negatives")
def similarity_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 banded hard negatives per anchor (anchors = vec_id %
    100 == 1): (query_id, vec_id, cosine_sim) with sim in
    [0.2, 0.95).

    RECALL-ORACLE TIER (VERDICT r9 #3): this exact scan broadcasts a
    corpus-proportional anchor set (1% of all vectors) into a cross
    join — O(N²/100) comparisons, linear-growing broadcast side. It is
    kept as the ground-truth tier that
    ``similarity_hard_negatives_ann`` is recall-tested against
    (tests/test_hard_negatives_ann.py, the same role the exact-Jaccard
    tier plays for ``dedup_minhash_banded_pairs``); the ANN tier is the
    100 TB path."""
    from pyspark.sql.window import Window

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "emb_d", F.col("embedding").cast("array<double>")
    )
    dim = embedding_dim(sf_dir)
    corpus = emb.select(
        "vec_id", F.col("emb_d").alias("cv"), l2_norm_fixed("emb_d", dim).alias("cn")
    )
    queries = emb.where(F.col("vec_id") % 100 == 1).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb_d").alias("qv"),
        l2_norm_fixed("emb_d", dim).alias("qn"),
    )
    sim = cosine_paired("cv", "qv", "cn", "qn", dim)
    banded = F.when((sim >= _HARDNEG_FLOOR) & (sim < _HARDNEG_CEIL), sim)
    scored = (
        corpus.crossJoin(F.broadcast(queries))
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", banded.alias("bsim"))
    )
    # the band filter goes ABOVE the window, not here: a filter on
    # bsim at this level collapses into the BNLJ residual and
    # re-inlines the dot per comparison (plan pinned in
    # tests/test_plan_shapes_r9.py). NULLS-LAST ordering makes
    # rn <= K equivalent on the in-band prefix.
    w = Window.partitionBy("query_id").orderBy(
        F.round("bsim", 6).desc_nulls_last(), "vec_id"
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .where((F.col("__rn") <= _HARDNEG_K) & F.col("bsim").isNotNull())
        .select(
            "query_id", "vec_id", F.round("bsim", 4).alias("cosine_sim")
        )
    )


@register("similarity_hard_negatives_ann")
def similarity_hard_negatives_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN-mined hard negatives (ANCE shape: Xiong et al. 2021 —
    negatives come from the current ANN index, not the full corpus):
    same contract as ``similarity_hard_negatives`` (top-5 per anchor,
    cosine band [0.2, 0.95), anchors = vec_id % 100 == 1) but the
    candidate set is IVF-pruned, killing the one corpus-scale
    BroadcastNestedLoopJoin the r9 verdict flagged:

    1. unit-normalize (zero-norm vectors carry no direction — excluded,
       matching the brute tier where their cosine is NULL);
    2. ~sqrt(N) coarse centroids train DRIVER-SIDE with seeded Lloyd's
       on a hash-bounded sample (``train_semantic_centroids`` — the
       SemDeDup/PQ-codebook pattern, at most max_train_rows on the
       driver at any corpus size);
    3. corpus bucket assignment is ONE narrow Arrow argmin pass
       (``assign_clusters``);
    4. each anchor's probe list = its ``n_probe`` nearest centroids
       from the same vectorized Arrow kernel family as step 3
       (``probe_buckets`` — the centroid matrix ships in the closure,
       bounded by ``resolve_num_centroids``; never a corpus-scale
       broadcast);
    5. candidates come from an EQUI-join on the probed bucket
       (~n_probe/k of the corpus per anchor), then the same band +
       rank as the brute tier.

    Deterministic end-to-end (seeded Lloyd's on a hash-sorted sample,
    first-min argmin, (dist, bucket) and (sim, vec_id) tie-breaks) —
    partitioning-independent, per the rows-only contract. Recall vs
    the brute tier is pinned ≥ 0.9 in tests/test_hard_negatives_ann.py.
    """
    from tfm_semisup_spark.operators.lineage import release, truncate

    out, assigned = _hard_negatives_ann_pipeline(spark, sf_dir)
    # materialize, then release the bucket-assignment checkpoint —
    # the leaked-checkpoint class every dedup tier guards against
    out = truncate(out)
    release(assigned)
    return out


def _hard_negatives_ann_pipeline(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(un-materialized result, checkpointed bucket assignment) — split
    out so tests/test_hard_negatives_ann.py can pin the PRE-checkpoint
    plan (the registered query returns a localCheckpoint scan)."""
    from pyspark.sql.window import Window

    from tfm_semisup_spark.functions.vector import map_vector_batches, pair_dot
    from tfm_semisup_spark.operators.lineage import release, truncate
    from tfm_semisup_spark.operators.semantic_dedup import (
        assign_clusters,
        probe_buckets,
        train_semantic_centroids,
        unit_normalize,
    )
    from tfm_semisup_spark.operators.similarity import (
        resolve_n_probe,
        resolve_num_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "emb_d", F.col("embedding").cast("array<double>")
    )
    dim = embedding_dim(sf_dir)
    # checkpoint the normalized projection ONCE: three consumers (the
    # size probe, the training-sample collect, the bucket assignment)
    # otherwise each re-run the scan + normalize lineage — measured
    # ~7.1s -> ~5s at sf0.1. Normalization runs in the shared Arrow
    # kernel (unit_normalize — the declarative transform(v/__n) form
    # re-evaluates the norm per element interpreted), and the LAZY
    # checkpoint + exact count folds the size probe INTO the
    # materialization job (VERDICT r10 #4): the count action is what
    # computes and pins the blocks, so sizing the index costs zero
    # extra passes.
    unit = truncate(
        unit_normalize(emb.select("vec_id", "emb_d"), "emb_d", out_col="u"),
        eager=False,
    )
    approx_n = unit.count()
    k = resolve_num_centroids(approx_n)
    # probe deeper than plain IVF retrieval: hard negatives live in the
    # MIDDLE of the similarity range (band ceiling excludes near-dups),
    # so the target items sit several buckets out — 4x the sqrt(k)
    # retrieval default keeps recall >= 0.9 while the probed fraction
    # (~4/sqrt(k)) still shrinks as the corpus grows
    n_probe = min(k, 4 * resolve_n_probe(k))
    centroids = train_semantic_centroids(
        unit, array_col="u", id_col="vec_id", num_clusters=k, approx_n=approx_n
    )
    assigned = truncate(assign_clusters(unit, centroids, "u", out_col="bucket"))
    release(unit)
    anchors = assigned.where(F.col("vec_id") % 100 == 1).select(
        F.col("vec_id").alias("query_id"), F.col("u").alias("qu")
    )
    # unit vectors: squared euclidean to a centroid is monotone in
    # cosine, so nearest-centroid probing targets the cosine band.
    # The probe list comes from the SAME vectorized Arrow kernel family
    # as the corpus assignment (probe_buckets = multi-probe
    # assign_clusters) instead of the r10 anchors x broadcast-centroid
    # cross join + interpreted zip_with distance + window rank: same
    # buckets, same (d2, bucket) tie-break, but no interpreted
    # per-centroid expression, no window shuffle, and no k-row driver
    # DataFrame build (VERDICT r10 #4).
    probes = probe_buckets(anchors, centroids, "qu", n_probe, "__pb").select(
        "query_id", "qu", F.explode("__pb").alias("cand_bucket")
    )
    # candidate pairs still arrive via the bucket EQUI-join (the r9
    # no-corpus-nested-loop contract, pinned in
    # tests/test_hard_negatives_ann.py); the band dot is then evaluated
    # by a vectorized Arrow kernel instead of the flat codegen
    # expression (r15, guide §4.2 — the same ~40 µs/candidate cost the
    # SemDeDup pair tier paid). Its pair_dot accumulates per dimension
    # (left-associative float64, bit-equal to dot_fixed) and emits ONLY
    # in-band rows — under the window's NULLS-LAST ordering the banded
    # rows formed the rank prefix, so dropping the out-of-band rows
    # before ranking selects the identical top-K set.
    joined = (
        probes.join(assigned, probes["cand_bucket"] == assigned["bucket"])
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "qu", "u")
    )
    floor, ceil = _HARDNEG_FLOOR, _HARDNEG_CEIL

    def band(Q, U):
        acc = pair_dot(U, Q, dim)
        keep = (acc >= floor) & (acc < ceil)
        return keep, {"bsim": acc[keep]}

    scored = map_vector_batches(
        joined, ["qu", "u"], band, "bsim double", drop=["qu", "u"]
    )
    w = Window.partitionBy("query_id").orderBy(
        F.round("bsim", 6).desc_nulls_last(), "vec_id"
    )
    out = (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= _HARDNEG_K)
        .select("query_id", "vec_id", F.round("bsim", 4).alias("cosine_sim"))
    )
    return out, assigned


# ---------------------------------------------------------------------------
# Matryoshka truncation audit (r10)
# ---------------------------------------------------------------------------
#
# Matryoshka representation learning (Kusupati et al. 2022) serves
# PREFIXES of an embedding as cheaper vectors; the operational question
# is how much retrieval quality a prefix keeps. This audit ranks the
# corpus against the fixed query (vec_id = 0) by full-dimension cosine
# and by first-16-dims cosine, and reports top-k overlap at
# k ∈ {1, 5, 10}: (k, n_overlap, recall_at_k).
#
# Scale shape: each ranking is the brute-force scan (narrow projection,
# zero shuffle, TakeOrderedAndProject top-10) — the window ranks run
# over the two 10-ROW results only (bounded-grid exception). Exact
# doubles both engines; ties broken by (sim desc, vec_id).

_MATRYOSHKA_PREFIX = 16
_MATRYOSHKA_KS = [1, 5, 10]

MATRYOSHKA_ORACLE = f"""
WITH q AS (
  SELECT embedding::DOUBLE[] AS qv,
         (embedding::DOUBLE[])[1:{_MATRYOSHKA_PREFIX}] AS qt
  FROM embeddings WHERE vec_id = 0
),
scored AS (
  SELECT e.vec_id,
         list_inner_product(e.embedding::DOUBLE[], q.qv)
           / (sqrt(list_inner_product(e.embedding::DOUBLE[],
                                      e.embedding::DOUBLE[]))
              * sqrt(list_inner_product(q.qv, q.qv))) AS sim_full,
         list_inner_product((e.embedding::DOUBLE[])[1:{_MATRYOSHKA_PREFIX}],
                            q.qt)
           / (sqrt(list_inner_product(
                 (e.embedding::DOUBLE[])[1:{_MATRYOSHKA_PREFIX}],
                 (e.embedding::DOUBLE[])[1:{_MATRYOSHKA_PREFIX}]))
              * sqrt(list_inner_product(q.qt, q.qt))) AS sim_trunc
  FROM embeddings e, q
  WHERE e.vec_id <> 0
),
full10 AS (
  SELECT vec_id, ROW_NUMBER() OVER (ORDER BY sim_full DESC, vec_id)
           AS r_full
  FROM scored ORDER BY sim_full DESC, vec_id LIMIT 10
),
trunc10 AS (
  SELECT vec_id, ROW_NUMBER() OVER (ORDER BY sim_trunc DESC, vec_id)
           AS r_trunc
  FROM scored ORDER BY sim_trunc DESC, vec_id LIMIT 10
),
ks AS (SELECT UNNEST([{", ".join(str(k) for k in _MATRYOSHKA_KS)}]) AS k)
SELECT ks.k::BIGINT AS k,
       COALESCE(SUM(CASE WHEN f.r_full <= ks.k AND t.r_trunc <= ks.k
                         THEN 1 ELSE 0 END), 0)::BIGINT AS n_overlap,
       ROUND(COALESCE(SUM(CASE WHEN f.r_full <= ks.k AND t.r_trunc <= ks.k
                               THEN 1 ELSE 0 END), 0)
             / CAST(ks.k AS DOUBLE), 6) AS recall_at_k
FROM ks
LEFT JOIN full10 f ON TRUE
LEFT JOIN trunc10 t ON f.vec_id = t.vec_id
GROUP BY ks.k
"""


@register("embedding_matryoshka_audit", MATRYOSHKA_ORACLE)
def embedding_matryoshka_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k overlap between full-dim and 16-dim-prefix cosine rankings
    against vec_id 0: (k, n_overlap, recall_at_k)."""
    from pyspark.sql.window import Window

    dim = embedding_dim(sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "emb_d", F.col("embedding").cast("array<double>")
    )
    qrow = emb.where(F.col("vec_id") == 0).select(
        F.col("emb_d").alias("qv"),
        F.slice("emb_d", 1, _MATRYOSHKA_PREFIX).alias("qt"),
    )
    cand = emb.where(F.col("vec_id") != 0).select(
        "vec_id",
        "emb_d",
        F.slice("emb_d", 1, _MATRYOSHKA_PREFIX).alias("et"),
    )
    scored = cand.crossJoin(F.broadcast(qrow)).select(
        "vec_id",
        cosine_similarity_fixed("emb_d", "qv", dim).alias("sim_full"),
        cosine_similarity_fixed("et", "qt", _MATRYOSHKA_PREFIX).alias(
            "sim_trunc"
        ),
    )
    full10 = (
        scored.orderBy(F.desc("sim_full"), "vec_id")
        .limit(10)
        .withColumn(
            "r_full",
            F.row_number().over(Window.orderBy(F.desc("sim_full"), "vec_id")),
        )
        .select("vec_id", "r_full")
    )
    trunc10 = (
        scored.orderBy(F.desc("sim_trunc"), "vec_id")
        .limit(10)
        .withColumn(
            "r_trunc",
            F.row_number().over(Window.orderBy(F.desc("sim_trunc"), "vec_id")),
        )
        .select(F.col("vec_id").alias("t_vec"), "r_trunc")
    )
    ks = spark.createDataFrame([(k,) for k in _MATRYOSHKA_KS], "k long")
    hit = (
        F.when(
            (F.col("r_full") <= F.col("k")) & (F.col("r_trunc") <= F.col("k")),
            1,
        ).otherwise(0)
    )
    return (
        ks.crossJoin(full10)
        .join(trunc10, F.col("vec_id") == F.col("t_vec"), "left")
        .groupBy("k")
        .agg(
            F.coalesce(F.sum(hit), F.lit(0)).cast("bigint").alias("n_overlap"),
            F.round(
                F.coalesce(F.sum(hit), F.lit(0)) / F.col("k").cast("double"),
                6,
            ).alias("recall_at_k"),
        )
    )


# ---------------------------------------------------------------------------
# Sign-code (1-bit PQ) estimate-vs-exact calibration audit (r11,
# VERDICT r10 #8)
# ---------------------------------------------------------------------------
#
# The PQ/IVF-PQ tiers are rows-only (k-means codebooks are not SQL-
# expressible), so their estimate quality was pinned only by recall
# tests. This audit oracles the CALIBRATION question for the family's
# portable sibling: the 1-bit product code (one sign bit per dimension
# — binary hashing, the degenerate PQ with 2 centroids per 1-dim
# subspace). For every corpus vector vs the fixed query (vec_id 0) it
# computes the sign-code similarity estimate (2·n_sign_match/dim − 1,
# the Hamming-to-cosine map) AND the exact cosine, and reports
# per-agreement-octile calibration — the same estimate-vs-exact shape
# as ``minhash_calibration_audit``.
#
# Cross-engine arithmetic (the exact-until-one-double-tree rule):
# components quantize to integers via floor(v·1024) — v is float32
# from parquet, ·1024 is a power-of-two multiply (exact), floor is
# unambiguous (no round() HALF_UP-vs-binary divergence). n_match, the
# integer dot and the squared norms are exact integers; the single
# double tree per row is dotq/(sqrt(na)·sqrt(nq)) — every op IEEE
# exact-rounded, so the doubles are bit-identical across engines —
# then shifted/floored to micro-units before the cross-row sums.
# Scale shape: one narrow corpus scan against a broadcast 1-row query,
# per-side quantized columns projected BEFORE the join (codegen: the
# fused post-join method holds column arithmetic only), ≤ 9 output
# rows.

_PQS_QUANT = 1024
_PQS_SCALE = 1_000_000


def _pqs_quant_sql(arr: str, i: int) -> str:
    return f"CAST(FLOOR(element_at({arr}, {i}) * {_PQS_QUANT}.0) AS BIGINT)"


def _pqs_quant_duck(arr: str, i: int) -> str:
    return f"CAST(FLOOR(({arr})[{i}] * {_PQS_QUANT}.0) AS BIGINT)"


def _pq_sign_calibration_oracle(dim: int = 64) -> str:
    qa = ",\n         ".join(
        f"{_pqs_quant_duck('embedding::DOUBLE[]', i)} AS a{i}"
        for i in range(1, dim + 1)
    )
    qq = ",\n         ".join(
        f"{_pqs_quant_duck('embedding::DOUBLE[]', i)} AS q{i}"
        for i in range(1, dim + 1)
    )
    n_match = " + ".join(
        f"CASE WHEN (a{i} >= 0) = (q{i} >= 0) THEN 1 ELSE 0 END"
        for i in range(1, dim + 1)
    )
    dotq = " + ".join(f"a{i} * q{i}" for i in range(1, dim + 1))
    na = " + ".join(f"a{i} * a{i}" for i in range(1, dim + 1))
    nq = " + ".join(f"q{i} * q{i}" for i in range(1, dim + 1))
    est = f"(({n_match}) * {2 * _PQS_SCALE // 64})"
    return f"""
WITH a AS (
  SELECT vec_id,
         {qa}
  FROM embeddings WHERE vec_id <> 0
),
q AS (
  SELECT {qq}
  FROM embeddings WHERE vec_id = 0
),
scored AS (
  SELECT a.vec_id,
         ({n_match}) AS n_match,
         ({dotq}) AS dotq,
         ({na}) AS na,
         ({nq}) AS nq
  FROM a CROSS JOIN q
),
rowq AS (
  SELECT n_match // 8 AS match_level,
         {est.replace('(' + n_match + ')', 'n_match')} AS est_cq,
         CAST(FLOOR((CAST(dotq AS DOUBLE)
                      / (SQRT(CAST(na AS DOUBLE)) * SQRT(CAST(nq AS DOUBLE)))
                      + 1.0) * {_PQS_SCALE}.0) AS BIGINT) AS exact_cq
  FROM scored WHERE na > 0 AND nq > 0
)
SELECT CAST(match_level AS BIGINT) AS match_level,
       COUNT(*)::BIGINT AS n_vecs,
       ROUND(CAST(SUM(est_cq) AS DOUBLE)
             / (COUNT(*) * {_PQS_SCALE}.0) - 1.0, 6) AS avg_est_cos,
       ROUND(CAST(SUM(exact_cq) AS DOUBLE)
             / (COUNT(*) * {_PQS_SCALE}.0) - 1.0, 6) AS avg_exact_cos,
       ROUND(CAST(SUM(ABS(est_cq - exact_cq)) AS DOUBLE)
             / (COUNT(*) * {_PQS_SCALE}.0), 6) AS mean_abs_err
FROM rowq
GROUP BY match_level
"""


@register("pq_sign_calibration_audit", _pq_sign_calibration_oracle())
def pq_sign_calibration_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-agreement-octile calibration of the 1-bit product code
    (sign per dimension) against exact cosine vs the fixed query:
    (match_level, n_vecs, avg_est_cos, avg_exact_cos, mean_abs_err)."""
    dim = embedding_dim(sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "emb_d", F.col("embedding").cast("array<double>")
    )
    a = emb.where(F.col("vec_id") != 0).selectExpr(
        "vec_id",
        *[f"{_pqs_quant_sql('emb_d', i)} AS a{i}" for i in range(1, dim + 1)],
    )
    q = emb.where(F.col("vec_id") == 0).selectExpr(
        *[f"{_pqs_quant_sql('emb_d', i)} AS q{i}" for i in range(1, dim + 1)]
    )
    n_match = " + ".join(
        f"CASE WHEN (a{i} >= 0) = (q{i} >= 0) THEN 1 ELSE 0 END"
        for i in range(1, dim + 1)
    )
    dotq = " + ".join(f"a{i} * q{i}" for i in range(1, dim + 1))
    na = " + ".join(f"a{i} * a{i}" for i in range(1, dim + 1))
    nq = " + ".join(f"q{i} * q{i}" for i in range(1, dim + 1))
    from tfm_semisup_spark.operators.lineage import release, truncate

    # checkpoint the 5-integer row reduction BEFORE the filter: a
    # Filter above this projection makes Catalyst's constraint
    # propagation substitute every alias with its ~64-term child tree
    # and pairwise semanticEquals them — OOMs a default-heap driver.
    # The materialized frame is 5 longs/row (narrower than the scan).
    scored = truncate(
        a.crossJoin(F.broadcast(q)).selectExpr(
            "vec_id",
            f"({n_match}) AS n_match",
            f"({dotq}) AS dotq",
            f"({na}) AS na",
            f"({nq}) AS nq",
        )
    )
    rowq = scored.where("na > 0 AND nq > 0").selectExpr(
        "CAST(n_match DIV 8 AS BIGINT) AS match_level",
        f"n_match * {2 * _PQS_SCALE // 64} AS est_cq",
        f"CAST(FLOOR((CAST(dotq AS DOUBLE)"
        f" / (SQRT(CAST(na AS DOUBLE)) * SQRT(CAST(nq AS DOUBLE)))"
        f" + 1.0D) * {_PQS_SCALE}.0D) AS BIGINT) AS exact_cq",
    )
    n = F.count(F.lit(1))
    out = rowq.groupBy("match_level").agg(
        n.cast("bigint").alias("n_vecs"),
        F.round(
            F.sum("est_cq").cast("double") / (n * float(_PQS_SCALE)) - 1.0, 6
        ).alias("avg_est_cos"),
        F.round(
            F.sum("exact_cq").cast("double") / (n * float(_PQS_SCALE)) - 1.0, 6
        ).alias("avg_exact_cos"),
        F.round(
            F.sum(F.abs(F.col("est_cq") - F.col("exact_cq"))).cast("double")
            / (n * float(_PQS_SCALE)),
            6,
        ).alias("mean_abs_err"),
    )
    out = truncate(out)
    release(scored)
    return out


# ---------------------------------------------------------------------------
# One Lloyd (k-means) round, ORACLED (r13)
# ---------------------------------------------------------------------------
#
# The ANN/SemDeDup/PQ tiers are rows-only because their k-means
# codebooks train driver-side (numpy Lloyd's on a bounded sample —
# the faiss shape). This entry promotes the LLOYD STEP MATH itself to
# a driver-checked oracle: one assignment + update round with
# deterministic initial centroids (vec_id 0..3), entirely relational.
#
# Arithmetic parity:
# - the squared distance is a FLAT 64-term expression over
#   float32→double casts (exact), generated once per engine (Spark
#   0-based / DuckDB 1-based indexing) with IDENTICAL term order — the
#   same double on both sides, so the argmin (rank by dist, cluster)
#   matches bit-for-bit;
# - per-row inertia contributions are FLOOR-quantized at 10^6 and the
#   per-component update sums quantize the raw components at 10^9
#   (float32·10^9 is an exact integer in a double), so every cross-row
#   aggregate is an order-free exact integer;
# - the new-centroid norm is a fixed 64-term expression over the
#   integer sums — one sqrt, round 6.
#
# 100 TB shape: K is bounded (broadcast centroids), the assignment is
# one narrow scan + per-vector rank over K candidate rows, the update
# is one groupBy; this is exactly the per-iteration plan a distributed
# Lloyd's would run, which is the point of the audit.

_KM_K = 4
_KM_DIM = 64  # embeddings are 64-d at every SF (static oracle text)
_KM_IN_SCALE = 1_000_000_000  # component quantization
_KM_D_SCALE = 1_000_000  # inertia quantization


def _km_dist_sql(e: str, c: str, base: int) -> str:
    """Flat 64-term squared distance; ``base`` = 0 (Spark) / 1 (DuckDB).
    Term order is identical across engines (j ascending)."""
    terms = [
        f"(CAST({e}[{j + base}] AS DOUBLE) - CAST({c}[{j + base}] AS DOUBLE))"
        f" * (CAST({e}[{j + base}] AS DOUBLE)"
        f" - CAST({c}[{j + base}] AS DOUBLE))"
        for j in range(_KM_DIM)
    ]
    return "(" + " + ".join(terms) + ")"


def _km_comp_sums_sql(e: str, base: int) -> str:
    """64 quantized component-sum aggregate columns."""
    return ", ".join(
        f"SUM(CAST(FLOOR(CAST({e}[{j + base}] AS DOUBLE) * {_KM_IN_SCALE}) "
        f"AS BIGINT)) AS s{j}"
        for j in range(_KM_DIM)
    )


def _km_norm_sql() -> str:
    """New-centroid norm from the integer component sums."""
    comps = " + ".join(
        f"(CAST(s{j} AS DOUBLE) / (n_assigned * {_KM_IN_SCALE}.0))"
        f" * (CAST(s{j} AS DOUBLE) / (n_assigned * {_KM_IN_SCALE}.0))"
        for j in range(_KM_DIM)
    )
    return f"ROUND(sqrt({comps}), 6)"


KMEANS_ROUND_ORACLE = f"""
WITH cents AS (
  SELECT vec_id AS cluster, embedding AS cemb FROM embeddings
  WHERE vec_id < {_KM_K}
),
scored AS (
  SELECT e.vec_id, e.embedding, c.cluster,
         {_km_dist_sql("e.embedding", "c.cemb", 1)} AS dist
  FROM embeddings e CROSS JOIN cents c
),
assigned AS (
  SELECT vec_id, embedding, cluster, dist,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY dist, cluster) AS rn
  FROM scored
),
agg AS (
  SELECT cluster,
         COUNT(*)::BIGINT AS n_assigned,
         SUM(CAST(FLOOR(dist * {_KM_D_SCALE}) AS BIGINT))::BIGINT
           AS inertia_q,
         {_km_comp_sums_sql("embedding", 1)}
  FROM assigned WHERE rn = 1 GROUP BY cluster
)
SELECT CAST(cluster AS BIGINT) AS cluster, n_assigned, inertia_q,
       {_km_norm_sql()} AS new_norm
FROM agg
"""


@register("kmeans_one_round_audit", KMEANS_ROUND_ORACLE)
def kmeans_one_round_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd round from deterministic centroids (vec_id 0..3):
    (cluster, n_assigned, inertia_q, new_norm). The k-means STEP math
    behind the IVF/PQ/SemDeDup tiers, driver-checked; the
    driver-trained production codebooks stay rows-only."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.where(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").alias("cluster"), F.col("embedding").alias("cemb")
    )
    scored = (
        emb.crossJoin(F.broadcast(cents))
        .selectExpr(
            "vec_id",
            "embedding",
            "cluster",
            f"{_km_dist_sql('embedding', 'cemb', 0)} AS dist",
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("vec_id").orderBy("dist", "cluster")
    assigned = scored.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") == 1
    )
    agg = assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_assigned"),
        F.sum(
            F.floor(F.col("dist") * F.lit(_KM_D_SCALE)).cast("bigint")
        )
        .cast("bigint")
        .alias("inertia_q"),
        *[
            F.sum(
                F.expr(
                    f"CAST(FLOOR(CAST(embedding[{j}] AS DOUBLE)"
                    f" * {_KM_IN_SCALE}) AS BIGINT)"
                )
            )
            .cast("bigint")
            .alias(f"s{j}")
            for j in range(_KM_DIM)
        ],
    )
    return agg.selectExpr(
        "CAST(cluster AS BIGINT) AS cluster",
        "n_assigned",
        "inertia_q",
        f"{_km_norm_sql()} AS new_norm",
    )


# ---------------------------------------------------------------------------
# Two power-iteration matvecs on the centered covariance, ORACLED (r13)
# ---------------------------------------------------------------------------
#
# ``embedding_pca_spectrum`` is rows-only (driver-side eigh on the
# integer moment matrix). This entry promotes the SPECTRAL MATH to a
# driver-checked oracle: two power-iteration matvecs y = C·v0,
# z = C·y on the CENTERED covariance (v0 = first basis vector) and
# the Rayleigh quotient λ = y·z / y·y — the top-eigenvalue estimator
# every distributed PCA/power-iteration implementation is built from.
#
# The matvec never materializes C (64x64): (C·v)_i =
# (1/n)·Σ_r e_ri·(e_r·v) − m_i·(m·v), so each pass is ONE scan with a
# flat dot product bound to a column first (the Catalyst
# lambda-inlining lesson) and 64 FLOOR-quantized per-row contribution
# sums — order-free exact integers; the mean corrections, Rayleigh
# numerator and denominator are fixed 64-term expressions over the
# aggregated columns (identical doubles cross-engine), two final
# divisions + two sqrt, round 6.
#
# 100 TB shape: two narrow scans with map-side-combinable integer
# aggregates — the exact plan a distributed power iteration runs per
# step (and why it scales: shuffle volume is 64 integers per pass).

_PI_DIM = 64
_PI_SCALE = 1_000_000_000


def _pi_qsum_sql(e: str, s: str, base: int, prefix: str) -> str:
    """64 quantized per-row contribution sums Σ floor(e_i·s·1e9)."""
    return ", ".join(
        f"SUM(CAST(FLOOR(CAST({e}[{j + base}] AS DOUBLE) * {s}"
        f" * {_PI_SCALE}) AS BIGINT)) AS {prefix}{j}"
        for j in range(_PI_DIM)
    )


def _pi_dot_sql(e: str, vcols: str, base: int) -> str:
    """Flat dot of the embedding with 64 broadcast columns."""
    return "(" + " + ".join(
        f"CAST({e}[{j + base}] AS DOUBLE) * {vcols}{j}"
        for j in range(_PI_DIM)
    ) + ")"


def _pi_vec_sql(qprefix: str, corr: str) -> list[str]:
    """y_i (or z_i) columns from the quantized sums + mean correction:
    (q_i/(n·1e9)) − m_i·corr."""
    return [
        f"(CAST({qprefix}{j} AS DOUBLE) / (n * {_PI_SCALE}.0))"
        f" - m{j} * ({corr}) AS v{qprefix}{j}"
        for j in range(_PI_DIM)
    ]


def _pi_oracle() -> str:
    base = 1
    m_cols = ", ".join(
        f"CAST(s{j} AS DOUBLE) / (n * {_PI_SCALE}.0) AS m{j}"
        for j in range(_PI_DIM)
    )
    comp_sums = ", ".join(
        f"SUM(CAST(FLOOR(CAST(embedding[{j + base}] AS DOUBLE)"
        f" * {_PI_SCALE}) AS BIGINT)) AS s{j}"
        for j in range(_PI_DIM)
    )
    y_cols = ", ".join(_pi_vec_sql("qy", "m0"))
    my = " + ".join(f"m{j} * vqy{j}" for j in range(_PI_DIM))
    z_cols = ", ".join(_pi_vec_sql("qz", "my"))
    yy = " + ".join(f"vqy{j} * vqy{j}" for j in range(_PI_DIM))
    yz = " + ".join(f"vqy{j} * vqz{j}" for j in range(_PI_DIM))
    zz = " + ".join(f"vqz{j} * vqz{j}" for j in range(_PI_DIM))
    return f"""
WITH mom AS (
  SELECT COUNT(*)::BIGINT AS n, {comp_sums}
  FROM embeddings
),
means AS (SELECT n, {m_cols} FROM mom),
p1 AS (
  SELECT {_pi_qsum_sql("embedding", f"CAST(embedding[{base}] AS DOUBLE)",
                       base, "qy")}
  FROM embeddings
),
yv AS (SELECT means.n, {y_cols}, means.* FROM p1 CROSS JOIN means),
e2 AS (
  SELECT e.embedding, {_pi_dot_sql("e.embedding", "y.vqy", base)} AS sdot
  FROM embeddings e CROSS JOIN yv y
),
p2 AS (
  SELECT {_pi_qsum_sql("embedding", "sdot", base, "qz")}
  FROM e2
),
fin AS (
  SELECT y.n, ({my}) AS my, y.*, p2.* FROM p2 CROSS JOIN yv y
),
zv AS (SELECT *, {z_cols} FROM fin)
SELECT CAST(n AS BIGINT) AS n,
       ROUND(({yz}) / ({yy}), 6) AS rayleigh_lambda,
       ROUND(sqrt({yy}), 6) AS y_norm,
       ROUND(sqrt({zz}), 6) AS z_norm
FROM zv
"""


@register("pca_power_iteration_audit", _pi_oracle())
def pca_power_iteration_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two power-iteration matvecs on the centered embedding covariance
    from v0 = e_0, with the Rayleigh top-eigenvalue estimate:
    (n, rayleigh_lambda, y_norm, z_norm). The spectral STEP math behind
    ``embedding_pca_spectrum``, driver-checked; the full eigh spectrum
    stays rows-only."""
    base = 0
    emb = load_table(spark, sf_dir, "embeddings")
    mom = emb.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        *[
            F.sum(
                F.expr(
                    f"CAST(FLOOR(CAST(embedding[{j + base}] AS DOUBLE)"
                    f" * {_PI_SCALE}) AS BIGINT)"
                )
            )
            .cast("bigint")
            .alias(f"s{j}")
            for j in range(_PI_DIM)
        ],
    )
    means = mom.selectExpr(
        "n",
        *[
            f"CAST(s{j} AS DOUBLE) / (n * {_PI_SCALE}.0) AS m{j}"
            for j in range(_PI_DIM)
        ],
    )
    p1 = emb.agg(
        *[
            F.expr(
                f"SUM(CAST(FLOOR(CAST(embedding[{j + base}] AS DOUBLE)"
                f" * CAST(embedding[{base}] AS DOUBLE)"
                f" * {_PI_SCALE}) AS BIGINT))"
            )
            .cast("bigint")
            .alias(f"qy{j}")
            for j in range(_PI_DIM)
        ]
    )
    yv = p1.crossJoin(F.broadcast(means)).selectExpr(
        "n", *_pi_vec_sql("qy", "m0"), *[f"m{j}" for j in range(_PI_DIM)]
    )
    e2 = emb.crossJoin(F.broadcast(yv)).selectExpr(
        "embedding", f"{_pi_dot_sql('embedding', 'vqy', base)} AS sdot"
    )
    p2 = e2.agg(
        *[
            F.expr(
                f"SUM(CAST(FLOOR(CAST(embedding[{j + base}] AS DOUBLE)"
                f" * sdot * {_PI_SCALE}) AS BIGINT))"
            )
            .cast("bigint")
            .alias(f"qz{j}")
            for j in range(_PI_DIM)
        ]
    )
    my = " + ".join(f"m{j} * vqy{j}" for j in range(_PI_DIM))
    fin = p2.crossJoin(F.broadcast(yv)).selectExpr("*", f"({my}) AS my")
    zv = fin.selectExpr("*", *_pi_vec_sql("qz", "my"))
    yy = " + ".join(f"vqy{j} * vqy{j}" for j in range(_PI_DIM))
    yz = " + ".join(f"vqy{j} * vqz{j}" for j in range(_PI_DIM))
    zz = " + ".join(f"vqz{j} * vqz{j}" for j in range(_PI_DIM))
    return zv.selectExpr(
        "CAST(n AS BIGINT) AS n",
        f"ROUND(({yz}) / ({yy}), 6) AS rayleigh_lambda",
        f"ROUND(sqrt({yy}), 6) AS y_norm",
        f"ROUND(sqrt({zz}), 6) AS z_norm",
    )


# ---------------------------------------------------------------------------
# Portable HYPERPLANE sign-LSH — the oracled sibling of the
# similarity_ann_lsh_topk / embedding_near_dup_pairs tier (r14,
# VERDICT r13 #3: the last rows-only ANN family whose core math had
# no oracle; k-means, PQ sign codes and power iteration got theirs in
# r13).
# ---------------------------------------------------------------------------
#
# MLlib's BucketedRandomProjectionLSH internal state (Gaussian
# projections) can't be oracled, so this tier makes the
# dedup_simhash_portable_pairs trade applied to embeddings: md5-derived
# ±1 hyperplanes (sign of a 16-bit md5 slice of 'hp:<h>:<j>' — a
# data-independent dim×H table both engines derive from the same
# digest), coordinates quantized to exact integers
# (FLOOR(x·10^6) — float32→double cast and one double multiply are
# bit-identical IEEE on both engines), sign-bit signatures via exact
# BIGINT dot products, B bands of R bits each, banded candidate join,
# and an exact quantized-integer dot-product verify with ONE final
# double division for the reported cosine. Everything that orders or
# matches is integer algebra.
#
# Scale: the signs table is dim×H rows (broadcast); signatures are
# constant-size per vector; the only data-scale shuffles are the
# per-vector bit aggregation and the band-bucket equi-join — the same
# sub-quadratic candidate shape as the production LSH tier. The
# explode-join verify is candidate-bounded. Throughput ANN stays on
# the MLlib tier; this is the audit path.
#
# Parameters measured against the corpus (non-vacuity rule): H=32
# hyperplanes, 4 bands × 8 bits → candidate pairs 2359 at sf0.001,
# 2240 at sf0.01, 37947 at sf0.1 — the top-20-by-exact-qdot output is
# non-empty at every gate SF by construction.

_HLSH_H = 32  # hyperplanes (signature bits)
_HLSH_R = 8  # bits per band (4 bands)
_HLSH_SCALE = 1_000_000  # coordinate quantization: floor(x * 10^6)
_HLSH_TOPK = 20
_HLSH_SGN_MD5 = "md5('hp:' || h || ':' || j)"


def _hlsh_oracle() -> str:
    from tfm_semisup_spark.operators.layout import md5_uniform16_sql

    slice_expr = md5_uniform16_sql(_HLSH_SGN_MD5, start=1)
    return f"""
WITH dims AS (SELECT len(embedding) AS dim FROM embeddings LIMIT 1),
sgn AS (
  SELECT h, j, CASE WHEN ({slice_expr}) % 2 = 0 THEN 1 ELSE -1 END AS s
  FROM (SELECT unnest(generate_series(0, {_HLSH_H - 1})) AS h),
       (SELECT unnest(generate_series(1, (SELECT dim FROM dims))) AS j)
),
qq AS (
  SELECT vec_id,
         unnest(generate_series(1, len(embedding))) AS j,
         CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * {_HLSH_SCALE})
              AS BIGINT) AS qv
  FROM embeddings
),
bits AS (
  SELECT qq.vec_id, sgn.h,
         CASE WHEN SUM(sgn.s * qq.qv) > 0 THEN 1 ELSE 0 END AS bit
  FROM qq JOIN sgn ON qq.j = sgn.j
  GROUP BY qq.vec_id, sgn.h
),
bands AS (
  SELECT vec_id, h // {_HLSH_R} AS band,
         SUM(bit * (1 << (h % {_HLSH_R})))::BIGINT AS bkey
  FROM bits GROUP BY vec_id, h // {_HLSH_R}
),
cand AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, COUNT(*)::BIGINT AS n_bands
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id
  GROUP BY a.vec_id, b.vec_id
),
norms AS (SELECT vec_id, SUM(qv * qv)::BIGINT AS qn FROM qq GROUP BY vec_id),
verify AS (
  SELECT c.vec_a, c.vec_b, c.n_bands, SUM(qa.qv * qb.qv)::BIGINT AS qdot
  FROM cand c
  JOIN qq qa ON qa.vec_id = c.vec_a
  JOIN qq qb ON qb.vec_id = c.vec_b AND qb.j = qa.j
  GROUP BY c.vec_a, c.vec_b, c.n_bands
)
SELECT vec_a, vec_b, n_bands, qdot,
       ROUND(CAST(qdot AS DOUBLE)
             / (sqrt(CAST(na.qn AS DOUBLE)) * sqrt(CAST(nb.qn AS DOUBLE))),
             6) AS cosine_q
FROM verify
JOIN norms na ON na.vec_id = vec_a
JOIN norms nb ON nb.vec_id = vec_b
ORDER BY qdot DESC, vec_a, vec_b
LIMIT {_HLSH_TOPK}
"""


@register("similarity_lsh_portable_pairs", _hlsh_oracle())
def similarity_lsh_portable_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracled hyperplane sign-LSH: top-20 banded candidate pairs by
    exact quantized dot product — (vec_a, vec_b, n_bands, qdot,
    cosine_q). The candidate-generation math (md5-derived ±1
    hyperplanes, sign-bit signatures, 4×8-bit band buckets) and the
    verify math (integer dot product, one final double division) are
    driver-checked bit-identically against DuckDB; production ANN
    stays on the MLlib tier (``similarity_ann_lsh_topk``)."""
    from tfm_semisup_spark.operators.layout import md5_uniform16_spark_sql
    from tfm_semisup_spark.operators.lineage import release, truncate

    emb = load_table(spark, sf_dir, "embeddings")
    dim = embedding_dim(sf_dir)
    sgn = (
        spark.range(_HLSH_H)
        .selectExpr("id AS h")
        .crossJoin(spark.range(1, dim + 1).selectExpr("id AS j"))
        .selectExpr(
            "h",
            "j",
            f"CASE WHEN {md5_uniform16_spark_sql(_HLSH_SGN_MD5, start=1)} % 2"
            " = 0 THEN 1 ELSE -1 END AS s",
        )
    )
    qq = truncate(
        emb.select(
            "vec_id", F.posexplode("embedding").alias("pos", "x")
        ).selectExpr(
            "vec_id",
            "pos + 1 AS j",
            f"CAST(FLOOR(CAST(x AS DOUBLE) * {_HLSH_SCALE}) AS BIGINT) AS qv",
        )
    )
    bits = (
        qq.join(F.broadcast(sgn), "j")
        .groupBy("vec_id", "h")
        .agg(
            F.when(F.sum(F.col("s") * F.col("qv")) > 0, 1)
            .otherwise(0)
            .alias("bit")
        )
    )
    bands = bits.groupBy(
        "vec_id", F.expr(f"h DIV {_HLSH_R}").alias("band")
    ).agg(
        F.sum(
            F.expr(f"CAST(bit AS BIGINT) * shiftleft(1, CAST(h % {_HLSH_R} AS INT))")
        )
        .cast("bigint")
        .alias("bkey")
    )
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .groupBy(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_bands"))
    )
    norms = qq.groupBy("vec_id").agg(
        F.sum(F.col("qv") * F.col("qv")).cast("bigint").alias("qn")
    )
    qa = qq.select(
        F.col("vec_id").alias("vec_a"), "j", F.col("qv").alias("qva")
    )
    qb = qq.select(
        F.col("vec_id").alias("vec_b"), "j", F.col("qv").alias("qvb")
    )
    verify = (
        cand.join(qa, "vec_a")
        .join(qb, ["vec_b", "j"])
        .groupBy("vec_a", "vec_b", "n_bands")
        .agg(F.sum(F.col("qva") * F.col("qvb")).cast("bigint").alias("qdot"))
    )
    na = norms.select(F.col("vec_id").alias("vec_a"), F.col("qn").alias("qna"))
    nb = norms.select(F.col("vec_id").alias("vec_b"), F.col("qn").alias("qnb"))
    # eager-truncate BEFORE releasing qq: a released checkpoint must
    # not be read again (lineage.py contract; simhash-portable recipe)
    out = truncate(
        verify.join(F.broadcast(na), "vec_a")
        .join(F.broadcast(nb), "vec_b")
        .orderBy(F.desc("qdot"), "vec_a", "vec_b")
        .limit(_HLSH_TOPK)
        .selectExpr(
            "vec_a",
            "vec_b",
            "n_bands",
            "qdot",
            "ROUND(CAST(qdot AS DOUBLE)"
            " / (sqrt(CAST(qna AS DOUBLE)) * sqrt(CAST(qnb AS DOUBLE))), 6)"
            " AS cosine_q",
        )
    )
    release(qq)
    return out
