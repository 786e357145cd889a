"""Deduplication operators (extension surface, SURVEY.md §2.3).

Tiers, and which to use at corpus scale (VERDICT r1):

- exact: fingerprint = md5(text); dedup is a groupBy on the hash, which
  shuffles only (hash, doc_id) pairs, never the text payload. Always
  safe.
- **Corpus-scale near-dup DEFAULTS**: MinHash LSH
  (``operators/dedup.py``, constant-size signatures + banded bucketing
  — no quadratic candidate join) or the DF-CAPPED n-gram Jaccard below
  (``dedup_ngram_jaccard_capped``): dropping shingles with document
  frequency > DF_CAP bounds every shingle's candidate contribution at
  C(DF_CAP, 2), so total candidate volume is O(n_shingles · DF_CAP²)
  — linear in the corpus for a fixed cap. The cap drops only
  stop-shingles that carry no near-dup signal.
- ``dedup_ngram_jaccard_pairs`` (UNCAPPED) is the ORACLE TIER: the
  exact shared-shingle join is quadratic per hot shingle — a single
  shingle present in every document generates C(n_docs, 2) candidate
  pairs. Keep it for small/verified corpora and as the DuckDB-parity
  reference; do not point it at an adversarial corpus
  (``tests/test_dedup_skew.py`` measures exactly this blow-up).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tfm_semisup_spark.functions.text import hashed_word_ngrams, word_ngrams
from tfm_semisup_spark.io import load_table
from tfm_semisup_spark.queries import register

EXACT_ORACLE = """
SELECT COUNT(*) AS n_docs,
       COUNT(DISTINCT md5(text)) AS n_unique,
       COUNT(*) - COUNT(DISTINCT md5(text)) AS n_exact_dups
FROM documents
"""


@register("dedup_exact_stats", EXACT_ORACLE)
def dedup_exact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5("text")
    return docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(fp).alias("n_unique"),
        (F.count(F.lit(1)) - F.countDistinct(fp)).alias("n_exact_dups"),
    )


# Keeper selection over a PLANTED corpus (r14, VERDICT r13 #4): the
# synthetic corpus has zero exact dups below sf0.1 (even after
# case/whitespace/punctuation folding — measured r14), so the
# plain-corpus keeper list was legitimately-empty-but-allowlisted at
# the gate SFs and its driver row proved only 0==0. Reusing
# dedup_planted_duplicates' planting (union a copy under shifted ids)
# makes every text a duplicate group, so the per-group keeper rows —
# the thing the old query could never show at gate SFs — are
# driver-checked with real data at EVERY SF (500 groups at
# sf0.001/0.01; real sf0.1 dups fold in as n_copies > 2).
KEEPER_ORACLE = """
WITH shift AS (SELECT MAX(doc_id) + 1 AS s FROM documents),
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + (SELECT s FROM shift) AS doc_id, text FROM documents
)
SELECT md5(text) AS fp, MIN(doc_id) AS keeper_doc_id,
       COUNT(*)::BIGINT AS n_copies
FROM corpus
GROUP BY 1
HAVING COUNT(*) > 1
"""


@register("dedup_exact_keepers", KEEPER_ORACLE)
def dedup_exact_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keeper selection over the planted corpus: one survivor (min
    doc_id) per duplicate group — (fp, keeper_doc_id, n_copies). The
    planted-copy id shift is DERIVED (max(doc_id)+1, exact BIGINT on
    both engines) so every planted id exceeds every original and the
    min rule provably selects an ORIGINAL keeper at ANY corpus size —
    a fixed 1e6 shift would silently collide once a generated probe
    corpus reaches 1e6 doc_ids (r14 review). The aggregate sibling
    ``dedup_planted_duplicates`` checks the global counts, this one
    checks the per-group keeper rows themselves.
    Scale: one column-pruned max() scan for the shift scalar, then
    shuffles only (hash, doc_id) pairs — text never moves."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    shift = docs.agg(F.max("doc_id")).first()[0] + 1
    corpus = docs.unionAll(
        docs.select((F.col("doc_id") + F.lit(shift)).alias("doc_id"), "text")
    )
    return (
        corpus.groupBy(F.md5("text").alias("fp"))
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).cast("bigint").alias("n_copies"),
        )
        .where(F.col("n_copies") > 1)
    )


def shingled_docs(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingles: array) — distinct word n-grams per doc,
    JVM-side sequence+transform, no UDF. Explode for the inverted
    index. Tokens are bound to a column before n-gramming: passing the
    split expression directly would be re-evaluated per n-gram by
    Catalyst lambda inlining (O(tokens²), measured 33.6s -> 4.4s in
    SCALE.md).

    PERFORMANCE: only use this form when the shingle STRINGS are
    needed. ``array_distinct`` on string arrays is the non-primitive
    O(n²) fallback, and overlapping n-grams share long prefixes so
    each equality compare scans ~n words before differing — measured
    3.4s vs 0.4s at sf0.1 for n=8. ``hashed_shingles`` below dedups on
    8-byte longs (primitive hash-set path) and is the default for
    every similarity/dedup consumer."""
    tokens = docs.withColumn("__w", F.filter(F.split("text", " "), lambda t: t != ""))
    return (
        tokens.select(
            "doc_id", F.array_distinct(word_ngrams(F.col("__w"), n)).alias("shingles")
        )
        .where(F.size("shingles") > 0)
    )


def hashed_shingles(docs: DataFrame, n: int = 3, *carry: str) -> DataFrame:
    """(doc_id, *carry, hs: array<bigint>) — distinct xxhash64'd word
    n-grams per doc. Hash-THEN-distinct: the distinct runs on primitive
    longs (hash-set path) instead of the O(n²) string fallback, and
    everything downstream (joins, aggregates, broadcasts) moves 8-byte
    keys. Cross-doc collisions (2^-64/pair) are noise for every
    similarity decision made on these sets."""
    tokens = docs.withColumn("__w", F.filter(F.split("text", " "), lambda t: t != ""))
    # NO size>0 filter here: a filter on the computed array pushes
    # below the repartition into the (single-split) scan with the
    # WHOLE shingle pipeline inlined — the entire tokenize/shingle
    # work then runs once single-threaded in the scan's DataFilter and
    # again in the real projection (measured: 3.5s of a 5.5s query).
    # Every consumer explodes ``hs``, and explode of an empty array
    # emits no rows, so the filter was semantics-free anyway.
    return tokens.select(
        "doc_id",
        *carry,
        F.array_distinct(hashed_word_ngrams(F.col("__w"), n)).alias("hs"),
    )


def candidate_pair_volume(tri: DataFrame) -> int:
    """Number of candidate pairs the shared-shingle self-join would
    generate: sum over shingles of C(df, 2). The scale-safety metric for
    near-dup plans — the capped tier keeps this linear in the corpus."""
    row = (
        tri.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .agg(F.sum(F.col("df") * (F.col("df") - 1) / 2).alias("vol"))
        .head()
    )
    return int(row["vol"] or 0)


def jaccard_pairs_from_index(tri: DataFrame, sizes: DataFrame, threshold: float) -> DataFrame:
    """Shared-shingle self-join -> pair intersection counts -> Jaccard
    filter. Joint candidate volume is governed by the shingle document
    frequencies of ``tri`` (see candidate_pair_volume) — feed it a
    DF-capped index at corpus scale."""
    a = tri.alias("a")
    b = tri.alias("b")
    pairs = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("shared") * 1.0 / (F.col("na") + F.col("nb") - F.col("shared"))
    # sizes is one row per doc — at corpus scale this is NOT broadcastable;
    # plain equi-joins let AQE pick broadcast at small SF automatically.
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


# Word-3-gram Jaccard near-dup pairs. Spark side builds shingles with
# sequence+transform (JVM-side, no UDF), explodes the distinct-shingle
# inverted index, and self-joins on shingle. 0.5 threshold.
NGRAM_JACCARD_ORACLE = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS w
  FROM documents
),
tri AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS shingle
  FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
  WHERE len(w) >= 3
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM tri GROUP BY 1),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
  FROM tri a JOIN tri b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT p.doc_a, p.doc_b,
       ROUND(p.shared * 1.0 / (sa.n + sb.n - p.shared), 4) AS jaccard
FROM pairs p
JOIN sizes sa ON p.doc_a = sa.doc_id
JOIN sizes sb ON p.doc_b = sb.doc_id
WHERE p.shared * 1.0 / (sa.n + sb.n - p.shared) >= 0.5
"""


@register("dedup_ngram_jaccard_pairs", NGRAM_JACCARD_ORACLE)
def dedup_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE TIER — exact, uncapped. The shared-shingle join is
    quadratic per hot shingle (C(df,2) candidates each); on adversarial
    corpora use ``dedup_ngram_jaccard_capped`` or MinHash LSH (module
    docstring). Kept as the DuckDB-parity reference."""
    # single-file parquet scans arrive as ONE partition (one row group);
    # hash-repartition by doc_id so shingle construction parallelizes —
    # at corpus scale this also pre-co-locates the doc-keyed joins below
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    # hashed index: dedup + join + shuffle all on 8-byte longs, never
    # the ~25B shingle strings (see hashed_shingles)
    shingled = hashed_shingles(docs).persist()  # reused: self-join + sizes
    # materialize then release the shingle cache eagerly — long-lived
    # library sessions must not accumulate pinned blocks (ADVICE r2/r3;
    # same shape as substring_cut_spans). Plan evidence for PLANS.md
    # comes from ngram_jaccard_plan (the checkpoint hides this tree).
    from tfm_semisup_spark.operators.lineage import truncate

    out = truncate(_jaccard_pairs_from_shingled(shingled))
    shingled.unpersist()
    return out


def _jaccard_pairs_from_shingled(shingled: DataFrame) -> DataFrame:
    """Pair dataflow over a (doc_id, hs) shingle index — the single
    construction behind BOTH the registered query (which persists the
    index and checkpoints the result) and the lazy plan-evidence form
    (``ngram_jaccard_plan``), so the documented plan can't drift from
    the executed one (same discipline as components._propagation_round)."""
    tri = shingled.select("doc_id", F.explode("hs").alias("shingle"))
    sizes = shingled.select("doc_id", F.size("hs").alias("n"))
    return jaccard_pairs_from_index(tri, sizes, 0.5)


def ngram_jaccard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Un-truncated, un-persisted dataflow of dedup_ngram_jaccard_pairs
    for plan inspection (PLANS.md) — identical expressions, lazy."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    return _jaccard_pairs_from_shingled(hashed_shingles(docs))


# Containment near-dup: C(A,B) = |A∩B| / min(|A|, |B|) — the metric
# for SUBSET relations Jaccard misses (a short doc quoted verbatim
# inside a long one has high containment but low Jaccard, because the
# union is dominated by the long doc). Standard in quote/boilerplate
# and cross-corpus leakage detection alongside the Jaccard tier. Same
# hashed-shingle inverted-index machinery and the same DF-governed
# candidate volume (the shared-shingle join is quadratic per hot
# shingle — on adversarial corpora run it over a DF-capped index like
# dedup_ngram_jaccard_capped, identical trade).
CONTAINMENT_ORACLE = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS w
  FROM documents
),
tri AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS shingle
  FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
  WHERE len(w) >= 3
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM tri GROUP BY 1),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
  FROM tri a JOIN tri b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT p.doc_a, p.doc_b,
       ROUND(p.shared * 1.0 / LEAST(sa.n, sb.n), 4) AS containment
FROM pairs p
JOIN sizes sa ON p.doc_a = sa.doc_id
JOIN sizes sb ON p.doc_b = sb.doc_id
WHERE p.shared * 1.0 / LEAST(sa.n, sb.n) >= 0.8
"""


@register("dedup_containment_pairs", CONTAINMENT_ORACLE)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subset-detection pairs: max-containment >= 0.8 over word-3-gram
    shingle sets. (doc_a, doc_b, containment)."""
    from tfm_semisup_spark.operators.lineage import truncate

    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    shingled = hashed_shingles(docs).persist()
    tri = shingled.select("doc_id", F.explode("hs").alias("shingle"))
    sizes = shingled.select("doc_id", F.size("hs").alias("n"))
    a = tri.alias("a")
    b = tri.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    cont = F.col("shared") * 1.0 / F.least(F.col("na"), F.col("nb"))
    out = truncate(
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(cont >= 0.8)
        .select("doc_a", "doc_b", F.round(cont, 4).alias("containment"))
    )
    shingled.unpersist()
    return out


# ---------------------------------------------------------------------------
# Scale-path near-dup operators (rows-only checked: LSH bucketing and
# xxhash64 fingerprints are not DuckDB-expressible; all seeded and
# deterministic). Implementations in operators/dedup.py.
# ---------------------------------------------------------------------------


@register("dedup_minhash_lsh_pairs")
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tfm_semisup_spark.operators.dedup import minhash_near_dup_pairs

    docs = load_table(spark, sf_dir, "documents")
    return minhash_near_dup_pairs(docs, jaccard_threshold=0.5)


@register("dedup_minhash_banded_pairs")
def dedup_minhash_banded_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure-columnar banded MinHash (operators/dedup.py) — the faster
    twin of the MLlib tier; output pairs carry TRUE Jaccard distance
    (exact verification on hashed shingle sets)."""
    from tfm_semisup_spark.operators.dedup import minhash_banded_pairs

    docs = load_table(spark, sf_dir, "documents")
    return minhash_banded_pairs(docs, jaccard_threshold=0.5)


@register("dedup_simhash_fingerprints")
def dedup_simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tfm_semisup_spark.operators.dedup import simhash_fingerprints

    docs = load_table(spark, sf_dir, "documents")
    return simhash_fingerprints(docs)


@register("dedup_simhash_pairs")
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tfm_semisup_spark.operators.dedup import simhash_near_dup_pairs

    docs = load_table(spark, sf_dir, "documents")
    return simhash_near_dup_pairs(docs, max_hamming=3)


# Document-frequency-capped n-gram Jaccard: drop shingles appearing in
# more than DF_CAP docs before pairing (stop-shingle removal — the knob
# that keeps the candidate join bounded on adversarial corpora where a
# few hot shingles appear in ~every doc). Jaccard is then over the
# capped shingle universe, identically on both sides.
DF_CAP = 25

NGRAM_JACCARD_CAPPED_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS w
  FROM documents
),
tri AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS shingle
  FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
  WHERE len(w) >= 3
),
kept AS (
  SELECT doc_id, shingle FROM tri
  QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= {DF_CAP}
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY 1),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT p.doc_a, p.doc_b,
       ROUND(p.shared * 1.0 / (sa.n + sb.n - p.shared), 4) AS jaccard
FROM pairs p
JOIN sizes sa ON p.doc_a = sa.doc_id
JOIN sizes sb ON p.doc_b = sb.doc_id
WHERE p.shared * 1.0 / (sa.n + sb.n - p.shared) >= 0.5
"""


def df_capped_index(tri: DataFrame, cap: int = DF_CAP) -> DataFrame:
    """Drop shingles with document frequency > cap (stop-shingle
    removal). Bounds each shingle's candidate contribution at C(cap,2),
    making total candidate volume linear in the corpus — THE knob that
    makes exact n-gram Jaccard corpus-safe.

    Physical shape: aggregate the hot-shingle set (map-side partial
    counts — ships (shingle, count) partials, NOT index rows) and
    anti-join it back. The count-over-Window alternative shuffles the
    ENTIRE inverted index to rank per shingle; measured 1.7x slower at
    sf0.1 and strictly worse at corpus scale. The hot set is tiny
    (stop-shingles), so AQE turns the anti-join into a broadcast."""
    hot = (
        tri.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("__df"))
        .where(F.col("__df") > cap)
        .select("shingle")
    )
    return tri.join(hot, "shingle", "left_anti")


@register("dedup_ngram_jaccard_capped", NGRAM_JACCARD_CAPPED_ORACLE)
def dedup_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORPUS-PATH DEFAULT for exact n-gram Jaccard (with MinHash LSH
    the other scale tier). DF-capped: candidate volume stays bounded
    under planted hot shingles — proven by tests/test_dedup_skew.py."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    from tfm_semisup_spark.operators.lineage import truncate

    # cache the ARRAY-form shingles (one small row per doc — the
    # expensive text->shingle computation), NOT the exploded index:
    # df_capped_index reads the index twice (hot-shingle aggregate +
    # anti-join probe) and re-exploding cached long arrays is a cheap
    # columnar Generate, while checkpointing/caching the exploded rows
    # re-ran or materialized the whole pipeline at 260k-row width
    # (measured ~3.7s of a 5.5s query).
    shingled = hashed_shingles(docs).persist()
    tri = shingled.select("doc_id", F.explode("hs").alias("shingle"))
    kept = df_capped_index(tri).persist()
    sizes = kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    # materialize then release the caches eagerly (ADVICE r2/r3)
    out = truncate(jaccard_pairs_from_index(kept, sizes, 0.5))
    kept.unpersist()
    shingled.unpersist()
    return out


# Transitive closure of the capped near-dup pair graph: every document
# incident to a near-dup edge is assigned the min doc_id reachable
# through edges (its cluster keeper). Spark side: iterative min-label
# propagation with pointer jumping (operators/components.py); oracle:
# recursive CTE over the identical capped pair construction.
CLUSTER_ORACLE = f"""
WITH RECURSIVE toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS w
  FROM documents
),
tri AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS shingle
  FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
  WHERE len(w) >= 3
),
kept AS (
  SELECT doc_id, shingle FROM tri
  QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= {DF_CAP}
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY 1),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jac AS (
  SELECT p.doc_a, p.doc_b
  FROM pairs p
  JOIN sizes sa ON p.doc_a = sa.doc_id
  JOIN sizes sb ON p.doc_b = sb.doc_id
  WHERE p.shared * 1.0 / (sa.n + sb.n - p.shared) >= 0.5
),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM jac
  UNION
  SELECT doc_b AS u, doc_a AS v FROM jac
),
walk(node, label) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.u, w.label FROM edges e JOIN walk w ON w.node = e.v
)
SELECT node AS doc_id, MIN(label) AS component
FROM walk GROUP BY node
"""


@register("dedup_cluster_components", CLUSTER_ORACLE)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS from the corpus-default capped Jaccard pairs:
    transitive closure via O(log diameter) min-label propagation
    (operators/components.py). component == keeper doc_id; the
    deletion list is rows where doc_id != component."""
    from tfm_semisup_spark.operators.components import connected_components

    pairs = dedup_ngram_jaccard_capped(spark, sf_dir)
    comp = connected_components(pairs)
    return comp.select(F.col("node").alias("doc_id"), "component")


# Cross-document substring duplication (Lee et al. 2021, "Deduplicating
# Training Data Makes Language Models Better": long verbatim spans
# shared across documents degrade models even when full-doc Jaccard is
# low). Exact suffix-array dedup is a single-machine algorithm; the
# distributed equivalent is positional long-n-gram analysis: a token
# position is DUPLICATED if the 15-token gram starting there also
# occurs in another document. The per-doc duplicated-position fraction
# approximates the fraction of text inside cross-doc duplicated spans.
SUBSTRING_GRAM = 15

SUBSTRING_CUT_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS w
  FROM documents
),
grams AS (
  SELECT doc_id, i AS pos,
         array_to_string(list_slice(w, i, i + {SUBSTRING_GRAM - 1}), ' ') AS g
  FROM toks, UNNEST(generate_series(1, len(w) - {SUBSTRING_GRAM - 1})) AS t(i)
  WHERE len(w) >= {SUBSTRING_GRAM}
),
shared AS (
  SELECT g FROM grams GROUP BY g HAVING COUNT(DISTINCT doc_id) > 1
),
dup_pos AS (
  SELECT doc_id, pos FROM grams WHERE g IN (SELECT g FROM shared)
),
isl AS (
  SELECT doc_id, pos,
         CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   <= {SUBSTRING_GRAM} THEN 0 ELSE 1 END AS brk
  FROM dup_pos
),
grp AS (
  SELECT doc_id, pos,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM isl
)
SELECT doc_id,
       MIN(pos)::BIGINT AS span_start,
       (MAX(pos) + {SUBSTRING_GRAM - 1})::BIGINT AS span_end,
       (MAX(pos) + {SUBSTRING_GRAM - 1} - MIN(pos) + 1)::BIGINT AS span_tokens
FROM grp
GROUP BY doc_id, island
"""


@register("substring_dup_cut_list", SUBSTRING_CUT_ORACLE)
def substring_dup_cut_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-span CUT LIST for cross-document substring dedup (the
    surgical-removal companion to ``substring_dup_report``): one row
    per maximal duplicated token span — (doc_id, span_start, span_end,
    span_tokens), 1-based inclusive token offsets.

    A token position is duplicated when the {SUBSTRING_GRAM}-gram
    starting there also occurs in another document; overlapping /
    adjacent duplicated grams merge into maximal spans via
    gaps-and-islands (positions <= {SUBSTRING_GRAM} apart chain into
    one island). Physical shape: the positional gram index moves
    xxhash64 longs only; the island window is PARTITIONED by doc_id
    (per-doc sort, never a global sort). Following Lee et al. 2021,
    the list marks EVERY occurrence of a duplicated span — keeping one
    canonical copy is a policy layered on top (e.g. keep min doc_id).
    """
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    return substring_cut_spans(docs)


def substring_cut_spans(docs: DataFrame, gram: int = SUBSTRING_GRAM) -> DataFrame:
    """Core of ``substring_dup_cut_list`` over any (doc_id, text)
    DataFrame — see that query's docstring for semantics and the
    physical-shape rationale. ``gram`` is honored throughout (gram
    index, island gap, span-end arithmetic).

    The positional gram index is persisted only for the duration of
    this plan (it is scanned twice: shared-gram agg + probe) and
    unpersisted eagerly once the result is materialized — library
    callers in long-lived sessions don't leak cached blocks."""
    from pyspark.sql.window import Window

    toks = docs.withColumn("__w", F.filter(F.split("text", " "), lambda t: t != ""))
    grams = (
        toks.select(
            "doc_id",
            F.posexplode(hashed_word_ngrams(F.col("__w"), gram)).alias("__p", "g"),
        )
        .select("doc_id", (F.col("__p") + 1).alias("pos"), F.col("g"))
        .persist()
    )
    shared = (
        grams.groupBy("g")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") > 1)
        .select("g")
    )
    dup_pos = grams.join(shared, "g").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    brk = F.when(
        F.col("pos") - F.lag("pos").over(w) <= gram, F.lit(0)
    ).otherwise(F.lit(1))
    spans = (
        dup_pos.withColumn("__brk", brk)
        .withColumn("__island", F.sum("__brk").over(w))
        .groupBy("doc_id", "__island")
        .agg(F.min("pos").alias("__lo"), F.max("pos").alias("__hi"))
    )
    out = spans.select(
        "doc_id",
        F.col("__lo").cast("long").alias("span_start"),
        (F.col("__hi") + gram - 1).cast("long").alias("span_end"),
        (F.col("__hi") + gram - 1 - F.col("__lo") + 1)
        .cast("long")
        .alias("span_tokens"),
    )
    # Materialize before releasing the gram index: the eager checkpoint
    # cuts the lineage so the returned DataFrame no longer references
    # the persisted blocks (non-eager would recompute after unpersist).
    from tfm_semisup_spark.operators.lineage import truncate

    out = truncate(out)
    grams.unpersist()
    return out


def apply_cut_list(docs: DataFrame, cuts: DataFrame) -> DataFrame:
    """Remove the cut-list spans from each document's text — the apply
    step of substring dedup. Columnar: spans are collected PER DOC
    (bounded: spans per doc <= tokens / gram), attached by a doc_id
    equi-join, and tokens are dropped by position with
    ``F.filter(..., (tok, i) -> !exists(span contains i))`` — all
    codegen, no Python. Docs with no spans pass through unchanged.

    Note this removes every occurrence of a duplicated span (both
    sides of each duplicate pair), matching the cut list itself; a
    keep-one-copy policy should pre-filter ``cuts``.
    """
    per_doc = cuts.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans")
    )
    toks = F.filter(F.split("text", " "), lambda t: t != "")
    kept = F.filter(
        toks,
        lambda t, i: ~F.exists(
            F.col("__spans"),
            lambda s: (i + 1 >= s["span_start"]) & (i + 1 <= s["span_end"]),
        ),
    )
    return (
        docs.join(per_doc, "doc_id", "left")
        .withColumn(
            "text",
            F.when(F.col("__spans").isNull(), F.col("text")).otherwise(
                F.array_join(kept, " ")
            ),
        )
        .drop("__spans")
    )


SUBSTRING_DUP_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, source,
         list_filter(string_split(text, ' '), t -> t <> '') AS w
  FROM documents
),
grams AS (
  SELECT doc_id, source,
         array_to_string(list_slice(w, i, i + {SUBSTRING_GRAM - 1}), ' ') AS g
  FROM toks, UNNEST(generate_series(1, len(w) - {SUBSTRING_GRAM - 1})) AS t(i)
  WHERE len(w) >= {SUBSTRING_GRAM}
),
shared AS (
  SELECT g FROM grams GROUP BY g HAVING COUNT(DISTINCT doc_id) > 1
),
per_doc AS (
  SELECT gr.doc_id, gr.source,
         COUNT(*) AS n_pos,
         SUM(CASE WHEN s.g IS NOT NULL THEN 1 ELSE 0 END) AS n_dup
  FROM grams gr LEFT JOIN shared s ON gr.g = s.g
  GROUP BY 1, 2
)
SELECT source,
       COUNT(*)::BIGINT AS n_docs,
       CAST(SUM(CASE WHEN n_dup > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_dup_spans,
       ROUND(AVG(n_dup * 1.0 / n_pos), 4) AS avg_dup_frac,
       ROUND(MAX(n_dup * 1.0 / n_pos), 4) AS max_dup_frac
FROM per_doc
GROUP BY source
ORDER BY source
"""


@register("substring_dup_report", SUBSTRING_DUP_ORACLE)
def substring_dup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source audit of cross-document duplicated {SUBSTRING_GRAM}-token
    spans. Physical shape: positional gram index on xxhash64 longs (the
    gram STRING never shuffles); shared-gram set via groupBy + HAVING
    (map-side partials); per-position membership via left-semi-style
    count join keyed on the 8-byte hash. All aggregates decomposable —
    scan-bound at corpus scale."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    toks = docs.withColumn("__w", F.filter(F.split("text", " "), lambda t: t != ""))
    grams = (
        toks.select(
            "doc_id",
            "source",
            F.explode(hashed_word_ngrams(F.col("__w"), SUBSTRING_GRAM)).alias("g"),
        )
        .select("doc_id", "source", F.col("g"))
        .persist()
    )
    shared = (
        grams.groupBy("g")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") > 1)
        .select("g", F.lit(1).alias("is_dup"))
    )
    per_doc = (
        grams.join(shared, "g", "left")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_pos"),
            F.sum(F.coalesce("is_dup", F.lit(0))).alias("n_dup"),
        )
    )
    frac = F.col("n_dup") * 1.0 / F.col("n_pos")
    report = (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("n_dup") > 0).cast("long")).alias("docs_with_dup_spans"),
            F.round(F.avg(frac), 4).alias("avg_dup_frac"),
            F.round(F.max(frac), 4).alias("max_dup_frac"),
        )
        .orderBy("source")
    )
    # materialize then release the gram index eagerly (ADVICE r2/r3)
    from tfm_semisup_spark.operators.lineage import truncate

    out = truncate(report)
    grams.unpersist()
    return out


@register("dedup_semantic_semdedup")
def dedup_semantic_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic dedup over the embeddings table (Abbas et al.
    2023): seeded driver-trained centroids -> columnar cluster
    assignment -> within-cluster cosine pairs -> connected-component
    keepers. Rows-only (k-means is not SQL-expressible): one row per
    vector with (id, sem_cluster, component, keep) — deterministic via
    seeded sample/Lloyd's + min-id canonicalization, independent of
    partitioning (operators/semantic_dedup.py).

    threshold=0.45: the synthetic embeddings carry no true semantic
    duplicates (max pairwise cosine ~0.51), so a production-style 0.95
    would make the grouping path vacuous here; 0.45 exercises pair
    formation + components + canonicalization on this data. Planted
    true-duplicate behavior is tested in tests/test_semantic_dedup.py."""
    from pyarrow import ArrowException

    from tfm_semisup_spark.io import embedding_dim, load_table, table_row_count
    from tfm_semisup_spark.operators.semantic_dedup import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    # corpus size from the parquet footer (zero Spark jobs, r15):
    # vec_id is the table key, so num_rows IS the distinct count the
    # HLL probe estimated; at every gate/bench SF both resolve the
    # same k and train_mod (verified by old-vs-new row equality at
    # sf0.001/0.01/0.1), and the exact value is the more faithful one.
    # Where pyarrow cannot open the table (a filesystem it has no
    # driver for), None selects semantic_dedup's Spark probes instead.
    try:
        dim, approx_n = embedding_dim(sf_dir), table_row_count(sf_dir, "embeddings")
    except (OSError, ArrowException):
        dim = approx_n = None
    return semantic_dedup(
        emb, threshold=0.45, dim=dim, approx_n=approx_n
    ).orderBy("id")


# ---------------------------------------------------------------------------
# Prefix-filtered exact Jaccard (PPJoin-style candidate generation)
# ---------------------------------------------------------------------------
#
# A THIRD candidate-generation strategy next to the full inverted-index
# join (exact, quadratic per hot shingle) and the DF-cap / LSH tiers
# (bounded, approximate): PREFIX FILTERING (Chaudhuri et al. 2006 SSJoin,
# Xiao et al. 2008 PPJoin). Order every document's shingles by one
# global order (rarest-first by document frequency); for Jaccard >= t
# two qualifying sets MUST share a shingle within their first
# n - ceil(t*n) + 1 shingles — so only PREFIXES are indexed and
# self-joined. Exactness is free (no recall loss), and the candidate
# volume drops to the prefix collisions: hot (frequent) shingles sort
# LAST and mostly fall outside every prefix, which is precisely where
# the full index goes quadratic.
#
# The global order is internal (df, then hash) — it only shapes the
# candidate set, never the verified result, so the oracle is the SAME
# naive exact join the inverted-index tier matches: the driver compare
# itself proves the pruning lossless. A cross-tier equality test pins
# pair-set identity with dedup_ngram_jaccard_pairs.

def prefix_filter_candidates(shingled: DataFrame, t: float) -> DataFrame:
    """(doc_a, doc_b) candidate pairs from prefix collisions: per-doc
    rarest-first (df, hash) order, prefix length n - ceil(t*n) + 1,
    self-join on prefix shingles only. Lossless for Jaccard >= t."""
    ex = shingled.select("doc_id", F.explode("hs").alias("sh"))
    dfreq = ex.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    per_doc = (
        ex.join(dfreq, "sh")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "sh"))).alias("sorted"))
    )
    n = F.size("sorted")
    plen = (n - F.ceil(F.lit(t) * n) + 1).cast("int")
    prefix_ex = per_doc.select(
        "doc_id", F.explode(F.slice("sorted", 1, plen)).alias("ps")
    ).select("doc_id", F.col("ps.sh").alias("sh"))
    a = prefix_ex.select(F.col("doc_id").alias("doc_a"), "sh")
    b = prefix_ex.select(F.col("doc_id").alias("doc_b"), "sh")
    return (
        a.join(b, "sh")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


@register("dedup_prefix_jaccard_pairs", NGRAM_JACCARD_ORACLE)
def dedup_prefix_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard >= 0.5 pairs via prefix filtering:
    (doc_a, doc_b, jaccard). Plan: shingle index persisted once ->
    df-rank sort per doc (one groupBy) -> prefix-only self-join ->
    array_intersect verification on the full hashed sets.

    Measured honestly (sf0.1, local[32]): ~5.9s vs ~1.5s for the full
    inverted-index tier — the synthetic corpus has NEAR-UNIFORM shingle
    document frequencies, so the full join generates almost no excess
    candidates and the prefix tier's extra df-join + per-doc sort is
    pure overhead. The tier earns its keep on SKEWED corpora: a hot
    shingle shared by D docs costs the full index C(D,2) candidates
    while sorting last in every document's order and falling OUTSIDE
    the prefixes (planted-skew candidate-count test in
    tests/test_graph_boilerplate.py). It is the exact strategy whose
    candidate volume is robust to skew without the DF-cap tier's
    recall trade."""
    from tfm_semisup_spark.operators.lineage import truncate

    t = 0.5
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    shingled = hashed_shingles(docs).persist()  # arrays reused by verify
    cand = prefix_filter_candidates(shingled, t)
    ha = shingled.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("ha"))
    hb = shingled.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hb"))
    inter = F.size(F.array_intersect("ha", "hb"))
    jac = inter * 1.0 / (F.size("ha") + F.size("hb") - inter)
    out = truncate(
        cand.join(ha, "doc_a")
        .join(hb, "doc_b")
        .where(jac >= t)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )
    shingled.unpersist()
    return out


# ---------------------------------------------------------------------------
# PORTABLE MinHash: the one near-dup tier where the SIGNATURE ITSELF is
# oracled. The production banded-MinHash tier (operators/dedup.py) keys
# on xxhash64 (no DuckDB equivalent — rows-only); here each word-3-gram
# is md5'd ONCE and its 32 hex chars sliced into 8 independent 16-bit
# values (the same one-digest-many-slices trick as the bloom screen),
# so both engines compute bit-identical signatures: sig_j(doc) =
# min over grams of slice_j(md5(gram)). Banding: 4 bands x 2 rows —
# candidates share a band key; verification counts matching
# coordinates (>= 6 of 8 ~ Jaccard >= 0.75 estimate).
#
# 100 TB: one narrow gram explode (no string-array materialization
# downstream of the md5), one groupBy(doc) for signatures, band join on
# 32-bit keys whose collisions are near-dups by construction. This
# tier exists for ORACLE coverage of the minhash math; the xxhash64
# banded tier stays the throughput default.
_MH_SLICES = 8
_MH_MIN_MATCH = 6

from tfm_semisup_spark.operators.layout import (  # noqa: E402
    md5_uniform16_spark_sql,
    md5_uniform16_sql,
)


def _mh_oracle() -> str:
    mins = ",\n         ".join(
        f"MIN({md5_uniform16_sql('md5(gram)', start=1 + 4 * j)}) AS m{j}"
        for j in range(_MH_SLICES)
    )
    bands = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band,"
        f" CAST(m{2 * b} AS BIGINT) * 65536 + m{2 * b + 1} AS k FROM sig"
        for b in range(_MH_SLICES // 2)
    )
    matches = " + ".join(
        f"CASE WHEN sa.m{j} = sb.m{j} THEN 1 ELSE 0 END" for j in range(_MH_SLICES)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS w
  FROM documents
),
grams AS (
  SELECT doc_id, w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS gram
  FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
  WHERE len(w) >= 3
),
sig AS (
  SELECT doc_id,
         {mins}
  FROM grams GROUP BY doc_id
),
bands AS (
{bands}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.k = b.k AND a.doc_id < b.doc_id
)
SELECT id1, id2, CAST(n_match AS BIGINT) AS n_match,
       ROUND(n_match / 8.0, 4) AS est_sim
FROM (
  SELECT c.id1, c.id2, ({matches}) AS n_match
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.id1
  JOIN sig sb ON sb.doc_id = c.id2
)
WHERE n_match >= {_MH_MIN_MATCH}
"""


@register("dedup_minhash_portable_pairs", _mh_oracle())
def dedup_minhash_portable_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracled MinHash near-dup pairs: (id1, id2, n_match, est_sim).
    8 md5-slice minima per doc, 4x2 banding, >= 6/8 coordinate
    agreement. Signatures are bit-identical across engines."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    from tfm_semisup_spark.operators.lineage import release, truncate

    toks = F.filter(F.split("text", " "), lambda t: t != "")
    grams = (
        docs.withColumn("w", toks)
        .select("doc_id", F.explode(word_ngrams(F.col("w"), 3)).alias("gram"))
    )
    # narrow-cache rule: the signature table feeds THREE consumers
    # (bands + both verify sides) — checkpoint it once, release after
    # the pair result materializes. The digest is PROJECTED once per
    # gram (r14, guide §2.3): the 8 per-slice min aggregates each
    # referenced md5(gram) inline, hashing every gram 8 times; slicing
    # one materialized dig column is value-identical.
    sig = truncate(
        grams.select("doc_id", F.md5("gram").alias("dig"))
        .groupBy("doc_id")
        .agg(
            *[
                F.min(
                    F.expr(md5_uniform16_spark_sql("dig", start=1 + 4 * j))
                ).alias(f"m{j}")
                for j in range(_MH_SLICES)
            ]
        )
    )
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        (
                            F.col(f"m{2 * b}").cast("long") * 65536
                            + F.col(f"m{2 * b + 1}")
                        ).alias("k"),
                    )
                    for b in range(_MH_SLICES // 2)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.k")
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.k") == F.col("b.k"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2"))
        .distinct()
    )
    sa = sig.select(
        F.col("doc_id").alias("id1"), *[F.col(f"m{j}").alias(f"a{j}") for j in range(_MH_SLICES)]
    )
    sb = sig.select(
        F.col("doc_id").alias("id2"), *[F.col(f"m{j}").alias(f"b{j}") for j in range(_MH_SLICES)]
    )
    n_match = sum(
        F.when(F.col(f"a{j}") == F.col(f"b{j}"), 1).otherwise(0)
        for j in range(_MH_SLICES)
    )
    out = truncate(
        cand.join(sa, "id1")
        .join(sb, "id2")
        .select(
            "id1",
            "id2",
            n_match.cast("bigint").alias("n_match"),
        )
        .where(F.col("n_match") >= _MH_MIN_MATCH)
        .select(
            "id1",
            "id2",
            "n_match",
            F.round(F.col("n_match") / 8.0, 4).alias("est_sim"),
        )
    )
    release(sig)
    return out


# PORTABLE SimHash: the simhash MATH oracled (sibling of the portable
# MinHash above; the xxhash64 tier in operators/dedup.py stays the
# throughput default). Per token the md5 digest's first 4 16-bit
# slices give 64 vote bits; fingerprint = 4x16-bit parts (never a
# signed-64 wraparound to disagree on); banded candidates on part
# equality (4 bands ⇒ pigeonhole-complete for hamming <= 3); verify =
# bit_count(xor) summed over parts — both engines implement both.
_SH_PARTS = 4
_SH_MAX_HAMMING = 3


def _sh_oracle() -> str:
    def slice_sql(s: int) -> str:
        return md5_uniform16_sql("md5(token)", start=1 + 4 * s)

    votes = ",\n         ".join(
        f"SUM(CASE WHEN (sl{s} & {1 << i}) > 0 THEN 1 ELSE -1 END) AS v{s}_{i}"
        for s in range(_SH_PARTS)
        for i in range(16)
    )
    fps = ",\n       ".join(
        "("
        + " + ".join(f"CASE WHEN v{s}_{i} > 0 THEN {1 << i} ELSE 0 END" for i in range(16))
        + f") AS fp{s}"
        for s in range(_SH_PARTS)
    )
    hamming = " + ".join(
        f"bit_count(xor(CAST(a.fp{s} AS BIGINT), CAST(b.fp{s} AS BIGINT)))"
        for s in range(_SH_PARTS)
    )
    bands = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {s} AS band, fp{s} AS k FROM fp" for s in range(_SH_PARTS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token
  FROM documents
),
sliced AS (
  SELECT doc_id,
         {', '.join(f'{slice_sql(s)} AS sl{s}' for s in range(_SH_PARTS))}
  FROM toks
),
votes AS (
  SELECT doc_id,
         {votes}
  FROM sliced GROUP BY doc_id
),
fp AS (
  SELECT doc_id,
       {fps}
  FROM votes
),
bands AS (
{bands}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.k = b.k AND a.doc_id < b.doc_id
)
SELECT id1, id2, CAST(hamming AS BIGINT) AS hamming
FROM (
  SELECT c.id1, c.id2, ({hamming}) AS hamming
  FROM cand c JOIN fp a ON a.doc_id = c.id1 JOIN fp b ON b.doc_id = c.id2
)
WHERE hamming <= {_SH_MAX_HAMMING}
"""


@register("dedup_simhash_portable_pairs", _sh_oracle())
def dedup_simhash_portable_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracled SimHash near-dup pairs: (id1, id2, hamming <= 3).
    md5-slice vote bits, 4x16-bit fingerprint parts, banded candidates
    + bit_count(xor) verify — bit-identical across engines."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    toks = docs.select(
        "doc_id",
        F.explode(F.filter(F.split("text", " "), lambda t: t != "")).alias(
            "token"
        ),
    )
    sliced = toks.select(
        "doc_id",
        *[
            F.expr(md5_uniform16_spark_sql("md5(token)", start=1 + 4 * s)).alias(
                f"sl{s}"
            )
            for s in range(_SH_PARTS)
        ],
    )
    from tfm_semisup_spark.operators.lineage import release, truncate

    votes = sliced.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.col(f"sl{s}").bitwiseAND(1 << i) > 0, 1).otherwise(-1)
            ).alias(f"v{s}_{i}")
            for s in range(_SH_PARTS)
            for i in range(16)
        ]
    )
    fp_cols = [
        sum(
            F.when(F.col(f"v{s}_{i}") > 0, 1 << i).otherwise(0)
            for i in range(16)
        ).alias(f"fp{s}")
        for s in range(_SH_PARTS)
    ]
    # narrow-cache rule: fp feeds bands + both verify sides
    fp = truncate(votes.select("doc_id", *fp_cols))
    bands = fp.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("band"), F.col(f"fp{s}").alias("k")
                    )
                    for s in range(_SH_PARTS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.k")
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.k") == F.col("b.k"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2"))
        .distinct()
    )
    fa = fp.select(
        F.col("doc_id").alias("id1"),
        *[F.col(f"fp{s}").alias(f"a{s}") for s in range(_SH_PARTS)],
    )
    fb = fp.select(
        F.col("doc_id").alias("id2"),
        *[F.col(f"fp{s}").alias(f"b{s}") for s in range(_SH_PARTS)],
    )
    hamming = sum(
        F.bit_count(
            F.col(f"a{s}").cast("long").bitwiseXOR(F.col(f"b{s}").cast("long"))
        )
        for s in range(_SH_PARTS)
    )
    out = truncate(
        cand.join(fa, "id1")
        .join(fb, "id2")
        .select("id1", "id2", hamming.cast("bigint").alias("hamming"))
        .where(F.col("hamming") <= _SH_MAX_HAMMING)
    )
    release(fp)
    return out


# STREAMING near-dup at ingest: the portable-MinHash math applied as a
# STATELESS stream projection + stream-static band join — "is this
# incoming doc a near-duplicate of the existing corpus?" answered
# before the doc ever lands. Composes two verified pieces:
#
# - the signature is computed IN-ROW (word_ngrams -> one md5 per gram
#   into a bound digests column -> 8 array_min slice folds): no
#   explode/groupBy on the stream, hence NO streaming aggregation, no
#   watermark, zero state-store bytes — the gate is a scan projection,
#   same discipline as the streaming quality gate;
# - values are IDENTICAL to the explode+groupBy MIN the oracle (and
#   dedup_minhash_portable_pairs) computes, so the whole pipeline is
#   hash-checkable cross-engine.
#
# The static side is a DENORMALIZED band index (band, k, corpus_id +
# the corpus doc's full 8-slice signature): one equi-join resolves
# candidates AND verification (>= 6/8 coordinate agreement) without a
# second join on the stream. Per-band duplicate emissions are expected
# in the artifact; the batch read DISTINCTs them, so the final pair
# set is deterministic. At 100 TB the index is a bucketed table joined
# per micro-batch; stream-side cost stays O(grams per doc).
def _mh_ingest_oracle() -> str:
    mins = ",\n         ".join(
        f"MIN({md5_uniform16_sql('md5(gram)', start=1 + 4 * j)}) AS m{j}"
        for j in range(_MH_SLICES)
    )
    def bands(src: str, pred: str) -> str:
        return "\n  UNION ALL\n".join(
            f"  SELECT doc_id, {b} AS band,"
            f" CAST(m{2 * b} AS BIGINT) * 65536 + m{2 * b + 1} AS k"
            f" FROM sig WHERE {pred}"
            for b in range(_MH_SLICES // 2)
        )
    matches = " + ".join(
        f"CASE WHEN sa.m{j} = sb.m{j} THEN 1 ELSE 0 END" for j in range(_MH_SLICES)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS w
  FROM documents
),
grams AS (
  SELECT doc_id, w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS gram
  FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
  WHERE len(w) >= 3
),
sig AS (
  SELECT doc_id,
         {mins}
  FROM grams GROUP BY doc_id
),
stream_bands AS (
{bands('sig', 'doc_id % 5 <> 0')}
),
corpus_bands AS (
{bands('sig', 'doc_id % 5 = 0')}
),
cand AS (
  SELECT DISTINCT s.doc_id AS doc_id, c.doc_id AS corpus_id
  FROM stream_bands s JOIN corpus_bands c
    ON s.band = c.band AND s.k = c.k
)
SELECT doc_id, corpus_id, CAST(n_match AS BIGINT) AS n_match,
       ROUND(n_match / 8.0, 4) AS est_sim
FROM (
  SELECT c.doc_id, c.corpus_id, ({matches}) AS n_match
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.doc_id
  JOIN sig sb ON sb.doc_id = c.corpus_id
)
WHERE n_match >= {_MH_MIN_MATCH}
"""


def _inrow_signatures(df: DataFrame) -> DataFrame:
    """(doc_id, m0..m7) via the stateless in-row form: one md5 per
    gram into a bound digests column, then 8 array_min slice folds —
    bit-identical to the explode+groupBy MIN (same integers, same
    grams), usable on an unbounded stream."""
    toks = F.filter(F.split("text", " "), lambda t: t != "")
    out = (
        df.withColumn("w", toks)
        .withColumn("grams", word_ngrams(F.col("w"), 3))
        .where(F.size("grams") > 0)
        .withColumn("digs", F.transform(F.col("grams"), lambda g: F.md5(g)))
    )
    # closure factory, NOT `lambda d, j=j`: a two-parameter HOF lambda
    # makes PySpark pass the ARRAY INDEX as the second argument,
    # silently shadowing the captured slice offset (the exact trap
    # documented in .claude/skills/verify — every slice came out
    # identical)
    def slice_at(j: int):
        return lambda d: F.conv(F.substring(d, 1 + 4 * j, 4), 16, 10).cast("int")

    mins = [
        F.array_min(F.transform(F.col("digs"), slice_at(j))).alias(f"m{j}")
        for j in range(_MH_SLICES)
    ]
    return out.select("doc_id", *mins)


def _band_rows(sig: DataFrame, id_alias: str) -> DataFrame:
    """Explode a signature table to 4 denormalized band rows carrying
    the full signature."""
    return sig.select(
        F.col("doc_id").alias(id_alias),
        *[F.col(f"m{j}") for j in range(_MH_SLICES)],
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        (
                            F.col(f"m{2 * b}").cast("long") * 65536
                            + F.col(f"m{2 * b + 1}")
                        ).alias("k"),
                    )
                    for b in range(_MH_SLICES // 2)
                ]
            )
        ).alias("bk"),
    ).select(
        id_alias,
        *[F.col(f"m{j}") for j in range(_MH_SLICES)],
        F.col("bk.band").alias("band"),
        F.col("bk.k").alias("k"),
    )


@register("streaming_neardup_minhash_ingest", _mh_ingest_oracle())
def streaming_neardup_minhash_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Near-dup detection AT ingest via a REAL micro-batch run:
    readStream over the incoming slice (doc_id %% 5 != 0) -> stateless
    in-row MinHash signature -> band explode -> stream-static join
    against the corpus band index (doc_id %% 5 == 0) with inline >=6/8
    verification -> append foreachBatch artifact -> batch read +
    DISTINCT. Output (doc_id, corpus_id, n_match, est_sim)."""
    import tempfile

    from tfm_semisup_spark.streaming.events import materialize_stream_to_parquet

    base = tempfile.mkdtemp(prefix="tfm_stream_neardup_")
    docs_path = f"{sf_dir}/documents.parquet"
    schema = spark.read.parquet(docs_path).schema

    corpus = spark.read.parquet(docs_path).where(F.col("doc_id") % 5 == 0)
    index = _band_rows(_inrow_signatures(corpus), "corpus_id")
    index = index.select(
        "corpus_id", "band", "k",
        *[F.col(f"m{j}").alias(f"b{j}") for j in range(_MH_SLICES)],
    )

    stream = (
        spark.readStream.schema(schema)
        .parquet(f"{sf_dir}/documents.parque*")
        .where((F.col("doc_id") % 5 != 0) & F.col("text").isNotNull())
    )
    sbands = _band_rows(_inrow_signatures(stream), "doc_id")
    n_match = sum(
        F.when(F.col(f"m{j}") == F.col(f"b{j}"), 1).otherwise(0)
        for j in range(_MH_SLICES)
    )
    hits = (
        sbands.join(F.broadcast(index), ["band", "k"])
        .withColumn("n_match", n_match)
        .where(F.col("n_match") >= _MH_MIN_MATCH)
        .select("doc_id", "corpus_id", "n_match")
    )
    materialize_stream_to_parquet(hits, f"{base}/out", f"{base}/ckpt")
    return (
        spark.read.parquet(f"{base}/out")
        .select("doc_id", "corpus_id", "n_match")
        .distinct()
        .select(
            "doc_id",
            "corpus_id",
            F.col("n_match").cast("bigint").alias("n_match"),
            F.round(F.col("n_match") / 8.0, 4).alias("est_sim"),
        )
    )


# ---------------------------------------------------------------------------
# Rarity-weighted (reciprocal-DF) Jaccard near-dup tier
# ---------------------------------------------------------------------------
#
# The IDF-family weighting of the shingle Jaccard: shared RARE shingles
# count for more than shared boilerplate. sim_w(A,B) =
# Σ_{s∈A∩B} w(s) / Σ_{s∈A∪B} w(s) with w(s) = (N·1024) div (df(s)+1)
# — reciprocal document frequency on a 1024× integer grid. The weight
# is EXACT integer arithmetic by design (a log-IDF weight would put a
# libm ln() under a floor(): a 1e-15 ULP wiggle at a grid boundary
# flips the quantized weight cross-engine; reciprocal-DF keeps the
# whole statistic — weights, intersection/union masses, and the 0.5
# threshold test 2·inter ≥ union — in exact integers end to end).
# Same DF-capped candidate machinery as the unweighted tier, so
# candidate volume stays linear in the corpus.

WEIGHTED_JACCARD_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS w
  FROM documents
),
tri AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS shingle
  FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
  WHERE len(w) >= 3
),
kept AS (
  SELECT doc_id, shingle FROM tri
  QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= {DF_CAP}
),
n AS (SELECT COUNT(DISTINCT doc_id)::BIGINT AS n_docs FROM tri),
wt AS (
  SELECT k.shingle,
         (t.n_docs * 1024) // (COUNT(*) + 1) AS w
  FROM kept k CROSS JOIN n t
  GROUP BY k.shingle, t.n_docs
),
wk AS (SELECT k.doc_id, k.shingle, w.w FROM kept k JOIN wt w USING (shingle)),
totals AS (SELECT doc_id, SUM(w)::BIGINT AS tw FROM wk GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, SUM(a.w)::BIGINT AS inter_w
  FROM wk a JOIN wk b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT p.doc_a, p.doc_b, p.inter_w,
       CAST(ta.tw + tb.tw - p.inter_w AS BIGINT) AS union_w,
       ROUND(CAST(p.inter_w AS DOUBLE)
             / (ta.tw + tb.tw - p.inter_w), 4) AS wjaccard
FROM pairs p
JOIN totals ta ON p.doc_a = ta.doc_id
JOIN totals tb ON p.doc_b = tb.doc_id
WHERE 2 * p.inter_w >= ta.tw + tb.tw - p.inter_w
"""


@register("dedup_weighted_jaccard_pairs", WEIGHTED_JACCARD_ORACLE)
def dedup_weighted_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rarity-weighted shingle Jaccard near-dup pairs at the 0.5
    threshold: (doc_a, doc_b, inter_w, union_w, wjaccard) — exact
    integer weights (N·1024) div (df+1), DF-capped candidates."""
    from tfm_semisup_spark.operators.lineage import truncate

    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    shingled = hashed_shingles(docs).persist()
    tri = shingled.select("doc_id", F.explode("hs").alias("shingle"))
    n = F.broadcast(
        tri.agg(F.countDistinct("doc_id").alias("n_docs"))
    )
    kept = df_capped_index(tri).persist()
    wt = (
        kept.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(n)
        .select(
            "shingle", F.expr("(n_docs * 1024) div (df + 1)").alias("w")
        )
    )
    wk = kept.join(wt, "shingle").persist()
    totals = wk.groupBy("doc_id").agg(F.sum("w").cast("bigint").alias("tw"))
    a = wk.alias("a")
    b = wk.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.sum("a.w").cast("bigint").alias("inter_w"))
    )
    ta = totals.select(F.col("doc_id").alias("doc_a"), F.col("tw").alias("twa"))
    tb = totals.select(F.col("doc_id").alias("doc_b"), F.col("tw").alias("twb"))
    union_w = F.col("twa") + F.col("twb") - F.col("inter_w")
    out = truncate(
        pairs.join(ta, "doc_a")
        .join(tb, "doc_b")
        .where(2 * F.col("inter_w") >= union_w)
        .select(
            "doc_a",
            "doc_b",
            "inter_w",
            union_w.cast("bigint").alias("union_w"),
            F.round(
                F.col("inter_w").cast("double") / union_w, 4
            ).alias("wjaccard"),
        )
    )
    wk.unpersist()
    kept.unpersist()
    shingled.unpersist()
    return out


# ---------------------------------------------------------------------------
# MinHash estimate-vs-exact calibration audit (r10)
# ---------------------------------------------------------------------------
#
# How good is the 8-slice estimate the portable tier promotes on? For
# every banded candidate pair this audit computes BOTH the signature
# estimate (n_match/8) and the exact 3-gram Jaccard, and reports
# per-agreement-level calibration:
#   (n_match, n_pairs, avg_est_sim, avg_exact_jaccard, mean_abs_err)
# — the sketch-quality counterpart of the banded-vs-exact equality
# tests, but as a first-class auditable query (the operational answer
# to "can I trust a 6/8 promotion at this shingle size").
#
# Order-free arithmetic: per-pair exact Jaccard is quantized to
# integer micro-units (inter·10^6 // union, pmod-subtract vs HUGEINT
# //) and the estimate to n_match·125000, so all cross-pair averages
# sum exact integers; the two 6-dp divisions happen once per output
# row. Scale shape: candidates come from the SAME band join as the
# portable tier (never all-pairs); the exact-intersection join moves
# only candidate-pair grams.

_MH_EST_SCALE = 1_000_000


def _mh_calibration_oracle() -> str:
    mins = ",\n         ".join(
        f"MIN({md5_uniform16_sql('md5(gram)', start=1 + 4 * j)}) AS m{j}"
        for j in range(_MH_SLICES)
    )
    bands = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band,"
        f" CAST(m{2 * b} AS BIGINT) * 65536 + m{2 * b + 1} AS k FROM sig"
        for b in range(_MH_SLICES // 2)
    )
    matches = " + ".join(
        f"CASE WHEN sa.m{j} = sb.m{j} THEN 1 ELSE 0 END"
        for j in range(_MH_SLICES)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS w
  FROM documents
),
grams AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS gram
  FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
  WHERE len(w) >= 3
),
sig AS (
  SELECT doc_id,
         {mins}
  FROM grams GROUP BY doc_id
),
bands AS (
{bands}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.k = b.k AND a.doc_id < b.doc_id
),
scored AS (
  SELECT c.id1, c.id2, ({matches}) AS n_match
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.id1
  JOIN sig sb ON sb.doc_id = c.id2
),
gsz AS (SELECT doc_id, COUNT(*)::HUGEINT AS g FROM grams GROUP BY doc_id),
inter AS (
  SELECT s.id1, s.id2, COUNT(*)::HUGEINT AS ni
  FROM scored s
  JOIN grams g1 ON g1.doc_id = s.id1
  JOIN grams g2 ON g2.doc_id = s.id2 AND g1.gram = g2.gram
  GROUP BY s.id1, s.id2
),
pairq AS (
  SELECT s.n_match,
         (s.n_match * {_MH_EST_SCALE // 8}) AS est_q,
         (COALESCE(i.ni, 0) * {_MH_EST_SCALE})
           // (ga.g + gb.g - COALESCE(i.ni, 0)) AS ji_q
  FROM scored s
  LEFT JOIN inter i ON s.id1 = i.id1 AND s.id2 = i.id2
  JOIN gsz ga ON ga.doc_id = s.id1
  JOIN gsz gb ON gb.doc_id = s.id2
)
SELECT CAST(n_match AS BIGINT) AS n_match,
       COUNT(*)::BIGINT AS n_pairs,
       ROUND(CAST(SUM(est_q) AS DOUBLE)
             / (COUNT(*) * {_MH_EST_SCALE}.0), 6) AS avg_est_sim,
       ROUND(CAST(SUM(ji_q) AS DOUBLE)
             / (COUNT(*) * {_MH_EST_SCALE}.0), 6) AS avg_exact_jaccard,
       ROUND(CAST(SUM(ABS(est_q - ji_q)) AS DOUBLE)
             / (COUNT(*) * {_MH_EST_SCALE}.0), 6) AS mean_abs_err
FROM pairq
GROUP BY n_match
"""


@register("minhash_calibration_audit", _mh_calibration_oracle())
def minhash_calibration_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-agreement-level calibration of the portable MinHash tier
    against exact 3-gram Jaccard on its own banded candidates:
    (n_match, n_pairs, avg_est_sim, avg_exact_jaccard, mean_abs_err)."""
    from tfm_semisup_spark.operators.lineage import release, truncate

    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    toks = F.filter(F.split("text", " "), lambda t: t != "")
    grams = truncate(
        docs.withColumn("w", toks)
        .select("doc_id", F.explode(word_ngrams(F.col("w"), 3)).alias("gram"))
        .distinct()
    )
    # single-digest projection (r14, guide §2.3): md5(gram) hashed
    # once per gram row, not once per slice aggregate
    sig = truncate(
        grams.select("doc_id", F.md5("gram").alias("dig"))
        .groupBy("doc_id")
        .agg(
            *[
                F.min(
                    F.expr(md5_uniform16_spark_sql("dig", start=1 + 4 * j))
                ).alias(f"m{j}")
                for j in range(_MH_SLICES)
            ]
        )
    )
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        (
                            F.col(f"m{2 * b}").cast("long") * 65536
                            + F.col(f"m{2 * b + 1}")
                        ).alias("k"),
                    )
                    for b in range(_MH_SLICES // 2)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.k")
    b2 = bands.select(
        F.col("doc_id").alias("id2"), F.col("band").alias("b2"), F.col("k").alias("k2")
    )
    cand = (
        bands.select(F.col("doc_id").alias("id1"), "band", "k")
        .join(
            b2,
            (F.col("band") == F.col("b2"))
            & (F.col("k") == F.col("k2"))
            & (F.col("id1") < F.col("id2")),
        )
        .select("id1", "id2")
        .distinct()
    )
    sa = sig.select(
        F.col("doc_id").alias("id1"), *[F.col(f"m{j}").alias(f"a{j}") for j in range(_MH_SLICES)]
    )
    sb = sig.select(
        F.col("doc_id").alias("id2"), *[F.col(f"m{j}").alias(f"b{j}") for j in range(_MH_SLICES)]
    )
    n_match = sum(
        F.when(F.col(f"a{j}") == F.col(f"b{j}"), 1).otherwise(0)
        for j in range(_MH_SLICES)
    )
    scored = truncate(
        cand.join(sa, "id1").join(sb, "id2").select(
            "id1", "id2", n_match.alias("n_match")
        )
    )
    gsz = grams.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("g")
    )
    g1 = grams.select(F.col("doc_id").alias("id1"), "gram")
    g2 = grams.select(
        F.col("doc_id").alias("id2g"), F.col("gram").alias("gram2")
    )
    inter = (
        scored.select("id1", "id2")
        .join(g1, "id1")
        .join(
            g2,
            (F.col("id2") == F.col("id2g")) & (F.col("gram") == F.col("gram2")),
        )
        .groupBy("id1", "id2")
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("ni"))
    )
    ga = gsz.select(F.col("doc_id").alias("id1"), F.col("g").alias("ga"))
    gb = gsz.select(F.col("doc_id").alias("id2"), F.col("g").alias("gb"))
    ni = F.coalesce(F.col("ni"), F.lit(0).cast("decimal(38,0)"))
    uni = (F.col("ga") + F.col("gb") - ni).cast("decimal(38,0)")
    num = (ni * _MH_EST_SCALE).cast("decimal(38,0)")
    ji_q = ((num - F.pmod(num, uni)) / uni).cast("decimal(38,0)")
    est_q = (F.col("n_match") * (_MH_EST_SCALE // 8)).cast("decimal(38,0)")
    pairq = (
        scored.join(inter, ["id1", "id2"], "left")
        .join(ga, "id1")
        .join(gb, "id2")
        .select("n_match", est_q.alias("est_q"), ji_q.alias("ji_q"))
    )
    out = truncate(
        pairq.groupBy("n_match").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.round(
                F.sum("est_q").cast("double")
                / (F.count(F.lit(1)) * float(_MH_EST_SCALE)),
                6,
            ).alias("avg_est_sim"),
            F.round(
                F.sum("ji_q").cast("double")
                / (F.count(F.lit(1)) * float(_MH_EST_SCALE)),
                6,
            ).alias("avg_exact_jaccard"),
            F.round(
                F.sum(F.abs(F.col("est_q") - F.col("ji_q"))).cast("double")
                / (F.count(F.lit(1)) * float(_MH_EST_SCALE)),
                6,
            ).alias("mean_abs_err"),
        ).select(
            F.col("n_match").cast("bigint").alias("n_match"),
            "n_pairs",
            "avg_est_sim",
            "avg_exact_jaccard",
            "mean_abs_err",
        )
    )
    release(grams)
    release(sig)
    release(scored)
    return out


# ---------------------------------------------------------------------------
# LSH band-collision expectation audit (r11, VERDICT r10 #8)
# ---------------------------------------------------------------------------
#
# The banded MinHash tiers promote on band-key collisions; the audit
# question is how the bucket structure actually behaves: how many
# buckets per band, how large the worst bucket is (the join-key skew
# bound), how many docs collide at all, and how many candidate pairs
# the band contributes — against the uniform-hash baseline
# C(n,2)/2^32 (each band key is two 16-bit md5 slices = 32 bits, so a
# uniform corpus would collide ~never; every observed pair above that
# is signal, not hash accident). Same portable signature construction
# as ``minhash_calibration_audit`` (md5 4-hex slices over distinct
# 3-gram shingles), all-integer aggregates, 4 output rows.

def _lsh_band_audit_oracle() -> str:
    mins = ",\n         ".join(
        f"MIN({md5_uniform16_sql('md5(gram)', start=1 + 4 * j)}) AS m{j}"
        for j in range(_MH_SLICES)
    )
    bands = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band,"
        f" CAST(m{2 * b} AS BIGINT) * 65536 + m{2 * b + 1} AS k FROM sig"
        for b in range(_MH_SLICES // 2)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS w
  FROM documents
),
grams AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS gram
  FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
  WHERE len(w) >= 3
),
sig AS (
  SELECT doc_id,
         {mins}
  FROM grams GROUP BY doc_id
),
bands AS (
{bands}
),
buckets AS (
  SELECT band, k, COUNT(*)::BIGINT AS c FROM bands GROUP BY band, k
)
SELECT CAST(band AS BIGINT) AS band,
       SUM(c)::BIGINT AS n_docs,
       COUNT(*)::BIGINT AS n_buckets,
       MAX(c)::BIGINT AS max_bucket,
       SUM(CASE WHEN c >= 2 THEN c ELSE 0 END)::BIGINT AS n_collided_docs,
       SUM((c * (c - 1)) // 2)::BIGINT AS n_candidate_pairs,
       ROUND(CAST((SUM(c) * (SUM(c) - 1)) // 2 AS DOUBLE)
             / 4294967296.0, 6) AS expected_uniform_pairs
FROM buckets
GROUP BY band
"""


@register("lsh_band_collision_audit", _lsh_band_audit_oracle())
def lsh_band_collision_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-band bucket statistics of the portable MinHash banding:
    (band, n_docs, n_buckets, max_bucket, n_collided_docs,
    n_candidate_pairs, expected_uniform_pairs)."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    toks = F.filter(F.split("text", " "), lambda t: t != "")
    grams = (
        docs.withColumn("w", toks)
        .select("doc_id", F.explode(word_ngrams(F.col("w"), 3)).alias("gram"))
        .distinct()
    )
    sig = grams.groupBy("doc_id").agg(
        *[
            F.min(
                F.expr(md5_uniform16_spark_sql("md5(gram)", start=1 + 4 * j))
            ).alias(f"m{j}")
            for j in range(_MH_SLICES)
        ]
    )
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        (
                            F.col(f"m{2 * b}").cast("long") * 65536
                            + F.col(f"m{2 * b + 1}")
                        ).alias("k"),
                    )
                    for b in range(_MH_SLICES // 2)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.k")
    buckets = bands.groupBy("band", "k").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    n_docs = F.sum("c").cast("bigint")
    return buckets.groupBy(F.col("band").cast("bigint").alias("band")).agg(
        n_docs.alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.max("c").cast("bigint").alias("max_bucket"),
        F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("n_collided_docs"),
        F.sum(F.expr("(c * (c - 1)) DIV 2"))
        .cast("bigint")
        .alias("n_candidate_pairs"),
        F.round(
            F.expr(
                "CAST((sum(c) * (sum(c) - 1)) DIV 2 AS DOUBLE)"
                " / 4294967296.0D"
            ),
            6,
        ).alias("expected_uniform_pairs"),
    )
