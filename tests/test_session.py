"""The session factory's generated-class cache.

Spark keeps compiled whole-stage (and projection/ordering) classes in a
cache keyed by their source text, sized by the static conf
``spark.sql.codegen.cache.maxEntries``. When the corpus chain's
working set does not fit, every repeat of the chain compiles its
classes again; when a class name carries its codegen stage id, a stage
AQE numbers differently on a repeat misses too. These tests pin the
factory's size and that a repeated corpus unit compiles nothing.
"""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from tfm_semisup_spark import io as graft_io
from tfm_semisup_spark import sources
from tfm_semisup_spark.operators import lineage
from tfm_semisup_spark.operators import semantic_dedup as semdedup
from tfm_semisup_spark.pipeline import CorpusPipeline
from tfm_semisup_spark.queries import dedup_cascade
from tfm_semisup_spark.session import CODEGEN_CACHE_MAX_ENTRIES, codegen_compiles

SF = "/root/testdata/sf0.001"


def test_factory_session_sizes_the_codegen_cache(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_MAX_ENTRIES
    )


def _corpus_unit(spark, out_dir: str) -> None:
    """One corpus-dedup shard as the benchmark runs it: the pipeline
    chain and its partitioned write, the cascade report, semantic
    dedup, each consumed."""
    docs = graft_io.load_table(spark, SF, "documents")
    clean = (
        CorpusPipeline.from_documents(docs)
        .dedup_exact()
        .filter_quality_gopher()
        .near_dedup_minhash()
        .with_fingerprints()
        .df()
    )
    sources.write_partitioned_parquet(clean, out_dir, ["lang"])
    dedup_cascade.dedup_cascade_report(spark, SF).collect()
    sem = semdedup.semantic_dedup(
        graft_io.load_table(spark, SF, "embeddings"),
        dim=graft_io.embedding_dim(SF),
        approx_n=graft_io.table_row_count(SF, "embeddings"),
    )
    try:
        sem.where(~F.col("keep")).select("id").collect()
    finally:
        lineage.release(sem)


def test_repeated_corpus_unit_compiles_nothing(spark, tmp_path):
    """The first run fills the cache; the second, with the same plans,
    must find every class there. Under Spark's default of 100 entries
    the unit's working set evicts itself and the second run compiles
    most of it again (176 of 183 at sf0.001, 4 cores)."""
    before = codegen_compiles(spark)
    _corpus_unit(spark, str(tmp_path / "first"))
    first = codegen_compiles(spark) - before
    before = codegen_compiles(spark)
    _corpus_unit(spark, str(tmp_path / "second"))
    second = codegen_compiles(spark) - before
    # the counter is live: a literal no plan has carried before
    # generates new source, so one more query must compile
    before = codegen_compiles(spark)
    spark.range(1).selectExpr(f"id + {time.time_ns()} AS x").collect()
    assert codegen_compiles(spark) > before, "compile counter did not move"
    assert second == 0, f"second run recompiled {second} of {first} classes"
