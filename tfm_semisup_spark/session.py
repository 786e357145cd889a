"""SparkSession factory with scale-oriented defaults.

The reference (Dguipla/TFM-SemiSup) ran on Databricks Spark 3.0.1 with
cluster defaults and no tuning (SURVEY.md §4). Here we bake in the
settings that matter when the same logical plans run against ~100 TB on
a 1000-executor cluster, while remaining correct on local[N]:

- AQE on (runtime coalescing, skew-join splitting, dynamic join
  strategy switch) — replaces hand-tuned shuffle partition counts.
- Arrow on for the few pandas boundaries (never in hot paths).
- Parquet filter/column pushdown left at defaults (on) — all queries
  are expressed declaratively so Catalyst can push them.
- The generated-class cache (``spark.sql.codegen.cache.maxEntries``)
  sized to the package's working set, so each whole-stage class is
  compiled once per application and reused by every later shard, CV
  fold and bench sample. The conf is static: it is read when the JVM
  first generates code, so a session built outside this factory (the
  vanilla session of ``scripts/driver_sim.py``) must pass it at launch
  to get the same reuse; setting it at runtime is an error. Whole-stage
  class names leave out the codegen stage id
  (``spark.sql.codegen.useIdInClassName``, a runtime conf): the cache is
  keyed by source text, and AQE numbers a query's stages in the order
  its shuffle stages finish, so with the id in the name a repeated plan
  can miss the cache on a renumbered stage.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
# One corpus-dedup shard (pipeline, cascade report, semantic dedup)
# generates 179 distinct classes against Spark's default of 100
# entries: with the default every steady-state shard compiled 175 of
# them again (CodegenMetrics compile count, 4 cores), and each
# recompiled class is loaded, interpreted and JIT-compiled again.
# Without the stage id in class names the shard needs 171, and a
# repeated shard compiles none.
CODEGEN_CACHE_MAX_ENTRIES = 1000


def get_spark(
    app_name: str = "tfm-semisup-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    On a real cluster, pass ``master=None`` and let spark-submit decide;
    locally defaults to ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    shuffle = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # local[32] puts all executor work on the driver heap: 8g gave
        # multi-second bimodal GC spikes at sf0.1 (measured: same query
        # 5.6s warm / 16.5s under heap pressure); 24g removes them and
        # is still <20% of the box. On a real cluster executor memory
        # is set by spark-submit and this only sizes the driver.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES))
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def codegen_compiles(spark: SparkSession) -> int:
    """Classes the JVM's code generator has compiled so far: the
    process-wide count of ``CodegenMetrics.METRIC_COMPILATION_TIME``,
    which grows by one per generated-class cache miss. Read it before
    and after a unit of work; the delta is what that unit compiled."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
