"""Parquet loaders for the driver's star schema + extension tables.

The reference reads CSV with inferSchema
(``SemiSupervisedAndBaseClassifiers.scala:53-57``) or raw text + manual
parsing; the driver harness materializes deterministic parquet
(TESTDATA.md), so the loaders here are plain ``spark.read.parquet``
(schema embedded, predicate/column pushdown for free).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        return _load_events(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.ts has shipped as either parquet TIMESTAMP(NANOS) (which
    Spark's vectorized reader rejects — read as long via the legacy
    conf, then truncate ns->us, matching DuckDB's truncation) or plain
    TIMESTAMP(MICROS) (reads natively). Detect which from the loaded
    dtype so the loader survives testdata regeneration either way."""
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = dict(df.dtypes)["ts"]
    if ts_type == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # normalize to TIMESTAMP (LTZ): same instant under the UTC
        # session tz, keeps watermarks legal and matches what
        # timestamp_micros produced for the nanos encoding
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _parquet_files(path: str):
    """(pyarrow filesystem, parquet files) of a file- or directory-
    shaped table. URIs (``file://``, ``hdfs://``, ``s3://``) resolve
    through ``pyarrow.fs.FileSystem.from_uri``; a scheme-less relative
    path is local. Raises ``OSError`` or ``pyarrow.ArrowException``
    where pyarrow cannot reach the table."""
    from pyarrow import ArrowInvalid
    from pyarrow import fs as pafs

    try:
        filesystem, path = pafs.FileSystem.from_uri(path)
    except ArrowInvalid:
        filesystem, path = pafs.LocalFileSystem(), os.path.abspath(path)
    if filesystem.get_file_info(path).type != pafs.FileType.Directory:
        return filesystem, [path]
    infos = filesystem.get_file_info(pafs.FileSelector(path, recursive=True))
    return filesystem, sorted(
        i.path for i in infos if i.is_file and i.path.endswith(".parquet")
    )


_ARRAY_DIM_CACHE: dict[tuple[str, str], int] = {}


def embedding_dim(
    sf_dir: str, table: str = "embeddings", array_col: str = "embedding"
) -> int:
    """Dimension of an array column, resolved DRIVER-SIDE with pyarrow —
    zero Spark jobs, memoized per (path, column).

    Spark's ``ArrayType`` carries no length, so ``df.schema`` alone
    cannot answer this; the r3 per-call ``F.size(col).head()`` probe
    launched a full Spark job (plus a fresh codegen compile) on every
    query invocation — the root cause of the ``similarity_cosine_topk``
    3.4x bench regression (VERDICT r3). Here: if the parquet schema is
    a fixed_size_list the footer alone answers; otherwise one Arrow
    batch of one row is read — microseconds, no JVM involvement. Local
    paths and URIs alike (``_parquet_files``).
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    key = (f"{sf_dir}/{table}.parquet", array_col)
    if key in _ARRAY_DIM_CACHE:
        return _ARRAY_DIM_CACHE[key]
    filesystem, files = _parquet_files(key[0])
    path = files[0]
    field = pq.read_schema(path, filesystem=filesystem).field(array_col)
    if isinstance(field.type, pa.FixedSizeListType):
        dim = field.type.list_size
    else:
        batch = next(
            pq.ParquetFile(path, filesystem=filesystem).iter_batches(
                batch_size=1, columns=[array_col]
            )
        )
        first = batch.column(0)[0].as_py()
        if first is None:
            raise ValueError(f"{path}:{array_col} first row is NULL; cannot infer dim")
        dim = len(first)
    _ARRAY_DIM_CACHE[key] = dim
    return dim


def table_row_count(sf_dir: str, table: str) -> int:
    """Exact row count of a table, resolved DRIVER-SIDE from the
    parquet footer metadata — zero Spark jobs (r15, guide §1.2: the
    corpus-size probes ahead of index/cluster sizing were each a full
    scan job; the footer answers exactly). Sums ``num_rows`` across
    files for directory-shaped tables. Local paths and URIs alike
    (``_parquet_files``); raises where pyarrow cannot open the table,
    so a caller with a Spark probe can fall back to it."""
    import pyarrow.parquet as pq

    filesystem, files = _parquet_files(f"{sf_dir}/{table}.parquet")
    return sum(pq.read_metadata(f, filesystem=filesystem).num_rows for f in files)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register each table as a temp view so queries can run via spark.sql."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
