"""Small filesystem helpers shared across batch and streaming modules."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def try_read_parquet(spark: SparkSession, path: str, schema=None) -> DataFrame | None:
    """Probe a parquet dataset by reading it — os.path/os.walk only see the
    driver's local disk and silently no-op on any remote filesystem.
    Returns None when the path is absent or, with no ``schema``, holds no
    readable data. A known ``schema`` (DDL string or StructType) spares
    the footer-reading job that schema inference launches."""
    from pyspark.errors import AnalysisException

    reader = spark.read if schema is None else spark.read.schema(schema)
    try:
        return reader.parquet(path)
    except AnalysisException:
        return None  # absent (or empty: no schema to infer)


def read_string_partitioned(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet dataset whose partition columns hold STRING values
    (e.g. a sink's run token, and the FTS index's ``token_bucket``, which
    searches compare to string bucket values) with partition-column type
    inference disabled for the read. Inference is a trap for string-valued
    partitions: an all-digit value set is inferred numeric, so '0' and
    '00' collapse to one value and pruning predicates ride on implicit
    casts. Partition discovery happens eagerly when the relation
    resolves, so toggling the conf around the read() call is sufficient
    and thread-local enough for our single-driver usage."""
    conf = "spark.sql.sources.partitionColumnTypeInference.enabled"
    prev = spark.conf.get(conf, "true")
    spark.conf.set(conf, "false")
    try:
        return spark.read.parquet(path)
    finally:
        spark.conf.set(conf, prev)


def hadoop_delete(spark: SparkSession, path: str) -> None:
    """Recursively delete ``path`` on whatever filesystem it lives on
    (no-op if absent) — driver-local shutil would miss remote schemes."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.delete(p, True)
