"""Small-files compaction — the maintenance operator every long-running
partitioned ingest needs (each micro-batch/quarterly append writes small
files; scans degrade as file counts grow).

The reference never needs this (Postgres heap), but a 100 TB parquet lake
does: compaction rewrites a partition to ~target-sized files, preserving
the partitioning columns and layout.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def compact_parquet(
    spark: SparkSession,
    path: str,
    partition_cols: list[str],
    target_file_bytes: int = 128 * 1024 * 1024,
    target_rows_per_file: int | None = None,
) -> dict[str, int]:
    """Rewrite a partitioned parquet dataset with consolidated files.

    Scope split with ``operators/layout.py:compact_small_files``: this
    form preserves a PARTITIONED layout (partition dirs survive, sized
    per-partition via repartition on the partition columns); the layout
    module's form is the filesystem-agnostic flat-directory rewrite
    (Hadoop FS listing) the corpus pipeline uses.

    Sizes output by rows (estimated from the dataset's bytes/row when
    target_rows_per_file is not given). Writes to <path>__compact then
    atomically swaps directories — readers never see a half-written layout.
    Returns {files_before, files_after}.
    """
    import glob
    import os
    import shutil

    def count_files(p: str) -> int:
        return sum(1 for f in glob.glob(f"{p}/**/*.parquet", recursive=True))

    df = spark.read.parquet(path)
    if target_rows_per_file is None:
        n_rows = df.count()
        total_bytes = sum(
            os.path.getsize(f) for f in glob.glob(f"{path}/**/*.parquet", recursive=True)
        )
        bytes_per_row = max(total_bytes / max(n_rows, 1), 1.0)
        target_rows_per_file = max(int(target_file_bytes / bytes_per_row), 1)

    before = count_files(path)
    tmp = f"{path}__compact"
    writer = df.repartition(*partition_cols) if partition_cols else df.coalesce(1)
    (
        writer.write.mode("overwrite")
        .option("maxRecordsPerFile", target_rows_per_file)
        .partitionBy(*partition_cols)
        .parquet(tmp)
    )
    old = f"{path}__old"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return {"files_before": before, "files_after": count_files(path)}
