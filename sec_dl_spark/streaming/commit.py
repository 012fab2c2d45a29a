"""The one commit scheme shared by every foreachBatch sink.

Every sink names its output by a run token derived from its checkpoint
path (``run_token``) plus the micro-batch id, and starts through the one
starter (``foreach_batch_sink``: foreachBatch + checkpoint +
availableNow). A batch that Spark re-runs after a crash — its output
written, its checkpoint commit lost — carries the same token and the same
batch id, so it overwrites its own output instead of publishing a second
copy beside it.

Partial-per-batch sinks (the HLL distinct-count sink, streaming/rollup.py)
reduce each batch to a small mergeable partial: ``partial_sink`` writes it
to ``path/run=<token>/batch=<id>`` and ``read_partials`` hands every
partial to the sink's own merge step. A fresh checkpoint starts at batch
0, and batch 0 guards the path (``claim_run``): it refuses a path that
holds another run's partials, since merging two runs of one source
double-counts any additive partial, and it clears its own run's older
partials, since a wiped checkpoint can replay with different batch
boundaries and leave stale higher-numbered partials behind.

The dedup registries and the FTS index do NOT take the batch-0 guard:
they are cross-run state by design — several logical ingest runs share
one corpus, and each run's output must survive the next run. They commit
by dynamic partition overwrite of ``ingest_run=<token>/ingest_batch=<id>``
(``commit_batch_partition``) and enforce the replay contract per batch
instead, with the same content fingerprint (``fingerprint_metrics``): a
replayed batch under the same token fails fast if its source changed. The
dedup sink persists the fingerprint in a marker table beside the sink
(``check_source_marker``); the FTS index keeps it in each commit's record
(operators/fts.py), which is also what makes the commit visible. Starting
a genuinely new ingest into them requires a new checkpoint path, hence a
new token: reusing the old token would leave the old run's batches that
the new source no longer produces beside the new output.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sec_dl_spark.util import read_string_partitioned, try_read_parquet


def run_token(checkpoint_dir: str) -> str:
    """Stable identifier for a logical ingest run: survives query restarts
    (same checkpoint → same token) yet never collides across runs, unlike
    foreachBatch's batch_id which restarts at 0 per checkpoint. The 'r'
    prefix keeps the value non-numeric so readers that infer partition
    column types never parse an all-digit token as a number (which would
    collapse distinct tokens differing only in leading zeros)."""
    return "r" + hashlib.md5(checkpoint_dir.encode()).hexdigest()[:12]


def foreach_batch_sink(stream: DataFrame, batch_fn, checkpoint_dir: str):
    """Start ``batch_fn`` over ``stream`` as a checkpointed availableNow
    foreachBatch query (also the JDBC-upsert carrier, sinks/jdbc.py).
    Returns the started StreamingQuery."""
    return (
        stream.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def claim_run(spark: SparkSession, path: str, run: str) -> None:
    """Batch-0 guard of a ``run=<token>`` partitioned path: raise if it
    holds another run's partitions, else delete this run's older ones."""
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(root):
        return
    for status in fs.listStatus(root):
        name = status.getPath().getName()
        if not name.startswith("run="):
            continue
        if name != f"run={run}":
            raise ValueError(
                f"{path} holds another run's output ({name}); resume that "
                "run's checkpoint or point this one at a fresh path"
            )
        fs.delete(status.getPath(), True)


def partial_sink(stream: DataFrame, path: str, checkpoint_dir: str, partial_fn):
    """Publish ``partial_fn(batch)`` per micro-batch as
    ``path/run=<token>/batch=<id>``, with the batch-0 guard. Returns the
    started StreamingQuery."""
    run = run_token(checkpoint_dir)

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id == 0:
            claim_run(batch_df.sparkSession, path, run)
        partial_fn(batch_df).write.mode("overwrite").parquet(
            f"{path}/run={run}/batch={batch_id}"
        )

    return foreach_batch_sink(stream, on_batch, checkpoint_dir)


def read_partials(spark: SparkSession, path: str) -> DataFrame:
    """Every published partial under ``path``, ``run``/``batch`` dropped.
    Partition types are not inferred: the token is a string."""
    return read_string_partitioned(spark, path).drop("run", "batch")


def commit_batch_partition(
    df: DataFrame, path: str, run: str, batch_id: int, *extra_cols: str
) -> None:
    """Idempotent per-batch commit: dynamic partition overwrite of this
    batch's own `ingest_run=…/ingest_batch=…` partition (plus
    ``extra_cols`` sub-partitions). A retried batch replaces its earlier
    partial write; every other (run, batch) partition is untouched."""
    (
        df.withColumn("ingest_run", F.lit(run))
        .withColumn("ingest_batch", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest_run", "ingest_batch", *extra_cols)
        .parquet(path)
    )


def not_own_batch(run: str, batch_id: int):
    """Predicate excluding a batch's own (run, batch) partition from a
    historical read — a retry's earlier attempt may have landed registry
    rows for the very documents being re-processed."""
    return ~((F.col("ingest_run") == run) & (F.col("ingest_batch") == batch_id))


def fingerprint_metrics(id_col: str) -> dict:
    """An order-independent content fingerprint of a batch, as aggregate
    columns: ``n`` (rows) and ``fp`` (sum of the top 31 bits of xxhash64
    over ``id_col``). The sum stays < 2^31 · rows, so it cannot hit ANSI
    long overflow before ~2^32 rows in one batch, while staying
    order-independent and sensitive to any id multiset change."""
    return {
        "n": F.count(F.lit(1)),
        "fp": F.coalesce(F.sum(F.shiftrightunsigned(F.xxhash64(F.col(id_col)), 33)), F.lit(0)),
    }


def changed_source(path: str, run: str, batch_id: int, prior, got) -> ValueError | None:
    """The error to raise when this (run, batch) first committed from a
    source with fingerprint ``prior`` and now reads ``got`` (both with
    ``n`` and ``fp``), else None: the checkpoint was wiped and re-pointed
    at a CHANGED source while keeping the same run token."""
    if (prior["n"], prior["fp"]) == (got["n"], got["fp"]):
        return None
    return ValueError(
        f"run token {run!r} at {path!r} first committed batch {batch_id} from a "
        f"source with fingerprint (n={prior['n']}, fp={prior['fp']}), but this batch "
        f"{batch_id} has (n={got['n']}, fp={got['fp']}): the checkpoint was wiped "
        "over a CHANGED source. Use a NEW checkpoint path (new run token) for a new "
        "ingest — replaying a stale token would leave the old run's extra batch "
        "partitions beside the new output."
    )


def check_source_marker(
    batch_df: DataFrame, sink_path: str, run: str, batch_id: int, id_col: str
) -> None:
    """The dedup sink's fail-fast guard for the replay contract, enforced
    on EVERY batch: computes the batch's content fingerprint
    (``fingerprint_metrics``) and compares it to the marker row this
    (run, batch) persisted beside the sink (``<sink_path>_runs``) on its
    first run. A mismatch at ANY batch means the checkpoint was wiped and
    re-pointed at a CHANGED source while keeping the same run token —
    exactly the silent-stale-partition hazard the module docstring
    describes — so raise instead of degrading. Batch 0 catches a wholesale
    source swap; the per-batch rows extend the guard to sources that
    diverge only in later batches (identical batch 0, different tail). The
    FTS index does not use this marker: its commit record carries the
    fingerprint (operators/fts.py).

    Residual scope limit: if the new source produces FEWER batches than
    the marker has rows for, the missing tail is never re-fingerprinted,
    so a replay that ends early leaves the old run's extra batch
    partitions in place undetected — that final hole is what the atomic
    commit-log sink (``atomic`` module) closes with an explicit manifest.

    Marker writes are idempotent per (run, batch) — dynamic overwrite of
    the batch's own partition — so a retry with an unchanged source
    re-verifies and rewrites the same row. Cost is one tiny agg job per
    batch over data the sink is about to process anyway."""
    spark = batch_df.sparkSession
    marker_path = f"{sink_path}_runs"
    row = batch_df.agg(
        *[expr.alias(name) for name, expr in fingerprint_metrics(id_col).items()]
    ).first()
    existing = try_read_parquet(spark, marker_path)
    if existing is not None:
        # cast the partition column rather than trusting inference: the
        # marker must read identically whether the session infers
        # partition types or keeps them as strings
        prior = (
            existing.where(
                (F.col("ingest_run") == run)
                & (F.col("ingest_batch").cast("long") == batch_id)
            )
            .select("n", "fp")
            .collect()
        )
        error = changed_source(sink_path, run, batch_id, prior[0], row) if prior else None
        if error is not None:
            raise error
    (
        # literals over a JVM range: createDataFrame from a Python list
        # would run a Python-worker job on every batch of every sink
        spark.range(1, numPartitions=1)
        .select(
            F.lit(row["n"]).cast("long").alias("n"),
            F.lit(row["fp"]).cast("long").alias("fp"),
        )
        .withColumn("ingest_run", F.lit(run))
        .withColumn("ingest_batch", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest_run", "ingest_batch")
        .parquet(marker_path)
    )
