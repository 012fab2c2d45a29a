"""Streaming change-data-feed: turn an upsert/tombstone stream into a
persisted current-state table AND a per-batch change feed (added / changed
/ removed) — the outbound half of CDC (operators/cdc.py applies a change
log; this PRODUCES one from a stream of row versions).

Storage discipline matches streaming/rollup.py and streaming/dedup.py:
every micro-batch writes only its OWN ``run=<run>/batch=<id>`` partitions
(state rows and feed rows alike), so retries overwrite idempotently and
there is never a read-modify-write race on shared state. The CURRENT state
is a merge-on-read view — ``apply_changes`` over all published partitions,
latest batch wins per key — exactly the latest-wins discipline a table
format's MERGE would give, expressed as append-only parquet. At real scale
the state table would live in a table format with compaction; the
per-batch feed partitions are already the shape downstream consumers
(sync jobs, cache invalidation, audit) want.

Batch contract: at most one change row per key per micro-batch
(pre-collapse upstream with ``apply_changes`` if the source can emit
more); rows with ``op_col == delete_op`` are tombstones. Deleting a key
that never existed emits no feed row (there is nothing to remove).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sec_dl_spark.operators.cdc import apply_changes, snapshot_diff
from sec_dl_spark.streaming.commit import claim_run, foreach_batch_sink, run_token
from sec_dl_spark.util import try_read_parquet

_B = "_cdc_batch"


def current_state(
    spark: SparkSession,
    state_path: str,
    key_cols: list[str],
    op_col: str = "op",
    delete_op: str = "D",
    before_batch: int | None = None,
) -> DataFrame | None:
    """Merge-on-read current snapshot: latest batch's row per key wins,
    tombstoned keys vanish. None before any batch has committed.
    ``before_batch=b`` restricts the merge to partitions with batch < b —
    the sink passes its own batch id so it always diffs against the
    PRE-batch state: a retry never reads the partial partition a failed
    attempt published (registry-reads-exclude-own-batch rule), and a
    replayed batch diffs against the same history it saw the first time
    even though later batches' partitions now exist (idempotent feed)."""
    raw = try_read_parquet(spark, state_path)
    if raw is None:
        return None
    if before_batch is not None:
        raw = raw.where(F.col("batch") < before_batch)
    return apply_changes(raw, key_cols, [_B], op_col=op_col, delete_op=delete_op).drop(
        _B, "run", "batch"
    )


def change_feed_sink(
    stream: DataFrame,
    state_path: str,
    feed_path: str,
    checkpoint_dir: str,
    key_cols: list[str],
    compare_cols: list[str],
    op_col: str = "op",
    delete_op: str = "D",
):
    """Per micro-batch, diff the batch's keys against the pre-batch
    state, publish the change set to ``feed_path/run/batch`` and the raw
    batch rows (tombstones included) to ``state_path/run/batch``. Returns
    the started StreamingQuery.

    The diff touches ONLY the batch's keys: the prior state is semi-joined
    down to them before ``snapshot_diff``, so feed cost scales with batch
    size, not table size (the full-state scan underneath is the honest
    cost of file-based state; a table format's key index removes it).

    State ordering is per-run: the run token comes from the checkpoint,
    so restarts of the same checkpoint resume the same logical sequence
    (batch ids continue). Pointing a FRESH checkpoint at an existing
    state dir would restart batch ids at 0 and scramble latest-wins
    ordering — batch 0 refuses state and feed dirs holding another run's
    token (``commit.claim_run``)."""
    run = run_token(checkpoint_dir)

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_id == 0:
            claim_run(spark, state_path, run)
            claim_run(spark, feed_path, run)
        batch_df = batch_df.persist()
        try:
            keys = batch_df.select(*key_cols)
            prior = current_state(
                spark, state_path, key_cols, op_col, delete_op,
                before_batch=batch_id,
            )
            if prior is None:
                prior = batch_df.where(F.lit(False))
            prior_sel = prior.join(keys, key_cols, "left_semi").select(
                *key_cols, *compare_cols
            )
            post_sel = batch_df.where(F.col(op_col) != delete_op).select(
                *key_cols, *compare_cols
            )
            feed = snapshot_diff(prior_sel, post_sel, key_cols, compare_cols)
            feed.write.mode("overwrite").parquet(
                f"{feed_path}/run={run}/batch={batch_id}"
            )
            batch_df.withColumn(_B, F.lit(batch_id)).write.mode("overwrite").parquet(
                f"{state_path}/run={run}/batch={batch_id}"
            )
        finally:
            batch_df.unpersist()

    return foreach_batch_sink(stream, on_batch, checkpoint_dir)


def read_change_feed(spark: SparkSession, feed_path: str) -> DataFrame:
    """All published change rows with their (run, batch) provenance."""
    return spark.read.option("basePath", feed_path).parquet(feed_path)
