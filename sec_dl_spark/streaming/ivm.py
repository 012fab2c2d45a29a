"""Streaming incremental view maintenance for group-by COUNT/SUM
aggregates under RETRACTIONS — the streaming twin of the batch
``cdc_agg_incremental`` query (operators/cdc.py:agg_delta, the signed
Gupta/Mumick counting rule): a change stream of (key, op ∈ {'I','D'},
values) rows maintains a key-grain aggregate view without ever
re-scanning fact history.

Storage discipline matches streaming/rollup.py: each micro-batch
publishes only its OWN folded signed partial through
``commit.partial_sink`` (a retried batch overwrites the same directory
— idempotent, no read-modify-write race on shared state), and the view
is merge-on-read: one aggregation over key-grain partials, keys whose
maintained count reaches 0 dropped (the recompute would not hold them).
Unlike the bot gate's gap moments, signed partials ARE a plain sum
monoid, so the merge needs no ordering and the maintained view is
batching-invariant by algebra (pinned by the pytest: 1-batch == 3-batch
== from-scratch recompute, deletes crossing batch boundaries included).

At real scale the partial partitions accumulate one tiny file set per
batch; ``streaming/rollup.py:compact_rollup``'s two-phase fold applies
verbatim (partials here are sum-monoid rows too).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sec_dl_spark.operators.cdc import fold_changes
from sec_dl_spark.streaming.commit import partial_sink, read_partials


def incremental_agg_sink(
    stream: DataFrame,
    view_path: str,
    checkpoint_dir: str,
    keys: list,
    measures: dict,
    op_col: str = "op",
):
    """Fold each micro-batch of change rows to its signed key-grain
    partial and publish it as its own partition. Returns the started
    StreamingQuery."""
    return partial_sink(
        stream,
        view_path,
        checkpoint_dir,
        lambda df: fold_changes(df, keys, measures, op_col=op_col),
    )


def read_view(
    spark: SparkSession,
    view_path: str,
    keys: list,
    measures: dict,
    base: DataFrame | None = None,
    n_col: str = "n",
) -> DataFrame:
    """Merge-on-read maintained view: one aggregation over the key-grain
    partials (plus an optional pre-materialized ``base`` aggregate at
    the same grain), with the n=0 key-drop guard. Cost is
    O(|view| + |touched keys| · |batches|) — never a fact rescan."""
    parts = read_partials(spark, view_path)
    if base is not None:
        parts = base.select(*keys, n_col, *measures).unionByName(parts)
    return (
        parts.groupBy(*keys)
        .agg(
            F.sum(n_col).cast("long").alias(n_col),
            *[F.sum(out).alias(out) for out in measures],
        )
        .where(F.col(n_col) > 0)
    )
