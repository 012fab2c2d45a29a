"""Streaming bot detection via ordered gap-moment partials.

The streaming twin of the batch ``events_bot_detection`` query
(plans/streaming_batch.py): the same integer-µs inter-event-gap moments
and the same CV = σ/μ regularity score — but computed INCREMENTALLY.
Each micro-batch publishes one row per user of within-batch moments
(n, first_us, last_us, n_gaps, gap_sum, gap_sq) as its own partial
(``commit.partial_sink``: idempotent overwrite-on-retry), and the read
side merges them.

Unlike the PSI/SPRT gates, gap moments are NOT a plain sum monoid: the
gap that straddles two batches belongs to neither partial. The merge is
an ORDERED monoid — for a user's partials sorted by first_us, each
boundary contributes one extra gap (next.first_us − prev.last_us) — so
correctness requires batches to be time-partitioned per user (the
standard guarantee of an event-time-ordered ingest; a replayed/retried
batch overwrites its own partition and changes nothing). Merged moments
are then BIT-IDENTICAL to the batch twin however the stream was batched
(pinned by the batching-invariance pytest): gap sums stay exact int64
µs, the quadratic moment accumulates in double (µs² passes int64; every
term integer-exact below 2^53 — the same overflow discipline as the
batch query).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sec_dl_spark.streaming.commit import partial_sink, read_partials


def gap_moments(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Per-user within-batch gap moments — the published partial.

    One user-partitioned lag window over the batch (batch-sized, never
    stream-sized): (user_id, n, first_us, last_us, n_gaps, gap_sum,
    gap_sq). Users with a single event in the batch publish n_gaps = 0
    and still carry first/last for the boundary merge."""
    us = F.unix_micros(F.col(ts_col))
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    o = df.select("user_id", "event_id", us.alias("us")).withColumn(
        "prev", F.lag("us").over(w)
    )
    gap = F.col("us") - F.col("prev")
    return o.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("us").alias("first_us"),
        F.max("us").alias("last_us"),
        F.count("prev").alias("n_gaps"),
        F.coalesce(F.sum(gap), F.lit(0)).alias("gap_sum"),
        F.coalesce(F.sum(gap.cast("double") * gap), F.lit(0.0)).alias(
            "gap_sq"
        ),
    )


def incremental_gap_moments_sink(
    stream: DataFrame,
    moments_path: str,
    checkpoint_dir: str,
    ts_col: str = "ts",
):
    """Each micro-batch publishes its own per-user moment partial.
    Returns the started StreamingQuery."""
    return partial_sink(
        stream, moments_path, checkpoint_dir, lambda df: gap_moments(df, ts_col)
    )


def merged_gap_moments(spark: SparkSession, moments_path: str) -> DataFrame:
    """Fold every published partial into whole-stream per-user moments.

    The ordered-monoid merge: partials sort by first_us within each
    user (a window over ≤ n_batches rows per user — monitor-state-
    sized, never event-sized); each batch boundary contributes one gap
    first_us − lag(last_us) into both moments; within-batch moments
    sum exactly."""
    parts = read_partials(spark, moments_path)
    # last_us tie-break: two partials can share first_us (a batch split
    # inside one timestamp); ordering the shorter-reaching partial first
    # keeps every boundary gap non-negative and the merge deterministic
    w = Window.partitionBy("user_id").orderBy("first_us", "last_us")
    b = parts.withColumn("prev_last", F.lag("last_us").over(w))
    bgap = F.col("first_us") - F.col("prev_last")
    return b.groupBy("user_id").agg(
        F.sum("n").alias("n_events"),
        F.min("first_us").alias("first_us"),
        F.max("last_us").alias("last_us"),
        (F.sum("n_gaps") + F.count("prev_last")).alias("n_gaps"),
        (F.sum("gap_sum") + F.coalesce(F.sum(bgap), F.lit(0))).alias(
            "gap_sum"
        ),
        (
            F.sum("gap_sq")
            + F.coalesce(F.sum(bgap.cast("double") * bgap), F.lit(0.0))
        ).alias("gap_sq"),
    )


def bot_scores(
    moments: DataFrame,
    min_gaps: int = 5,
    cv_threshold: float = 0.3,
    min_events: int = 30,
) -> DataFrame:
    """CV regularity scores off merged moments — the identical math to
    the batch twin's score stage: mean = gap_sum/n_gaps, CV =
    √max(E[g²]−mean², 0)/mean, is_bot = CV < threshold ∧ n ≥
    min_events."""
    mean_gap = F.col("gap_sum").cast("double") / F.col("n_gaps")
    cv = F.sqrt(
        F.greatest(
            F.col("gap_sq") / F.col("n_gaps") - mean_gap * mean_gap,
            F.lit(0.0),
        )
    ) / F.nullif(mean_gap, F.lit(0.0))
    return (
        moments.where(F.col("n_gaps") >= min_gaps)
        .select(
            "user_id",
            F.col("n_events").cast("long").alias("n_events"),
            (mean_gap / 1e6).alias("mean_gap_s"),
            cv.alias("gap_cv"),
            (
                (cv < cv_threshold) & (F.col("n_events") >= min_events)
            ).alias("is_bot"),
        )
        .orderBy("gap_cv", "user_id")
    )
