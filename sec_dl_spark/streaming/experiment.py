"""Streaming experiment-health monitors: SPRT early-stop + SRM gate.

Streaming twins of the batch ``events_sprt_monitor`` and
``events_srm_check`` queries (plans/streaming_batch.py). Both follow the
mergeable-partials discipline of streaming/drift.py and
streaming/rollup.py — each micro-batch publishes a tiny idempotent
partial (``commit.partial_sink``), and the read side merges partials
into the SAME numbers the batch query computes over the full table:

- **SPRT**: the monitor state is per-day (trials, conversions) INTEGER
  counts for the treatment arm — a sum monoid, so the merged trajectory
  is exactly batching-invariant; the cumulative log-likelihood ratio and
  the ±ln((1−β)/α) boundary verdicts are derived on read from exact
  integer sums times two constants. This is precisely the monitor whose
  VALUE is incremental: an experiment watches the trajectory daily and
  stops the moment a boundary is crossed, instead of re-scanning the
  event log per look (and because the SPRT is a sequential test, the
  repeated looks are exactly what the boundaries are calibrated for).
- **SRM**: the monitor needs DISTINCT users per arm — not a sum monoid
  (the same user appears in many batches), so the partial is a
  DataSketches HLL sketch per arm (reusing streaming/rollup.py's sink):
  mergeable, arm-cardinality-sized, and exact in sparse mode at
  guardrail-relevant cardinalities. The chi-square gate then runs on
  the merged estimates with the same (a−b)²/(a+b) collapse as the batch
  query.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sec_dl_spark.streaming.commit import partial_sink, read_partials
from sec_dl_spark.streaming.rollup import incremental_hll_sink, read_hll_rollup

P0_DEFAULT = 0.18
P1_DEFAULT = 0.22
ODDS_DEFAULT = 19.0  # (1-beta)/alpha at alpha = beta = 0.05
SRM_CRITICAL = 3.841459  # chi-square 0.05 critical value, 1 dof


def arm_day_counts(
    df: DataFrame,
    conversion_type: str = "purchase",
    treatment_pred: str = "user_id % 2 = 1",
) -> DataFrame:
    """(day, n, conv) integer partials for the treatment arm — the shared
    batch/streaming reduction (one partial-aggregated groupBy; day
    granularity keeps a batch's partial ≤ the batch's day span however
    many events it holds)."""
    return (
        df.where(F.expr(treatment_pred))
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("event_type") == conversion_type, 1).otherwise(0)
            ).alias("conv"),
        )
    )


def incremental_sprt_sink(
    stream: DataFrame,
    counts_path: str,
    checkpoint_dir: str,
    conversion_type: str = "purchase",
    treatment_pred: str = "user_id % 2 = 1",
):
    """Each micro-batch publishes its own (day, n, conv) partial. Returns
    the started StreamingQuery."""
    return partial_sink(
        stream,
        counts_path,
        checkpoint_dir,
        lambda df: arm_day_counts(df, conversion_type, treatment_pred),
    )


def read_arm_day_counts(spark: SparkSession, counts_path: str) -> DataFrame:
    """Merged (day, n, conv) view over every published partial — one
    groupBy over |days|·|batches| rows (monitor-state-sized)."""
    return read_partials(spark, counts_path).groupBy("day").agg(
        F.sum("n").alias("n"), F.sum("conv").alias("conv")
    )


def sprt_trajectory(
    counts: DataFrame,
    p0: float = P0_DEFAULT,
    p1: float = P1_DEFAULT,
    odds: float = ODDS_DEFAULT,
) -> DataFrame:
    """Wald SPRT trajectory off a (day, n, conv) count frame: cumulative
    LLR of conversion rate p1 vs p0 with accept/continue verdicts at
    ±ln(odds) — identical math to the batch ``events_sprt_monitor``
    (integer counts times two constants; the only window runs over the
    DAY frame). Works the same on the batch reduction or the merged
    streaming partials, which is what the cross-batch pytest pins."""
    wd = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    c = counts.select(
        "day",
        F.sum("n").over(wd).alias("cum_n"),
        F.sum("conv").over(wd).alias("cum_conv"),
    )
    llr = (
        F.round(
            F.col("cum_conv") * F.log(F.lit(p1) / F.lit(p0))
            + (F.col("cum_n") - F.col("cum_conv"))
            * F.log(F.lit(1.0 - p1) / F.lit(1.0 - p0))
            + F.lit(1e-9),
            6,
        )
        + F.lit(0.0)
    )
    thr = float(math.log(odds))
    out = c.withColumn("llr", llr)
    return out.select(
        "day",
        F.col("cum_n").cast("long").alias("cum_trials"),
        F.col("cum_conv").cast("long").alias("cum_conversions"),
        "llr",
        F.when(F.col("llr") >= thr, F.lit("accept_h1"))
        .when(F.col("llr") <= -thr, F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
        .alias("verdict"),
    ).orderBy("day")


def incremental_srm_sink(stream: DataFrame, sketch_path: str, checkpoint_dir: str):
    """Per-batch HLL user sketches keyed by experiment arm — distinct
    users are NOT a sum monoid (one user spans many batches), so the
    partial is the mergeable sketch, not a count. Delegates to
    streaming/rollup.py's sink with arm = user_id % 2 derived first."""
    armed = stream.withColumn("arm", (F.col("user_id") % 2).cast("long"))
    return incremental_hll_sink(
        armed, sketch_path, checkpoint_dir, keys=["arm"], value_col="user_id"
    )


def srm_from_sketches(spark: SparkSession, sketch_path: str) -> DataFrame:
    """1-row SRM gate off the merged arm sketches: distinct-user
    estimates per arm, the two-cell chi-square (a−b)²/(a+b), and the
    0.05 verdict — the same collapse as the batch ``events_srm_check``.
    HLL is exact in sparse mode at small cardinalities and within ~2%
    beyond; an SRM worth stopping an experiment for (the classic
    bucketing bug) shifts arms by far more than the sketch error."""
    est = read_hll_rollup(spark, sketch_path, keys=["arm"], estimate_col="n")
    arms = est.agg(
        F.sum(F.when(F.col("arm") == 0, F.col("n"))).cast("long").alias("n_users_a"),
        F.sum(F.when(F.col("arm") == 1, F.col("n"))).cast("long").alias("n_users_b"),
    ).fillna(0, subset=["n_users_a", "n_users_b"])
    diff2 = (
        (F.col("n_users_a") - F.col("n_users_b"))
        * (F.col("n_users_a") - F.col("n_users_b"))
    ).cast("double")
    chi2 = diff2 / F.nullif(F.col("n_users_a") + F.col("n_users_b"), F.lit(0))
    return arms.select(
        "n_users_a",
        "n_users_b",
        (F.round(chi2 + F.lit(1e-9), 6) + F.lit(0.0)).alias("chi2"),
        F.when(chi2 > SRM_CRITICAL, F.lit("srm_detected"))
        .otherwise(F.lit("ok"))
        .alias("verdict"),
    )
