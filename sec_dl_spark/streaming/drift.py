"""Drift scoring over (key, bin, n) integer count frames (PSI).

The same Laplace-smoothed PSI as the batch ``events_psi_drift`` query
(plans/streaming_batch.py), but scored between any two count frames —
e.g. a stream's merged per-batch counts against a pinned REFERENCE
distribution. Integer bin counts are exactly mergeable (a sum monoid)
and every probability is derived from exact integer sums, so the score
is identical no matter how the counts were batched.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

N_BINS_DEFAULT = 10


def psi(
    current: DataFrame,
    reference: DataFrame,
    n_bins: int = N_BINS_DEFAULT,
) -> DataFrame:
    """Per-key PSI between two (key, bin, n) count frames: one row per
    key with (n_current, n_reference, psi). Both distributions are laid
    on the full keys-union × range(n_bins) spine (absent bins are
    explicit zeros, not engine-dependent), Laplace 0.5-smoothed
    (denominator N + 0.5·n_bins) so empty bins stay finite, and every
    probability is a deterministic division of exact integer sums —
    identical math to the batch ``events_psi_drift`` oracle. The whole
    plan is monitor-state-sized: two tiny aggregates, a spine join, and
    a per-key fold."""
    spark = current.sparkSession
    cur = current.groupBy("key", "bin").agg(F.sum("n").alias("n_cur"))
    ref = reference.groupBy("key", "bin").agg(F.sum("n").alias("n_ref"))
    keys = cur.select("key").union(ref.select("key")).distinct()
    spine = keys.crossJoin(
        F.broadcast(spark.range(n_bins).select(F.col("id").cast("long").alias("bin")))
    )
    f = (
        spine.join(cur, ["key", "bin"], "left")
        .join(ref, ["key", "bin"], "left")
        .fillna(0, subset=["n_cur", "n_ref"])
    )
    g = f.groupBy("key").agg(
        F.sum("n_cur").alias("tot_cur"), F.sum("n_ref").alias("tot_ref")
    )
    half_bins = 0.5 * n_bins
    p = (F.col("n_cur").cast("double") + 0.5) / (F.col("tot_cur") + half_bins)
    q = (F.col("n_ref").cast("double") + 0.5) / (F.col("tot_ref") + half_bins)
    terms = f.join(F.broadcast(g), "key").select(
        "key", "tot_cur", "tot_ref", ((p - q) * F.log(p / q)).alias("term")
    )
    return (
        terms.groupBy("key")
        .agg(
            F.max("tot_cur").cast("long").alias("n_current"),
            F.max("tot_ref").cast("long").alias("n_reference"),
            (F.round(F.sum("term") + F.lit(1e-9), 6) + F.lit(0.0)).alias("psi"),
        )
        .orderBy("key")
    )
