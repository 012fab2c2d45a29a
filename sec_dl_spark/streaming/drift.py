"""Streaming drift monitoring via mergeable bin-count partials (PSI).

The streaming twin of the batch ``events_psi_drift`` query
(plans/streaming_batch.py): the same exact integer-cents binning, the
same Laplace-smoothed PSI — but instead of splitting one static table at
its time midpoint, the stream publishes each micro-batch's per-(key, bin)
INTEGER counts as that batch's own partial (``commit.partial_sink``:
idempotent overwrite-on-retry), and the read side merges the partials
and scores them against a pinned REFERENCE distribution (e.g. the
calibration window's own published counts).

Integer bin counts are the ideal streaming monitor state: exactly
mergeable (sum monoid — merge == recompute, pinned by pytest), tiny
(|keys|·n_bins rows per batch regardless of batch size), and the PSI
read derives every probability from exact integer sums, so the score is
identical no matter how the stream was batched.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sec_dl_spark.streaming.commit import partial_sink, read_partials

N_BINS_DEFAULT = 10
CENTS_PER_BIN_DEFAULT = 4000


def bin_counts(
    df: DataFrame,
    key_col: str = "event_type",
    value_col: str = "value",
    n_bins: int = N_BINS_DEFAULT,
    cents_per_bin: int = CENTS_PER_BIN_DEFAULT,
) -> DataFrame:
    """(key, bin, n) integer histogram — the shared batch/streaming
    binning. Bins come from EXACT integer-cents division (round to
    cents, integer-divide, clamp to the last bin), matching the batch
    PSI query bit for bit; one partial-aggregated groupBy."""
    # clamp BOTH ends: negative values (refunds, corrections) land in bin
    # 0 instead of silently falling off the spine — and the clamp removes
    # the Spark-div-truncates vs SQL-floor divergence negatives introduce
    b = F.greatest(
        F.least(
            F.expr(f"CAST(round({value_col} * 100) AS BIGINT) div {cents_per_bin}"),
            F.lit(n_bins - 1),
        ),
        F.lit(0),
    )
    return (
        df.select(F.col(key_col).alias("key"), b.alias("bin"))
        .groupBy("key", "bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def incremental_bin_counts_sink(
    stream: DataFrame,
    counts_path: str,
    checkpoint_dir: str,
    key_col: str = "event_type",
    value_col: str = "value",
    n_bins: int = N_BINS_DEFAULT,
    cents_per_bin: int = CENTS_PER_BIN_DEFAULT,
):
    """Each micro-batch publishes its own (key, bin, n) partial. Returns
    the started StreamingQuery."""
    return partial_sink(
        stream,
        counts_path,
        checkpoint_dir,
        lambda df: bin_counts(df, key_col, value_col, n_bins, cents_per_bin),
    )


def read_bin_counts(spark: SparkSession, counts_path: str) -> DataFrame:
    """Merged (key, bin, n) view over every published partial partition —
    one groupBy over |keys|·n_bins·|batches| rows (monitor-state-sized,
    never event-sized)."""
    return (
        read_partials(spark, counts_path)
        .groupBy("key", "bin")
        .agg(F.sum("n").alias("n"))
    )


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
