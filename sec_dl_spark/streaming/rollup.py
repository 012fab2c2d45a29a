"""Streaming maintenance of a partial-aggregate rollup (merge-on-read).

Composes operators/rollup.py with the micro-batch loop: each batch writes
its OWN partial-rollup partition through ``commit.partial_sink`` (a retry
overwrites the same directory, so commits are idempotent without any
read-modify-write race), and the READ path merges all partials with one
rollup-sized aggregation. This is the same append-only + merge-on-read
discipline the cross-batch dedup registry uses (streaming/dedup.py), for
the same reason: per-batch state mutation under overwrite semantics is
where streaming sinks corrupt themselves. ``compact_rollup`` folds the
accumulated partitions back to one when |batches| makes the read-side
merge noticeable — the fold reads rollup-sized data only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sec_dl_spark.operators.rollup import Measure, build_rollup, merge_rollups
from sec_dl_spark.streaming.commit import partial_sink, read_partials


def incremental_rollup_sink(
    stream: DataFrame,
    rollup_path: str,
    checkpoint_dir: str,
    keys: list[str],
    measures: list[Measure],
):
    """Per micro-batch, aggregate the batch to its partial rollup and
    publish it as its own partition. Returns the started StreamingQuery."""
    return partial_sink(
        stream, rollup_path, checkpoint_dir, lambda df: build_rollup(df, keys, measures)
    )


def read_rollup(
    spark: SparkSession,
    rollup_path: str,
    keys: list[str],
    measures: list[Measure],
) -> DataFrame:
    """Merged view over every published partial partition: one groupBy
    over rollup-sized data. Pass the result to operators/rollup.finalize
    for derived stats."""
    parts = read_partials(spark, rollup_path)
    # merge_rollups is union+agg; with the union already materialized as
    # one frame, a single re-aggregation is the same algebra
    return merge_rollups(parts.limit(0), parts, keys, measures)


def compact_rollup(
    spark: SparkSession,
    rollup_path: str,
    keys: list[str],
    measures: list[Measure],
) -> None:
    """Fold all partitions into a single ``run=__compact__/batch=0``
    partition. Two-phase: write the fold to a fresh run directory FIRST,
    then delete the superseded partitions — a crash between the phases
    leaves extra partials whose re-merge is idempotent (merging a fold
    with its own inputs would double-count, so the fold is written under
    a run name the reader treats like any other and the inputs are
    removed before the function returns; a crash mid-delete requires
    finishing the delete, never recomputing). The fold is no run's own
    output, so a sink started on a fresh checkpoint refuses the path at
    batch 0 — re-ingesting folded data would double-count it."""
    from py4j.java_gateway import java_import

    jvm = spark.sparkContext._jvm
    java_import(jvm, "org.apache.hadoop.fs.Path")
    fs = jvm.Path(rollup_path).getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())

    old_runs = [
        f.getPath()
        for f in fs.listStatus(jvm.Path(rollup_path))
        if f.isDirectory() and f.getPath().getName().startswith("run=")
    ]
    folded = read_rollup(spark, rollup_path, keys, measures)
    staging = f"{rollup_path}/__fold_tmp__"
    folded.write.mode("overwrite").parquet(staging)
    for p in old_runs:
        fs.delete(p, True)
    fs.mkdirs(jvm.Path(f"{rollup_path}/run=__compact__"))
    fs.rename(jvm.Path(staging), jvm.Path(f"{rollup_path}/run=__compact__/batch=0"))


def incremental_hll_sink(
    stream: DataFrame,
    sketch_path: str,
    checkpoint_dir: str,
    keys: list[str],
    value_col: str,
):
    """Streaming maintenance of DISTINCT counts via mergeable HLL
    sketches — the COUNT(DISTINCT) twin of ``incremental_rollup_sink``
    (sums/mins merge trivially; distincts need a sketch to merge without
    re-reading raw data). Per micro-batch: one ``hll_sketch_agg`` per key
    group, published as that batch's own partial. Batch partials are
    key-cardinality-sized binaries — never user-cardinality-sized — so a
    day of batches stays tiny and the read-side union is exact-merge
    cheap."""
    return partial_sink(
        stream,
        sketch_path,
        checkpoint_dir,
        lambda df: df.groupBy(*keys).agg(F.hll_sketch_agg(value_col).alias("sk")),
    )


def read_hll_rollup(
    spark: SparkSession,
    sketch_path: str,
    keys: list[str],
    estimate_col: str = "n_distinct",
) -> DataFrame:
    """Merged distinct-count view over every published sketch partition:
    ``hll_union_agg`` per key, then the estimate. Identical to sketching
    the raw union directly (DataSketches HLL is deterministic per value
    set), which the cross-batch pytest pins."""
    return read_partials(spark, sketch_path).groupBy(*keys).agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias(estimate_col)
    )


def read_hll_window_rollup(
    spark: SparkSession,
    sketch_path: str,
    day_col: str = "day",
    window_days: int = 7,
    estimate_col: str = "n_distinct",
) -> DataFrame:
    """Trailing-window distinct counts off per-day HLL partials: each
    observed day merges the sketches of its last ``window_days`` days
    (inclusive) — the at-scale form of a DAU→WAU/MAU dashboard, where
    the exact user-day explode (plans/streaming_batch.py:
    events_dau_wau_mau documents the swap) is replaced by
    day-cardinality-sized sketch unions. The spine is the observed
    days; the window join fans each day's sketch onto ≤ window_days
    spine days (days × window rows total), then one ``hll_union_agg``
    per spine day. Repeat users across days/batches collapse inside
    the union — the property the cross-batch pytest pins against the
    exact distinct."""
    # one sketch per day first (several batches may share a day)
    daily = (
        read_partials(spark, sketch_path)
        .groupBy(day_col)
        .agg(F.hll_union_agg("sk").alias("sk"))
    )
    fan = daily.select(
        F.col("sk"),
        F.explode(
            F.expr(f"sequence({day_col}, date_add({day_col}, {window_days - 1}))")
        ).alias("sday"),
    )
    spine = daily.select(F.col(day_col).alias("sday"))
    return (
        fan.join(spine, "sday")
        .groupBy("sday")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias(estimate_col))
        .withColumnRenamed("sday", day_col)
    )


def incremental_cms_sink(
    stream: DataFrame,
    sketch_path: str,
    checkpoint_dir: str,
    col: str,
    width: int = 256,
    depth: int = 4,
):
    """Streaming maintenance of point-frequency estimates via the
    engine-portable count-min sketch (operators/sketch.py:cms_build) —
    the "how OFTEN is this key arriving" twin of ``incremental_hll_sink``
    (which answers "how many DISTINCT"). Per micro-batch: one cms_build
    over the batch (≤ depth·width counter rows, whatever the batch
    size), published as that batch's own partial; the read side sums
    partials by (row, slot) — the CM sketch is a counter monoid, so
    batching is invariant by algebra and estimates from the merged
    sketch equal a from-scratch build over everything ingested (pinned
    by pytest). Unlike HLL union, counters double-count a reprocessed
    source, which is what the batch-0 guard of ``partial_sink`` stops:
    a second checkpoint over the same ``sketch_path`` is refused."""
    from sec_dl_spark.operators.sketch import cms_build

    return partial_sink(
        stream,
        sketch_path,
        checkpoint_dir,
        lambda df: cms_build(df, col, width=width, depth=depth),
    )


def read_cms_sketch(spark: SparkSession, sketch_path: str) -> DataFrame:
    """Merged (row, slot, cnt) view over the published CMS partials —
    one groupBy over ≤ batches·depth·width counter rows. Feed to
    operators/sketch.py:cms_estimate for point queries."""
    return (
        read_partials(spark, sketch_path)
        .groupBy("row", "slot")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
