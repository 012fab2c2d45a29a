"""Streaming maintenance of distinct counts as mergeable HLL partials
(merge-on-read).

Each micro-batch writes its OWN sketch partition through
``commit.partial_sink`` (a retry overwrites the same directory, so
commits are idempotent without any read-modify-write race), and the READ
path merges all partials with one key-sized aggregation — the same
append-only + merge-on-read discipline the cross-batch dedup registry
uses (streaming/dedup.py), for the same reason: per-batch state mutation
under overwrite semantics is where streaming sinks corrupt themselves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sec_dl_spark.streaming.commit import partial_sink, read_partials


def incremental_hll_sink(
    stream: DataFrame,
    sketch_path: str,
    checkpoint_dir: str,
    keys: list[str],
    value_col: str,
):
    """Streaming maintenance of DISTINCT counts via mergeable HLL
    sketches (a distinct count needs a sketch to merge without
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
