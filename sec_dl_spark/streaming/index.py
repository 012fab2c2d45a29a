"""Incremental inverted-index maintenance over a document stream — the
engine-native analog of the reference's "near real time full text search"
(README.md:7): there, a tsvector trigger indexes each filing as its text
lands (init_tables.py:59-67); here, each micro-batch's postings commit to
the persisted token-bucket index, so a search sees a document one batch
after it arrives.

Append-only by design: new documents add postings; amended documents are
deduplicated upstream (watermark + dropDuplicates on the stream) before
they reach the index. A full rebuild (operators/fts.py:write_index) stays
the compaction path, exactly like reindexing in the reference's PG.

Delivery semantics match streaming/dedup.py: every write is a DYNAMIC
partition overwrite scoped to (checkpoint-derived run token, batch id),
so a replayed batch replaces its own earlier output instead of appending
duplicate postings beside it.

The stats sidecar is maintained incrementally too: per-batch doc_len rows
(new documents only → plain union is correct) and PARTIAL token document
frequencies; `read_incremental_index` sums the partials at open time — a
sidecar-sized aggregation instead of a full posting-table pass — and
rehydrates CorpusStats so ranked (TF-IDF/BM25) search runs with zero
stats jobs, same contract as the batch sidecar."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sec_dl_spark.functions.analysis import hash_bucket
from sec_dl_spark.operators.fts import CorpusStats, build_inverted_index
from sec_dl_spark.streaming.commit import (
    check_source_marker,
    commit_batch_partition,
    foreach_batch_sink,
    run_token,
)


def incremental_index_sink(
    docs_stream: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 256,
    with_stats: bool = True,
):
    """docs readStream → per-batch postings committed to the bucketed index
    (+ stats sidecar partials unless ``with_stats=False``).

    Each batch: tokenize + posexplode + per-doc position lists (the same
    build as the batch index), bucket by token hash, commit idempotently
    under this batch's own (run, batch) partition.
    """

    run = run_token(checkpoint_dir)

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        check_source_marker(batch_df, index_path, run, batch_id, id_col)
        postings = build_inverted_index(
            batch_df, id_col=id_col, text_col=text_col
        ).localCheckpoint(eager=True)
        commit_batch_partition(
            postings.withColumn("token_bucket", hash_bucket(F.col("token"), buckets)),
            index_path,
            run,
            batch_id,
            "token_bucket",
        )
        if with_stats:
            stats = CorpusStats(postings, cache=False)
            commit_batch_partition(
                stats.doc_len, f"{index_path}_stats/doc_len", run, batch_id
            )
            commit_batch_partition(
                stats.df.withColumnRenamed("df", "df_part"),
                f"{index_path}_stats/token_df",
                run,
                batch_id,
            )

    return foreach_batch_sink(docs_stream, on_batch, checkpoint_dir)


def read_incremental_index(
    spark: SparkSession, index_path: str
) -> tuple[DataFrame, CorpusStats | None]:
    """Open an incrementally-built index: postings plus CorpusStats
    rehydrated from the sidecar partials (token df = sum of per-batch
    partial counts; n_docs/avgdl = one sidecar-sized aggregation —
    never a pass over the posting table). Returns (postings, None) when
    the sink ran with_stats=False."""
    from sec_dl_spark.util import read_string_partitioned, try_read_parquet

    # type inference OFF for the partition columns: ingest_run is a string
    # token that could be all-digit (md5 prefix), and the bucket/batch
    # columns are dropped right here anyway (see util helper docstring)
    postings = read_string_partitioned(spark, index_path).drop(
        "token_bucket", "ingest_run", "ingest_batch"
    )
    doc_len = try_read_parquet(spark, f"{index_path}_stats/doc_len")
    df_part = try_read_parquet(spark, f"{index_path}_stats/token_df")
    if doc_len is None or df_part is None:
        return postings, None
    doc_len = doc_len.select("doc_id", "dl")
    df = df_part.groupBy("token").agg(F.sum("df_part").alias("df"))
    # n_docs/avgdl stay lazy: CorpusStats._scalars computes them from the
    # sidecar-sized doc_len frame on first ranked use — opening the index
    # launches no jobs at all
    return postings, CorpusStats(doc_len=doc_len, df=df)
