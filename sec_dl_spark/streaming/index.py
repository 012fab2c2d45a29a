"""Incremental inverted-index maintenance over a document stream — the
engine-native analog of the reference's "near real time full text search"
(README.md:7): there, a tsvector trigger indexes each filing as its text
lands (init_tables.py:59-67); here, each micro-batch commits to the
persisted token-bucket index, so a search sees a document one batch after
it arrives.

The index has one format (operators/fts.py): each micro-batch is one
(run, batch) commit written by ``write_index_batch``, the same writer a
full rebuild uses, and ``read_index`` opens the result like any persisted
index — bucket-pruned searches, and CorpusStats summed from the commits'
stats partials at open time, so ranked (TF-IDF/BM25) search runs with zero
stats jobs. ``write_index(read_index(path)[0], fresh_path)`` compacts a
streamed index into a single commit, like reindexing in the reference's PG.

Append-only by design: new documents add postings; amended documents are
deduplicated upstream (watermark + dropDuplicates on the stream) before
they reach the index.

Delivery semantics match streaming/dedup.py: every write is a DYNAMIC
partition overwrite scoped to (checkpoint-derived run token, batch id),
so a replayed batch replaces its own earlier output instead of appending
duplicate postings beside it."""

from __future__ import annotations

from pyspark.sql import DataFrame

from sec_dl_spark.operators.fts import build_inverted_index, read_index, write_index_batch
from sec_dl_spark.streaming.commit import check_source_marker, foreach_batch_sink, run_token


def incremental_index_sink(
    docs_stream: DataFrame, index_path: str, checkpoint_dir: str, buckets: int = 256
):
    """docs readStream (doc_id, text) → one index commit per micro-batch:
    the batch's source fingerprint is checked, then its postings and stats
    partials are written under this batch's own (run, batch) partition."""

    run = run_token(checkpoint_dir)

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        check_source_marker(batch_df, index_path, run, batch_id, "doc_id")
        write_index_batch(build_inverted_index(batch_df), index_path, run, batch_id, buckets)

    return foreach_batch_sink(docs_stream, on_batch, checkpoint_dir)


# A streamed index is read like any persisted index; the name stays for
# callers written against this module.
read_incremental_index = read_index
