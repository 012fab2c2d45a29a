"""Incremental inverted-index maintenance over a document stream — the
engine-native analog of the reference's "near real time full text search"
(README.md:7): there, a tsvector trigger indexes each filing as its text
lands (init_tables.py:59-67); here, each micro-batch commits to the
persisted token-bucket index, so a search sees a document one batch after
it arrives.

The index has one format (operators/fts.py): each micro-batch is one
(run, batch) commit written by ``write_index_batch`` — postings, stats
partials, then the commit record — and ``read_index`` opens the result
like any persisted index: only the commits whose record landed, with
bucket-pruned searches and CorpusStats summed from the records and
partials at open time, so ranked (TF-IDF/BM25) search runs with zero
stats jobs. ``write_index(read_index(path)[0], fresh_path)`` compacts a
streamed index into a single commit, like reindexing in the reference's
PG.

Append-only by design: new documents add postings; amended documents are
deduplicated upstream (watermark + dropDuplicates on the stream) before
they reach the index.

Delivery semantics match streaming/dedup.py: every write is a DYNAMIC
partition overwrite scoped to (checkpoint-derived run token, batch id),
so a replayed batch replaces its own earlier output instead of appending
duplicate postings beside it. The replay contract lives in the commit
record, not in a marker table: a batch whose record already landed is a
replay, re-fingerprinted and checked against the record before it writes
anything. A changed source is refused on every replay, and the commit
first made stays served; an unchanged one has nothing left to write."""

from __future__ import annotations

from pyspark.sql import DataFrame

from sec_dl_spark.operators.fts import read_index, write_index_batch
from sec_dl_spark.streaming.commit import foreach_batch_sink, run_token


def incremental_index_sink(
    docs_stream: DataFrame, index_path: str, checkpoint_dir: str, buckets: int = 256
):
    """docs readStream (doc_id, text) → one index commit per micro-batch,
    under this batch's own (run, batch) partition."""

    run = run_token(checkpoint_dir)

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        write_index_batch(batch_df, index_path, run, batch_id, buckets)

    return foreach_batch_sink(docs_stream, on_batch, checkpoint_dir)


# A streamed index is read like any persisted index; the name stays for
# callers written against this module.
read_incremental_index = read_index
