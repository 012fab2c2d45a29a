"""Streaming ANN query serving: a stream of query vectors answered from a
persisted IVF-PQ index (operators/similarity.py) — the online half of the
build-once/serve-many split. Each micro-batch of queries probes the
cell-partitioned codes, scores with the ADC kernel, exact-reranks against
the full-precision corpus, and commits results idempotently per (run,
batch) — the serving layout a 100 TB vector store runs: the index builds
offline at corpus cadence, queries arrive continuously, and nothing
retrains on the query path.

The index loads ONCE per sink (codebooks/centroids are a few KB; the
encoded codes DataFrame is cached so repeated batches share the scan),
not per batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sec_dl_spark.streaming.commit import (
    commit_batch_partition,
    foreach_batch_sink,
    run_token,
)


def incremental_ann_index_sink(
    vectors_stream: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Maintain a persisted IVF-PQ index from a vector stream: each
    micro-batch assigns cells against the STORED centroids and encodes
    with the STORED codebooks (no retraining on the ingest path — the
    faiss add() discipline), committing (id, cell, pq_codes) rows under
    ``increments`` keyed by (run, batch, cell). read_ivfpq_index unions
    base + increments, so queries see appended vectors as soon as their
    batch commits. Centroid/codebook drift under distribution shift is
    the documented trade-off — fold-in happens at the next offline
    rebuild, exactly as in IVF services."""
    import json as _json

    from sec_dl_spark.operators.similarity import assign_cells, pq_encode

    run = run_token(checkpoint_dir)
    holder: dict = {}

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        meta = holder.get("meta")
        if meta is None:
            meta = _json.loads(spark.read.json(f"{index_path}/meta").collect()[0]["meta"])
            meta["codebooks"] = [(int(j), c) for j, c in meta["codebooks"]]
            holder["meta"] = meta
        enc = pq_encode(
            assign_cells(batch_df, meta["centroids"], id_col, vec_col),
            meta["codebooks"],
            vec_col=vec_col,
        ).select(F.col(id_col).alias(meta["id_col"]), "cell", "pq_codes")
        commit_batch_partition(enc, f"{index_path}/increments", run, batch_id, "cell")

    return foreach_batch_sink(vectors_stream, on_batch, checkpoint_dir)


def ann_query_sink(
    queries_stream: DataFrame,
    corpus: DataFrame,
    index_path: str,
    output_path: str,
    checkpoint_dir: str,
    k: int = 5,
    n_probe: int = 4,
    rerank: int = 32,
    kernel: str = "adc",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """queries readStream → IVF-PQ top-k per micro-batch → parquet commit.

    Results carry (query_id, neighbor_id, cosine_sim, rank) under the
    usual (ingest_run, ingest_batch) partitions; a retried batch
    overwrites its own earlier output. The index is RE-OPENED per batch:
    the centroids/codebooks are a tiny json read, and re-resolving the
    encoded scan is what makes increments committed by a co-running
    incremental_ann_index_sink visible to the very next query batch —
    a first-batch cache would serve a frozen view for the stream's
    lifetime (and pin the cached codes in executor memory after the
    stream ends). The per-batch query-side size guard rides along from
    ivfpq_topk (an oversized batch fails loudly rather than OOMing the
    driver mid-collect)."""
    from sec_dl_spark.operators.similarity import ivfpq_topk, read_ivfpq_index

    run = run_token(checkpoint_dir)

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        idx = read_ivfpq_index(spark, index_path)
        out = ivfpq_topk(
            corpus,
            idx,
            batch_df,
            k=k,
            id_col=id_col,
            vec_col=vec_col,
            n_probe=n_probe,
            rerank=rerank,
            kernel=kernel,
        )
        commit_batch_partition(out, output_path, run, batch_id)

    return foreach_batch_sink(queries_stream, on_batch, checkpoint_dir)
