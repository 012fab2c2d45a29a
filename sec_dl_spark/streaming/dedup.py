"""Incremental exact dedup over a document stream — dedup each arriving
micro-batch against EVERYTHING already accepted, not just within the batch.

This is the shape a training-data ingest actually needs: a new crawl drop
must not re-admit content the corpus already holds, whichever run ingested
it. State is a persisted fingerprint registry (parquet, partitioned by
fingerprint prefix so the per-batch anti-join prunes directories); each
micro-batch:

  1. fingerprints its documents (md5 over the canonical token stream —
     the same fingerprint as batch dedup, functions/analysis.py),
  2. drops in-batch duplicates (first doc_id wins, deterministically),
  3. anti-joins the registry to drop historical duplicates,
  4. commits the surviving documents to the accepted sink and their
     fingerprints to the registry.

Only (fingerprint, doc_id) rows ever join or persist — text flows straight
to the accepted sink, so state size is O(distinct docs), not O(bytes).

Delivery semantics: both sinks are written with DYNAMIC partition
overwrite scoped to (`ingest_run`, `ingest_batch`), so a foreachBatch retry
replaces its own earlier partial output instead of appending next to it —
no duplicate rows in the dedup sink even when a batch dies between the two
writes. The run token is derived from the checkpoint location (stable
across restarts from the same checkpoint, distinct per logical ingest run),
because bare batch_ids restart at 0 for every new checkpoint and would
collide across runs sharing one corpus. The historical anti-join excludes
the batch's OWN (run, batch) registry partition, so a retry that already
landed registry rows does not judge its documents "historical duplicates"
of themselves. Registry existence is probed by attempting the parquet read
(works on any filesystem scheme), never by driver-local directory walks.

The per-batch ``localCheckpoint`` calls below pin ONE evaluation of a
micro-batch frame that multiple writes read. Unlike the batch operators
(see session.pin), executor loss here is already covered one level up:
losing local blocks fails the BATCH, and Structured Streaming's own
reliable checkpoint replays it — the dynamic-partition-overwrite commit
makes the retry idempotent. So executor-local blocks are the right (and
cheapest) choice inside foreachBatch even on preemptible fleets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sec_dl_spark.functions.analysis import fingerprint, hash_bucket
from sec_dl_spark.streaming.commit import (
    check_source_marker,
    commit_batch_partition,
    foreach_batch_sink,
    not_own_batch,
    run_token,
)
from sec_dl_spark.util import try_read_parquet

REGISTRY_PREFIX_BUCKETS = 64


def _fingerprints(batch_df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return batch_df.withColumn("_fp", fingerprint(F.col(text_col))).withColumn(
        "_fp_bucket", hash_bucket(F.col("_fp"), REGISTRY_PREFIX_BUCKETS)
    )


def incremental_dedup_sink(
    docs_stream: DataFrame,
    accepted_path: str,
    registry_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    commit_mode: str = "overwrite",
):
    """docs readStream → historical-exact-dedup → accepted parquet commit.

    The registry holds (fingerprint, doc_id of the canonical copy); a
    batch's candidate fingerprints anti-join it (broadcast of the batch's
    distinct fingerprints against the bucket-pruned registry would be the
    100 TB refinement; at any scale the join is keyed by fingerprint, so
    it shuffles hashes, never text).

    ``commit_mode="overwrite"`` (default) is the idempotent dynamic
    partition overwrite described in the module docstring — retry-safe
    for a single writer. ``commit_mode="atomic"`` publishes BOTH sinks
    through one rename-arbitrated manifest in a linear log
    (streaming/atomic.py): the accepted docs and their registry rows
    appear together or not at all, an already-committed batch is skipped
    outright on replay, a zombie writer's late duplicate commit loses
    cleanly, AND admission is serializable across CONCURRENT logical
    runs sharing the corpus — each batch commits with compare-and-swap
    on the log version; on conflict the anti-join recomputes against the
    interleaved registry rows before retrying (Delta-style optimistic
    concurrency), so two racing runs can never both admit the same
    content. In atomic mode read the outputs via
    ``read_committed(spark, registry_path, "accepted"|"registry")``.
    """
    if commit_mode not in ("overwrite", "atomic"):
        raise ValueError(f"unknown commit_mode {commit_mode!r}")

    run = run_token(checkpoint_dir)

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # The marker check runs BEFORE the already-committed short-circuit:
        # a wiped-checkpoint replay over a CHANGED source must fail fast in
        # atomic mode too, not silently no-op past every committed batch and
        # drop the new source's data (the replay contract commit.py
        # documents as enforced). The check is idempotent per (run, batch).
        check_source_marker(batch_df, registry_path, run, batch_id, id_col)
        fp = _fingerprints(batch_df, id_col, text_col)
        # in-batch dedup: first id per fingerprint wins (deterministic)
        w = Window.partitionBy("_fp").orderBy(id_col)
        deduped = fp.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1)

        def survivors_against(seen):
            fresh = deduped
            if seen is not None:
                # exclude this batch's own rows: a retry's earlier attempt
                # may have landed registry rows for these very documents
                seen = seen.where(not_own_batch(run, batch_id))
                fresh = fresh.join(seen.select("_fp"), "_fp", "left_anti")
            s = fresh.drop("_rn").localCheckpoint(eager=True)
            return (
                s.drop("_fp", "_fp_bucket"),
                s.select("_fp", "_fp_bucket", F.col(id_col).alias("canonical_id")),
            )

        if commit_mode == "overwrite":
            accepted_df, registry_df = survivors_against(try_read_parquet(spark, registry_path))
            commit_batch_partition(accepted_df, accepted_path, run, batch_id)
            commit_batch_partition(registry_df, registry_path, run, batch_id, "_fp_bucket")
            return
        # looked up per batch, so a race test can interpose on the commit
        from sec_dl_spark.streaming.atomic import (
            atomic_commit_outputs,
            current_version,
            is_committed,
            read_committed,
        )

        if is_committed(spark, registry_path, run, batch_id):
            return  # replayed batch already published — nothing to redo
        # optimistic concurrency: validate against the log snapshot,
        # CAS-commit at snapshot+1, recompute on interference
        for _ in range(10):
            base_v = current_version(spark, registry_path)
            accepted_df, registry_df = survivors_against(
                read_committed(spark, registry_path, "registry")
            )
            if atomic_commit_outputs(
                {
                    "accepted": (accepted_df, accepted_path),
                    "registry": (registry_df, registry_path),
                },
                registry_path,
                run,
                batch_id,
                partition_by={"registry": ["_fp_bucket"]},
                expected_version=base_v,
            ):
                return
            if is_committed(spark, registry_path, run, batch_id):
                return  # a twin writer published this very batch
        raise RuntimeError(
            f"batch {batch_id} of run {run!r} lost 10 admission races at "
            f"{registry_path!r} — pathological writer contention"
        )

    return foreach_batch_sink(docs_stream, on_batch, checkpoint_dir)
