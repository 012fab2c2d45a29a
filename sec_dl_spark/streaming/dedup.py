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


def _commit_gated_batch(
    batch_df: DataFrame,
    batch_id: int,
    run: str,
    accepted_path: str,
    registry_path: str,
    commit_mode: str,
    id_col: str,
    survivors_against,
    registry_partition_cols: list[str],
) -> None:
    """Shared commit driver for every cross-batch dedup gate.

    ``survivors_against(seen_registry)`` computes this batch's verdicts
    against a historical registry frame (or None) and returns
    (accepted_df, registry_df). ``commit_mode="overwrite"`` runs the
    idempotent dynamic-partition-overwrite pair; ``"atomic"`` runs the
    Delta-style optimistic-concurrency loop — validate against the log
    snapshot, CAS-commit both outputs as ONE manifest at snapshot+1,
    recompute on interference — so admission is serializable across
    concurrent logical runs for EVERY gate, not just the exact one."""
    from sec_dl_spark.streaming.atomic import (
        atomic_commit_outputs,
        current_version,
        is_committed,
        read_committed,
    )

    spark = batch_df.sparkSession
    if commit_mode == "atomic":
        # The marker check runs BEFORE the already-committed short-circuit:
        # a wiped-checkpoint replay over a CHANGED source must fail fast in
        # atomic mode too, not silently no-op past every committed batch and
        # drop the new source's data (the replay contract commit.py
        # documents as enforced). The check is idempotent per (run, batch).
        check_source_marker(batch_df, registry_path, run, batch_id, id_col)
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
                partition_by={"registry": registry_partition_cols},
                expected_version=base_v,
            ):
                return
            if is_committed(spark, registry_path, run, batch_id):
                return  # a twin writer published this very batch
        raise RuntimeError(
            f"batch {batch_id} of run {run!r} lost 10 admission races at "
            f"{registry_path!r} — pathological writer contention"
        )
    check_source_marker(batch_df, registry_path, run, batch_id, id_col)
    accepted_df, registry_df = survivors_against(try_read_parquet(spark, registry_path))
    commit_batch_partition(accepted_df, accepted_path, run, batch_id)
    commit_batch_partition(
        registry_df, registry_path, run, batch_id, *registry_partition_cols
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

        _commit_gated_batch(
            batch_df, batch_id, run, accepted_path, registry_path,
            commit_mode, id_col, survivors_against, ["_fp_bucket"],
        )

    return foreach_batch_sink(docs_stream, on_batch, checkpoint_dir)


def incremental_minhash_dedup_sink(
    docs_stream: DataFrame,
    accepted_path: str,
    registry_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 32,
    rows_per_band: int = 4,
    commit_mode: str = "overwrite",
):
    """Streaming NEAR-dup gate: drop an arriving document if it shares any
    MinHash LSH band with anything already accepted (or with a smaller-id
    document in its own batch). The registry persists (band, band_hash)
    keys — a few longs per accepted doc, never shingles or text — and is
    partitioned by band so the per-batch join prunes to 1/b of the
    registry per band key.

    Greedy by construction, like every streaming dedup: a doc judged
    near-dup of an already-dropped doc still drops (transitive chains
    collapse to the earliest-accepted member). With r rows per band and
    b bands, the accept threshold follows the LSH S-curve
    P[drop] = 1 − (1 − j^r)^b (r=4, b=8 centers near jaccard 0.6).
    ``commit_mode`` as in incremental_dedup_sink — "atomic" gives the
    CAS/OCC admission loop."""
    if commit_mode not in ("overwrite", "atomic"):
        raise ValueError(f"unknown commit_mode {commit_mode!r}")
    from sec_dl_spark.operators.dedup import minhash_band_keys, minhash_signatures

    run = run_token(checkpoint_dir)

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        bands = minhash_band_keys(
            minhash_signatures(batch_df, id_col=id_col, text_col=text_col, num_perm=num_perm),
            rows_per_band=rows_per_band,
        ).localCheckpoint(eager=True)
        # in-batch: a doc collides if a SMALLER doc_id shares a band key
        smaller = bands.select(
            F.col("band"), F.col("band_hash"), F.col("doc_id").alias("other_id")
        )
        in_batch_dups = (
            bands.join(smaller, ["band", "band_hash"])
            .where(F.col("other_id") < F.col("doc_id"))
            .select("doc_id")
            .distinct()
        )

        def survivors_against(seen):
            dup_ids = in_batch_dups
            if seen is not None:
                seen2 = seen.where(not_own_batch(run, batch_id))
                hist_dups = (
                    bands.join(seen2, ["band", "band_hash"], "left_semi")
                    .select("doc_id")
                    .distinct()
                )
                dup_ids = dup_ids.unionByName(hist_dups).distinct()
            survivors = batch_df.join(
                dup_ids, batch_df[id_col] == dup_ids["doc_id"], "left_anti"
            ).localCheckpoint(eager=True)
            registry_df = bands.join(
                survivors.select(F.col(id_col).alias("doc_id")), "doc_id", "left_semi"
            )
            return survivors, registry_df

        _commit_gated_batch(
            batch_df, batch_id, run, accepted_path, registry_path,
            commit_mode, id_col, survivors_against, ["band"],
        )

    return foreach_batch_sink(docs_stream, on_batch, checkpoint_dir)


def incremental_winnow_dedup_sink(
    docs_stream: DataFrame,
    accepted_path: str,
    registry_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    window: int = 4,
    min_shared: int = 2,
    commit_mode: str = "overwrite",
):
    """Streaming PARTIAL-OVERLAP gate: drop an arriving document if it
    shares >= ``min_shared`` winnowing fingerprints with anything already
    accepted (or with a smaller-id document in its own batch) — catches
    quotes/copied passages that neither the exact-fingerprint sink nor
    the whole-document MinHash gate can see (winnowing guarantees a
    shared fingerprint for any common token run of length >= window+k-1).

    Registry rows are (fp_bucket, fp_hash, doc_id) — a few longs per
    selected fingerprint, never text — partitioned by fingerprint bucket
    so the per-batch semi-join prunes. ``commit_mode`` as in
    incremental_dedup_sink — "atomic" gives the CAS/OCC admission loop.
    """
    if commit_mode not in ("overwrite", "atomic"):
        raise ValueError(f"unknown commit_mode {commit_mode!r}")
    from sec_dl_spark.operators.dedup import winnow_fingerprints

    run = run_token(checkpoint_dir)

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        fps = (
            winnow_fingerprints(
                batch_df, id_col=id_col, text_col=text_col, k=k, window=window
            )
            .select("doc_id", "fp_hash")
            .distinct()
            .withColumn("fp_bucket", F.abs(F.col("fp_hash")) % REGISTRY_PREFIX_BUCKETS)
            .localCheckpoint(eager=True)
        )
        # min_shared counts fingerprints shared WITH ONE other document
        # (the winnow_overlap_pairs contract) — a union-level count would
        # drop a doc for two coincidental single-fingerprint collisions
        # with two different documents.
        smaller = fps.select(
            "fp_bucket", "fp_hash", F.col("doc_id").alias("other_id")
        )
        in_batch_dups = (
            fps.join(smaller, ["fp_bucket", "fp_hash"])
            .where(F.col("other_id") < F.col("doc_id"))
            .groupBy("doc_id", "other_id")
            .agg(F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") >= min_shared)
            .select("doc_id")
            .distinct()
        )
        def survivors_against(seen):
            dup_ids = in_batch_dups
            if seen is not None:
                # (fp_bucket, fp_hash) join key keeps the shuffle co-located
                # with the registry's bucket partitioning; registry rows are
                # unique per (doc, fingerprint) by construction, so the pair
                # count needs no distinct on either side.
                seen2 = seen.where(not_own_batch(run, batch_id)).select(
                    "fp_bucket", "fp_hash", F.col("doc_id").alias("other_id")
                )
                hist_dups = (
                    fps.join(seen2, ["fp_bucket", "fp_hash"])
                    .groupBy("doc_id", "other_id")
                    .agg(F.count(F.lit(1)).alias("_n"))
                    .where(F.col("_n") >= min_shared)
                    .select("doc_id")
                    .distinct()
                )
                dup_ids = dup_ids.unionByName(hist_dups).distinct()
            survivors = batch_df.join(
                dup_ids, batch_df[id_col] == dup_ids["doc_id"], "left_anti"
            ).localCheckpoint(eager=True)
            registry_df = fps.join(
                survivors.select(F.col(id_col).alias("doc_id")), "doc_id", "left_semi"
            )
            return survivors, registry_df

        _commit_gated_batch(
            batch_df, batch_id, run, accepted_path, registry_path,
            commit_mode, id_col, survivors_against, ["fp_bucket"],
        )

    return foreach_batch_sink(docs_stream, on_batch, checkpoint_dir)


def incremental_semantic_dedup_sink(
    vectors_stream: DataFrame,
    accepted_path: str,
    registry_path: str,
    checkpoint_dir: str,
    centroids: list,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    commit_mode: str = "overwrite",
):
    """Streaming SemDeDup gate: drop an arriving vector if something
    already accepted (or a smaller-id vector in its own batch) in the
    SAME coarse cell has cosine >= ``threshold`` — the online form of
    operators/similarity.semantic_dedup, completing the cross-batch gate
    family (exact fingerprint / MinHash / winnow / semantic).

    ``centroids`` is a FROZEN coarse quantizer (train offline with
    _coarse_cells or reuse a persisted IVF-PQ index's meta — the same
    add()-with-frozen-model discipline as incremental_ann_index_sink),
    so cell assignment is one Arrow matmul per batch and the candidate
    join is cell-keyed: the pair space is batch × registry co-occupancy
    per cell, never batch × corpus. The registry persists (cell, id,
    embedding) of ACCEPTED vectors only — at 100 TB store int8/PQ codes
    there and rerank the few candidates, same layout as the ANN stack.
    ``commit_mode`` as in incremental_dedup_sink — "atomic" gives the
    CAS/OCC admission loop; the default is the idempotent (run, batch)
    dynamic-overwrite commit, partitioned by cell for pruned reads."""
    if commit_mode not in ("overwrite", "atomic"):
        raise ValueError(f"unknown commit_mode {commit_mode!r}")
    from sec_dl_spark.operators.similarity import assign_cells, cosine

    run = run_token(checkpoint_dir)

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        assigned = assign_cells(batch_df, centroids, id_col, vec_col).localCheckpoint(
            eager=True
        )
        left = assigned.select(
            "cell", F.col(id_col).alias("_id"), F.col(vec_col).alias("_va")
        )
        # in-batch: smaller id in the same cell within threshold wins
        right = assigned.select(
            "cell", F.col(id_col).alias("_other"), F.col(vec_col).alias("_vb")
        )
        in_batch = (
            left.join(right, "cell")
            .where(F.col("_other") < F.col("_id"))
            .where(cosine(F.col("_va"), F.col("_vb")) >= F.lit(threshold))
            .select(F.col("_id"))
            .distinct()
        )

        def survivors_against(seen):
            dup_ids = in_batch
            if seen is not None:
                seen2 = seen.where(not_own_batch(run, batch_id)).select(
                    "cell", F.col(vec_col).alias("_vb")
                )
                hist = (
                    left.join(seen2, "cell")
                    .where(cosine(F.col("_va"), F.col("_vb")) >= F.lit(threshold))
                    .select(F.col("_id"))
                    .distinct()
                )
                dup_ids = dup_ids.unionByName(hist).distinct()
            survivors = assigned.join(
                dup_ids, assigned[id_col] == dup_ids["_id"], "left_anti"
            ).localCheckpoint(eager=True)
            return (
                survivors.drop("cell"),
                survivors.select("cell", id_col, vec_col),
            )

        _commit_gated_batch(
            batch_df, batch_id, run, accepted_path, registry_path,
            commit_mode, id_col, survivors_against, ["cell"],
        )

    return foreach_batch_sink(vectors_stream, on_batch, checkpoint_dir)
