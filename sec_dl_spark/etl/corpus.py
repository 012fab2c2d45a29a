"""End-to-end training-corpus build: clean → quality-filter → exact dedup →
near-dedup → leakage-free split → sequence packing, composed from the
engine's operators into one job with funnel telemetry.

This is the "a user of the reference could run their whole pipeline here"
surface for the LLM-data extensions (SURVEY.md §2.11): every stage is one
of the already-oracled/benched operators, chained so each stage consumes
the prior stage's survivors. Scale shape: per stage the only shuffles are
the ones the operators themselves need (fingerprint groupBy, band-hash
join, 16-group rollup); document TEXT flows straight from the scan to the
final partitioned write — dedup decisions travel as (doc_id) keep-lists
joined back semi-style, so the wide column never rides a dedup shuffle.

Funnel counts are driver-side scalars (one count() per stage boundary —
bounded, observability-grade actions, not data movement).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sec_dl_spark.functions import analysis as A
from sec_dl_spark.functions.text import clean_filing_text, tokenize
from sec_dl_spark.operators import dedup
from sec_dl_spark.operators.grouped import pack_sequences
from sec_dl_spark.operators.layout import compact_small_files
from sec_dl_spark.sinks.compact import compact_parquet
from sec_dl_spark.session import spread


def assign_split(text_col) -> "F.Column":
    """train/val/test by the first hex nibble of the canonical-content
    fingerprint (12/2/2 of 16) — duplicates and re-crawls always co-land,
    so train text can never leak into eval (same rule as the
    corpus_split_assign catalog query)."""
    hx = F.substring(A.fingerprint_of(tokenize(text_col)), 1, 1)
    return (
        F.when(hx.between("0", "9") | hx.isin("a", "b"), "train")
        .when(hx.isin("c", "d"), "val")
        .otherwise("test")
    )


# Registry partition buckets: enough for pruning to matter, few enough
# that fixture-scale writes stay cheap. At 100 TB this is a config knob
# (more buckets = finer delta pruning, more small files between compactions).
_REG_BUCKETS = 16


def build_corpus(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    *,
    min_quality: float = 0.25,
    near_dup_threshold: float = 0.7,
    num_hashes: int = 32,
    seq_budget: int = 512,
    compact_target_bytes: int | None = None,
    strip_boilerplate_min_df: int | None = None,
    write_registry: bool = True,
) -> dict:
    """Run the full corpus pipeline over ``src_dir``/documents.parquet and
    write ``out_dir``/documents (partitioned by split) plus
    ``out_dir``/sequences (the packed-sequence map). Returns the funnel:
    raw → cleaned-nonempty → quality → exact-unique → near-unique, plus
    per-split counts and sequence totals.

    ``strip_boilerplate_min_df`` (off by default) inserts the CCNet-style
    passage-boilerplate strip between near-dedup and splitting: 8-token
    tiles recurring in ≥ that many surviving documents are removed and
    each document is rebuilt from its remaining passages
    (operators/dedup.py:strip_boilerplate_passages). It runs AFTER dedup
    on purpose — dedup keeps whole documents, and this stage cleans the
    repeated headers/footers dedup cannot reach; docs stripped to nothing
    drop out of the corpus."""
    raw = spark.read.parquet(f"{src_dir}/documents.parquet")
    n_raw = raw.count()

    # 1. clean + retokenize; drop docs that clean to nothing
    cleaned = (
        spread(raw)
        .withColumn("text", clean_filing_text(F.col("text")))
        .withColumn("toks", tokenize(F.col("text")))
        .where(F.size("toks") > 0)
        .withColumn("n_chars", F.length("text"))
    )

    # 2. quality gate (length/punct/stopword composite, row-local)
    quality = cleaned.where(
        A.quality_score_of(F.col("toks"), F.col("text")) >= F.lit(min_quality)
    )
    # one narrow cache feeds every downstream stage: (id, text, meta, toks)
    quality = quality.cache()
    n_quality = quality.count()

    # 3. exact dedup, quality-aware: keep the longest copy per fingerprint
    from pyspark.sql.window import Window

    fp = quality.select(
        "doc_id", "n_chars", A.fingerprint_of(F.col("toks")).alias("_fp")
    )
    wr = Window.partitionBy("_fp").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    exact_keep = (
        fp.withColumn("_rn", F.row_number().over(wr)).where(F.col("_rn") == 1)
        .select("doc_id")
    )
    exact = quality.join(exact_keep, "doc_id", "left_semi")
    n_exact = exact.count()

    # 4. near-dedup: MinHash/LSH candidates → connected components → keep
    #    the min-id representative per cluster. Non-clustered docs have no
    #    pair, so they survive by anti-join.
    pairs = dedup.minhash_lsh_pairs(
        exact, num_hashes=num_hashes, jaccard_threshold=near_dup_threshold
    )
    clusters = dedup.duplicate_clusters(pairs)
    drops = clusters.where(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    near = exact.join(drops, "doc_id", "left_anti")
    n_near = near.count()

    # 4b. optional cross-document boilerplate strip (see docstring): text
    #     and its derived columns are REBUILT, so every later stage (split
    #     hash, sequence packing, registry fingerprint) sees clean content
    n_boiler_touched = None
    if strip_boilerplate_min_df:
        stripped = dedup.strip_boilerplate_passages(
            near.select("doc_id", "toks"), min_df=strip_boilerplate_min_df
        )
        n_boiler_touched = stripped.where(F.col("n_removed") > 0).count()
        near = (
            near.drop("text", "toks", "n_chars")
            .join(stripped.select("doc_id", F.col("clean_text").alias("text")), "doc_id")
            .withColumn("toks", tokenize(F.col("text")))
            .where(F.size("toks") > 0)
            .withColumn("n_chars", F.length("text"))
        )
        n_near = near.count()

    # 5. leakage-free split on the SURVIVOR's canonical content
    final = near.withColumn("split", assign_split(F.col("text")))

    # 5b. fingerprint registry sidecar: (fp, canonical_id, batch) for every
    #     survivor, bucket-partitioned so later delta appends prune their
    #     anti-join to the buckets the delta's fingerprints hash into —
    #     append_corpus dedups against THIS table in O(delta + registry),
    #     never rescanning the corpus text (same sidecar discipline as the
    #     streaming registry, streaming/dedup.py)
    #     ``write_registry=False`` skips the sidecar (a build that will
    #     never take delta appends, or a bench arm pricing the build
    #     alone — the sidecar is a real extra write job, priced as its
    #     own feature, not hidden in the e2e number)
    reg_out = f"{out_dir}/registry"
    if write_registry:
        (
            final.select(
                A.fingerprint_of(F.col("toks")).alias("fp"),
                F.col("doc_id").alias("canonical_id"),
                F.lit("initial").alias("batch"),
            )
            .withColumn("fp_bucket", A.hash_bucket(F.col("fp"), _REG_BUCKETS))
            .write.mode("overwrite")
            .partitionBy("fp_bucket")
            .parquet(reg_out)
        )

    # 6. write documents partitioned by split (partition pruning for the
    #    train/val/test consumers), then pack sequences per (split, source)
    docs_out = f"{out_dir}/documents"
    (
        final.select("doc_id", "text", "lang", "source", "n_chars", "split")
        .write.mode("overwrite")
        .partitionBy("split")
        .parquet(docs_out)
    )

    persisted = spark.read.parquet(docs_out)
    counts = persisted.select(
        "split",
        "source",
        "doc_id",
        F.size(tokenize(F.col("text"))).cast("long").alias("n_tokens"),
    )
    seqs = (
        counts.withColumn("source", F.concat_ws("/", "split", "source"))
        .select("source", "doc_id", "n_tokens")
        .transform(lambda df: pack_sequences(df, budget=seq_budget))
    )
    seq_out = f"{out_dir}/sequences"
    seqs.write.mode("overwrite").parquet(seq_out)

    split_counts = {
        r.split: r.n for r in persisted.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    n_sequences = (
        spark.read.parquet(seq_out).agg(F.count_distinct("source", "seq_id")).first()[0]
    )

    compaction = None
    if compact_target_bytes:
        # documents is PARTITIONED BY split — it must compact through the
        # partition-preserving form (compact_parquet), or the split=...
        # directories would be flattened and the partition pruning promised
        # to train/val/test consumers silently lost. The flat compactor is
        # only for the unpartitioned sequences output.
        docs_c = compact_parquet(
            spark, docs_out, ["split"], target_file_bytes=compact_target_bytes
        )
        seqs_c = compact_small_files(spark, seq_out, compact_target_bytes)
        compaction = {
            "documents": {
                "rewritten": docs_c["files_after"] != docs_c["files_before"],
                "files": docs_c["files_after"],
            },
            "sequences": {
                "rewritten": seqs_c["rewritten"],
                "files": seqs_c["after"]["n_files"],
            },
        }

    quality.unpersist()
    return {
        "n_raw": n_raw,
        "n_quality": n_quality,
        "n_exact_unique": n_exact,
        "n_near_unique": n_near,
        "n_boilerplate_touched": n_boiler_touched,
        "splits": split_counts,
        "n_sequences": n_sequences,
        "documents_path": docs_out,
        "sequences_path": seq_out,
        "registry_path": reg_out if write_registry else None,
        "compaction": compaction,
    }


def append_corpus(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    *,
    batch: str,
    min_quality: float = 0.25,
    seq_budget: int = 512,
) -> dict:
    """Incremental delta append to a ``build_corpus`` output: prep the new
    batch with the SAME stateless stages (clean → quality gate → in-batch
    keep-best exact dedup), reject anything whose content fingerprint is
    already in the corpus via an anti-join against the registry sidecar,
    then APPEND the novel docs to ``out_dir``/documents (per-split
    partition append), their packed sequences to ``out_dir``/sequences
    (sequence sources namespaced ``<batch>/<split>/<source>`` so seq_ids
    never collide with prior batches), and their fingerprints to the
    registry.

    Scale shape: cost is O(delta + registry-join), never O(corpus) — the
    existing documents' TEXT is not read at all; dedup state lives in the
    fingerprint sidecar exactly like the streaming gate's registry
    (streaming/dedup.py). The anti-join keys on the fingerprint, so only
    hashes shuffle.

    Idempotent per ``batch`` token: a rerun whose token already appears in
    the registry is a NO-OP (returns skipped=True) — the single-writer
    batch twin of the streaming sink's (run, batch) replay guard. For
    concurrent writers or crash-exactly-between-appends guarantees, use
    streaming/dedup.py:incremental_dedup_sink's atomic/OCC mode instead;
    plain appends cannot be transactional across three directories.

    Near-dedup note: the delta gate is EXACT dedup (the registry holds
    fingerprints). Cross-batch near-dedup composes the same way the
    streaming gates chain: run minhash/winnow gates on the accepted
    output, or periodically re-run build_corpus as a compaction pass.

    Returns the delta funnel: raw → prepped → in-batch-unique → novel,
    plus per-split appended counts."""
    docs_out = f"{out_dir}/documents"
    seq_out = f"{out_dir}/sequences"
    reg_out = f"{out_dir}/registry"
    registry = spark.read.parquet(reg_out)
    if registry.where(F.col("batch") == batch).limit(1).count() > 0:
        return {"skipped": True, "batch": batch}

    raw = spark.read.parquet(f"{src_dir}/documents.parquet")
    n_raw = raw.count()
    prepped = (
        spread(raw)
        .withColumn("text", clean_filing_text(F.col("text")))
        .withColumn("toks", tokenize(F.col("text")))
        .where(F.size("toks") > 0)
        .withColumn("n_chars", F.length("text"))
        .where(A.quality_score_of(F.col("toks"), F.col("text")) >= F.lit(min_quality))
        .withColumn("fp", A.fingerprint_of(F.col("toks")))
        .cache()
    )
    n_prepped = prepped.count()

    from pyspark.sql.window import Window

    wr = Window.partitionBy("fp").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    in_batch = (
        prepped.withColumn("_rn", F.row_number().over(wr))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    n_in_batch = in_batch.count()

    # anti-join keyed by (bucket, fp): only hashes shuffle, and the bucket
    # key keeps the layout ready for bucket-pruned registry serving
    novel = in_batch.withColumn(
        "fp_bucket", A.hash_bucket(F.col("fp"), _REG_BUCKETS)
    ).join(
        registry.select("fp", "fp_bucket"), ["fp_bucket", "fp"], "left_anti"
    )
    final = novel.withColumn("split", assign_split(F.col("text"))).cache()
    n_novel = final.count()

    (
        final.select("doc_id", "text", "lang", "source", "n_chars", "split")
        .write.mode("append")
        .partitionBy("split")
        .parquet(docs_out)
    )
    counts = final.select(
        F.concat_ws("/", F.lit(batch), "split", "source").alias("source"),
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
    )
    counts.transform(lambda df: pack_sequences(df, budget=seq_budget)).write.mode(
        "append"
    ).parquet(seq_out)
    (
        final.select(
            "fp",
            F.col("doc_id").alias("canonical_id"),
            F.lit(batch).alias("batch"),
            "fp_bucket",
        )
        .write.mode("append")
        .partitionBy("fp_bucket")
        .parquet(reg_out)
    )
    splits = {
        r.split: r.n
        for r in final.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    prepped.unpersist()
    final.unpersist()
    return {
        "skipped": False,
        "batch": batch,
        "n_raw": n_raw,
        "n_prepped": n_prepped,
        "n_in_batch_unique": n_in_batch,
        "n_novel": n_novel,
        "splits": splits,
        "documents_path": docs_out,
        "sequences_path": seq_out,
        "registry_path": reg_out,
    }
