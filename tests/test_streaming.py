"""Streaming sinks over real readStream sources — the foreachBatch
starter, compaction, the cross-batch dedup gate in both commit modes, the
atomic manifest log, the incremental FTS index and HLL partials — each
checked against the equivalent batch computation."""

import os

import pytest
from pyspark.sql import functions as F

from sec_dl_spark.sources.fixtures import load_table


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    # Stage the fixture as a file-source directory (2 files → 2 batches with
    # maxFilesPerTrigger=1); µs-truncated ts via the fixture loader.
    d = str(tmp_path_factory.mktemp("events_src"))
    load_table(spark, "/root/testdata/sf0.001", "events").repartition(2).write.mode(
        "overwrite"
    ).parquet(d)
    return d


def test_foreach_batch_sink(spark, events_dir, tmp_path):
    from sec_dl_spark.streaming.commit import foreach_batch_sink

    seen = []

    def collect_batch(df, batch_id):
        seen.append((batch_id, df.count()))

    stream = (
        spark.readStream.schema(spark.read.parquet(events_dir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
    )
    q = foreach_batch_sink(stream, collect_batch, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert sum(n for _, n in seen) == spark.read.parquet(events_dir).count()
    assert len(seen) >= 2  # maxFilesPerTrigger=1 over 2 files


def test_compaction_preserves_data_and_reduces_files(spark, tmp_path):
    from sec_dl_spark.sinks.compact import compact_parquet

    src = load_table(spark, "/root/testdata/sf0.001", "events")
    path = str(tmp_path / "events_lake")
    # simulate many small micro-batch appends
    for i in range(5):
        src.withColumn("part", F.col("event_id") % 2).repartition(8).write.mode(
            "append"
        ).partitionBy("part").parquet(path)
    before_rows = spark.read.parquet(path).count()
    stats = compact_parquet(spark, path, ["part"])
    assert stats["files_after"] < stats["files_before"]
    after = spark.read.parquet(path)
    assert after.count() == before_rows
    assert "part" in after.columns


def test_incremental_dedup_across_batches(spark, tmp_path_factory):
    """Historical exact dedup: a later micro-batch must not re-admit
    content an earlier batch (or an earlier RUN) already accepted —
    in-batch dups collapse to the smallest doc_id, cross-batch dups are
    dropped via the persisted fingerprint registry."""
    import pyspark.sql.types as T

    from sec_dl_spark.streaming.dedup import incremental_dedup_sink

    src = tmp_path_factory.mktemp("dedup_stream")
    accepted = str(tmp_path_factory.mktemp("dedup_out") / "accepted")
    registry = str(tmp_path_factory.mktemp("dedup_reg") / "registry")
    ckpt = str(tmp_path_factory.mktemp("dedup_ckpt"))

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    # file-per-batch: maxFilesPerTrigger=1 replays them in name order
    b1 = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon"), (3, "Alpha, beta GAMMA!")],
        schema,
    )  # 3 is a canonical-form dup of 1 → in-batch collapse keeps 1
    b2 = spark.createDataFrame(
        [(10, "delta epsilon"), (11, "fresh content here"), (12, "fresh content here")],
        schema,
    )  # 10 duplicates batch-1's doc 2; 12 duplicates 11 in-batch
    b1.coalesce(1).write.mode("overwrite").parquet(f"{src}/b=1")
    b2.coalesce(1).write.mode("overwrite").parquet(f"{src}/b=2")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/b=*")
    )
    q = incremental_dedup_sink(stream, accepted, registry, ckpt)
    q.awaitTermination(120)

    kept = {r["doc_id"] for r in spark.read.parquet(accepted).collect()}
    assert kept == {1, 2, 11}
    reg = spark.read.parquet(registry)
    assert reg.count() == 3  # one fingerprint per distinct content
    assert {r["canonical_id"] for r in reg.collect()} == {1, 2, 11}


def test_incremental_dedup_batch_retry_is_idempotent(spark, tmp_path_factory):
    """A foreachBatch retry AFTER the registry append must neither duplicate
    rows in the accepted sink nor judge its own documents historical
    duplicates of themselves. Simulated by wiping the checkpoint (same path
    → same run token, batch ids replay from 0) while keeping both sinks —
    the replayed batch dynamically overwrites its own (run, batch)
    partitions instead of appending beside them."""
    import shutil

    import pyspark.sql.types as T

    from sec_dl_spark.streaming.dedup import incremental_dedup_sink

    src = tmp_path_factory.mktemp("retry_src")
    accepted = str(tmp_path_factory.mktemp("retry_out") / "accepted")
    registry = str(tmp_path_factory.mktemp("retry_reg") / "registry")
    ckpt = str(tmp_path_factory.mktemp("retry_ckpt") / "ckpt")

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    spark.createDataFrame(
        [(1, "alpha beta"), (2, "wholly unrelated text")], schema
    ).coalesce(1).write.mode("overwrite").parquet(f"{src}/b")

    def run_once():
        stream = spark.readStream.schema(schema).parquet(f"{src}/b")
        incremental_dedup_sink(stream, accepted, registry, ckpt).awaitTermination(120)

    run_once()
    first = sorted(
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(accepted).select("doc_id", "text").collect()
    )
    shutil.rmtree(ckpt)  # replay batch 0 against already-written sinks
    run_once()
    again = sorted(
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(accepted).select("doc_id", "text").collect()
    )
    assert first == again == [(1, "alpha beta"), (2, "wholly unrelated text")]
    assert spark.read.parquet(registry).count() == 2


def test_incremental_index_stats_and_replay_idempotency(spark, tmp_path_factory):
    """The incremental index's sidecar partials rehydrate CorpusStats that
    rank exactly like the stats-free computation over the full postings,
    and a replayed batch (wiped checkpoint, same sinks) commits over its
    own earlier output instead of duplicating postings/partials."""
    import shutil

    import pyspark.sql.types as T

    from sec_dl_spark.operators.fts import build_inverted_index, read_index, search_bm25
    from sec_dl_spark.streaming.index import incremental_index_sink

    src = tmp_path_factory.mktemp("inc2_src")
    idx = str(tmp_path_factory.mktemp("inc2_index") / "postings")
    ckpt = str(tmp_path_factory.mktemp("inc2_ckpt") / "ckpt")

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    docs.repartition(2).write.mode("overwrite").parquet(str(src))
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        incremental_index_sink(stream, idx, ckpt, buckets=8).awaitTermination(120)

    run_once()
    served, stats = read_index(spark, idx)
    assert stats is not None
    live = build_inverted_index(docs)
    terms = ["spark", "sort", "vector"]
    with_stats = [
        tuple(r) for r in search_bm25(served, terms, k=10, stats=stats).collect()
    ]
    without = [tuple(r) for r in search_bm25(live, terms, k=10).collect()]
    assert with_stats == without and len(with_stats) > 0

    n_postings = served.count()
    shutil.rmtree(ckpt)  # replay every batch against the already-written sinks
    run_once()
    served2, stats2 = read_index(spark, idx)
    assert served2.count() == n_postings  # no duplicated postings
    assert stats2.n_docs == stats.n_docs
    assert abs(stats2.avgdl - stats.avgdl) < 1e-9


def test_source_marker_blocks_wiped_checkpoint_over_changed_source(
    spark, tmp_path_factory
):
    """The replay contract is ENFORCED, not just documented: wiping a
    checkpoint and re-running the same sink paths against a CHANGED source
    reuses the old run token, which would silently leave the old run's
    stale partitions beside the new output — the batch-0 source
    fingerprint marker turns that into a fail-fast error. An unchanged
    source replays cleanly (covered by the retry-idempotency test)."""
    import shutil

    import pyspark.sql.types as T

    from sec_dl_spark.streaming.commit import run_token
    from sec_dl_spark.streaming.dedup import incremental_dedup_sink

    # the 'r' prefix keeps run tokens non-numeric for partition inference
    assert run_token("any/ckpt/path").startswith("r")

    src = tmp_path_factory.mktemp("marker_src")
    accepted = str(tmp_path_factory.mktemp("marker_out") / "accepted")
    registry = str(tmp_path_factory.mktemp("marker_reg") / "registry")
    ckpt = str(tmp_path_factory.mktemp("marker_ckpt") / "ckpt")

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )

    def run_once():
        stream = spark.readStream.schema(schema).parquet(f"{src}/b")
        incremental_dedup_sink(stream, accepted, registry, ckpt).awaitTermination(120)

    spark.createDataFrame(
        [(1, "alpha beta"), (2, "unrelated words")], schema
    ).coalesce(1).write.mode("overwrite").parquet(f"{src}/b")
    run_once()

    shutil.rmtree(ckpt)  # wipe the checkpoint AND change the source
    spark.createDataFrame(
        [(7, "completely different"), (8, "new corpus"), (9, "extra doc")], schema
    ).coalesce(1).write.mode("overwrite").parquet(f"{src}/b")
    with pytest.raises(Exception, match="CHANGED"):
        run_once()


def test_source_marker_catches_divergence_after_batch_zero(
    spark, tmp_path_factory
):
    """A re-pointed source whose batch 0 happens to be IDENTICAL but whose
    later batches diverge must still fail fast — the marker keeps one
    fingerprint row per (run, batch), not just batch 0 (VERDICT r4
    'What's wrong' #1)."""
    import shutil

    import pyspark.sql.types as T

    from sec_dl_spark.streaming.dedup import incremental_dedup_sink

    src = tmp_path_factory.mktemp("tail_src")
    accepted = str(tmp_path_factory.mktemp("tail_out") / "accepted")
    registry = str(tmp_path_factory.mktemp("tail_reg") / "registry")
    ckpt = str(tmp_path_factory.mktemp("tail_ckpt") / "ckpt")

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )

    def write_file(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/b/{name}")

    def run_once():
        # file-per-batch: maxFilesPerTrigger=1 replays them in name order,
        # so f0 is always batch 0 and f1 always batch 1
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/b/*")
        )
        incremental_dedup_sink(stream, accepted, registry, ckpt).awaitTermination(120)

    write_file("f0", [(1, "alpha beta")])
    write_file("f1", [(2, "unrelated words")])
    run_once()

    shutil.rmtree(ckpt)  # wipe checkpoint; batch 0 unchanged, batch 1 diverges
    write_file("f1", [(9, "a different tail")])
    with pytest.raises(Exception, match="CHANGED"):
        run_once()


def test_atomic_mode_replay_over_changed_source_fails_fast(
    spark, tmp_path_factory
):
    """In atomic commit_mode the source-marker check must run BEFORE the
    already-committed short-circuit: a wiped-checkpoint replay over a
    CHANGED source would otherwise silently no-op for every committed
    batch and drop the new source's data — the hazard must surface as an
    error in BOTH commit modes, not just overwrite (ADVICE r5 #2)."""
    import shutil

    import pyspark.sql.types as T

    from sec_dl_spark.streaming.dedup import incremental_dedup_sink

    src = tmp_path_factory.mktemp("at_replay_src")
    accepted = str(tmp_path_factory.mktemp("at_replay_out") / "accepted")
    registry = str(tmp_path_factory.mktemp("at_replay_reg") / "registry")
    ckpt = str(tmp_path_factory.mktemp("at_replay_ckpt") / "ckpt")

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )

    def write_file(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/b/{name}")

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/b/*")
        )
        incremental_dedup_sink(
            stream, accepted, registry, ckpt, commit_mode="atomic"
        ).awaitTermination(120)

    write_file("f0", [(1, "alpha beta")])
    run_once()

    shutil.rmtree(ckpt)  # wipe checkpoint; re-point batch 0 at NEW content
    write_file("f0", [(9, "entirely different doc")])
    with pytest.raises(Exception, match="CHANGED"):
        run_once()


def test_atomic_commit_two_interleaved_writers(spark, tmp_path_factory):
    """The rename-based manifest log makes concurrent writers a non-event
    (the r3/r4 carried design note): both writers fully stage their data,
    then race the manifest rename — exactly one (run, batch) commit wins,
    the loser's staging output is withdrawn, and a reader sees one
    writer's rows in full, never a torn mix."""
    from sec_dl_spark.streaming.atomic import (
        atomic_commit_outputs,
        is_committed,
        read_committed,
    )

    sink = str(tmp_path_factory.mktemp("atomic") / "sink")
    a = spark.range(0, 5).selectExpr("id", "'writer_a' AS src")
    b = spark.range(100, 103).selectExpr("id", "'writer_b' AS src")

    # deterministic interleave: both stage before either commits is the
    # worst case the dynamic-overwrite commit could not survive; here the
    # second rename must lose cleanly
    assert atomic_commit_outputs({"data": (a, sink)}, sink, "r1", 0) is True
    assert is_committed(spark, sink, "r1", 0)
    assert atomic_commit_outputs({"data": (b, sink)}, sink, "r1", 0) is False

    got = read_committed(spark, sink)
    rows = {(r["id"], r["src"]) for r in got.collect()}
    assert rows == {(i, "writer_a") for i in range(5)}  # all-A, no mixing
    # the loser's staging directory is withdrawn
    import os

    leftovers = [
        d for d in os.listdir(f"{sink}/_staging") if not d.startswith(".")
    ]
    assert len(leftovers) == 1  # only the winner's data dir remains


def test_atomic_commit_concurrent_threads_one_winner(spark, tmp_path_factory):
    """Truly concurrent attempts at the same (run, batch): exactly one
    rename wins and the published rows are one attempt's data in full."""
    from concurrent.futures import ThreadPoolExecutor

    from sec_dl_spark.streaming.atomic import atomic_commit_outputs, read_committed

    sink = str(tmp_path_factory.mktemp("atomic_threads") / "sink")

    def attempt(tag):
        df = spark.range(0, 4).selectExpr("id", f"'{tag}' AS src")
        return tag, atomic_commit_outputs({"data": (df, sink)}, sink, "r1", 7)

    with ThreadPoolExecutor(max_workers=4) as ex:
        results = list(ex.map(attempt, ["t0", "t1", "t2", "t3"]))
    winners = [tag for tag, won in results if won]
    assert len(winners) == 1
    got = {(r["id"], r["src"]) for r in read_committed(spark, sink).collect()}
    assert got == {(i, winners[0]) for i in range(4)}


def test_atomic_commit_reader_isolation_and_multi_batch(spark, tmp_path_factory):
    """Different (run, batch) commits coexist; a crashed attempt that
    staged data but never committed is invisible to readers."""
    from sec_dl_spark.streaming.atomic import atomic_commit_outputs, read_committed

    sink = str(tmp_path_factory.mktemp("atomic_multi") / "sink")
    assert read_committed(spark, sink) is None
    for batch_id, df in enumerate([spark.range(3), spark.range(3, 5)]):
        assert atomic_commit_outputs({"data": (df.selectExpr("id"), sink)}, sink, "r1", batch_id)
    # a crashed writer: staging landed, manifest rename never happened
    spark.range(900, 950).selectExpr("id").write.parquet(
        f"{sink}/_staging/r1-2-deadbeef0000"
    )
    got = read_committed(spark, sink)
    assert {r["id"] for r in got.collect()} == {0, 1, 2, 3, 4}
    batches = {
        (r["ingest_run"], r["ingest_batch"]) for r in got.select("ingest_run", "ingest_batch").collect()
    }
    assert batches == {("r1", 0), ("r1", 1)}


def test_atomic_log_recreated_at_same_path_reads_new_commits(spark, tmp_path_factory):
    """A log directory deleted and recreated at the same path serves the
    NEW log's commits: manifests are re-read on every scan, so the first
    log's v1.json never answers for the second's."""
    import shutil

    from sec_dl_spark.streaming.atomic import atomic_commit_outputs, read_committed

    sink = str(tmp_path_factory.mktemp("atomic_recreate") / "log")
    first = spark.range(3).selectExpr("id", "'r1' AS src")
    assert atomic_commit_outputs({"data": (first, sink)}, sink, "r1", 0)
    assert {r["src"] for r in read_committed(spark, sink).collect()} == {"r1"}

    shutil.rmtree(sink)
    second = spark.range(10, 12).selectExpr("id", "'r2' AS src")
    assert atomic_commit_outputs({"data": (second, sink)}, sink, "r2", 0)
    got = read_committed(spark, sink)
    assert {(r["id"], r["src"], r["ingest_run"]) for r in got.collect()} == {
        (10, "r2", "r2"),
        (11, "r2", "r2"),
    }


def test_atomic_dedup_sink_replay_and_zombie_commit(spark, tmp_path_factory):
    """Sink-level wiring of the atomic log: incremental_dedup_sink in
    atomic mode publishes accepted+registry through ONE manifest per
    batch, a wiped-checkpoint replay short-circuits on the existing
    commits (identical output, no rework), and a zombie writer's late
    conflicting commit for an already-published batch loses the rename —
    the corpus is byte-identical before and after."""
    import shutil

    import pyspark.sql.types as T

    from sec_dl_spark.streaming.atomic import atomic_commit_outputs, read_committed
    from sec_dl_spark.streaming.commit import run_token
    from sec_dl_spark.streaming.dedup import incremental_dedup_sink

    src = tmp_path_factory.mktemp("at_src")
    accepted = str(tmp_path_factory.mktemp("at_out") / "accepted")
    registry = str(tmp_path_factory.mktemp("at_reg") / "registry")
    ckpt = str(tmp_path_factory.mktemp("at_ckpt") / "ckpt")

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha beta"), (3, "unrelated words")], schema
    ).coalesce(1).write.mode("overwrite").parquet(f"{src}/f0")
    spark.createDataFrame(
        [(9, "alpha beta"), (10, "fresh content")], schema
    ).coalesce(1).write.mode("overwrite").parquet(f"{src}/f1")

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*")
        )
        incremental_dedup_sink(
            stream, accepted, registry, ckpt, commit_mode="atomic"
        ).awaitTermination(120)

    run_once()
    got = {
        (r["doc_id"], r["text"])
        for r in read_committed(spark, registry, "accepted").collect()
    }
    # in-batch dup (2) and historical dup (9) dropped, across batches
    assert got == {(1, "alpha beta"), (3, "unrelated words"), (10, "fresh content")}

    shutil.rmtree(ckpt)  # replay: every batch already committed → no-ops
    run_once()
    again = {
        (r["doc_id"], r["text"])
        for r in read_committed(spark, registry, "accepted").collect()
    }
    assert again == got

    # zombie writer: a late conflicting commit for batch 0 must lose
    run = run_token(ckpt)
    zombie = spark.createDataFrame([(666, "evil overwrite")], schema)
    won = atomic_commit_outputs(
        {"accepted": (zombie, accepted), "registry": (zombie.limit(0), registry)},
        registry,
        run,
        0,
    )
    assert won is False
    final = {
        (r["doc_id"], r["text"])
        for r in read_committed(spark, registry, "accepted").collect()
    }
    assert final == got


def test_atomic_cas_commit_detects_interleaved_writer(spark, tmp_path_factory):
    """expected_version turns the commit into compare-and-swap: a commit
    validated against snapshot V succeeds only as V+1, so a writer that
    raced in between forces a clean conflict (False, staging withdrawn)
    instead of publishing stale-validated data."""
    from sec_dl_spark.streaming.atomic import (
        atomic_commit_outputs,
        current_version,
        read_committed,
    )

    sink = str(tmp_path_factory.mktemp("cas") / "sink")
    base_v = current_version(spark, sink)
    assert base_v == 0

    # writer B lands first (plain commit)
    assert atomic_commit_outputs(
        {"data": (spark.range(3).selectExpr("id"), sink)}, sink, "rB", 0
    )
    # writer A validated against the empty log → its CAS must fail
    assert (
        atomic_commit_outputs(
            {"data": (spark.range(100, 103).selectExpr("id"), sink)},
            sink,
            "rA",
            0,
            expected_version=base_v,
        )
        is False
    )
    # A revalidates at the current version and succeeds
    v = current_version(spark, sink)
    assert atomic_commit_outputs(
        {"data": (spark.range(100, 103).selectExpr("id"), sink)},
        sink,
        "rA",
        0,
        expected_version=v,
    )
    got = {r["id"] for r in read_committed(spark, sink).collect()}
    assert got == {0, 1, 2, 100, 101, 102}


def test_atomic_dedup_occ_across_two_runs(spark, tmp_path_factory):
    """Two LOGICAL runs racing to admit the same content into one corpus:
    run B commits a registry row for the shared fingerprint after run A
    validated its batch but before A commits. A's CAS commit loses, its
    revalidation sees B's row, and the duplicate is dropped — exactly one
    copy of the shared text survives corpus-wide."""
    import pyspark.sql.types as T

    from sec_dl_spark.streaming import atomic as atomic_mod
    from sec_dl_spark.streaming.atomic import read_committed
    from sec_dl_spark.streaming.dedup import incremental_dedup_sink

    accepted = str(tmp_path_factory.mktemp("occ_out") / "accepted")
    registry = str(tmp_path_factory.mktemp("occ_reg") / "registry")
    src = tmp_path_factory.mktemp("occ_src")
    ckpt_a = str(tmp_path_factory.mktemp("occ_ckpt") / "a")

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    spark.createDataFrame(
        [(1, "shared passage"), (2, "unique to run a")], schema
    ).coalesce(1).write.mode("overwrite").parquet(f"{src}/a")

    # interleave run B's conflicting admission between A's validation and
    # A's first commit by intercepting the commit call once
    real_commit = atomic_mod.atomic_commit_outputs
    state = {"interleaved": False}

    def racing_commit(outputs, log_path, run, batch_id, **kw):
        if not state["interleaved"]:
            state["interleaved"] = True
            from sec_dl_spark.streaming.dedup import _fingerprints

            b_docs = spark.createDataFrame([(50, "shared passage")], schema)
            b_fp = _fingerprints(b_docs, "doc_id", "text")
            real_commit(
                {
                    "accepted": (b_fp.drop("_fp", "_fp_bucket"), accepted),
                    "registry": (
                        b_fp.select(
                            "_fp", "_fp_bucket", F.col("doc_id").alias("canonical_id")
                        ),
                        registry,
                    ),
                },
                registry,
                "runB",
                0,
            )
        return real_commit(outputs, log_path, run, batch_id, **kw)

    import unittest.mock as mock

    with mock.patch.object(atomic_mod, "atomic_commit_outputs", racing_commit):
        stream = spark.readStream.schema(schema).parquet(f"{src}/*")
        incremental_dedup_sink(
            stream, accepted, registry, ckpt_a, commit_mode="atomic"
        ).awaitTermination(120)

    rows = [
        (r["doc_id"], r["text"])
        for r in read_committed(spark, registry, "accepted").collect()
    ]
    texts = sorted(t for _, t in rows)
    # the shared passage survives EXACTLY once (run B's copy won), and
    # run A's unique doc still landed
    assert texts == ["shared passage", "unique to run a"]
    assert (50, "shared passage") in rows and (2, "unique to run a") in rows


def test_publish_manifest_claim_is_exclusive_and_preserves_winner(spark, tmp_path):
    """The local-FS claim must be create-if-absent (O_EXCL), not
    check-then-rename: a second publish to the same name returns False
    and the FIRST payload survives byte-for-byte (a raw rename(2) would
    silently replace it — the lost-commit hazard)."""
    from sec_dl_spark.streaming.atomic import _fs, _publish_manifest

    dst = str(tmp_path / "_commits" / "v1.json")
    fs, Path = _fs(spark, str(tmp_path))
    assert _publish_manifest(spark, fs, Path, dst, '{"who": "first"}') is True
    assert _publish_manifest(spark, fs, Path, dst, '{"who": "second"}') is False
    with open(dst) as f:
        assert f.read() == '{"who": "first"}'
    # claim carries payload atomically (hard-link of a fully written tmp):
    # a published name is complete by construction, and the loser's tmp is
    # cleaned up — no half-claims or orphans left behind
    import os

    assert os.listdir(tmp_path / "_commits") == ["v1.json"]


def test_streaming_hll_rollup_matches_direct_estimate(spark, tmp_path_factory):
    """Micro-batched HLL distinct-count maintenance == direct sketch over
    the union: user ids stream in as file-batches, each publishing its
    per-key sketch partial; the merged hll_union_agg estimate equals
    hll_sketch_agg over the full data EXACTLY (DataSketches HLL is
    deterministic per value set), and a replay after wiping the
    checkpoint overwrites its partitions instead of double-merging."""
    import shutil

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from sec_dl_spark.streaming.rollup import incremental_hll_sink, read_hll_rollup

    src = tmp_path_factory.mktemp("hll_src")
    out = str(tmp_path_factory.mktemp("hll_out") / "sketches")
    schema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("uid", T.LongType()),
        ]
    )
    # overlapping ids across batches: the merge must not double-count
    data = [(["x", "y"][i % 2], (i * 7) % 140) for i in range(400)]
    for b in range(3):
        spark.createDataFrame(
            data[b * 100 : 200 + b * 100], schema
        ).coalesce(1).write.mode("overwrite").parquet(f"{src}/b={b}")
    streamed_rows = [r for b in range(3) for r in data[b * 100 : 200 + b * 100]]
    full = spark.createDataFrame(streamed_rows, schema)

    ckpt = str(tmp_path_factory.mktemp("hll_ckpt") / "ckpt")

    def run_stream():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/b=*")
        )
        incremental_hll_sink(stream, out, ckpt, ["k"], "uid").awaitTermination(120)

    run_stream()

    got = {
        r["k"]: r["n_distinct"]
        for r in read_hll_rollup(spark, out, ["k"]).collect()
    }
    want = {
        r["k"]: r["est"]
        for r in full.groupBy("k")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("uid")).alias("est"))
        .collect()
    }
    assert got == want and set(got) == {"x", "y"}
    # estimates are near-exact at this cardinality (<= 70 per key)
    exact = {
        r["k"]: r["n"]
        for r in full.groupBy("k").agg(F.count_distinct("uid").alias("n")).collect()
    }
    for k in exact:
        assert abs(got[k] - exact[k]) <= max(2, 0.05 * exact[k])

    # replay after wiping the checkpoint: overwrite, no double-merge drift
    shutil.rmtree(ckpt)
    run_stream()
    got2 = {
        r["k"]: r["n_distinct"]
        for r in read_hll_rollup(spark, out, ["k"]).collect()
    }
    assert got2 == got


def _stream_files(spark, schema, src):
    """A file-source stream over ``src/b=*``, one file per micro-batch."""
    return spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(f"{src}/b=*")


def _write_batches(spark, chunks, schema, src):
    for b, chunk in enumerate(chunks):
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode("overwrite").parquet(
            f"{src}/b={b}"
        )


def _summed(parts, keys, *cols):
    """Merge sum-monoid partials: one groupBy summing each count column."""
    return parts.groupBy(*keys).agg(*[F.sum(c).alias(c) for c in cols])


def _bin_counts(df, n_bins=10, cents_per_bin=4000):
    """(key, bin, n) integer histogram with the integer-cents binning of
    the catalog's events_psi_drift: round to cents, integer-divide,
    clamp to [0, n_bins)."""
    b = F.greatest(
        F.least(
            F.expr(f"CAST(round(value * 100) AS BIGINT) div {cents_per_bin}"),
            F.lit(n_bins - 1),
        ),
        F.lit(0),
    )
    return df.groupBy(F.col("event_type").alias("key"), b.alias("bin")).agg(
        F.count(F.lit(1)).alias("n")
    )


def _arm_day_counts(df):
    """(day, n, conv) counts of the treatment arm (user_id % 2 = 1), the
    per-day reduction of the catalog's events_sprt_monitor."""
    return (
        df.where(F.col("user_id") % 2 == 1)
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("conv"),
        )
    )


def _cms_sketch(df):
    """(row, slot, cnt) count-min sketch of ``uid``, width 8, depth 4."""
    from sec_dl_spark.operators.sketch import cms_build

    return cms_build(df, "uid", width=8, depth=4)


def test_streaming_psi_drift_monitor(spark, tmp_path_factory):
    """A drift monitor on the partial sink: each micro-batch publishes its
    (key, bin, n) counts, the merged counts equal the one-shot histogram
    exactly, and streaming/drift.py:psi of the merged counts against a
    same-distribution reference is ~0 while a shifted reference alarms
    past 0.25 — the separation the batch events_psi_drift pytest pins.
    psi over the raw per-batch partials (repeated (key, bin) rows) scores
    exactly like the merged counts."""
    from pyspark.sql import types as T

    from sec_dl_spark.streaming.commit import partial_sink, read_partials
    from sec_dl_spark.streaming.drift import psi

    src = tmp_path_factory.mktemp("drift_src")
    out = str(tmp_path_factory.mktemp("drift_out") / "counts")
    schema = T.StructType(
        [T.StructField("event_type", T.StringType()), T.StructField("value", T.DoubleType())]
    )
    rows = [("stable", float(i % 100)) for i in range(300)] + [
        ("shifted", 200.0 + i % 40) for i in range(300)
    ]
    _write_batches(spark, [rows[b::3] for b in range(3)], schema, src)
    stream = _stream_files(spark, schema, src)
    ckpt = str(tmp_path_factory.mktemp("drift_ckpt"))
    assert partial_sink(stream, out, ckpt, _bin_counts).awaitTermination(120)

    merged = _summed(read_partials(spark, out), ["key", "bin"], "n")
    got = {(r["key"], r["bin"]): r["n"] for r in merged.collect()}
    want = {
        (r["key"], r["bin"]): r["n"]
        for r in _bin_counts(spark.createDataFrame(rows, schema)).collect()
    }
    assert got == want  # merge == recompute, exactly

    # reference: 'stable' keeps its distribution, 'shifted' references
    # the LOW-bin regime the live stream has since left
    ref_rows = [("stable", float(i % 100)) for i in range(300)] + [
        ("shifted", float(i % 40)) for i in range(300)
    ]
    reference = _bin_counts(spark.createDataFrame(ref_rows, schema))
    scores = {r["key"]: r for r in psi(merged, reference).collect()}
    assert scores["stable"]["n_current"] == scores["stable"]["n_reference"] == 300
    assert scores["stable"]["psi"] < 0.01
    assert scores["shifted"]["psi"] > 0.25

    batched = {r["key"]: r for r in psi(read_partials(spark, out), reference).collect()}
    assert batched == scores


def test_streaming_cms_sink_matches_from_scratch_build(spark, tmp_path_factory):
    """Micro-batched count-min maintenance on the partial sink ==
    from-scratch cms_build over the union, EXACTLY: the CM sketch is a
    (row, slot) counter monoid, so however the stream batches, summed
    partials equal one build — and cms_estimate off the merged sketch
    carries the same one-sided guarantee. A replay after wiping the
    checkpoint (same run token, derived from the checkpoint path)
    overwrites its own partitions — no double-counting."""
    import shutil

    from pyspark.sql import types as T

    from sec_dl_spark.operators.sketch import cms_estimate
    from sec_dl_spark.streaming.commit import partial_sink, read_partials

    src = tmp_path_factory.mktemp("cms_src")
    out = str(tmp_path_factory.mktemp("cms_out") / "sketch")
    schema = T.StructType([T.StructField("uid", T.LongType())])
    data = [((i * 13) % 50,) for i in range(600)]  # heavy key overlap
    _write_batches(spark, [data[b * 200 : (b + 1) * 200] for b in range(3)], schema, src)
    full = spark.createDataFrame(data, schema)
    ckpt = str(tmp_path_factory.mktemp("cms_ckpt") / "ckpt")

    def run_stream():
        stream = _stream_files(spark, schema, src)
        partial_sink(stream, out, ckpt, _cms_sketch).awaitTermination(120)

    def merged():
        return _summed(read_partials(spark, out), ["row", "slot"], "cnt")

    run_stream()
    got = {(r["row"], r["slot"]): r["cnt"] for r in merged().collect()}
    scratch = {(r["row"], r["slot"]): r["cnt"] for r in _cms_sketch(full).collect()}
    assert got == scratch and got

    # estimates off the merged sketch: never undercount any true key
    probes = spark.createDataFrame([(k,) for k in range(50)], schema)
    est = {
        r["uid"]: r["cms_est"]
        for r in cms_estimate(merged(), probes, "uid", width=8, depth=4).collect()
    }
    true = {
        r["uid"]: r["n"]
        for r in full.groupBy("uid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert all(est[k] >= true[k] for k in true)

    # replay after wiping the checkpoint: partitions overwrite, totals stable
    shutil.rmtree(ckpt)
    run_stream()
    assert {(r["row"], r["slot"]): r["cnt"] for r in merged().collect()} == scratch


def test_cms_sink_multi_run_guard(spark, tmp_path_factory):
    """A counter monoid is NOT idempotent across runs (unlike HLL):
    reprocessing the same source under a second checkpoint (another run
    token) would leave its partials beside the first run's, and the
    merged sum would double every key. The partial sink therefore
    refuses such a path at batch 0, before writing anything, and the
    first run's sketch still reads undoubled."""
    from pyspark.sql import types as T

    from sec_dl_spark.streaming.commit import partial_sink, read_partials

    src = tmp_path_factory.mktemp("cmsg_src")
    out = str(tmp_path_factory.mktemp("cmsg_out") / "sketch")
    schema = T.StructType([T.StructField("uid", T.LongType())])
    data = [((i * 7) % 20,) for i in range(200)]
    _write_batches(spark, [data], schema, src)

    def run_stream(ckpt: str):
        stream = spark.readStream.schema(schema).parquet(f"{src}/b=*")
        partial_sink(stream, out, ckpt, _cms_sketch).awaitTermination(120)

    def files():
        return sorted(
            os.path.relpath(os.path.join(d, f), out) for d, _, fs in os.walk(out) for f in fs
        )

    run_stream(str(tmp_path_factory.mktemp("cmsg_ck1")))
    published = files()
    # same source reprocessed under a second checkpoint → another run token
    with pytest.raises(Exception, match="another run"):
        run_stream(str(tmp_path_factory.mktemp("cmsg_ck2")))
    assert files() == published  # the refused run published nothing

    scratch = {
        (r["row"], r["slot"]): r["cnt"]
        for r in _cms_sketch(spark.createDataFrame(data, schema)).collect()
    }
    merged = {
        (r["row"], r["slot"]): r["cnt"]
        for r in _summed(read_partials(spark, out), ["row", "slot"], "cnt").collect()
    }
    assert merged == scratch


def test_streaming_rollup_matches_batch_and_compacts(spark, tmp_path_factory):
    """Micro-batched rollup maintenance == batch recompute: events stream
    in as file-batches, each publishing its build_rollup partial; the
    merge_rollups read equals the one-pass build_rollup (count/min/max
    exactly, sum and avg to float tolerance), a replay after wiping the
    checkpoint overwrites its partitions instead of double-counting, and
    compact_parquet over the run/batch layout leaves the merged view
    unchanged."""
    import math
    import shutil

    from pyspark.sql import types as T

    from sec_dl_spark.operators.rollup import Measure, build_rollup, finalize, merge_rollups
    from sec_dl_spark.sinks.compact import compact_parquet
    from sec_dl_spark.streaming.commit import partial_sink, read_partials

    src = tmp_path_factory.mktemp("rollup_src")
    rollup = str(tmp_path_factory.mktemp("rollup_out") / "rollup")
    schema = T.StructType(
        [T.StructField("k", T.StringType()), T.StructField("v", T.DoubleType())]
    )
    data = [(["a", "b", "c"][i % 3], float(i % 17)) for i in range(300)]
    full = spark.createDataFrame(data, schema)
    _write_batches(spark, [data[b * 100 : (b + 1) * 100] for b in range(3)], schema, src)
    keys, ms = ["k"], [Measure("v")]
    ckpt = str(tmp_path_factory.mktemp("rollup_ckpt") / "ckpt")

    def run_stream():
        stream = _stream_files(spark, schema, src)
        partial_sink(
            stream, rollup, ckpt, lambda b: build_rollup(b, keys, ms)
        ).awaitTermination(120)

    def snap():
        parts = read_partials(spark, rollup)
        return {
            r["k"]: (r["cnt_v"], r["min_v"], r["max_v"], r["sum_v"], r["avg_v"])
            for r in finalize(merge_rollups(parts.limit(0), parts, keys, ms), ms).collect()
        }

    run_stream()
    got = snap()
    want = {
        r["k"]: (r["cnt_v"], r["min_v"], r["max_v"], r["sum_v"], r["avg_v"])
        for r in finalize(build_rollup(full, keys, ms), ms).collect()
    }
    assert set(got) == set(want) == {"a", "b", "c"}
    for k in want:
        assert got[k][:3] == want[k][:3]
        assert math.isclose(got[k][3], want[k][3], rel_tol=1e-12)
        assert math.isclose(got[k][4], want[k][4], rel_tol=1e-12)

    # replay after wiping the checkpoint: same run token, partitions
    # overwrite, no double counting
    shutil.rmtree(ckpt)
    run_stream()
    assert snap() == got

    # compaction rewrites the partial files in place; the merged view is unchanged
    stats = compact_parquet(spark, rollup, ["run", "batch"])
    assert stats["files_after"] <= stats["files_before"]
    assert snap() == got
    assert len([d for d in os.listdir(rollup) if d.startswith("run=")]) == 1


def test_streaming_freshness_monitor_via_rollup_sink(spark, sf_dir, tmp_path_factory):
    """The dq_freshness_lag monitor maintained incrementally: events
    stream through the partial sink with a build_rollup partial over the
    timestamp (as epoch micros), and the read side computes per-type lag
    against the watermark (max over the per-type maxima) — matching the
    batch answer exactly without ever rescanning past batches."""
    from sec_dl_spark.operators.rollup import Measure, build_rollup, merge_rollups
    from sec_dl_spark.streaming.commit import partial_sink, read_partials

    events = load_table(spark, sf_dir, "events").select(
        "event_type", F.unix_micros(F.col("ts")).alias("ts_s")
    )
    src = tmp_path_factory.mktemp("fresh_src")
    for i, p in enumerate(events.randomSplit([1.0, 1.0, 1.0], seed=7)):
        p.coalesce(1).write.mode("overwrite").parquet(f"{src}/b={i}")

    rollup = str(tmp_path_factory.mktemp("fresh_out") / "rollup")
    keys, ms = ["event_type"], [Measure("ts_s")]
    partial_sink(
        _stream_files(spark, events.schema, src),
        rollup,
        str(tmp_path_factory.mktemp("fresh_ckpt")),
        lambda b: build_rollup(b, keys, ms),
    ).awaitTermination(120)

    parts = read_partials(spark, rollup)
    per = merge_rollups(parts.limit(0), parts, keys, ms).select(
        "event_type", F.col("max_ts_s").alias("latest_s"), "cnt_ts_s"
    )
    wm = per.agg(F.max("latest_s").alias("watermark"))
    got = {
        r["event_type"]: (r["watermark"] - r["latest_s"], r["cnt_ts_s"])
        for r in per.crossJoin(F.broadcast(wm)).collect()
    }
    want = {
        r["event_type"]: (r["lag"], r["n"])
        for r in events.groupBy("event_type")
        .agg(F.max("ts_s").alias("latest_s"), F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(events.agg(F.max("ts_s").alias("wm"))))
        .select("event_type", (F.col("wm") - F.col("latest_s")).alias("lag"), "n")
        .collect()
    }
    assert got == want and len(got) >= 3


def test_streaming_ivm_retraction_view_matches_recompute(spark, tmp_path_factory):
    """Streaming aggregate IVM: each micro-batch publishes its signed
    operators/cdc.py:fold_changes partial, and the partials summed on
    read (n = 0 keys dropped) must equal the recompute over surviving
    rows EXACTLY — deletes crossing batch boundaries included — be
    batching-invariant (3 micro-batches == 1), and replay idempotently
    after a checkpoint wipe, even with different batching (batch 0 of
    the replay clears the run's stale batch=1/2 partials)."""
    import shutil

    from pyspark.sql import types as T

    from sec_dl_spark.operators.cdc import fold_changes
    from sec_dl_spark.streaming.commit import partial_sink, read_partials

    schema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("op", T.StringType()),
            T.StructField("v", T.LongType()),
        ]
    )
    batches = [
        [("a", "I", 10), ("a", "I", 20), ("b", "I", 5)],
        [("a", "D", 10), ("c", "I", 7)],  # retracts batch-0's row
        [("b", "D", 5), ("c", "I", 3)],  # empties key b
    ]
    expected = {"a": (1, 20), "c": (2, 10)}

    def start(stream, view, ckpt):
        partial_sink(
            stream, view, ckpt, lambda b: fold_changes(b, ["k"], {"sv": "v"})
        ).awaitTermination(120)

    def read_view(view):
        merged = _summed(read_partials(spark, view), ["k"], "n", "sv")
        return {r["k"]: (r["n"], r["sv"]) for r in merged.where(F.col("n") > 0).collect()}

    def run_sink(chunks, tag):
        src = tmp_path_factory.mktemp(f"ivm_src_{tag}")
        view = str(tmp_path_factory.mktemp(f"ivm_view_{tag}") / "view")
        ckpt = str(tmp_path_factory.mktemp(f"ivm_ckpt_{tag}") / "ckpt")
        _write_batches(spark, chunks, schema, src)
        start(_stream_files(spark, schema, src), view, ckpt)
        return view, ckpt

    view3, ckpt3 = run_sink(batches, "split")
    assert read_view(view3) == expected
    view1, _ = run_sink([sum(batches, [])], "single")
    assert read_view(view1) == expected

    # replay after a checkpoint wipe with DIFFERENT batching: the fresh
    # checkpoint replays everything as ONE batch (no read limit)
    shutil.rmtree(ckpt3)
    src_replay = tmp_path_factory.mktemp("ivm_src_replay")
    _write_batches(spark, batches, schema, src_replay)
    start(spark.readStream.schema(schema).parquet(f"{src_replay}/b=*"), view3, ckpt3)
    assert read_view(view3) == expected


def test_streaming_sprt_monitor_is_batching_invariant(spark, tmp_path_factory):
    """The SPRT monitor's state on the partial sink: each micro-batch
    publishes its treatment-arm (day, n, conv) counts; the merged counts
    equal the one-shot reduction EXACTLY (integer sum monoid), and their
    running sums are row-for-row the cum_trials / cum_conversions of the
    batch events_sprt_monitor on the same events, however the stream
    was batched."""
    import datetime as dt

    from pyspark.sql import types as T
    from pyspark.sql.window import Window

    from sec_dl_spark.plans.catalog import load_all
    from sec_dl_spark.streaming.commit import partial_sink, read_partials

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    base = dt.datetime(2024, 7, 1, 9)
    rows, eid = [], 0
    for day in range(3):
        d = base + dt.timedelta(days=day)
        for i in range(30):  # treatment arm, 1/3 convert
            rows.append((eid, d, 1, "purchase" if i % 3 == 0 else "view", 1.0, "{}"))
            eid += 1
        for _ in range(20):  # control arm noise that must be excluded
            rows.append((eid, d, 2, "purchase", 1.0, "{}"))
            eid += 1

    src = tmp_path_factory.mktemp("sprt_src")
    _write_batches(spark, [rows[b::3] for b in range(3)], schema, src)
    sf_dir = str(tmp_path_factory.mktemp("sprt_table"))
    full = spark.createDataFrame(rows, schema)
    full.write.parquet(f"{sf_dir}/events.parquet")

    out = str(tmp_path_factory.mktemp("sprt_out") / "counts")
    assert partial_sink(
        _stream_files(spark, schema, src),
        out,
        str(tmp_path_factory.mktemp("sprt_ckpt")),
        _arm_day_counts,
    ).awaitTermination(120)

    merged = _summed(read_partials(spark, out), ["day"], "n", "conv")
    got = {str(r["day"]): (r["n"], r["conv"]) for r in merged.collect()}
    want = {str(r["day"]): (r["n"], r["conv"]) for r in _arm_day_counts(full).collect()}
    assert got == want  # merge == recompute, exactly

    wd = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    running = [
        (str(r["day"]), r["cum_n"], r["cum_conv"])
        for r in merged.select(
            "day", F.sum("n").over(wd).alias("cum_n"), F.sum("conv").over(wd).alias("cum_conv")
        ).collect()
    ]
    batch = [
        (str(r["day"]), r["cum_trials"], r["cum_conversions"])
        for r in load_all()["events_sprt_monitor"].spark_fn(spark, sf_dir).collect()
    ]
    assert running == batch == [(f"2024-07-0{d + 1}", 30 * (d + 1), 10 * (d + 1)) for d in range(3)]


def test_streaming_srm_gate_deduplicates_users_across_batches(spark, tmp_path_factory):
    """The SRM gate's input on the HLL sink: the same user appearing in
    EVERY micro-batch must count once per arm (HLL sketch partials, not
    count partials — the sum-monoid shortcut would triple-count and
    mask/invent an SRM). A planted 40-vs-10 user imbalance spread over 3
    batches reads back as exact sparse-mode estimates."""
    import datetime as dt

    from pyspark.sql import types as T

    from sec_dl_spark.streaming.rollup import incremental_hll_sink, read_hll_rollup

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    b0 = dt.datetime(2024, 7, 1)
    rows, eid = [], 0
    for _ in range(3):  # every user fires in every batch chunk
        for u in range(0, 80, 2):  # 40 even users
            rows.append((eid, b0, u, "click"))
            eid += 1
        for u in range(1, 20, 2):  # 10 odd users
            rows.append((eid, b0, u, "view"))
            eid += 1

    src = tmp_path_factory.mktemp("srm_src")
    per = len(rows) // 3
    _write_batches(spark, [rows[b * per : (b + 1) * per] for b in range(3)], schema, src)
    out = str(tmp_path_factory.mktemp("srm_out") / "sketches")
    armed = _stream_files(spark, schema, src).withColumn("arm", F.col("user_id") % 2)
    assert incremental_hll_sink(
        armed, out, str(tmp_path_factory.mktemp("srm_ckpt")), ["arm"], "user_id"
    ).awaitTermination(120)

    got = {r["arm"]: r["n_distinct"] for r in read_hll_rollup(spark, out, ["arm"]).collect()}
    assert got == {0: 40, 1: 10}


def test_hll_window_rollup_matches_exact_trailing_distinct(spark, tmp_path_factory):
    """Trailing-window union of the HLL sink's per-day sketch partials
    equals the exact trailing distinct (wau) of the batch
    events_dau_wau_mau on the same events — sparse-mode HLL is exact at
    these cardinalities, and repeat users across days and batches
    collapse inside the union."""
    import datetime as dt

    from pyspark.sql import types as T

    from sec_dl_spark.plans.catalog import load_all
    from sec_dl_spark.streaming.commit import read_partials
    from sec_dl_spark.streaming.rollup import incremental_hll_sink

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    base = dt.datetime(2024, 9, 1, 12)
    rows, eid = [], 0
    for day in range(10):
        d = base + dt.timedelta(days=day)
        for u in range(day % 4 + 1):  # overlapping user sets per day
            rows.append((eid, d, u, "view", 1.0, "{}"))
            eid += 1
        rows.append((eid, d, 99, "view", 1.0, "{}"))  # daily regular
        eid += 1

    src = tmp_path_factory.mktemp("wau_src")
    _write_batches(spark, [rows[b::3] for b in range(3)], schema, src)
    sf_dir = str(tmp_path_factory.mktemp("wau_table"))
    spark.createDataFrame(rows, schema).write.parquet(f"{sf_dir}/events.parquet")

    out = str(tmp_path_factory.mktemp("wau_out") / "sk")
    armed = _stream_files(spark, schema, src).select(
        F.col("ts").cast("date").alias("day"), "user_id"
    )
    assert incremental_hll_sink(
        armed, out, str(tmp_path_factory.mktemp("wau_ckpt")), ["day"], "user_id"
    ).awaitTermination(120)

    # fan each partial sketch onto the 7 spine days whose window holds it
    parts = read_partials(spark, out)
    fan = parts.select(
        "sk", F.explode(F.expr("sequence(day, date_add(day, 6))")).alias("sday")
    ).join(parts.select(F.col("day").alias("sday")).distinct(), "sday")
    got = {
        str(r["sday"]): r["wau"]
        for r in fan.groupBy("sday")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("wau"))
        .collect()
    }
    want = {
        str(r["day"]): r["wau"]
        for r in load_all()["events_dau_wau_mau"].spark_fn(spark, sf_dir).collect()
    }
    assert got == want and len(got) == 10


_EVENTS = "event_id long, ts timestamp, user_id long, event_type string, value double"


def _event_batches():
    """Two time-ordered event batches on either side of midnight, with
    users and event types recurring across both."""
    import datetime as dt

    base = dt.datetime(2024, 5, 1, 23, 59)
    return [
        [
            (
                b * 100 + i,
                base + dt.timedelta(seconds=3 * (20 * b + i)),
                i % 5,
                ("purchase", "view")[i % 2],
                float(i % 13),
            )
            for i in range(20)
        ]
        for b in range(2)
    ]


def _restart_case(spark, name, out):
    """One foreachBatch sink under the restart test: its source schema and
    two batches, how to start it, its merged read, the single-pass
    recompute of that read, and the directory holding its run tokens.
    rollup, cms, drift, sprt and ivm run ``commit.partial_sink`` with
    that monitor's partial (build_rollup, cms_build, PSI bin counts,
    SPRT arm-day counts, the signed fold_changes); srm runs the HLL sink
    keyed by arm."""
    from types import SimpleNamespace

    from pyspark.sql.window import Window

    def rows(df):
        cols = sorted(df.columns)
        return sorted(tuple(r[c] for c in cols) for r in df.collect())

    case = SimpleNamespace(schema=_EVENTS, batches=_event_batches(), run_dir=out)

    def partial_case(partial_fn, merge, final=lambda df: df):
        # the monitor's partial on commit.partial_sink: merged partials
        # (then ``final``) must equal ``final`` of one partial over all rows
        from sec_dl_spark.streaming.commit import partial_sink, read_partials

        case.start = lambda s, c: partial_sink(s, out, c, partial_fn)
        case.merged = lambda: rows(final(merge(read_partials(spark, out))))
        case.recompute = lambda full: rows(final(partial_fn(full)))

    if name == "rollup":
        from sec_dl_spark.operators.rollup import Measure, build_rollup, merge_rollups

        keys, ms = ["event_type"], [Measure("value")]
        partial_case(
            lambda df: build_rollup(df, keys, ms),
            lambda parts: merge_rollups(parts.limit(0), parts, keys, ms),
        )
    elif name == "cms":
        partial_case(
            lambda df: _cms_sketch(df.withColumnRenamed("user_id", "uid")),
            lambda parts: _summed(parts, ["row", "slot"], "cnt"),
        )
    elif name == "drift":
        partial_case(_bin_counts, lambda parts: _summed(parts, ["key", "bin"], "n"))
    elif name == "sprt":
        partial_case(_arm_day_counts, lambda parts: _summed(parts, ["day"], "n", "conv"))
    elif name == "ivm":
        from sec_dl_spark.operators.cdc import fold_changes

        case.schema = "k string, op string, v long"
        case.batches = [
            [("a", "I", 10), ("a", "I", 20), ("b", "I", 5)],
            [("a", "D", 10), ("b", "D", 5), ("c", "I", 7)],
        ]
        partial_case(
            lambda df: fold_changes(df, ["k"], {"sv": "v"}),
            lambda parts: _summed(parts, ["k"], "n", "sv"),
            final=lambda view: view.where(F.col("n") > 0),  # emptied keys drop
        )
    elif name == "srm":
        from sec_dl_spark.streaming.rollup import incremental_hll_sink, read_hll_rollup

        case.start = lambda s, c: incremental_hll_sink(
            s.withColumn("arm", F.col("user_id") % 2), out, c, ["arm"], "user_id"
        )
        case.merged = lambda: rows(read_hll_rollup(spark, out, ["arm"]))
        case.recompute = lambda full: rows(
            full.groupBy((F.col("user_id") % 2).alias("arm")).agg(
                F.count_distinct("user_id").alias("n_distinct")
            )
        )
    elif name == "hll":
        from sec_dl_spark.streaming.rollup import incremental_hll_sink, read_hll_rollup

        case.start = lambda s, c: incremental_hll_sink(s, out, c, ["event_type"], "user_id")
        case.merged = lambda: rows(read_hll_rollup(spark, out, ["event_type"]))
        case.recompute = lambda full: rows(
            full.groupBy("event_type").agg(
                F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("n_distinct")
            )
        )
    elif name == "index":
        from sec_dl_spark.operators.fts import build_inverted_index, read_index
        from sec_dl_spark.streaming.index import incremental_index_sink

        case.schema = "doc_id long, text string"
        case.batches = [
            [(1, "alpha beta gamma"), (2, "delta epsilon beta")],
            [(3, "alpha zeta"), (4, "eta theta beta")],
        ]

        def merged():
            postings, stats = read_index(spark, out)
            return rows(postings.select("token", "doc_id", "positions")) + rows(
                stats.df.select("token", "df")
            )

        def recompute(full):
            postings = build_inverted_index(full)
            return rows(postings.select("token", "doc_id", "positions")) + rows(
                postings.groupBy("token").agg(F.count_distinct("doc_id").alias("df"))
            )

        case.start = lambda s, c: incremental_index_sink(s, out, c, buckets=4)
        case.merged, case.recompute = merged, recompute
    elif name == "dedup":
        from sec_dl_spark.functions.analysis import fingerprint
        from sec_dl_spark.streaming.dedup import incremental_dedup_sink

        case.schema = "doc_id long, text string"
        case.batches = [
            [(1, "alpha beta"), (2, "gamma delta"), (3, "Alpha, beta!")],
            [(10, "gamma delta"), (11, "new text"), (12, "new text")],
        ]
        case.run_dir = f"{out}/accepted"
        first = Window.partitionBy(fingerprint(F.col("text"))).orderBy("doc_id")
        case.start = lambda s, c: incremental_dedup_sink(
            s, f"{out}/accepted", f"{out}/registry", c
        )
        case.merged = lambda: rows(
            spark.read.parquet(f"{out}/accepted").select("doc_id", "text")
        )
        case.recompute = lambda full: rows(
            full.withColumn("_rn", F.row_number().over(first))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
    return case


@pytest.mark.parametrize(
    "name", ["rollup", "hll", "cms", "drift", "sprt", "srm", "ivm", "index", "dedup"]
)
def test_sink_restart_replays_last_batch_without_double_count(spark, tmp_path_factory, name):
    """Each run-token foreachBatch sink survives a crash between a batch's
    write and its checkpoint commit: with ``commits/1`` gone, the restarted
    query re-runs batch 1, and that replay must overwrite its own output
    instead of publishing a second copy beside it. The merged read equals
    a single-pass recompute, and the output holds one run token."""
    src = tmp_path_factory.mktemp(f"restart_src_{name}")
    out = str(tmp_path_factory.mktemp(f"restart_out_{name}") / "out")
    ckpt = str(tmp_path_factory.mktemp(f"restart_ckpt_{name}") / "ckpt")
    case = _restart_case(spark, name, out)
    for b, chunk in enumerate(case.batches):
        spark.createDataFrame(chunk, case.schema).coalesce(1).write.parquet(f"{src}/b={b}")

    def run():
        stream = (
            spark.readStream.schema(case.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/b=*")
        )
        q = case.start(stream, ckpt)
        assert q.awaitTermination(180)
        assert q.exception() is None

    run()
    os.remove(f"{ckpt}/commits/1")
    os.remove(f"{ckpt}/commits/.1.crc")
    run()

    full = spark.createDataFrame(sum(case.batches, []), case.schema)
    assert case.merged() == case.recompute(full)
    tokens = [d for d in os.listdir(case.run_dir) if "run=" in d]
    assert len(tokens) == 1, tokens


def test_incremental_index_commits_a_token_hashing_to_int_min(spark, tmp_path_factory):
    """hash('actgv1ns') is Int.MinValue, where ANSI abs() overflows: a
    micro-batch holding that token must commit and be searchable."""
    from sec_dl_spark.operators.fts import read_index, search_all
    from sec_dl_spark.streaming.index import incremental_index_sink

    src = str(tmp_path_factory.mktemp("min_src"))
    idx = str(tmp_path_factory.mktemp("min_index") / "postings")
    ckpt = str(tmp_path_factory.mktemp("min_ckpt"))
    schema = "doc_id long, text string"
    spark.createDataFrame([(7, "actgv1ns filing")], schema).write.mode("overwrite").parquet(src)
    q = incremental_index_sink(spark.readStream.schema(schema).parquet(src), idx, ckpt, buckets=8)
    q.awaitTermination(120)
    assert q.exception() is None
    postings, _ = read_index(spark, idx)
    assert [r["doc_id"] for r in search_all(postings, ["actgv1ns"]).collect()] == [7]


def test_index_refuses_commits_with_different_bucket_counts(spark, tmp_path_factory):
    """Two ingest runs into one index path with different bucket counts:
    pruning by either count would silently miss the other run's rows, so
    read_index must refuse the index, naming the path and both counts."""
    from sec_dl_spark.operators.fts import read_index
    from sec_dl_spark.streaming.index import incremental_index_sink

    src = str(tmp_path_factory.mktemp("mixed_src"))
    idx = str(tmp_path_factory.mktemp("mixed_index") / "postings")
    schema = "doc_id long, text string"
    spark.createDataFrame([(1, "alpha beta"), (2, "gamma")], schema).write.mode("overwrite").parquet(src)
    for buckets in (4, 8):
        ckpt = str(tmp_path_factory.mktemp(f"mixed_ckpt_{buckets}"))
        stream = spark.readStream.schema(schema).parquet(src)
        q = incremental_index_sink(stream, idx, ckpt, buckets=buckets)
        assert q.awaitTermination(120) and q.exception() is None
    with pytest.raises(ValueError, match=r"postings.*\[4, 8\]"):
        read_index(spark, idx)
