"""Plan-hygiene assertions: the scale properties the engine is designed
around (pushdown, pruning, broadcast, no cross products) must survive
refactors — these tests fail if a future change silently degrades a plan
(e.g. a filter stops reaching the scan, or a pair generator becomes a
cartesian product)."""

import re

import pytest
from pyspark.sql import functions as F

from sec_dl_spark.plans.catalog import load_all

SF = "/root/testdata/sf0.001"


def physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture
def uncut_plans(spark):
    """Plan text with metadata strings in full for the test's duration:
    Spark cuts a scan's PartitionFilters list at
    spark.sql.maxMetadataStringLength (100 characters by default), and on
    an index opened with read_index the commit-record filter comes before
    the bucket filter in that list."""
    conf = "spark.sql.maxMetadataStringLength"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, str(1 << 20))
    yield
    spark.conf.set(conf, prev)


def postings_bucket_filters(df) -> list[set[str]]:
    """For each postings scan of ``df``'s physical plan (a scan with a
    token_bucket column; an executed adaptive plan lists its scans twice,
    final and initial), the token_bucket values its partition filters
    restrict it to; an empty set where none does. Needs ``uncut_plans``."""
    out = []
    for line in physical_plan(df).splitlines():
        if "FileScan parquet" in line and "token_bucket#" in line:
            part = line.split("PartitionFilters: [")[1].split("]")[0]
            m = re.search(r"token_bucket#\d+ IN \(([^)]*)\)|\(token_bucket#\d+ = (\w+)\)", part)
            out.append(set((m.group(1) or m.group(2)).split(",")) if m else set())
    return out


@pytest.fixture(scope="module")
def specs():
    return load_all()


@pytest.fixture(scope="module")
def fts_index_dir(spark, tmp_path_factory):
    """The documents fixture's index, persisted with 16 hash buckets and the
    stats sidecar."""
    from sec_dl_spark.operators.fts import build_inverted_index, write_index
    from sec_dl_spark.sources.fixtures import load_table

    path = str(tmp_path_factory.mktemp("fts") / "index")
    write_index(build_inverted_index(load_table(spark, SF, "documents")), path, buckets=16)
    return path


def fts_search_shapes():
    """Every search function of operators.fts, as (postings, stats) → frame."""
    from sec_dl_spark.operators import fts

    ranked = ["spark", "sort", "vector"]
    return {
        "all": lambda p, s: fts.search_all(p, ["spark", "join"]),
        "any": lambda p, s: fts.search_any(p, ["vector", "stream"]),
        "phrase": lambda p, s: fts.search_phrase(p, ["fast", "sort"]),
        "query": lambda p, s: fts.search_query(p, "spark & (join | vector) & !window"),
        "ranked": lambda p, s: fts.search_ranked(p, ranked, k=10, stats=s),
        "bm25": lambda p, s: fts.search_bm25(p, ranked, k=10, stats=s),
        "and_not": lambda p, s: fts.search_and_not(p, ["spark", "join"], ["window"]),
        "proximity": lambda p, s: fts.search_proximity_ranked(p, ["spark", "join"], k=10, stats=s),
    }


def test_q1_filter_and_pruning_reach_scan(spark, specs):
    plan = physical_plan(specs["q1_pricing_summary"].spark_fn(spark, SF))
    # the shipdate predicate must be pushed into the parquet scan...
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # ...and unused wide columns must not be read
    assert "l_partkey" not in plan.split("ReadSchema")[1]


def test_q5_dimensions_broadcast(spark, specs):
    plan = physical_plan(specs["join_q5_region_revenue"].spark_fn(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 4  # all dims broadcast
    assert "CartesianProduct" not in plan
    # the region constant filter reaches the region scan
    assert "EqualTo(r_name,ASIA)" in plan


def test_jaccard_is_not_a_cross_product(spark, specs):
    plan = physical_plan(specs["dedup_jaccard_pairs"].spark_fn(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_fts_search_filters_terms_in_the_scan(spark, specs, fts_index_dir):
    """The term list is an IN filter on the postings scan: no join between
    postings and a term table (so no shuffle of the postings and no
    broadcast job for the list)."""
    from sec_dl_spark.operators.fts import read_index, search_all

    plan = physical_plan(specs["fts_search_and"].spark_fn(spark, SF))
    assert "Join" not in plan  # no term-table join, so no SortMergeJoin either
    scan = next(line for line in plan.splitlines() if "InMemoryTableScan" in line)
    assert "token#" in scan and "IN (join,spark,window)" in scan

    served, _ = read_index(spark, fts_index_dir)
    plan = physical_plan(search_all(served, ["spark", "join", "window"]))
    assert "Join" not in plan
    assert "PushedFilters: [In(token, [join,spark,window])" in plan


def test_text_stats_scan_prunes_to_needed_columns(spark, specs):
    plan = physical_plan(specs["text_token_stats"].spark_fn(spark, SF))
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "text" in read_schema and "doc_id" in read_schema
    assert "source" not in read_schema and "lang" not in read_schema


def test_systematic_sample_filter_pushed(spark, specs):
    plan = physical_plan(specs["sample_systematic"].spark_fn(spark, SF))
    # modulo predicates aren't parquet-pushable, but must still sit directly
    # on the scan (no shuffle before the filter) and prune columns
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "l_extendedprice" in read_schema and "l_partkey" not in read_schema


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """Bucketing demo: two tables bucketed+sorted on the join key join with
    ZERO Exchange operators — the co-located join layout for repeated big
    joins at scale (SURVEY §2.11 design rules: bucket filings by cik)."""
    import shutil

    from sec_dl_spark.sources.fixtures import load_table

    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    # a dropped-from-catalog table can leave its managed location behind
    # (fresh derby metastore per session); saveAsTable refuses to reuse it
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for tbl in ("b_orders", "b_lineitem"):
        shutil.rmtree(f"{warehouse}/{tbl}", ignore_errors=True)
    warehouse_ok = True
    try:
        load_table(spark, SF, "orders").write.bucketBy(4, "o_orderkey").sortBy(
            "o_orderkey"
        ).mode("overwrite").saveAsTable("b_orders")
        load_table(spark, SF, "lineitem").withColumnRenamed(
            "l_orderkey", "o_orderkey"
        ).write.bucketBy(4, "o_orderkey").sortBy("o_orderkey").mode("overwrite").saveAsTable(
            "b_lineitem"
        )
    except Exception:
        warehouse_ok = False
    if not warehouse_ok:
        pytest.skip("no writable warehouse dir for saveAsTable")
    # at sf0.001 Catalyst would (rightly) broadcast; disable it to get the
    # plan a 100 TB fact-fact join would use, where broadcast is impossible
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = (
            spark.table("b_lineitem")
            .join(spark.table("b_orders"), "o_orderkey")
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = physical_plan(joined)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert "Bucketed: true" in plan
    # co-located: no Exchange between the join and the bucketed scans
    assert "Exchange hashpartitioning(o_orderkey" not in plan


def test_filings_layout_partition_pruning(spark, tmp_path):
    """The (year, qtr) partitioned layout must prune: a quarter-scoped
    query reads one partition directory, visible as PartitionFilters in
    the scan (SURVEY §7 — quarterly loads partition-aligned, time-scoped
    queries prune)."""
    import datetime as dt

    from sec_dl_spark.etl.ingest import write_filings

    rows = [
        (1, 100, "A", "10-K", "p1", dt.date(2023, 2, 1), None, 2023, 1),
        (2, 100, "A", "10-K", "p2", dt.date(2023, 5, 1), None, 2023, 2),
        (3, 200, "B", "10-Q", "p3", dt.date(2024, 2, 1), None, 2024, 1),
    ]
    filings = spark.createDataFrame(
        rows,
        "filing_id long, cik int, business_name string, type string, path string,"
        "date date, text string, year int, qtr int",
    )
    write_filings(filings, str(tmp_path), mode="overwrite")
    meta = spark.read.parquet(f"{tmp_path}/filings_meta")
    q = meta.where((F.col("year") == 2023) & (F.col("qtr") == 2))
    plan = physical_plan(q)
    assert "PartitionFilters" in plan
    assert q.count() == 1
    # partition columns never hit the data files — pruning is directory-level
    assert "(year#" not in plan.split("PushedFilters")[-1].split("ReadSchema")[0]


def test_fts_persisted_index_serving(spark, fts_index_dir, uncut_plans):
    """The build-once/query-many FTS serving path: write_index persists
    postings partitioned by token hash-bucket; a term search against the
    index opened with read_index prunes to the terms' bucket directories
    (GIN-index analog, SURVEY §2 K7/F11). A frame read with plain
    spark.read.parquet carries no bucket count, so it is served unpruned
    and still returns the full answer."""
    from sec_dl_spark.functions.analysis import hash_bucket
    from sec_dl_spark.operators.fts import build_inverted_index, read_index, search_all
    from sec_dl_spark.sources.fixtures import load_table

    docs = load_table(spark, SF, "documents")
    terms = ["spark", "join"]
    live = {r["doc_id"] for r in search_all(build_inverted_index(docs), terms).collect()}
    assert len(live) > 0

    served, _ = read_index(spark, fts_index_dir)
    pruned = search_all(served, terms)
    assert {r["doc_id"] for r in pruned.collect()} == live
    buckets = {
        str(v) for v in spark.range(1).select(*[hash_bucket(F.lit(t), 16) for t in terms]).first()
    }
    filters = postings_bucket_filters(pruned)
    assert filters and all(f == buckets for f in filters)

    persisted = spark.read.parquet(fts_index_dir)
    unpruned = search_all(persisted, terms)
    assert {r["doc_id"] for r in unpruned.collect()} == live
    assert "PartitionFilters: []" in physical_plan(unpruned)


def test_fts_pruned_and_unpruned_searches_agree(spark, fts_index_dir, uncut_plans):
    """Bucket pruning changes what is read, never the answer: every search
    shape returns the same rows (ranked scores byte-equal) on the pruned
    read_index frame and on the unpruned spark.read.parquet frame, and
    every postings scan of the pruned plan carries a token_bucket
    partition filter — 'a & !b' included, which anti-joins instead of
    scanning the corpus doc set."""
    from sec_dl_spark.operators.fts import read_index

    served, stats = read_index(spark, fts_index_dir)
    persisted = spark.read.parquet(fts_index_dir)
    for name, shape in fts_search_shapes().items():
        pruned = shape(served, stats)
        got = sorted(tuple(map(repr, r)) for r in pruned.collect())
        want = sorted(tuple(map(repr, r)) for r in shape(persisted, stats).collect())
        assert got == want and len(got) > 0, name
        filters = postings_bucket_filters(pruned)
        assert filters and all(filters), name


def test_fts_search_plans_hold_no_local_python_rows(spark, fts_index_dir):
    """A Python-list createDataFrame leaves ExistingRDD in a plan and runs
    Python-worker tasks plus a broadcast job per search; no search shape
    may build one."""
    from sec_dl_spark.operators.fts import read_index

    served, stats = read_index(spark, fts_index_dir)
    for name, shape in fts_search_shapes().items():
        assert "ExistingRDD" not in physical_plan(shape(served, stats)), name


def test_fts_mixed_case_duplicate_terms_count_once(spark):
    """Terms are matched lowercased, so 'Spark' and 'spark' are one term:
    the AND count and the BM25 hit and df rows must not double."""
    from sec_dl_spark.operators.fts import build_inverted_index, search_all, search_bm25

    docs = spark.createDataFrame(
        [(1, "spark join"), (2, "spark only"), (3, "join only")], "doc_id long, text string"
    )
    p = build_inverted_index(docs)
    assert [r["doc_id"] for r in search_all(p, ["Spark", "spark", "join"]).collect()] == [1]
    dup = [tuple(r) for r in search_bm25(p, ["Spark", "spark"]).collect()]
    one = [tuple(r) for r in search_bm25(p, ["spark"]).collect()]
    assert dup == one and len(one) == 2


def test_write_index_serves_a_token_hashing_to_int_min(spark, tmp_path):
    """hash('actgv1ns') is Int.MinValue, where ANSI abs() overflows: the
    bucket helper must place it, and a pruned search must find it."""
    from sec_dl_spark.operators.fts import build_inverted_index, read_index, search_all, write_index

    assert spark.range(1).select(F.hash(F.lit("actgv1ns"))).first()[0] == -(2**31)
    docs = spark.createDataFrame([(1, "actgv1ns filing")], "doc_id long, text string")
    path = str(tmp_path / "fts_min")
    write_index(build_inverted_index(docs), path, buckets=16)
    served, _ = read_index(spark, path)
    assert [r["doc_id"] for r in search_all(served, ["actgv1ns"]).collect()] == [1]


def test_fts_stats_sidecar_roundtrip(spark, tmp_path, monkeypatch):
    """write_index persists corpus stats (N, avgdl, doc_len, token df) so
    ranked queries at serve time launch no stats-aggregation jobs; ranked
    results off the rehydrated stats equal the stats-free computation. A
    rebuild cut short at its postings write leaves no stats at all, never
    the previous corpus's."""
    from sec_dl_spark.operators import fts
    from sec_dl_spark.operators.fts import (
        CorpusStats,
        build_inverted_index,
        read_index,
        search_bm25,
        search_ranked,
        write_index,
    )
    from sec_dl_spark.sources.fixtures import load_table

    docs = load_table(spark, SF, "documents")
    postings = build_inverted_index(docs)
    idx_path = str(tmp_path / "fts_index")
    write_index(postings, idx_path, buckets=16)

    served, stats = read_index(spark, idx_path)
    live_stats = CorpusStats(postings, cache=False)
    assert stats is not None
    assert stats.n_docs == live_stats.n_docs
    assert abs(stats.avgdl - live_stats.avgdl) < 1e-9

    terms = ["spark", "sort", "vector"]
    for fn in (search_ranked, search_bm25):
        with_stats = [tuple(r) for r in fn(served, terms, k=10, stats=stats).collect()]
        without = [tuple(r) for r in fn(postings, terms, k=10).collect()]
        assert with_stats == without and len(with_stats) > 0

    # the rebuild's postings land, then it dies before writing any stats:
    # the old N/avgdl/df against the new postings would silently corrupt
    # ranking, so the old sidecar must already be gone
    commit = fts.commit_batch_partition

    def postings_then_crash(df, path, *args):
        commit(df, path, *args)
        raise RuntimeError("rebuild cut short")

    monkeypatch.setattr(fts, "commit_batch_partition", postings_then_crash)
    with pytest.raises(RuntimeError, match="cut short"):
        write_index(postings.limit(50), idx_path, buckets=16)
    monkeypatch.undo()
    served2, stats2 = read_index(spark, idx_path)
    assert stats2 is None
    assert "token_bucket" not in served2.columns  # no recorded count: unpruned
    assert served2.count() > 0


def test_streamed_and_rebuilt_index_serve_the_same_answers(
    spark, tmp_path, fts_index_dir, uncut_plans
):
    """One persisted format: the documents indexed in two micro-batches by
    the streaming sink and in one write_index call read back through
    read_index as the same postings and stats; every search shape returns
    the same rows (ranked scores byte-equal) with every postings scan
    bucket-pruned; and write_index over the streamed index's postings (a
    compaction into one commit) serves the same answers again."""
    from sec_dl_spark.operators.fts import read_index, write_index
    from sec_dl_spark.sources.fixtures import load_table
    from sec_dl_spark.streaming.index import incremental_index_sink

    src, streamed = str(tmp_path / "src"), str(tmp_path / "streamed")
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    docs.repartition(2).write.parquet(src)
    stream = spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1).parquet(src)
    q = incremental_index_sink(stream, streamed, str(tmp_path / "ckpt"), buckets=16)
    assert q.awaitTermination(180) and q.exception() is None
    assert len(spark.read.parquet(f"{streamed}_stats/corpus").collect()) == 2

    compacted = str(tmp_path / "compacted")
    write_index(read_index(spark, streamed)[0], compacted, buckets=16)

    def rows(df):
        return sorted(tuple(map(repr, r)) for r in df.collect())

    def served(path):
        postings, stats = read_index(spark, path)
        answers = {}
        for name, shape in fts_search_shapes().items():
            found = shape(postings, stats)
            answers[name] = rows(found)
            filters = postings_bucket_filters(found)
            assert filters and all(filters), (path, name)
        return (
            rows(postings.select("token", "doc_id", "positions")),
            stats.n_docs,
            stats.avgdl,
            rows(stats.df),
            rows(stats.doc_len),
            answers,
        )

    want = served(fts_index_dir)
    assert all(want[5].values())
    assert served(streamed) == want
    assert served(compacted) == want


def test_exact_n_sample_prefilter_below_window(spark, specs):
    """sample_exact_n_per_group's hash cutoff must filter BEFORE the
    window exchange/sort — the pre-filter is what bounds the per-group
    sort at scale. In the printed tree the Window sits above the Filter
    on the broadcast cutoff."""
    plan = physical_plan(specs["sample_exact_n_per_group"].spark_fn(spark, SF))
    win = plan.index("Window")
    cut_filter = plan.index("_cut")
    assert win < cut_filter  # tree prints root-first: filter is deeper


def test_no_forced_broadcast_of_corpus_derived_models(spark, specs):
    """text_bigram_logprob and corpus_dsir_weights score docs against a
    model TRAINED ON THE CORPUS ITSELF — a forced F.broadcast on such a
    table turns into a driver/executor OOM at web scale because the hint
    strips AQE's ability to fall back to a keyed shuffle. The logical
    plans must therefore carry no broadcast hint on any corpus-derived
    aggregate (the only allowed hint is the 1-row scalar attach in DSIR,
    which is size-bounded by construction)."""
    for name, allowed_hints in (("text_bigram_logprob", 0), ("corpus_dsir_weights", 1)):
        df = specs[name].spark_fn(spark, SF)
        logical = df._jdf.queryExecution().optimizedPlan().toString()
        assert logical.count("ResolvedHint") <= allowed_hints, name
    # the DSIR scalar hint must be on a 1-row aggregate (global agg →
    # cross join), never on the per-bucket model
    dsir = specs["corpus_dsir_weights"].spark_fn(spark, SF)
    plan = physical_plan(dsir)
    # model join keyed by the hashed bucket; AQE free to choose strategy
    assert "CartesianProduct" not in plan


def test_bigram_model_is_count_pruned(spark, specs):
    """The bigram-LM model must be pruned to c12 >= MIN_COUNT before the
    scoring join — the prune is what bounds the model at web scale. The
    filter on the aggregated count must appear in the physical plan."""
    plan = physical_plan(specs["text_bigram_logprob"].spark_fn(spark, SF))
    assert "c12" in plan and ">= 2" in plan


def test_dsir_model_is_hash_bucketed(spark, specs):
    """DSIR's scoring exchange must be keyed by the FIXED hashed bucket
    (8-byte long), never by the raw word — the bucket bound (2^17) is
    what keeps the model broadcastable at any corpus size. The Spark
    bucket function must agree bit-for-bit with the DuckDB oracle's
    md5_number_lower(w) % 2^17."""
    import duckdb

    from sec_dl_spark.plans.text import _DSIR_BUCKETS, _dsir_bucket

    words = ["hello", "the", "a1b2", "0", "zzzz", "supercalifragilistic"]
    got = {
        r["w"]: r["b"]
        for r in spark.createDataFrame([(w,) for w in words], ["w"])
        .select("w", _dsir_bucket(F.col("w")))
        .collect()
    }
    for w in words:
        exp = duckdb.sql(
            f"SELECT CAST(md5_number_lower('{w}') % {_DSIR_BUCKETS} AS BIGINT)"
        ).fetchone()[0]
        assert got[w] == exp, (w, got[w], exp)


def test_anomaly_mad_approx_switch_tracks_exact(spark, specs):
    """The approx=True scale path (bounded-state approx_percentile, the
    switch for when one event_type's values outgrow exact percentile's
    per-group buffer) must track the exact result: identical group keys
    and counts, medians/MADs within sketch tolerance, and a fence that
    flags nearly the same outlier set."""
    from sec_dl_spark.plans.streaming_batch import _anomaly_mad

    exact = {r["event_type"]: r for r in specs["events_anomaly_mad"].spark_fn(spark, SF).collect()}
    approx = {r["event_type"]: r for r in _anomaly_mad(spark, SF, approx=True).collect()}
    assert exact.keys() == approx.keys()
    for k, ex in exact.items():
        ap = approx[k]
        assert ap["n_events"] == ex["n_events"]
        assert abs(ap["med"] - ex["med"]) <= max(0.01, 0.01 * abs(ex["med"]))
        assert abs(ap["mad"] - ex["mad"]) <= max(0.01, 0.01 * abs(ex["mad"]))
        # the 5x fence is far from the bulk: a sketch-shifted median moves
        # the outlier count by at most a sliver of the group
        assert abs(ap["n_outliers"] - ex["n_outliers"]) <= max(2, 0.01 * ex["n_events"])


def test_passage_dedup_exchange_carries_hashed_key(spark, specs):
    """The passage-dedup window exchange must be keyed by the 8-byte
    xxhash64 of the passage with the string projected away before the
    shuffle — at 100 TB the passage strings are most of the exchange
    payload. The string-keyed variant must produce identical results
    (hash collisions aside, which 2^64 keys make vanishingly rare)."""
    from sec_dl_spark.plans.text import _passage_dedup

    df = specs["text_passage_dedup"].spark_fn(spark, SF)
    plan = physical_plan(df)
    assert "xxhash64" in plan
    exchanges = [ln for ln in plan.split("\n") if "Exchange hashpartitioning(" in ln]
    assert any("_pk" in ln for ln in exchanges)
    assert not any("passage" in ln for ln in exchanges)
    # oracle-parity: hashed and string keys agree row-for-row
    hashed = {tuple(r) for r in df.collect()}
    exact = {tuple(r) for r in _passage_dedup(spark, SF, hash_key=False).collect()}
    assert hashed == exact and hashed


def test_catalog_rotation_priority_block_is_structurally_sound():
    """The driver truncates its correctness sweep to the first 50
    registered names, so _PRIORITY must be exactly 50 REGISTERED,
    duplicate-free names occupying the first 50 slots in declared order.
    Which names belong in the slice is round-state (red/new/changed
    first, then stalest) and is pinned state-aware against the live
    CORRECTNESS artifacts by test_entry.py's rotation-policy tests —
    hardcoding a round's slice here is exactly the staleness this test
    once had."""
    from sec_dl_spark.plans.catalog import _PRIORITY, load_all

    names = list(load_all())
    assert len(_PRIORITY) == 50
    assert len(set(_PRIORITY)) == 50
    assert names[:50] == list(_PRIORITY)


def test_referential_integrity_single_lineitem_scan(spark, specs):
    """All three lineitem FK edges fold into ONE fact scan (VERDICT r9
    #5): three left joins against distinct parent keys + one aggregate
    of NULL membership flags, then a bounded unpivot. The plan must
    contain exactly one lineitem parquet scan (the r9 shape had three)
    and broadcast the small dims."""
    plan = physical_plan(specs["dq_referential_integrity"].spark_fn(spark, SF))
    assert plan.count("lineitem.parquet") == 1
    assert plan.count("BroadcastHashJoin") >= 2  # part + supplier keys
    assert "CartesianProduct" not in plan


def test_referential_integrity_counts_orphans(spark, tmp_path):
    """Violation path on a synthesized broken star: orphaned FKs are
    counted per edge and child-row counts are not inflated by the
    membership joins (each parent key is distinct, so the left joins
    are 1:at-most-1)."""
    sf = str(tmp_path)
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "c_custkey long, c_name string"
    ).write.parquet(f"{sf}/customer.parquet")
    # o_custkey=9 is an orphan; o_orderkey values 10,11 are parents
    spark.createDataFrame(
        [(10, 1), (11, 9)], "o_orderkey long, o_custkey long"
    ).write.parquet(f"{sf}/orders.parquet")
    spark.createDataFrame(
        [(100, "p")], "p_partkey long, p_name string"
    ).write.parquet(f"{sf}/part.parquet")
    spark.createDataFrame(
        [(200, "s")], "s_suppkey long, s_name string"
    ).write.parquet(f"{sf}/supplier.parquet")
    # 3 lineitem rows: one fully valid; one orphan order FK; one orphan
    # part AND supplier FK (a row can be an orphan on several edges)
    spark.createDataFrame(
        [(10, 100, 200), (99, 100, 200), (11, 999, 999)],
        "l_orderkey long, l_partkey long, l_suppkey long",
    ).write.parquet(f"{sf}/lineitem.parquet")

    rows = {
        r["fk"]: r
        for r in load_all()["dq_referential_integrity"].spark_fn(spark, sf).collect()
    }
    assert rows["orders.o_custkey->customer.c_custkey"]["n_child"] == 2
    assert rows["orders.o_custkey->customer.c_custkey"]["n_orphans"] == 1
    for fk, orph in [
        ("lineitem.l_orderkey->orders.o_orderkey", 1),
        ("lineitem.l_partkey->part.p_partkey", 1),
        ("lineitem.l_suppkey->supplier.s_suppkey", 1),
    ]:
        assert rows[fk]["n_child"] == 3, fk
        assert rows[fk]["n_orphans"] == orph, fk


def test_no_oracled_query_emits_array_or_struct_columns():
    """The driver's canonicalizer sorts result cells with pandas; array and
    struct cells (numpy arrays from DuckDB) are unhashable there and crash
    the gate — the r7 emb_binary_signature red row. Structurally close the
    class: bind every oracle against DuckDB (bind-only, no execution) and
    assert no result column is a LIST/ARRAY/STRUCT/MAP type. Queries that
    logically produce vectors must emit a joined STRING or explode to
    scalar rows."""
    import duckdb

    from sec_dl_spark.plans.catalog import load_all
    from sec_dl_spark.schemas import FIXTURE_TABLES

    con = duckdb.connect()
    sf = SF
    for name in FIXTURE_TABLES:
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{sf}/{name}.parquet'")
    bad = {}
    for name, spec in load_all().items():
        if spec.oracle is None:
            continue
        types = [str(t).upper() for t in con.sql(spec.oracle).types]
        hits = [t for t in types if "[]" in t or "STRUCT" in t or "MAP" in t]
        if hits:
            bad[name] = hits
    assert not bad, f"oracled queries with canon-unsafe output columns: {bad}"


def test_every_catalog_query_spark_schema_is_canon_safe(spark, specs):
    """The r8 hole in the test above: it binds ORACLES, so ``oracle=None``
    queries were unguarded — and exactly one of them (emb_pca_whiten, an
    array<double> output) ERRed the driver's canonicalizer in r8, the third
    consecutive round lost to this class (-0.0 in r6, BIGINT[] in r7).
    Close the class for the whole registry: build EVERY catalog query's
    Spark DataFrame and assert its OUTPUT schema has no Array/Struct/Map
    columns, oracled or not. This is the driver contract as a type system:
    vector-valued results must be a joined STRING or exploded scalar rows.

    Construction (not execution) is enough to read the schema, but a few
    plans pin an eager localCheckpoint / fit a model driver-side, so the
    builds run threaded at sf0.001 to keep suite wall-clock flat."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql.types import ArrayType, MapType, StructType

    def check(item):
        name, spec = item
        try:
            schema = spec.spark_fn(spark, SF).schema
        except Exception as exc:  # noqa: BLE001
            return name, [f"build error: {exc}"]
        hits = [
            f"{f.name}: {f.dataType.simpleString()}"
            for f in schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        return name, hits

    with ThreadPoolExecutor(max_workers=8) as pool:
        results = list(pool.map(check, specs.items()))
    bad = {name: hits for name, hits in results if hits}
    assert not bad, f"catalog queries with canon-unsafe Spark output columns: {bad}"


def test_psi_drift_separates_stable_from_shifted(spark, tmp_path):
    """PSI semantics on a synthesized stream: a type whose value
    distribution is identical in both time halves scores ≈ 0, a type
    whose values jump bins across the midpoint scores past the 0.25
    'shifted' alarm threshold — the monitor must separate the two by an
    order of magnitude, not by luck of smoothing."""
    import datetime as dt

    rows = []
    base = dt.datetime(2024, 1, 1)
    eid = 0
    for half, day in ((0, 0), (1, 20)):
        for i in range(200):
            ts = base + dt.timedelta(days=day, minutes=i)
            # stable: same 0..99 sawtooth in both halves
            rows.append((eid, ts, i, "stable", float(i % 100), "{}"))
            eid += 1
            # shifted: low bins early, high bins late
            v = float(i % 40) if half == 0 else 200.0 + i % 40
            rows.append((eid, ts, i, "shifted", v, "{}"))
            eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")

    out = {
        r["event_type"]: r
        for r in load_all()["events_psi_drift"].spark_fn(spark, str(tmp_path)).collect()
    }
    assert out["stable"]["n_early"] == out["stable"]["n_late"] == 200
    assert out["stable"]["psi"] < 0.01
    assert out["shifted"]["psi"] > 0.25


def test_events_ts_load_is_timezone_independent(spark):
    """A bare NTZ→timestamp cast reads the naive value in the session tz;
    an external session built without session.tune() (e.g. a bare
    verification driver) could carry a host tz and silently shift ts.
    load_table must convert at the expression level (tz-free NTZ
    arithmetic) so both fixture `ts` encodings load identically under ANY
    session timezone — and without mutating the caller's session conf as
    a side effect (ADVICE r4)."""
    from sec_dl_spark.sources.fixtures import load_table

    baseline = load_table(spark, SF, "events").agg(F.min("ts"), F.max("ts")).collect()[0]
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        # collect AFTER the conf change: a conf-set inside the loader
        # could not save a lazy cast executed under a restored tz
        shifted = load_table(spark, SF, "events").agg(F.min("ts"), F.max("ts")).collect()[0]
        assert spark.conf.get("spark.sql.session.timeZone") == "America/New_York"
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    assert tuple(shifted) == tuple(baseline)


def test_text_extract_matches_nonvacuous(spark):
    """r1's pattern matched zero rows at every SF — the replacement must
    have real fixture support."""
    from sec_dl_spark.plans.catalog import load_all

    out = load_all()["text_extract_matches"].spark_fn(spark, SF).collect()
    assert len(out) > 0 and sum(r["n"] for r in out) > 0


def test_cached_table_serves_from_memory(spark):
    """spark.catalog caching surface: a cached fixture view is served by
    InMemoryTableScan (columnar cache) instead of re-reading parquet."""
    from sec_dl_spark.sources.fixtures import load_table

    load_table(spark, SF, "nation").createOrReplaceTempView("nation_cached_t")
    spark.catalog.cacheTable("nation_cached_t")
    try:
        df = spark.table("nation_cached_t").where(F.col("n_regionkey") == 1)
        df.count()  # materialize the cache
        plan = physical_plan(df)
        assert "In-memory table" in plan or "InMemoryTableScan" in plan
    finally:
        spark.catalog.uncacheTable("nation_cached_t")


def test_bigram_model_join_is_broadcast(spark, specs):
    """text_bigram_logprob scores against an O(vocab²) model table: the
    scoring join must broadcast the model, never shuffle the corpus
    bigrams; and no plan in the new text-quality family may cartesian."""
    for name in ("text_bigram_logprob", "text_passage_dedup", "text_word_entropy",
                 "text_top_ngrams", "emb_label_centroids"):
        plan = physical_plan(specs[name].spark_fn(spark, SF))
        assert "CartesianProduct" not in plan, name
    plan = physical_plan(specs["text_bigram_logprob"].spark_fn(spark, SF))
    assert "BroadcastHashJoin" in plan


def test_runtime_bloom_filter_join_reduction(spark):
    """At 100 TB a selective dimension-side filter should shrink the fact
    shuffle BEFORE the join via Spark's runtime bloom filter
    (InjectRuntimeFilter). The local thresholds hide it (application side
    must look >10 GB), so pin the lever by scaling the thresholds down
    the way a real cluster's defaults would naturally apply: the
    might_contain probe must appear on the fact side of a non-broadcast
    join."""
    from sec_dl_spark.sources.fixtures import load_table

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        assert spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
        li = load_table(spark, SF, "lineitem")
        o = load_table(spark, SF, "orders").where(F.col("o_orderpriority") == "1-URGENT")
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = physical_plan(j)
        assert "might_contain" in plan  # bloom probe pushed to the fact scan side
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_dedup_keep_best_keeps_highest_quality_copy(spark, specs):
    from sec_dl_spark.functions import analysis as A
    from sec_dl_spark.functions.text import tokenize

    res = specs["dedup_keep_best"].spark_fn(spark, SF)
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "n_chars", A.fingerprint_of(tokenize(F.col("text"))).alias("fp")
    )
    j = res.join(docs, "doc_id")
    # exactly one keeper per fingerprint group
    per_group = j.groupBy("fp").agg(
        F.sum(F.col("keep").cast("int")).alias("n_keep"),
        F.max("group_size").alias("gs"),
        F.count(F.lit(1)).alias("n"),
    )
    assert per_group.where(F.col("n_keep") != 1).count() == 0
    assert per_group.where(F.col("gs") != F.col("n")).count() == 0
    # the keeper has the group's max n_chars
    best = j.groupBy("fp").agg(F.max("n_chars").alias("mx"))
    kept = j.where("keep").join(best, "fp")
    assert kept.where(F.col("n_chars") != F.col("mx")).count() == 0


def test_corpus_split_is_content_hashed_and_exhaustive(spark, specs):
    res = specs["corpus_split_assign"].spark_fn(spark, SF).collect()
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert sum(r.n_docs for r in res) == n_docs
    splits = {r.split for r in res}
    assert splits <= {"train", "val", "test"}
    # deterministic: the same inputs give byte-identical assignments
    again = specs["corpus_split_assign"].spark_fn(spark, SF).collect()
    assert sorted(map(tuple, res)) == sorted(map(tuple, again))
    # duplicate content must land in one split: every fingerprint group maps
    # to exactly one split value (leakage-free property)
    from sec_dl_spark.functions import analysis as A
    from sec_dl_spark.functions.text import tokenize

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    hx = F.substring(A.fingerprint_of(tokenize(F.col("text"))), 1, 1)
    split = (
        F.when(hx.between("0", "9") | hx.isin("a", "b"), "train")
        .when(hx.isin("c", "d"), "val")
        .otherwise("test")
    )
    fp_splits = (
        docs.select(A.fingerprint_of(tokenize(F.col("text"))).alias("fp"), split.alias("s"))
        .groupBy("fp")
        .agg(F.count_distinct("s").alias("ns"))
    )
    assert fp_splits.where(F.col("ns") != 1).count() == 0


def test_keywords_df_model_join_not_force_broadcast(spark, specs):
    # the token-df model join must leave strategy choice to AQE (no hint):
    # the analyzed plan must not carry a broadcast hint on the df-model side
    df = specs["text_keywords_tfidf"].spark_fn(spark, SF)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    # exactly one deliberate broadcast: the 1-row n_docs scalar attach
    assert analyzed.count("ResolvedHint (strategy=broadcast)") <= 1


def test_emb_dim_stats_state_is_o_dims(spark, specs):
    res = specs["emb_dim_stats"].spark_fn(spark, SF)
    rows = res.collect()
    dim = len(
        spark.read.parquet(f"{SF}/embeddings.parquet").first().embedding
    )
    assert len(rows) == dim
    n_vecs = spark.read.parquet(f"{SF}/embeddings.parquet").count()
    assert all(r.n == n_vecs for r in rows)
    assert all(r.sd_v >= 0 for r in rows)


def test_zorder_layout_single_range_exchange(spark):
    """The re-layout costs exactly its one inherent shuffle: a single
    range exchange on the z-key, no extra hash exchanges."""
    from sec_dl_spark.operators.layout import zorder_layout

    df = spark.range(10_000).selectExpr("id % 100 AS x", "id % 97 AS y")
    plan = physical_plan(zorder_layout(df, ["x", "y"], num_files=8, bits=8))
    assert plan.count("Exchange") == 1
    assert "rangepartitioning" in plan.lower()
    assert "CartesianProduct" not in plan


def test_hilbert_layout_single_range_exchange(spark):
    """Same shuffle contract for a layout on the Hilbert key: the
    unrolled rotate/reflect recurrence of with_hilbert_key stays one
    codegen projection, and the re-layout costs exactly its one
    inherent range exchange."""
    from sec_dl_spark.operators.layout import with_hilbert_key

    df = spark.range(10_000).selectExpr("id % 100 AS x", "id % 97 AS y")
    laid = (
        with_hilbert_key(df, "x", "y", out="hk", bits=8)
        .repartitionByRange(8, "hk")
        .sortWithinPartitions("hk")
        .drop("hk")
    )
    plan = physical_plan(laid)
    assert plan.count("Exchange") == 1
    assert "rangepartitioning" in plan.lower()
    assert "CartesianProduct" not in plan


def test_decontaminate_gram_model_join_unhinted(spark, specs):
    """The test-gram set must reach the train side without a forced
    broadcast hint (AQE decides from measured size)."""
    df = specs["corpus_decontaminate"].spark_fn(spark, SF)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint (strategy=broadcast)" not in analyzed
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan


def test_sample_top_hash_uses_takeordered_not_global_sort(spark, specs):
    """The hash-order sample's ORDER BY + LIMIT must compile to
    TakeOrderedAndProject (per-partition heaps merged on the driver), never
    a full global Sort + Exchange of the corpus — the docstring's scale
    claim."""
    plan = physical_plan(specs["sample_top_hash"].spark_fn(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()


def test_zipf_vocabulary_is_never_globally_sorted(spark, specs):
    """text_zipf_slope cuts top-1000 via TakeOrderedAndProject over the
    vocabulary; only the bounded 1000-row frame ever sees a window."""
    plan = physical_plan(specs["text_zipf_slope"].spark_fn(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_hash_sample_is_prefix_composable(spark, specs):
    """Growing the budget never discards rows: the top-100 hash sample is a
    strict prefix of the top-200 one (the labeling-budget property the
    docstring promises)."""
    from sec_dl_spark.plans.catalog import t as _t

    d = _t(spark, SF, "documents").select("doc_id")
    h = F.md5(F.concat(F.lit("s7"), F.col("doc_id").cast("string")))
    hashed = d.select("doc_id", h.alias("h"))
    top100 = [r.doc_id for r in hashed.orderBy("h", "doc_id").limit(100).collect()]
    top200 = [r.doc_id for r in hashed.orderBy("h", "doc_id").limit(200).collect()]
    assert top200[:100] == top100


def test_q10_q18_plans_hold_their_regime(spark, specs):
    """The TPC-H Q10/Q18 analogs must keep their scale shape: top-k via
    TakeOrderedAndProject (never a global sort of the report), no
    cartesian products, and pushed scan filters on the date/returnflag
    predicates (Q10)."""
    p10 = physical_plan(specs["join_q10_returned_revenue"].spark_fn(spark, SF))
    assert "TakeOrderedAndProject" in p10
    assert "CartesianProduct" not in p10
    assert "EqualTo(l_returnflag,R)" in p10
    assert "GreaterThanOrEqual(o_orderdate" in p10
    p18 = physical_plan(specs["join_q18_large_orders"].spark_fn(spark, SF))
    assert "TakeOrderedAndProject" in p18
    assert "CartesianProduct" not in p18


def test_parameterized_sql_named_args(spark):
    """spark.sql named-parameter binding (Spark 4 API): literals bind
    server-side — no string interpolation, injection-safe ad-hoc SQL
    (the front door §3.2 users would actually use for dashboards)."""
    spark.range(10).selectExpr("id", "id * 2 AS v").createOrReplaceTempView(
        "param_t"
    )
    got = spark.sql(
        "SELECT sum(v) AS s FROM param_t WHERE id BETWEEN :lo AND :hi",
        args={"lo": 2, "hi": 4},
    ).collect()
    assert got[0]["s"] == (2 + 3 + 4) * 2
    # positional form
    got2 = spark.sql(
        "SELECT count(*) AS n FROM param_t WHERE id < ?", args=[5]
    ).collect()
    assert got2[0]["n"] == 5


def test_fts_ranked_topk_is_take_ordered_not_global_window(spark, specs):
    """The ranked-retrieval top-k must compile to TakeOrderedAndProject
    (parallel per-partition partial top-k) — NOT a row_number window with
    no PARTITION BY over the full scored set, which moves every matching
    doc to one partition and is a single-executor sort of the corpus on a
    common term at 100 TB (the r7 judge finding). The only Window allowed
    in these plans is the rank assignment over the <= k surviving rows,
    whose input is bounded by the TakeOrderedAndProject above it."""
    for name in ("fts_ranked_tfidf", "fts_ranked_bm25"):
        plan = physical_plan(specs[name].spark_fn(spark, SF))
        assert "TakeOrderedAndProject" in plan, name
        # the rank window must consume the limited (bounded) frame: in the
        # executed plan tree the Window sits ABOVE TakeOrderedAndProject
        win_at = plan.find("Window")
        toap_at = plan.find("TakeOrderedAndProject")
        assert win_at != -1 and win_at < toap_at, name


def test_hll_partial_merge_equals_direct_estimate(spark, specs):
    """Mergeability contract of the HLL rollup: merging per-day sketch
    partials with hll_union_agg must yield the SAME estimate as sketching
    each week's users directly — the merge==recompute property that lets
    daily jobs maintain weekly/all-time distinct counts without rescans.
    (HLL sketches are deterministic for a given value set, so equality is
    exact, not approximate-within-tolerance.)"""
    from pyspark.sql import functions as F

    merged = {
        r["week_start"]: (r["est_users"], r["n_day_partials"])
        for r in specs["events_hll_partial_merge"].spark_fn(spark, SF).collect()
    }
    e = spark.read.parquet(f"{SF}/events.parquet").select(
        F.date_trunc("week", F.col("ts")).alias("week_start"), "user_id"
    )
    direct = {
        r["week_start"]: r["est"]
        for r in e.groupBy("week_start")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est"))
        .collect()
    }
    assert set(merged) == set(direct) and merged
    for wk, (est, n_days) in merged.items():
        assert est == direct[wk], wk
        assert 1 <= n_days <= 7


def test_ann_topk_is_two_phase_not_corpus_sized_window(spark, specs):
    """Exact cosine top-k must rank in two phases: a (query, chunk)
    window whose partitions are input-chunk-sized, then a final window
    over <= k·P survivors — never a single per-query window over the
    whole scored corpus (a handful of corpus-sized sorts when queries
    are few). The executed plan therefore contains TWO Window operators
    and the first one's partition spec includes the chunk column."""
    plan = physical_plan(specs["emb_cosine_topk"].spark_fn(spark, SF))
    assert plan.count("Window") >= 2
    assert "_chunk" in plan


def test_epoch_plan_zero_token_source_is_guarded_cross_engine(spark, specs, tmp_path):
    """ADVICE r8: corpus_epoch_plan divided target_tokens by n_tokens with
    no zero guard — a source whose docs ALL tokenize empty (n_tokens=0)
    produced NULL/inf on Spark but an error in the DuckDB oracle, a
    cross-engine divergence on a degenerate but representable input. Both
    engines now divide by greatest(n_tokens, 1); such a source has
    w_raw=0 so target_tokens=0 and the guarded ratio is exactly 0. Pin
    the agreement on a synthesized fixture with one all-empty source."""
    import duckdb
    import pandas as pd

    doc_path = str(tmp_path / "documents.parquet")
    rows = [
        {"doc_id": i, "source": "real", "text": f"alpha beta gamma doc {i}", "lang": "en"}
        for i in range(5)
    ] + [
        # '!!! ???' tokenizes to [] under the shared [^a-z0-9]+ tokenizer
        {"doc_id": 100 + i, "source": "empty", "text": "!!! ???", "lang": "en"}
        for i in range(3)
    ]
    pd.DataFrame(rows).to_parquet(doc_path)

    spec = specs["corpus_epoch_plan"]
    sdf = spec.spark_fn(spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{doc_path}'")
    odf = con.sql(spec.oracle).df()

    empty_row = sdf[sdf.source == "empty"].iloc[0]
    assert empty_row.n_tokens == 0
    assert empty_row.target_tokens == 0
    assert empty_row.epochs_pct == 0
    from tools.compare_oracle import compare_frames

    assert compare_frames(sdf, odf, exact=True) == []


def test_catalog_rejects_duplicate_query_names(specs):
    """The registry dict is last-wins, so a name collision in a
    later-imported module silently SHADOWS the original query — a
    different result under the same driver row (the r8
    events_anomaly_mad near-miss). Registration must refuse instead."""
    import pytest as _pytest

    from sec_dl_spark.plans.catalog import query

    with _pytest.raises(ValueError, match="already registered"):

        @query("q1_pricing_summary")
        def _dupe(spark, sf_dir):  # pragma: no cover
            raise AssertionError

    # ...but a FRESH function object with the same (module, qualname) —
    # importlib.reload, or a second import of the plans module under a
    # different sys.path spelling — is idempotent re-registration, not
    # shadowing, and must be permitted (ADVICE r8)
    import types

    from sec_dl_spark.plans.catalog import REGISTRY

    saved = specs["q1_pricing_summary"]
    orig = saved.spark_fn
    clone = types.FunctionType(
        orig.__code__, orig.__globals__, orig.__name__, orig.__defaults__
    )
    clone.__module__ = orig.__module__
    clone.__qualname__ = orig.__qualname__
    try:
        query("q1_pricing_summary")(clone)  # no raise
        # ...and the idempotent path must KEEP the original oracle when
        # the re-registration omits one (a reload must not silently
        # demote an oracled query to rows-only — ADVICE r9)
        assert REGISTRY["q1_pricing_summary"].oracle == saved.oracle
    finally:
        REGISTRY["q1_pricing_summary"] = saved  # restore spec incl. oracle

    # Two DISTINCT factory-generated functions share (module, qualname)
    # ('<locals>.q') AND def site, so the r8 carve-out silently accepted
    # the second — re-enabling the shadowing the guard refuses. The
    # scalar-closure fingerprint (the strings each factory call bakes
    # in) tells them apart: distinct factory outputs are REFUSED, a
    # reload-equal clone of the same factory output passes (ADVICE r9).
    def make(tag):
        def q(spark, sf_dir):  # pragma: no cover
            return tag

        return q

    try:
        query("_test_factory_q")(make("alpha"))
        with _pytest.raises(ValueError, match="already registered"):
            query("_test_factory_q")(make("beta"))
        query("_test_factory_q")(make("alpha"))  # reload-equal: no raise
    finally:
        REGISTRY.pop("_test_factory_q", None)


def test_mannwhitney_exact_u_on_planted_arms(spark, tmp_path):
    """Rank-sum semantics pinned by construction: when arm A's values all
    dominate arm B's, U_a is EXACTLY n_a·n_b (and significant); when the
    two arms hold identical multisets, U_a is exactly n_a·n_b/2 and
    z == 0 — no tolerance, because the statistic is built from exact
    integer midrank moments."""
    import datetime as dt

    rows, eid = [], 0
    base = dt.datetime(2024, 1, 1)
    for i in range(50):
        rows.append((eid, base, 2 * i, "dom", 10.0, "{}")); eid += 1  # arm 0
        rows.append((eid, base, 2 * i + 1, "dom", 1.0, "{}")); eid += 1  # arm 1
    for i in range(70):
        rows.append((eid, base, 2 * i, "same", float(i % 7), "{}")); eid += 1
        rows.append((eid, base, 2 * i + 1, "same", float(i % 7), "{}")); eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")

    out = {
        r["event_type"]: r
        for r in load_all()["events_mannwhitney_u"].spark_fn(spark, str(tmp_path)).collect()
    }
    assert out["dom"]["u_a"] == 50.0 * 50.0 and out["dom"]["significant_95"]
    assert out["same"]["u_a"] == 70.0 * 70.0 / 2
    assert out["same"]["z_stat"] == 0.0 and not out["same"]["significant_95"]


def test_chi2_zero_under_planted_independence(spark, tmp_path):
    """A contingency table constructed as an exact product measure (cell =
    row_share·col_share·total) must score χ² == 0 and every residual 0;
    concentrating the same marginals onto the diagonal must alarm. Dates
    are pinned weekdays (2024-01-01 = Monday, 2024-01-02 = Tuesday)."""
    import datetime as dt

    mon, tue = dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2)

    def write(rows, path):
        spark.createDataFrame(
            [(i, ts, i, ty, 1.0, "{}") for i, (ts, ty) in enumerate(rows)],
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        ).write.parquet(f"{path}/events.parquet")

    # independent: t1 = (10 mon, 20 tue), t2 = (20 mon, 40 tue)
    indep = [(mon, "t1")] * 10 + [(tue, "t1")] * 20 + [(mon, "t2")] * 20 + [(tue, "t2")] * 40
    p1 = tmp_path / "indep"; p1.mkdir(); write(indep, p1)
    out = load_all()["events_chi2_independence"].spark_fn(spark, str(p1)).collect()
    assert len(out) == 4
    assert all(r["chi2_total"] == 0.0 and r["std_residual"] == 0.0 for r in out)
    assert all(r["cramers_v"] == 0.0 for r in out)

    # dependent: same 90 rows, all t1 on monday, all t2 on tuesday
    dep = [(mon, "t1")] * 30 + [(tue, "t2")] * 60
    p2 = tmp_path / "dep"; p2.mkdir(); write(dep, p2)
    out2 = load_all()["events_chi2_independence"].spark_fn(spark, str(p2)).collect()
    assert all(r["chi2_total"] > 3.84 for r in out2)  # dof=1 critical @0.05
    assert all(r["cramers_v"] == 1.0 for r in out2)  # perfect association


def test_join_key_skew_separates_hot_from_uniform(spark, tmp_path):
    """A key where one value owns half the rows must read as skewed
    (top1_share ≈ 0.5, high gini) while a perfectly uniform key reads
    gini == 0 — the audit must order the salting decision correctly.
    Uses minimal-column parquet (the query's scan prunes to the keys)."""
    # l_suppkey: 500 rows on key 1, 500 spread over keys 2..501 (hot)
    # l_orderkey: keys 1..100 exactly 10 rows each (uniform)
    li = [(1 + (i % 100), 1 if i < 500 else 2 + (i - 500)) for i in range(1000)]
    spark.createDataFrame(li, "l_orderkey long, l_suppkey long").write.parquet(
        f"{tmp_path}/lineitem.parquet"
    )
    spark.createDataFrame(
        [(i % 10,) for i in range(100)], "o_custkey long"
    ).write.parquet(f"{tmp_path}/orders.parquet")

    out = {
        r["key_name"]: r
        for r in load_all()["dq_join_key_skew"].spark_fn(spark, str(tmp_path)).collect()
    }
    hot, uni = out["l_suppkey"], out["l_orderkey"]
    assert hot["n_rows"] == uni["n_rows"] == 1000
    assert hot["top1_share"] == 0.5 and hot["max_cnt"] == 500
    assert uni["gini"] == 0.0 and uni["top1_share"] == 0.01
    assert hot["gini"] > 0.45 and hot["cv"] > 10 * uni["cv"]
    assert out["o_custkey"]["n_keys"] == 10 and out["o_custkey"]["gini"] == 0.0


def test_js_divergence_identity_and_disjoint_bounds(spark, tmp_path):
    """JSD endpoints pinned: identical token distributions score exactly
    0; disjoint vocabularies score exactly ln 2 nats (1 bit). The matrix
    is upper-triangular (each unordered pair once)."""
    docs = [
        (0, "alpha beta gamma alpha", "en", "same1", 22),
        (1, "alpha beta gamma alpha", "en", "same2", 22),
        (2, "delta epsilon zeta eta", "en", "other", 22),
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")

    out = {
        (r["src_a"], r["src_b"]): r
        for r in load_all()["corpus_js_divergence"].spark_fn(spark, str(tmp_path)).collect()
    }
    assert set(out) == {("same1", "same2"), ("other", "same1"), ("other", "same2")}
    assert out[("same1", "same2")]["jsd_nats"] == 0.0
    assert out[("other", "same1")]["jsd_nats"] == 0.693147  # ln 2 at 6dp
    assert abs(out[("other", "same1")]["jsd_bits"] - 1.0) < 1e-6


def test_group_kfold_never_straddles_near_dup_pairs(spark, tmp_path):
    """The leakage-safety contract: every near-duplicate pair lands in ONE
    fold (same root → same fold), singletons keep themselves as root, and
    the hash spreads roots across multiple folds (non-degenerate split)."""
    dup = "spark shuffles partition data across executors for wide joins"
    docs = [
        (i, dup + (" extra" * (i % 2)), "en", "srcA", 60) for i in range(6)
    ] + [
        (10 + i, f"unique document number {i} about topic {i} entirely", "en", "srcA", 50)
        for i in range(20)
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")

    rows = load_all()["corpus_group_kfold"].spark_fn(spark, str(tmp_path)).collect()
    by_id = {r["doc_id"]: r for r in rows}
    assert len(rows) == 26
    clustered = [r for r in rows if r["is_clustered"]]
    assert {r["doc_id"] for r in clustered} >= {0, 1, 2, 3, 4, 5}
    # one root, one fold for the whole dup family
    assert len({by_id[i]["root"] for i in range(6)}) == 1
    assert len({by_id[i]["fold"] for i in range(6)}) == 1
    # singletons are their own root, and folds are spread (k=5 over 20 roots)
    singles = [r for r in rows if not r["is_clustered"]]
    assert all(r["root"] == r["doc_id"] for r in singles)
    assert len({r["fold"] for r in singles}) >= 3
    assert all(0 <= r["fold"] <= 4 for r in rows)


def test_kaplan_meier_planted_censoring(spark, tmp_path):
    """Product-limit semantics pinned by construction: 3 deaths at t=10
    out of 10 at risk gives S=0.7; 2 more at t=20 out of the 7 remaining
    gives S=0.7*(5/7)=0.5 — and the 5 users active through the end are
    censored (no output step), not counted as deaths. Exact decimals:
    the estimator is built from integer counts."""
    import datetime as dt

    rows, eid = [], 0
    base = dt.datetime(2024, 1, 1)
    hr = lambda h: base + dt.timedelta(hours=h)  # noqa: E731
    for u in range(3):  # churn at dur 10 (tail 90 >= 24)
        rows += [(eid, hr(0), u, "view", 1.0, "{}"), (eid + 1, hr(10), u, "view", 1.0, "{}")]
        eid += 2
    for u in range(3, 5):  # churn at dur 20 (tail 80 >= 24)
        rows += [(eid, hr(0), u, "view", 1.0, "{}"), (eid + 1, hr(20), u, "view", 1.0, "{}")]
        eid += 2
    for u in range(5, 10):  # censored: active until the global max hour
        rows += [(eid, hr(0), u, "view", 1.0, "{}"), (eid + 1, hr(100), u, "view", 1.0, "{}")]
        eid += 2
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")

    out = load_all()["events_kaplan_meier"].spark_fn(spark, str(tmp_path)).collect()
    assert [tuple(r) for r in out] == [
        (10, 10, 3, 0.7),
        (20, 7, 2, 0.5),
    ]


def test_score_calibration_planted_bins(spark, tmp_path):
    """Reliability-table semantics pinned: 10 rows at score 0.0 with half
    positive land in bin 0 (conf 0.0, acc 0.5, gap 0.5); 10 rows at the
    max score 100.0 with none positive land in bin 9 (conf 1.0, acc 0.0,
    gap 1.0); ECE is the n-weighted mean gap 0.75 on the bin_id=-1
    summary row. All exact: integer cents and counts only."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(10):
        rows.append((i, base, i, "purchase" if i < 5 else "view", 0.0, "{}"))
    for i in range(10, 20):
        rows.append((i, base, i, "view", 100.0, "{}"))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")

    out = load_all()["events_score_calibration"].spark_fn(spark, str(tmp_path)).collect()
    by_bin = {r["bin_id"]: r for r in out}
    assert set(by_bin) == {0, 9, -1}
    b0, b9, ece = by_bin[0], by_bin[9], by_bin[-1]
    assert (b0["n_rows"], b0["conf"], b0["acc"], b0["gap"]) == (10, 0.0, 0.5, 0.5)
    assert (b9["n_rows"], b9["conf"], b9["acc"], b9["gap"]) == (10, 1.0, 0.0, 1.0)
    assert (ece["n_rows"], ece["gap"]) == (20, 0.75)
    assert ece["conf"] is None and ece["acc"] is None


def test_dedup_yield_planted_clusters(spark, tmp_path):
    """Yield-curve economics pinned: canopies of size 5/3/2 among 14 docs
    give removable 4/2/1 (tot 7), ranked by size with exact cumulative
    shares — and the 4 unique docs never appear. The canopy key is the
    64-char normalized prefix, so differing TAILS must not split a
    cluster."""
    docs, did = [], 0
    for n, ch in [(5, "a"), (3, "b"), (2, "c")]:
        for i in range(n):
            docs.append((did, ch * 64 + f" tail {i}", "en", "s", 70))
            did += 1
    for i in range(4):
        docs.append((did, f"unique document number {i} " + "x" * 64, "en", "s", 90))
        did += 1
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")

    out = load_all()["corpus_dedup_yield"].spark_fn(spark, str(tmp_path)).collect()
    assert [
        (r["rank"], r["cluster_size"], r["removable"], r["cum_removable"]) for r in out
    ] == [(1, 5, 4, 4), (2, 3, 2, 6), (3, 2, 1, 7)]
    assert [r["cum_share_dupes"] for r in out] == [0.571429, 0.857143, 1.0]
    assert [r["cum_share_corpus"] for r in out] == [0.285714, 0.428571, 0.5]


def test_basket_lift_planted_pairs(spark, tmp_path):
    """Association semantics pinned: parts 1,2 co-occur in 4 of 10
    orders (part 1 in 6, part 2 in 4) giving lift 4·10/(6·4) = 5/3 and
    confidence 4/6; a pair seen once falls under min-support and a part
    that never pairs never appears. Minimal-column parquet (the query
    prunes to orderkey/partkey)."""
    rows = []
    for o in range(1, 5):  # orders 1-4: parts 1+2 together
        rows += [(o, 1), (o, 2)]
    rows += [(5, 1), (5, 4)]  # pair (1,4) support 1 -> excluded
    rows += [(6, 1)]  # part 1 alone
    for o in range(7, 11):  # orders 7-10: part 3 alone
        rows.append((o, 3))
    spark.createDataFrame(rows, "l_orderkey long, l_partkey long").write.parquet(
        f"{tmp_path}/lineitem.parquet"
    )

    out = load_all()["join_basket_lift"].spark_fn(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["p1"], r["p2"], r["n_both"], r["n_p1"], r["n_p2"]) == (1, 2, 4, 6, 4)
    assert r["lift"] == 1.666667 and r["confidence"] == 0.666667


def test_mad_outliers_planted(spark, tmp_path):
    """Modified-z semantics pinned: for values 10.00×5 / 12.00×5 /
    100.00×1 the exact median is 12.00, MAD 2.00, and only the 100.00
    row crosses |z| > 3.5 (z = 0.6745·8800/200 = 29.678); a constant
    column has MAD 0 and must short-circuit to zero outliers with a
    NULL max-z rather than a divide-by-zero."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    for v in [10.0] * 5 + [12.0] * 5 + [100.0]:
        rows.append((eid, base, eid, "t", v, "{}")); eid += 1
    for _ in range(6):
        rows.append((eid, base, eid, "z", 5.0, "{}")); eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")

    out = {
        r["event_type"]: r
        for r in load_all()["events_mad_outliers"].spark_fn(spark, str(tmp_path)).collect()
    }
    tt, zz = out["t"], out["z"]
    assert (tt["n_events"], tt["median_value"], tt["mad_value"]) == (11, 12.0, 2.0)
    assert tt["n_outliers"] == 1 and tt["max_abs_z"] == 29.678
    assert (zz["median_value"], zz["mad_value"]) == (5.0, 0.0)
    assert zz["n_outliers"] == 0 and zz["max_abs_z"] is None


def test_coverage_score_planted_geometry(spark, tmp_path):
    """Coverage objective pinned on a 1-hot geometry: anchors e1/e2
    (vec_id 0 and 20), corpus {e1, e2, e1-copy, e3} -> per-vector best
    sims (1, 1, 1, 0), mean 0.75, min 0, 3/4 covered at >= 0.25."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (20, [0.0, 1.0, 0.0, 0.0], 0),
        (1, [1.0, 0.0, 0.0, 0.0], 0),
        (2, [0.0, 0.0, 1.0, 0.0], 0),
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{tmp_path}/embeddings.parquet")

    out = load_all()["emb_coverage_score"].spark_fn(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["n_corpus"], r["k_selected"]) == (4, 2)
    assert r["mean_max_sim"] == 0.75
    assert r["min_max_sim"] == 0.0 and r["frac_ge_025"] == 0.75


def test_triangle_count_planted_clique_and_chainless_edge(spark, tmp_path):
    """Census pinned on a planted graph: three docs sharing one aligned
    8-token tile form a K3 (1 triangle, 3 wedges, clustering 1.0), two
    docs sharing another tile add an edge but no wedge, and a doc with
    no shared tile never enters the graph."""
    common1 = "alpha beta gamma delta epsilon zeta eta theta"
    common2 = "one two three four five six seven eight"
    mk = lambda i: " ".join(f"u{i}w{j}" for j in range(8))  # noqa: E731
    docs = [
        (0, f"{common1} {mk(0)}", "en", "s", 1),
        (1, f"{common1} {mk(1)}", "en", "s", 1),
        (2, f"{common1} {mk(2)}", "en", "s", 1),
        (3, f"{common2} {mk(3)}", "en", "s", 1),
        (4, f"{common2} {mk(4)}", "en", "s", 1),
        (5, f"{mk(5)} {mk(6)}", "en", "s", 1),
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")

    out = load_all()["graph_triangle_count"].spark_fn(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["n_nodes"], r["n_edges"], r["n_triangles"], r["n_wedges"]) == (5, 4, 1, 3)
    assert r["global_clustering"] == 1.0


def test_sprt_monitor_crosses_threshold_cumulatively(spark, tmp_path):
    """Wald boundary semantics pinned: 10 treatment conversions/day give
    llr = 10·ln(0.22/0.18) ≈ 2.0067 (continue) after day 1 and ≈ 4.0134
    (accept_h1, past ln 19 ≈ 2.9444) after day 2 — and control-arm
    (even user_id) events must not leak into the trajectory."""
    import datetime as dt
    import math

    import pytest as _pt

    d1, d2 = dt.datetime(2024, 1, 1, 9), dt.datetime(2024, 1, 2, 9)
    rows, eid = [], 0
    for day in (d1, d2):
        for _ in range(10):  # treatment arm: all conversions
            rows.append((eid, day, 1, "purchase", 1.0, "{}")); eid += 1
    for _ in range(50):  # control arm noise that must be ignored
        rows.append((eid, d1, 2, "purchase", 1.0, "{}")); eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")

    out = load_all()["events_sprt_monitor"].spark_fn(spark, str(tmp_path)).collect()
    assert [(r["cum_trials"], r["cum_conversions"], r["verdict"]) for r in out] == [
        (10, 10, "continue"),
        (20, 20, "accept_h1"),
    ]
    step = math.log(0.22 / 0.18)
    assert out[0]["llr"] == _pt.approx(10 * step, abs=1e-5)
    assert out[1]["llr"] == _pt.approx(20 * step, abs=1e-5)


def test_attribution_linear_splits_credit_equally(spark, tmp_path):
    """Planted funnel: a purchase with two touches inside the 7-day
    lookback gives each touch type 0.5 credit; a touch older than 7
    days and another user's touch must contribute nothing; a purchase
    with no eligible touches never appears."""
    import datetime as dt

    base = dt.datetime(2024, 3, 10, 12)
    rows = [
        # user 1: click (-2d) + view (-1d) then purchase -> 0.5 each
        (0, base - dt.timedelta(days=2), 1, "click", 1.0, "{}"),
        (1, base - dt.timedelta(days=1), 1, "view", 1.0, "{}"),
        (2, base, 1, "purchase", 9.0, "{}"),
        # user 1: click 8 days before -> outside the lookback
        (3, base - dt.timedelta(days=8), 1, "click", 1.0, "{}"),
        # user 2: touch but no purchase
        (4, base, 2, "view", 1.0, "{}"),
        # user 3: purchase with no touches -> unattributed, absent
        (5, base, 3, "purchase", 5.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")

    out = {
        r["event_type"]: r
        for r in load_all()["events_attribution_linear"]
        .spark_fn(spark, str(tmp_path))
        .collect()
    }
    assert set(out) == {"click", "view"}
    assert out["click"]["credit"] == 0.5 and out["view"]["credit"] == 0.5
    assert out["click"]["n_touches"] == 1
    assert out["click"]["touched_purchases"] == 1


def test_time_to_convert_nearest_rank_and_censoring(spark, tmp_path):
    """Planted latencies: three converters at 10/20/30 minutes after
    their first view (median=20 = rank ceil(1.5)=2, p90=30 = rank
    ceil(2.7)=3), one viewer who never purchases (counted in n_viewers
    only), and one whose purchase PRECEDES the first view (censored —
    not a conversion)."""
    import datetime as dt

    b = dt.datetime(2024, 5, 1, 9)
    mk = lambda i, m, u, t: (i, b + dt.timedelta(minutes=m), u, t, 1.0, "{}")  # noqa: E731
    rows = [
        mk(0, 0, 1, "view"), mk(1, 10, 1, "purchase"),
        mk(2, 0, 2, "view"), mk(3, 20, 2, "purchase"),
        mk(4, 0, 3, "view"), mk(5, 30, 3, "purchase"),
        mk(6, 0, 4, "view"),                       # never converts
        mk(7, -5, 5, "purchase"), mk(8, 0, 5, "view"),  # purchase before view
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")

    r = load_all()["events_time_to_convert"].spark_fn(spark, str(tmp_path)).collect()[0]
    assert (r["n_viewers"], r["n_converted"]) == (5, 3)
    assert r["conversion_rate"] == 0.6
    assert (r["median_minutes"], r["p90_minutes"]) == (20, 30)
    assert r["mean_minutes"] == 20.0


def test_dow_seasonality_index_normalizes_to_one(spark, tmp_path):
    """Planted fortnight: 'click' fires 30/day on the two Mondays and
    10/day on the other twelve days -> Monday index 30/avg where
    avg=(2*30+12*10)/14; a flat type indexes 1.0 on every weekday; dow
    0 must be Monday (2024-03-04 is one)."""
    import datetime as dt

    rows, eid = [], 0
    start = dt.datetime(2024, 3, 4, 8)  # a Monday
    for day in range(14):
        d = start + dt.timedelta(days=day)
        n_click = 30 if day % 7 == 0 else 10
        for _ in range(n_click):
            rows.append((eid, d, 1, "click", 1.0, "{}")); eid += 1
        rows.append((eid, d, 2, "error", 1.0, "{}")); eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")

    out = load_all()["events_dow_seasonality"].spark_fn(spark, str(tmp_path)).collect()
    clicks = {r["dow"]: r for r in out if r["event_type"] == "click"}
    errors = [r for r in out if r["event_type"] == "error"]
    avg = (2 * 30 + 12 * 10) / 14
    assert clicks[0]["n_events"] == 60 and clicks[0]["n_days"] == 2
    assert clicks[0]["seasonal_index"] == round(30 / avg + 1e-9, 6)
    assert clicks[1]["seasonal_index"] == round(10 / avg + 1e-9, 6)
    assert len(errors) == 7 and all(r["seasonal_index"] == 1.0 for r in errors)


def test_bucket_cohesion_moment_identity_is_exact(spark, tmp_path):
    """Planted geometry: two identical unit vectors share a bucket ->
    mean pairwise cosine 1.0; a vector and its near-opposite (first
    component flipped) land in DIFFERENT buckets (sign bits differ), so
    singleton buckets are filtered; two orthogonal vectors with equal
    sign patterns give cosine 0.0."""
    dim = 16
    v_pos = [0.0] * dim
    v_pos[1] = 1.0  # signs: all >=0 -> bucket 255
    orth = [0.0] * dim
    orth[9] = 1.0  # same sign bits (zeros count as >=0), orthogonal
    v_neg = [0.0] * dim
    v_neg[0] = -1.0  # first sign bit differs -> different bucket
    rows = [(0, v_pos, 0), (1, list(v_pos), 0), (2, orth, 0), (3, v_neg, 1)]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{tmp_path}/embeddings.parquet")

    out = load_all()["emb_bucket_cohesion"].spark_fn(spark, str(tmp_path)).collect()
    assert len(out) == 1  # v_neg's bucket is a singleton -> filtered
    r = out[0]
    assert r["bucket"] == 255 and r["n"] == 3
    # pairs: (v,v)=1, (v,orth)=0, (v,orth)=0 -> mean 1/3
    assert r["mean_pairwise_cosine"] == round(1 / 3 + 1e-8, 4)


def test_srm_check_flags_imbalanced_assignment(spark, tmp_path):
    """Planted imbalance: 40 even-id vs 10 odd-id users gives
    chi2 = (40-10)^2/50 = 18 > 3.841 -> srm_detected; repeated events
    from one user must not inflate the arm counts (user grain, not
    event grain)."""
    import datetime as dt

    b = dt.datetime(2024, 6, 1)
    rows, eid = [], 0
    for u in range(0, 80, 2):  # 40 even users
        rows.append((eid, b, u, "click", 1.0, "{}")); eid += 1
    for u in range(1, 20, 2):  # 10 odd users, 3 events each
        for _ in range(3):
            rows.append((eid, b, u, "view", 1.0, "{}")); eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")

    r = load_all()["events_srm_check"].spark_fn(spark, str(tmp_path)).collect()[0]
    assert (r["n_users_a"], r["n_users_b"]) == (40, 10)
    assert r["chi2"] == 18.0 and r["verdict"] == "srm_detected"


def test_schema_drift_catches_collapsed_enum_and_new_nulls(spark, tmp_path):
    """Planted drift: snapshot B (odd keys) collapses o_orderstatus to
    one value (ratio 1/3) and introduces NULL o_custkey; stable columns
    read ratio 1.0 and zero nulls on both sides."""
    rows = []
    for k in range(60):
        status = ["O", "F", "P"][k % 3] if k % 2 == 0 else "O"
        cust = None if (k % 2 == 1 and k % 4 == 1) else k % 10
        rows.append((k, cust, status, 100.0 + k, "2024-01-01", "1-URGENT"))
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string",
    ).write.parquet(f"{tmp_path}/orders.parquet")

    out = {
        r["col"]: r
        for r in load_all()["dq_schema_drift"].spark_fn(spark, str(tmp_path)).collect()
    }
    assert len(out) == 6
    st = out["o_orderstatus"]
    assert (st["distinct_a"], st["distinct_b"]) == (3, 1)
    assert st["distinct_ratio"] == round(1 / 3 + 1e-9, 6)
    ck = out["o_custkey"]
    assert ck["null_a"] == 0 and ck["null_b"] == 15
    assert out["o_orderpriority"]["distinct_ratio"] == 1.0


def test_component_histogram_counts_singletons(spark, tmp_path):
    """Planted graph: a 3-clique of near-identical docs, one exact pair,
    and two unrelated docs -> histogram {3: 1 component, 2: 1 component,
    1: 2 singletons} with n_docs column consistent."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = [
        (0, base + " one", "s", "en", 1),
        (1, base + " two", "s", "en", 1),
        (2, base + " three", "s", "en", 1),
        (3, "completely different words entirely here padding tokens more", "s", "en", 1),
        (4, "completely different words entirely here padding tokens more", "s", "en", 1),
        (5, "lonely document with its own vocabulary nothing shared at all", "s", "en", 1),
        (6, "another isolated text speaking about unrelated topics only", "s", "en", 1),
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, source string, lang string, n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")

    out = {
        r["component_size"]: r
        for r in load_all()["graph_component_histogram"]
        .spark_fn(spark, str(tmp_path))
        .collect()
    }
    assert out[3]["n_components"] == 1 and out[3]["n_docs"] == 3
    assert out[2]["n_components"] == 1 and out[2]["n_docs"] == 2
    assert out[1]["n_components"] == 2 and out[1]["n_docs"] == 2


def test_cohort_ltv_accumulates_cents_per_cohort_week(spark, tmp_path):
    """Planted cohorts: user 1 starts Mon 2024-03-04 (its own cohort
    Monday) and buys $10 in week 0 and $5 in week 1 (cumulative 10 ->
    15, LTV = cum/1); user 2 starts Wed 2024-03-13 -> cohort Monday
    2024-03-11, never buys (no revenue rows, but still sized into any
    cohort it shares)."""
    import datetime as dt

    rows = [
        (0, dt.datetime(2024, 3, 4, 9), 1, "signup", 0.0, "{}"),
        (1, dt.datetime(2024, 3, 5, 9), 1, "purchase", 10.0, "{}"),
        (2, dt.datetime(2024, 3, 12, 9), 1, "purchase", 5.0, "{}"),
        (3, dt.datetime(2024, 3, 13, 9), 2, "view", 1.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")

    out = load_all()["events_cohort_ltv"].spark_fn(spark, str(tmp_path)).collect()
    assert [
        (str(r["cohort_week"]), r["week_offset"], r["n_users"],
         r["revenue_cents"], r["cum_revenue_cents"], r["ltv_per_user"])
        for r in out
    ] == [
        ("2024-03-04", 0, 1, 1000, 1000, 10.0),
        ("2024-03-04", 1, 1, 500, 1500, 15.0),
    ]


def test_readability_flesch_from_known_counts(spark, tmp_path):
    """Hand-computed Flesch: 'the cat sat. the dog ran!' has 6 words, 2
    sentences, 6 vowel groups -> 206.835 - 1.015*3 - 84.6*1 = 119.19;
    a punctuation-free doc counts as ONE sentence."""
    docs = [
        (0, "the cat sat. the dog ran!", "s1", "en", 1),
        (1, "no terminal punctuation here", "s2", "en", 1),
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, source string, lang string, n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")

    out = {
        r["source"]: r
        for r in load_all()["text_readability"].spark_fn(spark, str(tmp_path)).collect()
    }
    assert out["s1"]["n_docs"] == 1
    assert out["s1"]["avg_flesch"] == round(206.835 - 1.015 * 3 - 84.6 * 1 + 1e-9, 6)
    assert out["s1"]["share_hard"] == 0.0
    # 'no terminal punctuation here': 4 words / 1 sentence,
    # syllables: o,e+ia->2(te-rmi-nal? vowel GROUPS: e,i,a =3)... counted
    # by the same rule both engines; just pin that it exists and is 1 doc
    assert out["s2"]["n_docs"] == 1


def test_quality_dup_corr_sign_and_degenerate_guard(spark, tmp_path):
    """Planted anti-correlation: two identical short (low-quality) docs
    vs two distinct long (high-quality) docs -> duplicates score lower
    (mean_q_dup < mean_q_uniq, pearson_r < 0). A corpus with no dups at
    all must yield NULL mean_q_dup / pearson_r (guarded identically in
    both engines), not a divide-by-zero error."""
    short = "tiny dup text"
    long_a = " ".join(f"alpha{i} beta{i} gamma{i}" for i in range(40))
    long_b = " ".join(f"delta{i} epsilon{i} zeta{i}" for i in range(40))
    docs = [
        (0, short, "s", "en", 1),
        (1, short, "s", "en", 1),
        (2, long_a, "s", "en", 1),
        (3, long_b, "s", "en", 1),
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, source string, lang string, n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")

    r = (
        load_all()["corpus_quality_dup_corr"]
        .spark_fn(spark, str(tmp_path))
        .collect()[0]
    )
    assert (r["n_docs"], r["n_dup_docs"]) == (4, 2)
    assert r["mean_q_dup"] < r["mean_q_uniq"]
    assert r["pearson_r"] < 0

    import shutil

    shutil.rmtree(f"{tmp_path}/documents.parquet")
    spark.createDataFrame(
        [(0, long_a, "s", "en", 1), (1, long_b, "s", "en", 1)],
        "doc_id long, text string, source string, lang string, n_chars long",
    ).write.parquet(f"{tmp_path}/documents.parquet")
    r2 = (
        load_all()["corpus_quality_dup_corr"]
        .spark_fn(spark, str(tmp_path))
        .collect()[0]
    )
    assert r2["n_dup_docs"] == 0
    assert r2["mean_q_dup"] is None and r2["pearson_r"] is None


def test_lead_time_audit_counts_impossible_rows(spark, tmp_path):
    """Planted leads: three lineitems at -1/+2/+10 days from their order
    dates -> one violation, exact mean (11/3), nearest-rank median 2
    (rank ceil(1.5)=2) and p90 10 (rank ceil(2.7)=3)."""
    import datetime as dt

    base = dt.datetime(2024, 1, 10)
    spark.createDataFrame(
        [(1, 1, "O", 10.0, base, "1-URGENT"), (2, 1, "O", 10.0, base, "1-URGENT")],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.parquet(f"{tmp_path}/orders.parquet")
    li = [
        (1, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", base - dt.timedelta(days=1)),
        (1, 1, 1, 2, 1.0, 1.0, 0.0, 0.0, "N", "O", base + dt.timedelta(days=2)),
        (2, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", base + dt.timedelta(days=10)),
    ]
    spark.createDataFrame(
        li,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    ).write.parquet(f"{tmp_path}/lineitem.parquet")

    r = load_all()["dq_lead_time_audit"].spark_fn(spark, str(tmp_path)).collect()[0]
    assert (r["n_lineitems"], r["n_ship_before_order"]) == (3, 1)
    assert r["mean_lead_days"] == round(11 / 3 + 1e-9, 6)
    assert (r["median_lead_days"], r["p90_lead_days"]) == (2, 10)


def test_power_mde_formula_exact(spark, tmp_path):
    """Planted arms: 50 users per arm, 25 converting -> p = 0.25,
    mde = 2.801585 * sqrt(2*.25*.75/50); repeat purchases by one user
    must not inflate the conversion count (user grain)."""
    import datetime as dt
    import math

    import pytest as _pt

    b = dt.datetime(2024, 8, 1)
    rows, eid = [], 0
    for u in range(100):
        conv = u < 25 or (50 <= u < 75)
        rows.append((eid, b, u, "purchase" if conv else "view", 1.0, "{}")); eid += 1
    for _ in range(5):  # repeat conversions, same user
        rows.append((eid, b, 0, "purchase", 1.0, "{}")); eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")

    r = load_all()["events_power_mde"].spark_fn(spark, str(tmp_path)).collect()[0]
    assert (r["n_users_a"], r["n_users_b"], r["n_conv_users"]) == (50, 50, 50)
    assert r["pooled_rate"] == 0.5
    want = (1.959964 + 0.841621) * math.sqrt(2 * 0.5 * 0.5 / 50)
    assert r["mde_abs"] == _pt.approx(want, abs=2e-6)
    assert r["mde_rel"] == _pt.approx(want / 0.5, abs=4e-6)


def test_code_detection_routes_code_not_prose(spark, tmp_path):
    """A snippet dense in code punctuation and keywords flags code_like;
    plain prose does not; both engines' regex classes agree on the
    planted rows (pinned through the source-level shares)."""
    code = "def f(x): return {x: [1, 2]} ; import os ; class A: pass ; int z = (3);"
    prose = "the quick brown fox jumps over the lazy dog again and again today"
    docs = [
        (0, code, "src_code", "en", 1),
        (1, prose, "src_prose", "en", 1),
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, source string, lang string, n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")

    out = {
        r["source"]: r
        for r in load_all()["text_code_detection"].spark_fn(spark, str(tmp_path)).collect()
    }
    assert out["src_code"]["share_code_like"] == 1.0
    assert out["src_prose"]["share_code_like"] == 0.0
    assert out["src_code"]["avg_symbol_density"] > out["src_prose"]["avg_symbol_density"]


def test_isotropy_audit_collapse_vs_spread(spark, tmp_path):
    """Planted geometries: four copies of one direction -> mean pairwise
    cosine 1.0, one effective dimension; four orthogonal unit vectors ->
    mean pairwise cosine 0.0 and participation ratio 4 (variance spread
    over four dims)."""
    import shutil

    dim = 8
    one = [0.0] * dim
    one[0] = 1.0
    rows = [(i, list(one), 0) for i in range(4)]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{tmp_path}/embeddings.parquet")
    r = load_all()["emb_isotropy_audit"].spark_fn(spark, str(tmp_path)).collect()[0]
    assert r["n_vectors"] == 4 and r["mean_pairwise_cosine"] == 1.0

    shutil.rmtree(f"{tmp_path}/embeddings.parquet")
    rows = []
    for i in range(4):
        v = [0.0] * dim
        v[i] = 1.0
        rows.append((i, v, 0))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{tmp_path}/embeddings.parquet")
    r = load_all()["emb_isotropy_audit"].spark_fn(spark, str(tmp_path)).collect()[0]
    assert r["mean_pairwise_cosine"] == 0.0
    assert r["effective_dims"] == 4.0

    # single-vector corpus: n(n-1) = 0 must yield NULL, not an ANSI
    # divide-by-zero error (DuckDB returns NULL for double/0)
    shutil.rmtree(f"{tmp_path}/embeddings.parquet")
    spark.createDataFrame(
        [(0, list(one), 0)], "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{tmp_path}/embeddings.parquet")
    r = load_all()["emb_isotropy_audit"].spark_fn(spark, str(tmp_path)).collect()[0]
    assert r["n_vectors"] == 1 and r["mean_pairwise_cosine"] is None


def test_yoy_growth_lags_and_nulls(spark, tmp_path):
    """Planted 13 months of revenue (100, 110, ..., 220): month 2 MoM =
    10/100; month 13 YoY = 120/100 = 1.2 - 1 = ... revenue is i*10+100
    dollars, so yoy for the 13th month = (220-100)/100 = 1.2; the first
    month carries NULL MoM and months 1-12 NULL YoY."""
    import datetime as dt

    rows = [
        (i, i % 5, "O", 100.0 + 10 * i, dt.datetime(2023, 1, 1) + dt.timedelta(days=31 * i), "1-URGENT")
        for i in range(13)
    ]
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.parquet(f"{tmp_path}/orders.parquet")

    out = load_all()["agg_yoy_growth"].spark_fn(spark, str(tmp_path)).collect()
    assert len(out) == 13
    assert out[0]["mom_growth"] is None and out[0]["yoy_growth"] is None
    assert out[1]["mom_growth"] == round(1000 / 10000 + 1e-9, 6)
    assert out[11]["yoy_growth"] is None
    assert out[12]["yoy_growth"] == round(12000 / 10000 + 1e-9, 6)


def test_customer_rfm_splits_at_exact_medians(spark, tmp_path):
    """Planted customers: A orders daily and big (recent+frequent+high),
    B ordered once long ago and small (lapsed+occasional+low) -> two
    opposite corner cells, each with the right totals."""
    import datetime as dt

    base = dt.datetime(2024, 6, 1)
    rows = []
    for i in range(4):  # customer 1: 4 recent 100-dollar orders
        rows.append((i, 1, "O", 100.0, base + dt.timedelta(days=i), "1"))
    rows.append((9, 2, "O", 10.0, base - dt.timedelta(days=100), "1"))
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.parquet(f"{tmp_path}/orders.parquet")

    out = {
        (r["r_seg"], r["f_seg"], r["m_seg"]): r
        for r in load_all()["join_customer_rfm"].spark_fn(spark, str(tmp_path)).collect()
    }
    hot = out[("recent", "frequent", "high_value")]
    cold = out[("lapsed", "occasional", "low_value")]
    assert hot["n_customers"] == 1 and hot["total_cents"] == 40000
    assert cold["n_customers"] == 1 and cold["total_cents"] == 1000


def test_seasonal_anomaly_zscores_same_weekday_baseline(spark, tmp_path):
    """Planted weekday pattern: clicks run 10/day on four consecutive
    Mondays except one 30-click spike -> mu = 15, sigma = sqrt(75),
    spike z = 15/sqrt(75) ~ 1.73 (max_abs_z), and nothing crosses the
    |z| > 3 gate; weekdays observed < 3 times are excluded."""
    import datetime as dt
    import math

    import pytest as _pt

    rows, eid = [], 0
    start = dt.datetime(2024, 3, 4, 8)  # Monday
    for wk in range(4):
        d = start + dt.timedelta(days=7 * wk)
        n = 30 if wk == 1 else 10
        for _ in range(n):
            rows.append((eid, d, 1, "click", 1.0, "{}")); eid += 1
    # a type seen on only 2 days -> its dow group is excluded (n_days < 3)
    rows.append((eid, start, 2, "error", 1.0, "{}")); eid += 1
    rows.append((eid, start + dt.timedelta(days=7), 2, "error", 1.0, "{}")); eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")

    out = {r["event_type"]: r for r in load_all()["events_anomaly_seasonal"].spark_fn(spark, str(tmp_path)).collect()}
    assert "error" not in out  # < 3 observed days
    c = out["click"]
    assert c["n_days_scored"] == 4 and c["n_anomalous"] == 0
    assert c["max_abs_z"] == _pt.approx(15 / math.sqrt(75), abs=1e-5)


def test_dau_wau_mau_trailing_windows_dedupe_users(spark, tmp_path):
    """Planted engagement: user 1 active on days 1 and 3, user 2 only on
    day 1 -> day-3 DAU=1 but WAU=2 (trailing 7 days reaches day 1, and
    user 1's two visits count once); stickiness = exact ratios."""
    import datetime as dt

    d = lambda i: dt.datetime(2024, 4, 1 + i, 9)  # noqa: E731
    rows = [
        (0, d(0), 1, "view", 1.0, "{}"),
        (1, d(0), 1, "click", 1.0, "{}"),  # same user+day, must dedupe
        (2, d(0), 2, "view", 1.0, "{}"),
        (3, d(2), 1, "view", 1.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")

    out = {str(r["day"]): r for r in load_all()["events_dau_wau_mau"].spark_fn(spark, str(tmp_path)).collect()}
    assert len(out) == 2  # spine = observed days only
    d0, d2 = out["2024-04-01"], out["2024-04-03"]
    assert (d0["dau"], d0["wau"], d0["mau"]) == (2, 2, 2)
    assert (d2["dau"], d2["wau"], d2["mau"]) == (1, 2, 2)
    assert d2["dau_over_wau"] == 0.5 and d2["dau_over_mau"] == 0.5


def test_vocab_coverage_cumulative_by_rank(spark, tmp_path):
    """Planted Zipf-ish counts: 'aa' x6, 'bb' x3, then 200 singletons ->
    top-100 covers 6+3+98 singletons = 107 of 209 occurrences; the
    full-vocab checkpoints cover everything."""
    body = "aa " * 6 + "bb " * 3 + " ".join(f"w{i:03d}" for i in range(200))
    spark.createDataFrame(
        [(0, body, "s", "en", 1)],
        "doc_id long, text string, source string, lang string, n_chars long",
    ).write.parquet(f"{tmp_path}/documents.parquet")

    out = {r["vocab_size"]: r for r in load_all()["text_vocab_coverage"].spark_fn(spark, str(tmp_path)).collect()}
    assert out[100]["n_tokens"] == 209 and out[100]["corpus_vocab"] == 202
    assert out[100]["covered_tokens"] == 6 + 3 + 98
    assert out[1000]["covered_tokens"] == 209
    assert out[1000]["coverage"] == 1.0


def test_supplier_scorecard_attributes_violations(spark, tmp_path):
    """Planted vendors: supplier 1 ships one impossible (-1d) and one
    late (+90d) of 2 lines; supplier 2 ships clean. Revenue tie-break
    and post-top-20 dim join pinned through the names."""
    import datetime as dt

    base = dt.datetime(2024, 2, 1)
    spark.createDataFrame(
        [(1, 1, "O", 0.0, base, "1"), (2, 1, "O", 0.0, base, "1")],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.parquet(f"{tmp_path}/orders.parquet")
    li = [
        (1, 1, 1, 1, 1.0, 200.0, 0.0, 0.0, "N", "O", base - dt.timedelta(days=1)),
        (1, 1, 1, 2, 1.0, 200.0, 0.5, 0.0, "N", "O", base + dt.timedelta(days=90)),
        (2, 1, 2, 1, 1.0, 100.0, 0.0, 0.0, "N", "O", base + dt.timedelta(days=5)),
    ]
    spark.createDataFrame(
        li,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    ).write.parquet(f"{tmp_path}/lineitem.parquet")
    spark.createDataFrame(
        [(1, "S1", 0), (2, "S2", 0)],
        "s_suppkey long, s_name string, s_nationkey long",
    ).write.parquet(f"{tmp_path}/supplier.parquet")

    out = {r["supplier"]: r for r in load_all()["join_supplier_scorecard"].spark_fn(spark, str(tmp_path)).collect()}
    s1, s2 = out["S1"], out["S2"]
    assert s1["rank"] == 1  # 200 + 100 net cents beats 100
    assert s1["revenue_cents"] == 30000 and s2["revenue_cents"] == 10000
    assert s1["impossible_share"] == 0.5 and s1["late_share"] == 0.5
    assert s2["impossible_share"] == 0.0 and s2["late_share"] == 0.0


def test_funnel_step_timing_orders_steps_and_censors(spark, tmp_path):
    """Planted funnel: two users click 10/20 minutes after first view
    (median rank ceil(1)=... n=2 -> rank 1 -> 10; p90 rank 2 -> 20);
    one of them purchases 30 minutes after the click; a user whose
    click PRECEDES their first view is censored out of view_to_click."""
    import datetime as dt

    b = dt.datetime(2024, 5, 5, 9)
    mk = lambda i, m, u, t: (i, b + dt.timedelta(minutes=m), u, t, 1.0, "{}")  # noqa: E731
    rows = [
        mk(0, 0, 1, "view"), mk(1, 10, 1, "click"), mk(2, 40, 1, "purchase"),
        mk(3, 0, 2, "view"), mk(4, 20, 2, "click"),
        mk(5, 0, 3, "click"), mk(6, 5, 3, "view"),  # click before view
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")

    out = {r["step"]: r for r in load_all()["events_funnel_step_timing"].spark_fn(spark, str(tmp_path)).collect()}
    vc = out["view_to_click"]
    assert vc["n"] == 2 and (vc["median_minutes"], vc["p90_minutes"]) == (10, 20)
    assert vc["mean_minutes"] == 15.0
    cp = out["click_to_purchase"]
    assert cp["n"] == 1 and cp["median_minutes"] == 30


def test_dedup_threshold_sweep_is_monotone_and_exact(spark, tmp_path):
    """Planted pairs: an identical pair (j=1.0) and a partial-overlap
    pair with jaccard between 0.45 and 0.6 -> counts step down exactly
    at the crossing threshold, and docs-affected tracks the union."""
    # 12 shared tokens of 14 -> shingle jaccard ~ 10/14 > 0.6; craft a
    # mid-band pair instead: half-overlapping shingle sets
    a = "one two three four five six seven eight nine ten"
    b = "one two three four five six alpha beta gamma delta"
    docs = [
        (0, "same text here exactly matching", "s", "en", 1),
        (1, "same text here exactly matching", "s", "en", 1),
        (2, a, "s", "en", 1),
        (3, b, "s", "en", 1),
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, source string, lang string, n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")

    out = {r["threshold"]: r for r in load_all()["text_dedup_threshold_sweep"].spark_fn(spark, str(tmp_path)).collect()}
    assert len(out) == 5
    # identical pair survives every threshold; the mid pair (4 shared of
    # 12 distinct shingles = 1/3) only the 0.3 floor
    assert out[0.3]["n_pairs"] == 2 and out[0.3]["n_docs_affected"] == 4
    assert out[0.45]["n_pairs"] == 1 and out[0.45]["n_docs_affected"] == 2
    assert out[0.9]["n_pairs"] == 1
    ns = [out[t]["n_pairs"] for t in sorted(out)]
    assert ns == sorted(ns, reverse=True)  # monotone non-increasing


def test_first_touch_credits_earliest_eligible(spark, tmp_path):
    """Planted journey: click at -3d then view at -1d before a purchase
    -> first-touch goes to the click; a touch 8 days out is ineligible
    so the other purchase's first touch is its -2d view."""
    import datetime as dt

    b = dt.datetime(2024, 7, 10, 12)
    rows = [
        (0, b - dt.timedelta(days=3), 1, "click", 1.0, "{}"),
        (1, b - dt.timedelta(days=1), 1, "view", 1.0, "{}"),
        (2, b, 1, "purchase", 9.0, "{}"),
        (3, b - dt.timedelta(days=8), 2, "click", 1.0, "{}"),
        (4, b - dt.timedelta(days=2), 2, "view", 1.0, "{}"),
        (5, b, 2, "purchase", 5.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")

    out = {r["event_type"]: r["first_touch_purchases"] for r in load_all()["events_attribution_first_touch"].spark_fn(spark, str(tmp_path)).collect()}
    assert out == {"click": 1, "view": 1}


def test_license_detection_first_match_wins(spark, tmp_path):
    """The CASE ladder is ordered: a doc carrying both Apache and
    all-rights-reserved phrases classifies apache; clean prose
    classifies none."""
    docs = [
        (0, "Licensed under the Apache License. All rights reserved.", "s1", "en", 1),
        (1, "Permission is hereby granted, free of charge, to any person", "s1", "en", 1),
        (2, "This text is under the GNU General Public License terms", "s2", "en", 1),
        (3, "Copyright 2024. All rights reserved.", "s2", "en", 1),
        (4, "just a normal sentence about nothing legal", "s2", "en", 1),
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, source string, lang string, n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")

    out = {(r["source"], r["license"]): r["n_docs"] for r in load_all()["text_license_detection"].spark_fn(spark, str(tmp_path)).collect()}
    assert out == {
        ("s1", "apache"): 1,
        ("s1", "mit"): 1,
        ("s2", "gpl"): 1,
        ("s2", "all_rights_reserved"): 1,
        ("s2", "none"): 1,
    }


def test_error_budget_burn_thresholds(spark, tmp_path):
    """Planted hours against the 1% SLO: a 50%-error hour burns 50x
    (fast), a 10%-error hour burns 10x (slow only), a clean hour burns
    0 -> overall burn = total share / 0.01 exactly."""
    import datetime as dt

    rows, eid = [], 0
    h = lambda i: dt.datetime(2024, 10, 1, i)  # noqa: E731
    for _ in range(5):
        rows.append((eid, h(0), 1, "error", 1.0, "{}")); eid += 1
        rows.append((eid, h(0), 1, "view", 1.0, "{}")); eid += 1
    for i in range(10):
        rows.append((eid, h(1), 1, "error" if i == 0 else "view", 1.0, "{}")); eid += 1
    for _ in range(10):
        rows.append((eid, h(2), 1, "view", 1.0, "{}")); eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")

    r = load_all()["events_error_budget_burn"].spark_fn(spark, str(tmp_path)).collect()[0]
    assert (r["n_hours"], r["total_errors"]) == (3, 6)
    assert r["hours_fast_burn"] == 1 and r["hours_slow_burn"] == 2
    assert r["max_hourly_burn"] == 50.0
    assert r["overall_burn_rate"] == round(6 / 30 / 0.01 + 1e-9, 6)


def test_revenue_concentration_pareto_and_gini(spark, tmp_path):
    """Planted concentration: customer 1 books 80 of 100 dollars in one
    order, four others 5 each -> n80 = 1 (cum 80% at the first rank),
    top-1% share 0 (1% of 5 customers rounds below rank 1), and the
    exact Gini of (80,5,5,5,5): with ascending cum (5,10,15,20,100),
    G = (n+1 - 2*150/100)/n = (6 - 3)/5 = 0.6."""
    import datetime as dt

    b = dt.datetime(2024, 1, 1)
    rows = [(0, 1, "O", 80.0, b, "1")]
    rows += [(i, i + 1, "O", 5.0, b, "1") for i in range(1, 5)]
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.parquet(f"{tmp_path}/orders.parquet")

    r = load_all()["agg_revenue_concentration"].spark_fn(spark, str(tmp_path)).collect()[0]
    assert (r["n_customers"], r["total_cents"]) == (5, 10000)
    assert r["n80"] == 1 and r["share_customers_for_80pct"] == 0.2
    assert r["top1pct_revenue_share"] == 0.0
    assert r["gini"] == 0.6


def test_cart_abandonment_24h_window(spark, tmp_path):
    """Planted carts: user 1 purchases 2h after the day's last click
    (converted), user 2 purchases 30h after (abandoned — outside 24h),
    user 3 never purchases -> day rate 2/3; a purchase BEFORE the last
    click must not count."""
    import datetime as dt

    b = dt.datetime(2024, 11, 5, 10)
    rows = [
        (0, b, 1, "click", 1.0, "{}"),
        (1, b + dt.timedelta(hours=2), 1, "purchase", 9.0, "{}"),
        (2, b, 2, "click", 1.0, "{}"),
        (3, b + dt.timedelta(hours=30), 2, "purchase", 9.0, "{}"),
        (4, b, 3, "click", 1.0, "{}"),
        (5, b - dt.timedelta(hours=1), 3, "purchase", 9.0, "{}"),  # before
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")

    r = load_all()["events_cart_abandonment"].spark_fn(spark, str(tmp_path)).collect()
    assert len(r) == 1
    assert (r[0]["n_clickers"], r[0]["n_abandoned"]) == (3, 2)
    assert r[0]["abandonment_rate"] == round(2 / 3 + 1e-9, 6)


def test_event_duplication_reports_only_dirty_days(spark, tmp_path):
    """Planted replay: one event triplicated on day 1 (2 excess rows,
    multiplicity 3), day 2 clean -> exactly one finding row; the clean
    fixture corpora correctly return an empty frame (pinned by the
    0-row oracle result at all SFs)."""
    import datetime as dt

    d1, d2 = dt.datetime(2024, 3, 1, 9), dt.datetime(2024, 3, 2, 9)
    rows = [
        (0, d1, 1, "view", 1.0, "{}"),
        (1, d1, 1, "view", 1.0, "{}"),
        (2, d1, 1, "view", 1.0, "{}"),
        (3, d1, 2, "click", 1.0, "{}"),
        (4, d2, 1, "view", 1.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")

    out = load_all()["dq_event_duplication"].spark_fn(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["n_events"], r["n_dup_rows"], r["worst_multiplicity"]) == (4, 2, 3)
    assert r["dup_rate"] == 0.5


def test_yoy_growth_gap_month_yields_null_not_misalignment(spark, tmp_path):
    """Calendar semantics pinned: with February missing entirely, March's
    MoM must be NULL (no prior calendar month), NOT a silent comparison
    against January — the misalignment a row-frame lag(1) would
    produce."""
    import datetime as dt

    rows = [
        (0, 1, "O", 100.0, dt.datetime(2024, 1, 15), "1"),
        (1, 1, "O", 200.0, dt.datetime(2024, 3, 15), "1"),
        (2, 1, "O", 300.0, dt.datetime(2024, 4, 15), "1"),
    ]
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.parquet(f"{tmp_path}/orders.parquet")

    out = {str(r["month"]): r for r in load_all()["agg_yoy_growth"].spark_fn(spark, str(tmp_path)).collect()}
    assert out["2024-03-01"]["mom_growth"] is None  # Feb gap -> NULL
    assert out["2024-04-01"]["mom_growth"] == 0.5  # 300 vs 200


def test_cusum_changepoint_finds_planted_shift(spark, tmp_path):
    """Planted mean shift: 10 days at $10/day then 10 days at $30/day ->
    the |CUSUM| of deviations from the $20 overall mean peaks exactly at
    the last pre-shift day (day index 9), the textbook single-shift MLE;
    the peak magnitude is n·Σdev = 20·(10·(10−20)) = −2000 dollars
    scaled, reported as cusum/n/100 dollars."""
    import datetime as dt

    rows, eid = [], 0
    base = dt.datetime(2024, 6, 1, 12)
    for day in range(20):
        v = 10.0 if day < 10 else 30.0
        rows.append((eid, base + dt.timedelta(days=day), 1, "purchase", v, "{}"))
        eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")

    r = load_all()["events_cusum_changepoint"].spark_fn(spark, str(tmp_path)).collect()
    assert len(r) == 1
    row = r[0]
    assert row["n_events"] == 20
    # changepoint_day is an epoch-day index; the peak must be the 10th
    # observed day (index 9 relative to the first)
    first_day = int(base.timestamp() // 86400)
    assert row["changepoint_day"] - first_day == 9
    # |peak| = |n * sum_dev| / n / 100 dollars = |10 * (10-20)| = 100
    assert abs(row["cusum_peak_dollars"]) == 100.0


def test_new_vs_returning_first_day_labeling(spark, tmp_path):
    """Planted growth: user 1 active on days 1 and 2 (new then
    returning), user 2 only day 2 (new) -> day 2 has 1 new + 1
    returning; repeat events within a day never double-count a user."""
    import datetime as dt

    d1, d2 = dt.datetime(2024, 8, 1, 9), dt.datetime(2024, 8, 2, 9)
    rows = [
        (0, d1, 1, "view", 1.0, "{}"),
        (1, d1, 1, "click", 1.0, "{}"),  # same user+day, dedupe
        (2, d2, 1, "view", 1.0, "{}"),
        (3, d2, 2, "view", 1.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")

    out = {str(r["day"]): r for r in load_all()["events_new_vs_returning"].spark_fn(spark, str(tmp_path)).collect()}
    a, b = out["2024-08-01"], out["2024-08-02"]
    assert (a["active_users"], a["new_users"], a["returning_users"]) == (1, 1, 0)
    assert (b["active_users"], b["new_users"], b["returning_users"]) == (2, 1, 1)
    assert b["new_share"] == 0.5


def test_price_volume_mix_decomposition_is_exact(spark, tmp_path):
    """Planted brand: 1999 sells 10 units @ $2.00, 2000 sells 20 units
    @ $3.00 -> dR = 60-20 = 40; volume = (20-10)*2 = 20; price =
    (3-2)*10 = 10; mix = (3-2)*(20-10) = 10 — and the three effects sum
    to dR exactly."""
    import datetime as dt

    li = [
        (1, 1, 1, 1, 10.0, 20.0, 0.0, 0.0, "N", "O", dt.datetime(1999, 6, 1)),
        (2, 1, 1, 1, 20.0, 60.0, 0.0, 0.0, "N", "O", dt.datetime(2000, 6, 1)),
    ]
    spark.createDataFrame(
        li,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    ).write.parquet(f"{tmp_path}/lineitem.parquet")
    spark.createDataFrame(
        [(1, "p", "Brand#1", "t", 1, 2.0)],
        "p_partkey long, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double",
    ).write.parquet(f"{tmp_path}/part.parquet")

    rows = load_all()["agg_price_volume_mix"].spark_fn(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["qty_base"], r["qty_curr"]) == (10, 20)
    assert r["delta_revenue"] == 40.0
    assert r["volume_effect"] == 20.0
    assert r["price_effect"] == 10.0
    assert r["mix_effect"] == 10.0
    assert (
        r["volume_effect"] + r["price_effect"] + r["mix_effect"]
        == r["delta_revenue"]
    )


def test_order_total_reconciliation_buckets(spark, tmp_path):
    """Planted ledger: order 1 reconciles exactly (100.00 vs one
    discounted+taxed line at 100.00); order 2's header is 5% above its
    lines (lt_10pct); order 3 has no lines; line with orderkey 99 has
    no order. Shares use order grain for buckets, line grain for the
    orphan row."""
    import datetime as dt

    d = dt.datetime(2024, 1, 1)
    spark.createDataFrame(
        [
            (1, 1, "F", 100.0, d, "1-URGENT"),
            (2, 1, "F", 105.0, d, "1-URGENT"),
            (3, 1, "F", 50.0, d, "1-URGENT"),
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.parquet(f"{tmp_path}/orders.parquet")
    li = [
        # 125 * (1-0.2) * (1+0.0) = 100.00 -> exact
        (1, 1, 1, 1, 1.0, 125.0, 0.2, 0.0, "N", "O", d),
        # header 105 vs lines 100 -> gap ~4.76% -> lt_10pct
        (2, 1, 1, 1, 1.0, 100.0, 0.0, 0.0, "N", "O", d),
        (99, 1, 1, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", d),  # orphan
    ]
    spark.createDataFrame(
        li,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    ).write.parquet(f"{tmp_path}/lineitem.parquet")

    out = {
        r["bucket"]: r
        for r in load_all()["dq_order_total_reconciliation"]
        .spark_fn(spark, str(tmp_path))
        .collect()
    }
    assert len(out) == 7
    assert out["exact"]["n"] == 1
    assert out["lt_10pct"]["n"] == 1
    assert out["orders_without_lines"]["n"] == 1
    assert out["lines_without_order"]["n"] == 1
    assert out["lt_0.1pct"]["n"] == 0 and out["lt_1pct"]["n"] == 0
    assert out["gte_10pct"]["n"] == 0
    # order-grain shares sum to 1 over the six order buckets (each share
    # rounds at 1e-6, so the sum is exact only to ~n_buckets * 1e-6)
    assert (
        abs(
            sum(out[b]["share"] for b in ("exact", "lt_0.1pct", "lt_1pct",
                                          "lt_10pct", "gte_10pct",
                                          "orders_without_lines"))
            - 1.0
        )
        < 1e-5
    )
    assert out["lines_without_order"]["share"] == round(1 / 3 + 1e-9, 6)


def test_bot_detection_flags_timer_regular_user(spark, tmp_path):
    """Planted traffic: user 1 fires every 60s exactly 40 times (CV = 0,
    n >= 30 -> bot, ranked first); user 2 has bursty gaps (CV > 0.3, not
    flagged); user 3 has 3 events (n_gaps < 5 -> excluded entirely)."""
    import datetime as dt

    b = dt.datetime(2024, 3, 1, 12)
    rows = []
    eid = 0
    for i in range(40):  # bot: exact 60s metronome
        rows.append((eid, b + dt.timedelta(seconds=60 * i), 1, "view", 1.0, "{}"))
        eid += 1
    for off in [0, 5, 6, 300, 301, 4000, 4100, 9000]:  # human: bursts
        rows.append((eid, b + dt.timedelta(seconds=off), 2, "click", 1.0, "{}"))
        eid += 1
    for off in [0, 50, 100]:  # too few gaps
        rows.append((eid, b + dt.timedelta(seconds=off), 3, "view", 1.0, "{}"))
        eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")

    out = load_all()["events_bot_detection"].spark_fn(spark, str(tmp_path)).collect()
    assert [r["user_id"] for r in out] == [1, 2]  # user 3 excluded
    bot, human = out
    assert bot["is_bot"] and bot["gap_cv"] == 0.0
    assert bot["mean_gap_s"] == 60.0 and bot["n_events"] == 40
    assert not human["is_bot"] and human["gap_cv"] > 0.3


def test_lagged_crosscorr_finds_planted_lead(spark, tmp_path):
    """Clicks ramp 1..5 on days 0..4; purchases ramp 1..5 on days 2..6
    -> pearson_r = 1.0 exactly at lag 2 and below 1 at lag 0."""
    import datetime as dt

    b = dt.datetime(2024, 6, 1)
    rows, eid = [], 0
    for d, k in enumerate([1, 2, 3, 4, 5]):
        for _ in range(k):
            rows.append((eid, b + dt.timedelta(days=d, minutes=eid % 60), 1,
                         "click", 1.0, "{}"))
            eid += 1
    for d, k in zip([2, 3, 4, 5, 6], [1, 2, 3, 4, 5]):
        for _ in range(k):
            rows.append((eid, b + dt.timedelta(days=d, minutes=eid % 60), 2,
                         "purchase", 1.0, "{}"))
            eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")

    out = {r["lag_days"]: r for r in load_all()["events_lagged_crosscorr"].spark_fn(spark, str(tmp_path)).collect()}
    # lag 7 exceeds the 7-day spine -> no pairs -> the row drops in
    # both engines (inner join); lags 0..6 remain
    assert set(out) == set(range(7))
    assert out[2]["pearson_r"] == 1.0
    assert out[2]["n_days"] == 5  # days 0..4 pair with 2..6
    assert out[0]["pearson_r"] < 1.0
    assert out[0]["n_days"] == 7  # full 7-day spine at lag 0


def test_negative_sampling_excludes_positives_and_is_deterministic(spark, tmp_path):
    """Customer 1 bought parts 0..5 of a 10-part catalog -> their 3
    negatives come only from the other 4 parts; two runs produce
    identical rows (hash draw, no RNG state)."""
    import datetime as dt

    d = dt.datetime(2024, 1, 1)
    spark.createDataFrame(
        [(1, 1, "F", 10.0, d, "1-URGENT")],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.parquet(f"{tmp_path}/orders.parquet")
    li = [
        (1, pk, 1, i + 1, 1.0, 10.0, 0.0, 0.0, "N", "O", d)
        for i, pk in enumerate([100, 101, 102, 103, 104, 105])
    ]
    spark.createDataFrame(
        li,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    ).write.parquet(f"{tmp_path}/lineitem.parquet")
    spark.createDataFrame(
        [(100 + i, "p", "B", "t", 1, 1.0) for i in range(10)],
        "p_partkey long, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double",
    ).write.parquet(f"{tmp_path}/part.parquet")

    fn = load_all()["join_negative_sampling"].spark_fn
    rows1 = [tuple(r) for r in fn(spark, str(tmp_path)).collect()]
    rows2 = [tuple(r) for r in fn(spark, str(tmp_path)).collect()]
    assert rows1 == rows2  # reproducible
    assert len(rows1) == 3 and [r[1] for r in rows1] == [1, 2, 3]
    bought = {100, 101, 102, 103, 104, 105}
    assert all(r[2] not in bought and 100 <= r[2] <= 109 for r in rows1)


def test_linear_interpolation_fills_straight_line(spark, tmp_path):
    """One type observed at hour 0 (mean $1.00) and hour 4 ($5.00):
    hours 1-3 interpolate to 2/3/4 dollars; a leading silent type-b
    hour back-fills to its first reading."""
    import datetime as dt

    b = dt.datetime(2024, 1, 1, 0, 30)
    rows = [
        (0, b, 1, "a", 1.0, "{}"),
        (1, b + dt.timedelta(hours=4), 1, "a", 5.0, "{}"),
        (2, b + dt.timedelta(hours=1), 2, "b", 7.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")

    out = load_all()["events_linear_interpolation"].spark_fn(spark, str(tmp_path)).collect()
    a = {r["hour_num"] - min(x["hour_num"] for x in out): r
         for r in out if r["event_type"] == "a"}
    assert [a[i]["value_dollars"] for i in range(5)] == [1.0, 2.0, 3.0, 4.0, 5.0]
    assert [a[i]["observed"] for i in range(5)] == [True, False, False, False, True]
    bvals = [r for r in out if r["event_type"] == "b"]
    assert all(r["value_dollars"] == 7.0 for r in bvals)  # clamp both ways
    assert sum(r["observed"] for r in bvals) == 1


def test_shuffle_interleave_detects_sorted_vs_mixed(spark, tmp_path):
    """The hash order is a fixed permutation, so the audit must (a)
    cover every doc exactly once (sum n_docs, positions 0..N-1 ->
    overall mean ratio 1), and (b) report a max_run of N for a corpus
    that is ALL one source."""
    docs = [(i, f"w{i}", "en", f"s{i % 4}", 5) for i in range(40)]
    spark.createDataFrame(
        docs,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{tmp_path}/documents.parquet")
    out = load_all()["corpus_shuffle_interleave"].spark_fn(spark, str(tmp_path)).collect()
    assert sum(r["n_docs"] for r in out) == 40
    # weighted mean of mean_pos_ratio over sources = 1 (positions are a
    # permutation of 0..39); each rounds at 1e-6
    wm = sum(r["mean_pos_ratio"] * r["n_docs"] for r in out) / 40
    assert abs(wm - 1.0) < 1e-4
    assert all(1 <= r["max_run"] <= 40 for r in out)

    mono = [(i, "t", "en", "only", 1) for i in range(16)]
    spark.createDataFrame(
        mono,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{tmp_path}/mono/documents.parquet")
    solo = load_all()["corpus_shuffle_interleave"].spark_fn(spark, f"{tmp_path}/mono").collect()
    assert len(solo) == 1 and solo[0]["max_run"] == 16
    assert solo[0]["mean_pos_ratio"] == 1.0


def test_topk_diversity_redundant_list_scores_zero(spark, tmp_path):
    """Query 0's five nearest neighbors are five COPIES of one vector
    -> every pairwise cosine is 1 -> ILD = 0; a mixed corpus where the
    top-5 split across two orthogonal directions scores ILD > 0."""
    dup = [1.0, 0.0, 0.0]
    rows = [(0, [1.0, 0.1, 0.0], 0)]
    rows += [(i, dup, 0) for i in range(1, 6)]          # 5 clones
    rows += [(i, [0.0, 0.0, 1.0], 1) for i in range(6, 10)]  # far away
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{tmp_path}/embeddings.parquet")
    out = load_all()["emb_topk_diversity"].spark_fn(spark, str(tmp_path)).collect()
    q0 = [r for r in out if r["query_id"] == 0][0]
    assert q0["intra_list_diversity"] == 0.0
    assert q0["mean_relevance"] > 0.99
    # every query with a mixed-direction top-5 shows positive diversity
    mixed = [r for r in out if r["query_id"] >= 6]
    assert all(r["intra_list_diversity"] > 0.5 for r in mixed)


def test_collocations_pmi_ranks_perfect_pair_first(spark, tmp_path):
    """Five docs of 'alpha beta the the': alpha->beta is a perfect
    collocation (every alpha is followed by beta) and must rank first
    with PMI = ln(c_ab*T^2 / (B*c_a*c_b)) = ln(16/3); 'the the' is
    frequent but weakly associated and scores lowest."""
    import math

    docs = [(i, "alpha beta the the", "en", "s", 18) for i in range(5)]
    spark.createDataFrame(
        docs,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{tmp_path}/documents.parquet")
    out = load_all()["text_collocations_pmi"].spark_fn(spark, str(tmp_path)).collect()
    assert [r["bigram"] for r in out] == ["alpha beta", "beta the", "the the"]
    top = out[0]
    assert (top["c_ab"], top["c_a"], top["c_b"]) == (5, 5, 5)
    assert top["pmi"] == round(math.log(16 / 3) + 1e-9, 6)
    assert out[-1]["pmi"] < top["pmi"]


def test_cluster_purity_perfect_and_collapsed(spark, tmp_path):
    """Sign buckets that exactly mirror the labels score purity = NMI =
    1; a collapsed single bucket over two labels scores purity = the
    majority share and NMI = 0."""
    up = [1.0] * 8
    flip = [-1.0] + [1.0] * 7
    rows = [(i, up, 0) for i in range(4)] + [(4 + i, flip, 1) for i in range(4)]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{tmp_path}/embeddings.parquet")
    r = load_all()["emb_cluster_purity"].spark_fn(spark, str(tmp_path)).collect()[0]
    assert (r["n_vecs"], r["n_buckets"], r["n_labels"]) == (8, 2, 2)
    assert r["purity"] == 1.0 and r["nmi"] == 1.0

    rows2 = [(i, up, 0) for i in range(3)] + [(3, up, 1)]
    spark.createDataFrame(
        rows2, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{tmp_path}/one/embeddings.parquet")
    r2 = load_all()["emb_cluster_purity"].spark_fn(spark, f"{tmp_path}/one").collect()[0]
    assert r2["n_buckets"] == 1
    assert r2["purity"] == 0.75 and r2["nmi"] == 0.0


def test_degree_histogram_counts_hub_and_isolated(spark, tmp_path):
    """Three docs share one 8-token passage (a triangle: each has
    degree 2); one doc is unique (degree 0)."""
    passage = "p1 p2 p3 p4 p5 p6 p7 p8"
    docs = [
        (0, passage, "en", "s", 1),
        (1, passage, "en", "s", 1),
        (2, passage, "en", "s", 1),
        (3, "q1 q2 q3 q4 q5 q6 q7 q8", "en", "s", 1),
    ]
    spark.createDataFrame(
        docs,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{tmp_path}/documents.parquet")
    out = {r["degree"]: r["n_docs"] for r in load_all()["graph_degree_histogram"].spark_fn(spark, str(tmp_path)).collect()}
    assert out == {0: 1, 2: 3}


def test_categorical_entropy_uniform_and_constant(spark, tmp_path):
    """Orders with a 2-way uniform status (entropy ln 2, norm 1, gini
    0.5, top share 0.5) and a constant priority (entropy 0, norm 0,
    gini 0, top share 1)."""
    import datetime as dt
    import math

    d = dt.datetime(2024, 1, 1)
    rows = [(i, 1, "A" if i % 2 == 0 else "B", 1.0, d, "SAME") for i in range(8)]
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.parquet(f"{tmp_path}/orders.parquet")
    out = {r["col_name"]: r for r in load_all()["dq_categorical_entropy"].spark_fn(spark, str(tmp_path)).collect()}
    st, pr = out["o_orderstatus"], out["o_orderpriority"]
    assert st["n_distinct"] == 2 and pr["n_distinct"] == 1
    assert abs(st["entropy_nats"] - math.log(2)) < 1e-6
    assert st["entropy_norm"] == 1.0 and st["gini_impurity"] == 0.5
    assert st["top_share"] == 0.5
    assert pr["entropy_nats"] == 0.0 and pr["entropy_norm"] == 0.0
    assert pr["gini_impurity"] == 0.0 and pr["top_share"] == 1.0


def test_transition_dwell_exact_median_and_mean(spark, tmp_path):
    """User does view -(10s)-> click three times with gaps 10/20/60s:
    the view->click row has n=3, mean = 30s, median = 20s."""
    import datetime as dt

    b = dt.datetime(2024, 4, 1, 12)
    offs = [(0, "view"), (10, "click"), (100, "view"), (120, "click"),
            (200, "view"), (260, "click")]
    rows = [(i, b + dt.timedelta(seconds=o), 1, ty, 1.0, "{}")
            for i, (o, ty) in enumerate(offs)]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")
    out = {(r["prev_type"], r["event_type"]): r for r in load_all()["events_transition_dwell"].spark_fn(spark, str(tmp_path)).collect()}
    vc = out[("view", "click")]
    assert vc["n_transitions"] == 3
    assert vc["mean_dwell_s"] == 30.0
    assert vc["median_dwell_s"] == 20.0
    # click->view gaps: 90s and 80s -> median (80+90)/2
    cv = out[("click", "view")]
    assert cv["n_transitions"] == 2 and cv["median_dwell_s"] == 85.0


def test_churn_risk_overdue_user_ranks_first(spark, tmp_path):
    """User 1: 12 hourly events then silence for the rest of the span
    (risk >> 1). User 2: 12 hourly events ending AT corpus max (risk
    0). User 3 has 5 events -> excluded."""
    import datetime as dt

    b = dt.datetime(2024, 2, 1)
    rows, eid = [], 0
    for i in range(12):  # user 1 early then silent
        rows.append((eid, b + dt.timedelta(hours=i), 1, "view", 1.0, "{}"))
        eid += 1
    for i in range(12):  # user 2 active until the end
        rows.append((eid, b + dt.timedelta(days=9) + dt.timedelta(hours=i), 2,
                     "view", 1.0, "{}"))
        eid += 1
    for i in range(5):
        rows.append((eid, b + dt.timedelta(hours=i), 3, "view", 1.0, "{}"))
        eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")
    out = load_all()["events_churn_risk"].spark_fn(spark, str(tmp_path)).collect()
    assert [r["user_id"] for r in out] == [1, 2]  # user 3 excluded
    u1, u2 = out
    assert u1["p90_gap_s"] == 3600 and u2["churn_risk"] == 0.0
    # user 1 is ~9.46 days overdue against a 1h rhythm
    assert u1["churn_risk"] > 200


def test_growth_accounting_quartet_balances(spark, tmp_path):
    """Planted lifecycle: user 1 active days 0,1,3 (new, retained,
    resurrected; churn counted on days 2 and 4... day 4 > max_dn so
    suppressed); user 2 active day 1 only (new; churned day 2). Day 3
    is the corpus edge."""
    import datetime as dt

    b = dt.datetime(2024, 7, 1, 6)
    mk = lambda eid, d, u: (eid, b + dt.timedelta(days=d), u, "view", 1.0, "{}")  # noqa: E731
    rows = [mk(0, 0, 1), mk(1, 1, 1), mk(2, 3, 1), mk(3, 1, 2)]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")
    rows_out = load_all()["events_growth_accounting"].spark_fn(spark, str(tmp_path)).collect()
    base = min(r["day_num"] for r in rows_out)
    out = {r["day_num"] - base: r for r in rows_out}
    d0, d1, d3 = out[0], out[1], out[3]
    assert (d0["active"], d0["new_users"]) == (1, 1)
    assert (d1["active"], d1["new_users"], d1["retained"]) == (2, 1, 1)
    assert (d3["active"], d3["resurrected"]) == (1, 1)
    # day 2: both users silent after day 1 -> 2 churned, 0 active
    assert 2 in out and out[2]["churned"] == 2 and out[2]["active"] == 0
    # every day: active = new + retained + resurrected
    for r in out.values():
        assert r["active"] == r["new_users"] + r["retained"] + r["resurrected"]


def test_attribution_window_sweep_is_monotone_and_exact(spark, tmp_path):
    """Purchases at 30min / 12h / 3d after their only click plus one
    clickless purchase: shares climb 1/4 -> 1/4 -> 2/4 -> 3/4 across
    the 1h/6h/24h/7d windows."""
    import datetime as dt

    b = dt.datetime(2024, 8, 1)
    rows = [
        (0, b, 1, "click", 1.0, "{}"),
        (1, b + dt.timedelta(minutes=30), 1, "purchase", 1.0, "{}"),
        (2, b, 2, "click", 1.0, "{}"),
        (3, b + dt.timedelta(hours=12), 2, "purchase", 1.0, "{}"),
        (4, b, 3, "click", 1.0, "{}"),
        (5, b + dt.timedelta(days=3), 3, "purchase", 1.0, "{}"),
        (6, b, 4, "purchase", 1.0, "{}"),  # no click ever
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")
    out = {r["window_name"]: r for r in load_all()["events_attribution_window_sweep"].spark_fn(spark, str(tmp_path)).collect()}
    assert [out[w]["n_attributed"] for w in ("1h", "6h", "24h", "7d")] == [1, 1, 2, 3]
    assert all(out[w]["n_purchases"] == 4 for w in out)
    assert out["7d"]["attributed_share"] == 0.75


def test_velocity_burst_counts_trailing_window(spark, tmp_path):
    """User 1 fires 25 events inside one minute (flagged, max burst 25)
    then goes quiet; user 2 spreads 10 events a minute apart (burst 2
    at most, not flagged)."""
    import datetime as dt

    b = dt.datetime(2024, 9, 1, 12)
    rows = [(i, b + dt.timedelta(seconds=2 * i), 1, "view", 1.0, "{}")
            for i in range(25)]
    rows += [(100 + i, b + dt.timedelta(minutes=i), 2, "view", 1.0, "{}")
             for i in range(10)]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")
    out = {r["user_id"]: r for r in load_all()["events_velocity_burst"].spark_fn(spark, str(tmp_path)).collect()}
    assert out[1]["max_burst_60s"] == 25 and out[1]["velocity_flag"]
    # exactly-60s-apart events share a RANGE frame boundary: 2 per frame
    assert out[2]["max_burst_60s"] == 2 and not out[2]["velocity_flag"]


def test_nearest_centroid_separable_space_is_perfect(spark, tmp_path):
    """Two tight orthogonal clusters classify perfectly; moving one
    vector of label 0 ONTO label 1's axis misclassifies exactly it."""
    a, bb = [1.0, 0.0], [0.0, 1.0]
    rows = [(i, a, 0) for i in range(4)] + [(4 + i, bb, 1) for i in range(4)]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{tmp_path}/embeddings.parquet")
    out = {r["true_label"]: r for r in load_all()["emb_nearest_centroid"].spark_fn(spark, str(tmp_path)).collect()}
    assert out[0]["accuracy"] == 1.0 and out[1]["accuracy"] == 1.0

    rows2 = [(i, a, 0) for i in range(3)] + [(3, bb, 0)] + [(4 + i, bb, 1) for i in range(4)]
    spark.createDataFrame(
        rows2, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{tmp_path}/mix/embeddings.parquet")
    out2 = {r["true_label"]: r for r in load_all()["emb_nearest_centroid"].spark_fn(spark, f"{tmp_path}/mix").collect()}
    assert out2[0]["n_correct"] == 3 and out2[0]["n"] == 4
    assert out2[1]["accuracy"] == 1.0


def test_class_margin_separable_vs_confusable(spark, tmp_path):
    """Labels 0/1 share an axis (confusable: inter sim 1, margin 0),
    label 2 is orthogonal: label 0's nearest class must be 1 with
    max_inter_sim 1.0; intra cohesion of identical vectors is 1."""
    ax, az = [1.0, 0.0], [0.0, 1.0]
    rows = ([(i, ax, 0) for i in range(3)]
            + [(3 + i, ax, 1) for i in range(3)]
            + [(6 + i, az, 2) for i in range(3)])
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{tmp_path}/embeddings.parquet")
    out = {r["label"]: r for r in load_all()["emb_class_margin"].spark_fn(spark, str(tmp_path)).collect()}
    assert out[0]["intra_cohesion"] == 1.0
    assert out[0]["nearest_label"] == 1 and out[0]["max_inter_sim"] == 1.0
    assert out[0]["margin"] == 0.0
    assert out[2]["max_inter_sim"] == 0.0 and out[2]["margin"] == 1.0


def test_budget_waterfill_saturates_small_source(spark, tmp_path):
    """Two sources, 100 vs 10k tokens, budget = half the total: the tiny
    source saturates at its full capacity and the big one absorbs the
    remainder; allocations sum to the budget."""
    big = "w " * 10000
    small = "w " * 100
    docs = [(0, big.strip(), "en", "big", 1), (1, small.strip(), "en", "small", 1)]
    spark.createDataFrame(
        docs,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{tmp_path}/documents.parquet")
    out = {r["source"]: r for r in load_all()["corpus_budget_waterfill"].spark_fn(spark, str(tmp_path)).collect()}
    assert out["small"]["saturated"] and out["small"]["alloc_tokens"] == 100.0
    assert not out["big"]["saturated"]
    total = out["small"]["alloc_tokens"] + out["big"]["alloc_tokens"]
    assert abs(total - 5050) < 0.1  # budget = (10100)//2
    assert abs(out["big"]["alloc_share"] + out["small"]["alloc_share"] - 1.0) < 1e-4


def test_cuped_removes_baseline_variance(spark, tmp_path):
    """Users whose post spend EQUALS their pre spend (perfect baseline
    correlation): theta = 1, adjusted spend is identical across users
    -> variance_reduction = 1 and both arms' adjusted means equal the
    grand post mean."""
    import datetime as dt

    pre, post = dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 20)
    rows, eid = [], 0
    for uid, spend in [(1, 10.0), (2, 20.0), (3, 30.0), (4, 40.0)]:
        rows.append((eid, pre, uid, "purchase", spend, "{}")); eid += 1
        rows.append((eid, post, uid, "purchase", spend, "{}")); eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")
    out = {r["arm"]: r for r in load_all()["events_ab_cuped"].spark_fn(spark, str(tmp_path)).collect()}
    assert out[0]["variance_reduction"] == 1.0
    assert out[1]["variance_reduction"] == 1.0
    # grand post mean = 25; adjusted means collapse onto it
    assert out[0]["mean_spend_cuped"] == 25.0
    assert out[1]["mean_spend_cuped"] == 25.0
    # raw means differ (arm 0 = users 2,4 -> 30; arm 1 = users 1,3 -> 20)
    assert out[0]["mean_spend"] == 30.0 and out[1]["mean_spend"] == 20.0


def test_out_of_order_audit_measures_lateness(spark, tmp_path):
    """User 1's third ingested event (event_id order) carries an event
    time 90s BEFORE the second -> exactly one late row with 90s
    lateness; an on-time-only day reports zero."""
    import datetime as dt

    b = dt.datetime(2024, 5, 1, 10)
    rows = [
        (0, b, 1, "view", 1.0, "{}"),
        (1, b + dt.timedelta(seconds=120), 1, "view", 1.0, "{}"),
        (2, b + dt.timedelta(seconds=30), 1, "view", 1.0, "{}"),  # late 90s
        (3, b + dt.timedelta(days=1), 2, "view", 1.0, "{}"),
        (4, b + dt.timedelta(days=1, seconds=10), 2, "view", 1.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")
    out = load_all()["dq_out_of_order_events"].spark_fn(spark, str(tmp_path)).collect()
    d0, d1 = out
    assert (d0["n_events"], d0["n_late"], d0["max_lateness_s"]) == (3, 1, 90)
    assert (d1["n_events"], d1["n_late"], d1["max_lateness_s"]) == (2, 0, 0)


def test_pareto_skyline_dominance(spark, tmp_path):
    """Brand with parts (price, size): (1,10) and (3,20) are frontier;
    (2,5) is dominated by (1,10); (3,20)'s same-price twin (3,15) is
    dominated; equal (price,size) duplicates both survive."""
    parts = [
        (1, "p", "B1", "t", 10, 1.0),
        (2, "p", "B1", "t", 5, 2.0),   # dominated by part 1
        (3, "p", "B1", "t", 20, 3.0),
        (4, "p", "B1", "t", 15, 3.0),  # same price, smaller -> dominated
        (5, "p", "B1", "t", 10, 1.0),  # duplicate of part 1 -> kept
    ]
    spark.createDataFrame(
        parts,
        "p_partkey long, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double",
    ).write.parquet(f"{tmp_path}/part.parquet")
    out = load_all()["agg_pareto_skyline"].spark_fn(spark, str(tmp_path)).collect()
    assert [r["p_partkey"] for r in out] == [1, 5, 3]
    assert all(r["p_partkey"] != 2 and r["p_partkey"] != 4 for r in out)


def test_dx_retention_censoring_and_exact_day(spark, tmp_path):
    """Corpus spans days 0..7: user 1 (first day 0) returns on day 1
    and day 7; user 2 (first day 0) never returns; user 3 first
    appears day 5 -> eligible for d1 only. d30 has no eligible users
    and drops from the output in both engines."""
    import datetime as dt

    b = dt.datetime(2024, 3, 1, 12)
    mk = lambda eid, d, u: (eid, b + dt.timedelta(days=d), u, "view", 1.0, "{}")  # noqa: E731
    rows = [mk(0, 0, 1), mk(1, 1, 1), mk(2, 7, 1), mk(3, 0, 2), mk(4, 5, 3)]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")
    out = {r["horizon_days"]: r for r in load_all()["events_dx_retention"].spark_fn(spark, str(tmp_path)).collect()}
    assert set(out) == {1, 7}  # nobody is 30 days old
    d1, d7 = out[1], out[7]
    # d1: users 1,2 eligible (3 is not: 5+1 <= 7 -> actually eligible!)
    assert d1["n_eligible"] == 3
    assert d1["n_day_x"] == 1          # only user 1 returned on day 1
    assert d1["n_unbounded"] == 1      # user 1 (day 7 >= 1); 2,3 never after
    # d7: users 1,2 (first day 0; 0+7 <= 7); user 3 censored (5+7 > 7)
    assert d7["n_eligible"] == 2
    assert d7["n_day_x"] == 1 and d7["day_x_retention"] == 0.5


def test_snaive_mase_perfect_weekly_cycle(spark, tmp_path):
    """A strict 7-day-periodic series: snaive error is 0 (MASE 0) while
    naive-1 error is positive — the weekly signal detected exactly."""
    import datetime as dt

    b = dt.datetime(2024, 6, 3)  # a Monday
    rows, eid = [], 0
    for d in range(21):
        amount = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0][d % 7]
        rows.append((eid, b + dt.timedelta(days=d), 1, "purchase", amount, "{}"))
        eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")
    out = {r["event_type"]: r for r in load_all()["events_snaive_mase"].spark_fn(spark, str(tmp_path)).collect()}
    p = out["purchase"]
    assert p["n_days_eval"] == 14  # days 7..20
    assert p["mae_snaive"] == 0.0
    assert p["mae_naive1"] > 0
    assert p["mase_vs_naive1"] == 0.0


def test_discount_elasticity_planted_slope(spark, tmp_path):
    """qty = 2 * pct_discount exactly (qty 2,4,...,20 over discounts
    1%..10%, repeated): slope = 2 qty/pct with r² = 1."""
    import datetime as dt

    d = dt.datetime(1999, 6, 1)
    li = []
    k = 0
    for rep in range(2):
        for pct in range(1, 11):
            li.append((k, 1, 1, 1, float(2 * pct), 10.0, pct / 100.0, 0.0,
                       "N", "O", d))
            k += 1
    spark.createDataFrame(
        li,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    ).write.parquet(f"{tmp_path}/lineitem.parquet")
    spark.createDataFrame(
        [(1, "p", "B1", "t", 1, 1.0)],
        "p_partkey long, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double",
    ).write.parquet(f"{tmp_path}/part.parquet")
    out = load_all()["agg_discount_elasticity"].spark_fn(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_lines"] == 20
    assert r["qty_per_pct_discount"] == 2.0
    assert r["r_squared"] == 1.0


def test_audience_overlap_exact_sets(spark, tmp_path):
    """Users {1,2,3} view, {2,3} click, {9} error: view∩click = 2,
    jaccard 2/3, containment 2/2 = 1; view-error overlap has no row
    (empty intersection pairs drop in both engines)."""
    import datetime as dt

    b = dt.datetime(2024, 1, 1)
    rows = [(i, b, u, ty, 1.0, "{}") for i, (u, ty) in enumerate(
        [(1, "view"), (2, "view"), (3, "view"), (2, "click"), (3, "click"),
         (9, "error"), (2, "view")])]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")
    out = {(r["type_a"], r["type_b"]): r for r in load_all()["events_audience_overlap"].spark_fn(spark, str(tmp_path)).collect()}
    cv = out[("click", "view")]
    assert (cv["n_a"], cv["n_b"], cv["n_both"]) == (2, 3, 2)
    assert cv["jaccard"] == round(2 / 3 + 1e-9, 6)
    assert cv["containment"] == 1.0
    assert ("error", "view") not in out and ("click", "error") not in out


def test_stl_decomposition_pure_weekly_signal(spark, tmp_path):
    """A zero-trend, strictly weekly series: the centered 7-day MA is
    flat (trend share ~0) and the dow means absorb everything
    (seasonal share ~1, residual ~0)."""
    import datetime as dt

    b = dt.datetime(2024, 6, 3)
    rows = []
    for d in range(28):
        amount = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0][d % 7]
        rows.append((d, b + dt.timedelta(days=d), 1, "purchase", amount, "{}"))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")
    r = {x["event_type"]: x for x in load_all()["events_stl_decomposition"].spark_fn(spark, str(tmp_path)).collect()}["purchase"]
    assert r["n_days"] == 22  # 28 minus 3 edge days each side
    assert r["trend_var_share"] == 0.0
    assert r["seasonal_var_share"] > 0.999
    assert r["residual_var_share"] < 1e-6


def test_ingest_volume_anomaly_flags_spike_and_silence(spark, tmp_path):
    """7 warm-up days of 10 events, then a 30-event spike day (dev 2.0,
    flagged), a silent day (count 0 via the densified spine, dev -1.0,
    flagged), and a normal day back at 10 (trailing median still 10)."""
    import datetime as dt

    b = dt.datetime(2024, 4, 1)
    rows, eid = [], 0
    plan = [10] * 7 + [30, 0, 10]
    for d, k in enumerate(plan):
        for j in range(k):
            rows.append((eid, b + dt.timedelta(days=d, minutes=j), 1,
                         "view", 1.0, "{}"))
            eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")
    out = load_all()["dq_ingest_volume_anomaly"].spark_fn(spark, str(tmp_path)).collect()
    assert len(out) == 3  # days 7..9 (0..6 are warm-up)
    spike, silent, normal = out
    assert (spike["n_events"], spike["trailing_median"]) == (30, 10)
    assert spike["deviation"] == 2.0 and spike["is_anomaly"]
    assert silent["n_events"] == 0 and silent["deviation"] == -1.0
    assert silent["is_anomaly"]
    assert normal["n_events"] == 10 and not normal["is_anomaly"]


def test_sequence_gap_audit_counts_runs_and_holes(spark, tmp_path):
    """Keys {1,2,3,7,10,11} (with 7 duplicated — distinct must dedup):
    span 1..11 = 11, 5 missing keys in 2 gap runs (3->7 is a 3-hole,
    7->10 a 2-hole), max run 3, coverage 6/11."""
    import datetime as dt

    b = dt.datetime(2024, 1, 1)
    rows = [
        (k, 1, "O", 100.0, b, "1-URGENT")
        for k in [1, 2, 3, 7, 7, 10, 11]
    ]
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.parquet(f"{tmp_path}/orders.parquet")

    (row,) = load_all()["dq_sequence_gap_audit"].spark_fn(
        spark, str(tmp_path)
    ).collect()
    assert row["n_keys"] == 6 and row["span"] == 11
    assert row["missing_keys"] == 5
    assert row["n_gap_runs"] == 2 and row["max_gap_run"] == 3
    assert row["coverage"] == round(6 / 11 + 1e-9, 6)


def test_cdc_agg_incremental_retracts_and_drops_empty_group(spark, tmp_path):
    """Priority 'DOOMED' consists entirely of cancelled rows (status F,
    key%10==3) -> the maintained view must DROP the group, not leave a
    zero row; 'MIXED' loses exactly its one cancelled order. An open
    ('O') order with key%10==3 is NOT cancelled."""
    import datetime as dt

    b = dt.datetime(2024, 1, 1)
    rows = [
        (3, 1, "F", 10.00, b, "DOOMED"),   # cancelled
        (13, 1, "F", 20.00, b, "DOOMED"),  # cancelled -> group empties
        (23, 2, "F", 30.00, b, "MIXED"),   # cancelled
        (24, 2, "O", 40.00, b, "MIXED"),   # survives
        (33, 3, "O", 50.00, b, "SAFE"),    # key%10==3 but status O: kept
    ]
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.parquet(f"{tmp_path}/orders.parquet")

    out = {
        r["o_orderpriority"]: r
        for r in load_all()["cdc_agg_incremental"]
        .spark_fn(spark, str(tmp_path))
        .collect()
    }
    assert set(out) == {"MIXED", "SAFE"}
    assert out["MIXED"]["n_orders"] == 1
    assert out["MIXED"]["revenue_cents"] == 4000
    assert out["SAFE"]["n_orders"] == 1 and out["SAFE"]["revenue_cents"] == 5000


def test_abc_classification_integer_boundaries(spark, tmp_path):
    """Parts with revenue 70/20/10 dollars: cumulative shares land
    EXACTLY on the 70% and 90% class boundaries -> the boundary part
    belongs to the richer class (cum*10 <= total*7|9 is inclusive)."""
    import datetime as dt

    b = dt.datetime(2024, 1, 1)
    rows = [
        (1, 101, 1, 1, 1.0, 70.0, 0.0, 0.0, "N", "O", b),
        (2, 102, 1, 1, 1.0, 20.0, 0.0, 0.0, "N", "O", b),
        (3, 103, 1, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", b),
    ]
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    ).write.parquet(f"{tmp_path}/lineitem.parquet")

    out = {
        r["abc_class"]: r
        for r in load_all()["agg_abc_classification"]
        .spark_fn(spark, str(tmp_path))
        .collect()
    }
    assert set(out) == {"A", "B", "C"}
    assert out["A"]["n_parts"] == 1 and out["A"]["class_cents"] == 7000
    assert out["B"]["class_cents"] == 2000 and out["C"]["class_cents"] == 1000
    assert out["A"]["revenue_share"] == 0.7
    assert out["C"]["part_share"] == round(1 / 3 + 1e-9, 6)


def test_link_prediction_scores_open_wedge_only(spark, tmp_path):
    """Planted baskets: parts 1-2 and 2-3 each co-bought twice (edges),
    1-3 never, 3-4 once (below the support-2 floor -> no edge, no
    wedge). The single open wedge (1,3) through hub 2 (deg 2) scores
    exactly round(1e9/ln 2)/1e9."""
    import datetime as dt
    import math

    b = dt.datetime(2024, 1, 1)
    baskets = [(1, [1, 2]), (2, [1, 2]), (3, [2, 3]), (4, [2, 3]), (5, [3, 4])]
    rows = []
    for ok, parts in baskets:
        for i, p in enumerate(parts):
            rows.append((ok, p, 1, i + 1, 1.0, 10.0, 0.0, 0.0, "N", "O", b))
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    ).write.parquet(f"{tmp_path}/lineitem.parquet")

    out = load_all()["graph_link_prediction"].spark_fn(
        spark, str(tmp_path)
    ).collect()
    assert [(r["part_a"], r["part_b"]) for r in out] == [(1, 3)]
    (row,) = out
    assert row["n_common_neighbors"] == 1
    assert row["adamic_adar"] == round(
        round(1e9 / math.log(2)) / 1e9 + 1e-9, 6
    )


def test_heaps_law_all_new_vocab_fits_beta_one(spark, tmp_path):
    """20 docs, each contributing 4 globally-unique tokens -> V(N) = N
    at every checkpoint, so the log-log OLS is exactly beta=1, r2=1,
    and the final checkpoint carries the full corpus census."""
    rows = [
        (i, " ".join(f"tok{i}x{j}" for j in range(4)), "en", "s", 40)
        for i in range(20)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")

    out = load_all()["text_heaps_law"].spark_fn(spark, str(tmp_path)).collect()
    assert [r["decile"] for r in out] == list(range(1, 11))
    assert out[-1]["cum_tokens"] == 80 and out[-1]["cum_vocab"] == 80
    toks = [r["cum_tokens"] for r in out]
    assert toks == sorted(toks)
    assert all(r["cum_tokens"] == r["cum_vocab"] for r in out)
    assert out[0]["heaps_beta"] == 1.0 and out[0]["fit_r2"] == 1.0


def test_term_burstiness_separates_clumped_from_scattered(spark, tmp_path):
    """Token 'scat' appears once in each of 10 docs; 'clump' appears 10
    times in ONE doc. Same collection frequency, so both share the
    Poisson expectation 10(1-e^-1) ~ 6.32 -- but burstiness is ~0.63
    for the stopword-like scatter and ~6.32 for the clump."""
    import math

    rows = []
    for i in range(10):
        body = "scat" + (" clump" * 10 if i == 0 else "")
        rows.append((i, body, "en", "s", len(body)))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")

    out = {
        r["token"]: r
        for r in load_all()["text_term_burstiness"]
        .spark_fn(spark, str(tmp_path))
        .collect()
    }
    e_df = 10 * (1 - math.exp(-1.0))
    assert out["scat"]["cf"] == 10 and out["scat"]["df"] == 10
    assert out["clump"]["cf"] == 10 and out["clump"]["df"] == 1
    assert out["scat"]["expected_df"] == round(e_df + 1e-9, 4)
    assert out["clump"]["burstiness"] == round(e_df / 1 + 1e-9, 6)
    assert out["scat"]["burstiness"] == round(e_df / 10 + 1e-9, 6)


def test_target_encoding_shrinks_rare_category(spark, tmp_path):
    """'common' has 100 events at $10; 'rare' one event at $1000. The
    m=20 encoding must leave common nearly raw but pull rare hard
    toward the global mean (shrink 20/21)."""
    import datetime as dt

    b = dt.datetime(2024, 1, 1)
    rows = [(i, b, 1, "common", 10.0, "{}") for i in range(100)]
    rows.append((100, b, 2, "rare", 1000.0, "{}"))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")

    out = {
        r["event_type"]: r
        for r in load_all()["events_target_encoding"]
        .spark_fn(spark, str(tmp_path))
        .collect()
    }
    s_rare, n_rare = 100000, 1
    ss, nn = 100 * 1000 + 100000, 101
    expect_rare = round((s_rare + 20.0 * ss / nn) / (n_rare + 20) / 100 + 1e-8, 4)
    assert out["rare"]["raw_mean"] == 1000.0
    assert out["rare"]["encoded_mean"] == expect_rare
    assert out["rare"]["encoded_mean"] < 100.0  # pulled hard toward ~$19.80
    assert out["rare"]["shrink"] == round(20 / 21 + 1e-9, 6)
    assert out["common"]["shrink"] == round(20 / 120 + 1e-9, 6)
    assert abs(out["common"]["encoded_mean"] - 10.0) < 2.0


def test_session_entropy_bins_monotypic_vs_uniform(spark, tmp_path):
    """User 1: 8 events of ONE type -> H=0 -> bin 0.0. User 2: 8 events
    over 4 types evenly -> H=ln4~1.3863 -> bin 1.25. User 3: 3 events
    -> excluded by the n>=5 floor."""
    import datetime as dt

    b = dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    for _ in range(8):
        rows.append((eid, b, 1, "view", 1.0, "{}")); eid += 1
    for ty in ["view", "click", "purchase", "error"] * 2:
        rows.append((eid, b, 2, ty, 1.0, "{}")); eid += 1
    for _ in range(3):
        rows.append((eid, b, 3, "view", 1.0, "{}")); eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")

    out = {
        r["entropy_bin"]: r
        for r in load_all()["events_session_entropy"]
        .spark_fn(spark, str(tmp_path))
        .collect()
    }
    assert set(out) == {0.0, 1.25}
    assert out[0.0]["n_users"] == 1 and out[0.0]["avg_types"] == 1.0
    assert out[1.25]["n_users"] == 1 and out[1.25]["avg_types"] == 4.0
    assert out[1.25]["avg_events"] == 8.0


def test_max_drawdown_planted_peak_trough(spark, tmp_path):
    """Net curve 100, 150, 70, 50, 250 (dollars): peak day 1 at $150,
    trough day 3 at $50, drawdown $100 = 2/3 of peak; day 4's recovery
    must not mask it."""
    import datetime as dt

    b = dt.datetime(2024, 6, 1)
    flows = [(0, "purchase", 100.0), (1, "purchase", 50.0),
             (2, "error", 80.0), (3, "error", 20.0), (4, "purchase", 200.0)]
    rows = [
        (i, b + dt.timedelta(days=d), 1, ty, v, "{}")
        for i, (d, ty, v) in enumerate(flows)
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")

    dn0 = int(b.replace(tzinfo=dt.timezone.utc).timestamp()) // 86400
    (row,) = load_all()["events_max_drawdown"].spark_fn(
        spark, str(tmp_path)
    ).collect()
    assert row["peak_dn"] == dn0 + 1 and row["trough_dn"] == dn0 + 3
    assert row["peak_cum_cents"] == 15000
    assert row["trough_cum_cents"] == 5000
    assert row["max_drawdown_cents"] == 10000
    assert row["drawdown_frac"] == round(10000 / 15000 + 1e-9, 6)


def test_functional_dependency_verdicts(spark, tmp_path):
    """Planted part dim: B1 spans two types (brand->type violated),
    every type maps to one brand (type->brand holds), names are unique
    (name->partkey holds), size 5 spans two brands (size->brand
    violated with fan-out 2)."""
    rows = [
        (1, "n1", "B1", "T1", 5, 1.0),
        (2, "n2", "B1", "T2", 5, 1.0),
        (3, "n3", "B2", "T3", 5, 1.0),
    ]
    spark.createDataFrame(
        rows,
        "p_partkey long, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double",
    ).write.parquet(f"{tmp_path}/part.parquet")

    out = {
        r["fd"]: r
        for r in load_all()["dq_functional_dependency"]
        .spark_fn(spark, str(tmp_path))
        .collect()
    }
    assert not out["p_brand->p_type"]["holds"]
    assert out["p_brand->p_type"]["n_violating"] == 1
    assert out["p_brand->p_type"]["max_variants"] == 2
    assert out["p_type->p_brand"]["holds"]
    assert out["p_name->p_partkey"]["holds"]
    assert not out["p_size->p_brand"]["holds"]
    assert out["p_size->p_brand"]["violation_share"] == 1.0


def test_revenue_streaks_planted_runs(spark, tmp_path):
    """Daily nets 100,200,300,250,200,200,300 cents: up deltas on days
    1,2,6 (runs of 2 and 1), down on 3,4 (one run of 2), flat on 5."""
    import datetime as dt

    b = dt.datetime(2024, 6, 1)
    dollars = [1.0, 2.0, 3.0, 2.5, 2.0, 2.0, 3.0]
    rows = [
        (i, b + dt.timedelta(days=i), 1, "purchase", v, "{}")
        for i, v in enumerate(dollars)
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")

    dn0 = int(b.replace(tzinfo=dt.timezone.utc).timestamp()) // 86400
    out = {
        r["direction"]: r
        for r in load_all()["events_revenue_streaks"]
        .spark_fn(spark, str(tmp_path))
        .collect()
    }
    assert set(out) == {"up", "down", "flat"}
    up = out["up"]
    assert (up["n_days"], up["n_streaks"], up["longest_days"]) == (3, 2, 2)
    assert up["longest_start_dn"] == dn0 + 1
    dn = out["down"]
    assert (dn["n_days"], dn["n_streaks"], dn["longest_days"]) == (2, 1, 2)
    assert dn["longest_start_dn"] == dn0 + 3
    fl = out["flat"]
    assert (fl["n_days"], fl["n_streaks"], fl["longest_days"]) == (1, 1, 1)


def test_procrustes_query_zeroes_planted_rotation(spark, tmp_path):
    """emb_procrustes_alignment on a 64-dim fixture: the fabricated
    space is a known orthogonal map of the source, so rmse_after must
    hit exactly 0.0 at 6 digits while rmse_before is far from it."""
    rows = [
        (i, [((i * 31 + j * 7) % 13 - 6) / 3.0 for j in range(64)], i % 3)
        for i in range(40)
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{tmp_path}/embeddings.parquet")

    (row,) = load_all()["emb_procrustes_alignment"].spark_fn(
        spark, str(tmp_path)
    ).collect()
    assert row["n_pairs"] == 40 and row["dim"] == 64
    assert row["rmse_after"] == 0.0
    assert row["rmse_before"] > 0.5


def test_periodogram_detects_planted_weekly_cycle(spark, tmp_path):
    """28 days of counts 100 + 50*cos(2*pi*t/7): the period-7 bin must
    dominate and carry most of the candidate power."""
    import datetime as dt
    import math

    b = dt.datetime(2024, 6, 1)
    rows, eid = [], 0
    for t_day in range(28):
        n = 100 + round(50 * math.cos(2 * math.pi * t_day / 7))
        for k in range(n):
            rows.append(
                (eid, b + dt.timedelta(days=t_day, seconds=k), 1, "view",
                 1.0, "{}")
            )
            eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")

    out = {
        r["period"]: r
        for r in load_all()["events_periodogram"]
        .spark_fn(spark, str(tmp_path))
        .collect()
    }
    assert set(out) == set(range(2, 31))
    assert out[7]["dominant"]
    assert out[7]["power_share"] > 0.5
    assert sum(r["dominant"] for r in out.values()) == 1


def test_correlation_matrix_flags_affine_ghost_and_constant(spark, tmp_path):
    """extendedprice = 10*quantity exactly -> r = 1.0; discount is
    constant -> its pairs have zero variance -> NULL correlation (the
    nullif guard, identical in both engines)."""
    import datetime as dt

    b = dt.datetime(2024, 1, 1)
    rows = [
        (i, i, 1, 1, float(q), 10.0 * q, 0.05, 0.01 * (i % 3), "N", "O", b)
        for i, q in enumerate([1, 2, 3, 4, 5, 6, 7, 8])
    ]
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    ).write.parquet(f"{tmp_path}/lineitem.parquet")

    out = {
        (r["col_a"], r["col_b"]): r["pearson_r"]
        for r in load_all()["dq_numeric_correlation_matrix"]
        .spark_fn(spark, str(tmp_path))
        .collect()
    }
    assert len(out) == 6
    assert out[("l_quantity", "l_extendedprice")] == 1.0
    assert out[("l_extendedprice", "l_discount")] is None
    assert out[("l_quantity", "l_discount")] is None
    assert out[("l_discount", "l_tax")] is None


def test_kcore_peeling_unravels_chain_keeps_clique(spark, tmp_path):
    """Planted co-purchase graph: a triangle {1,2,3} (each pair co-bought
    twice) plus a chain 3-4-5: round 0 sees all 5 nodes/5 edges, peeling
    strips the chain endpoints round by round, and the triangle survives
    every round (it IS the 2-core)."""
    import datetime as dt

    b = dt.datetime(2024, 1, 1)
    pairs = [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5)]
    rows, ok = [], 0
    for u, v in pairs:
        for _ in range(2):  # each pair co-bought twice -> support 2
            rows.append((ok, u, 1, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", b))
            rows.append((ok, v, 1, 2, 1.0, 10.0, 0.0, 0.0, "N", "O", b))
            ok += 1
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    ).write.parquet(f"{tmp_path}/lineitem.parquet")

    out = {
        r["round"]: (r["n_nodes"], r["n_edges"])
        for r in load_all()["graph_kcore_peeling"]
        .spark_fn(spark, str(tmp_path))
        .collect()
    }
    assert out[0] == (5, 5)
    assert out[1] == (4, 4)  # node 5 (deg 1) peeled, edge 4-5 gone
    assert out[2] == (3, 3)  # node 4 peeled, triangle remains
    assert out[3] == (3, 3)  # fixpoint: the 2-core


def test_temperature_sweep_compresses_head_source(spark, tmp_path):
    """Sources with 81 and 1 docs: at tau=1 the head holds 81/82; at
    tau=0.5 exactly 9/10 (sqrt weights 9 and 1); lower tau always moves
    shares toward uniform."""
    rows = [(i, "x", "en", "big", 1) for i in range(81)]
    rows.append((81, "x", "en", "tiny", 1))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")

    out = {
        r["source"]: r
        for r in load_all()["corpus_temperature_sweep"]
        .spark_fn(spark, str(tmp_path))
        .collect()
    }
    big = out["big"]
    assert big["n_docs"] == 81
    assert big["share_t10"] == round(81 / 82 + 1e-9, 6)
    assert big["share_t05"] == round(9 / 10 + 1e-9, 6)
    assert big["share_t03"] < big["share_t05"] < big["share_t07"] < big["share_t10"]
    assert out["tiny"]["share_t05"] == round(1 / 10 + 1e-9, 6)


def test_string_format_profile_shares(spark, tmp_path):
    """Planted columns: c_name all 'Customer#NNN' (tagged-id share 1.0,
    no spaces), o_orderpriority all 'N-WORD' (rank-prefixed 1.0),
    p_type multiword prose (multiword 1.0, others 0)."""
    import datetime as dt

    spark.createDataFrame(
        [(i, f"Customer#{i:09d}", 0, 0.0, "SEG") for i in range(4)],
        "c_custkey long, c_name string, c_nationkey long, c_acctbal double, "
        "c_mktsegment string",
    ).write.parquet(f"{tmp_path}/customer.parquet")
    b = dt.datetime(2024, 1, 1)
    spark.createDataFrame(
        [(i, 1, "O", 1.0, b, f"{i%5}-URGENT") for i in range(6)],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.parquet(f"{tmp_path}/orders.parquet")
    spark.createDataFrame(
        [(i, f"n{i}", "B1", "STANDARD POLISHED BRASS", 1, 1.0) for i in range(3)],
        "p_partkey long, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double",
    ).write.parquet(f"{tmp_path}/part.parquet")

    out = {
        r["col_name"]: r
        for r in load_all()["dq_string_format_profile"]
        .spark_fn(spark, str(tmp_path))
        .collect()
    }
    assert out["c_name"]["share_tagged_id"] == 1.0
    assert out["c_name"]["share_multiword"] == 0.0
    assert out["c_name"]["n_distinct"] == 4
    assert out["o_orderpriority"]["share_rank_prefixed"] == 1.0
    assert out["p_type"]["share_multiword"] == 1.0
    assert out["p_type"]["share_tagged_id"] == 0.0
    assert out["p_type"]["min_len"] == out["p_type"]["max_len"] == 23


def test_feature_cross_cardinality_dense_vs_sparse(spark, tmp_path):
    """Two types x two dows fully crossed (fill 1.0) while value buckets
    pair 1:1 with type (type x bucket fill = 2/4 = 0.5)."""
    import datetime as dt

    b = dt.datetime(2024, 6, 3)  # a Monday
    rows, eid = [], 0
    for ty, vb, dshift in [
        ("click", 5.0, 0), ("click", 5.0, 1),
        ("view", 150.0, 0), ("view", 150.0, 1),
    ]:
        rows.append((eid, b + dt.timedelta(days=dshift), 1, ty, vb, "{}"))
        eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")

    out = {
        r["cross_name"]: r
        for r in load_all()["dq_feature_cross_cardinality"]
        .spark_fn(spark, str(tmp_path))
        .collect()
    }
    td = out["type x dow"]
    assert td["actual"] == 4 and td["marginal_product"] == 4
    assert td["fill_ratio"] == 1.0 and td["rows_per_combo"] == 1.0
    tv = out["type x value_bucket"]
    assert tv["actual"] == 2 and tv["marginal_product"] == 4
    assert tv["fill_ratio"] == 0.5


def test_simpsons_paradox_screen_detects_reversal(spark, tmp_path):
    """Two brands each with a NEGATIVE within-brand discount->quantity
    slope, but the high-discount brand sells far more -> the pooled
    slope flips POSITIVE and both groups count as opposite-signed."""
    import datetime as dt

    b = dt.datetime(2024, 1, 1)
    rows, ok = [], 0
    # brand A: discounts 0..0.04, qty 30 - 100*d  (slope < 0), low qty
    # brand B: discounts 0.06..0.10, qty 90 - 100*d (slope < 0), high qty
    for i in range(10):
        d = 0.004 * i
        rows.append((ok, 1, 1, 1, 30.0 - 100 * d, 10.0, d, 0.0, "N", "O", b))
        ok += 1
    for i in range(10):
        d = 0.06 + 0.004 * i
        rows.append((ok, 2, 1, 1, 90.0 - 100 * d, 10.0, d, 0.0, "N", "O", b))
        ok += 1
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    ).write.parquet(f"{tmp_path}/lineitem.parquet")
    spark.createDataFrame(
        [(1, "pa", "BRAND_A", "T", 1, 1.0), (2, "pb", "BRAND_B", "T", 1, 1.0)],
        "p_partkey long, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double",
    ).write.parquet(f"{tmp_path}/part.parquet")

    (row,) = load_all()["agg_simpsons_paradox_screen"].spark_fn(
        spark, str(tmp_path)
    ).collect()
    assert row["pooled_slope"] > 0          # aggregation reverses the sign
    assert row["n_groups"] == 2
    assert row["n_opposite"] == 2           # every segment disagrees
    assert row["share_opposite"] == 1.0


def test_partition_balance_uniform_vs_hot_key(spark, tmp_path):
    """Three users with 10/10/10 events over one day: user buckets are
    perfectly balanced (max_skew 1.0) while by_day piles everything
    into one cell (n_partitions 1, top1_share 1.0); a hot type (28 of
    30 events) makes by_event_type maximally skewed."""
    import datetime as dt

    b = dt.datetime(2024, 6, 1, 8)
    rows, eid = [], 0
    for u in [1, 2, 3]:
        for k in range(10):
            ty = "hot" if eid < 28 else "rare"
            rows.append((eid, b + dt.timedelta(minutes=eid), u, ty, 1.0, "{}"))
            eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")

    out = {
        r["scheme"]: r
        for r in load_all()["dq_partition_balance"]
        .spark_fn(spark, str(tmp_path))
        .collect()
    }
    day = out["by_day"]
    assert day["n_partitions"] == 1 and day["top1_share"] == 1.0
    ub = out["by_user_bucket"]
    assert ub["n_partitions"] == 3
    assert ub["max_skew"] == 1.0 and ub["cv"] == 0.0
    ty = out["by_event_type"]
    assert ty["max_rows"] == 28
    assert ty["max_skew"] == round(28 * 2 / 30 + 1e-9, 6)


def test_assortativity_star_is_negative(spark, tmp_path):
    """A 4-spoke star (hub 1): every edge pairs degree 4 with degree 1,
    so endpoint degrees are perfectly anti-correlated -> r = -1.0."""
    import datetime as dt

    b = dt.datetime(2024, 1, 1)
    rows, ok = [], 0
    for spoke in [2, 3, 4, 5]:
        for _ in range(2):  # support 2
            rows.append((ok, 1, 1, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", b))
            rows.append((ok, spoke, 1, 2, 1.0, 10.0, 0.0, 0.0, "N", "O", b))
            ok += 1
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    ).write.parquet(f"{tmp_path}/lineitem.parquet")

    (row,) = load_all()["graph_assortativity"].spark_fn(
        spark, str(tmp_path)
    ).collect()
    assert row["n_nodes"] == 5 and row["n_edges"] == 4
    assert row["max_degree"] == 4
    assert row["assortativity"] == -1.0


def test_markov_attribution_removal_effects(spark, tmp_path):
    """Journeys: u1 view->click->purchase, u2 click->purchase, u3
    view->error (no purchase). Click is the ONLY gateway to conversion
    (removal 1.0), view converts only via click (removal 0.5), error
    never leads anywhere (removal 0); credits 2/3 / 1/3 / 0."""
    import datetime as dt

    b = dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    for u, seq in [(1, ["view", "click", "purchase"]),
                   (2, ["click", "purchase"]),
                   (3, ["view", "error"])]:
        for k, ty in enumerate(seq):
            rows.append((eid, b + dt.timedelta(minutes=k), u, ty, 1.0, "{}"))
            eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")

    out = {
        r["channel"]: r
        for r in load_all()["events_markov_attribution"]
        .spark_fn(spark, str(tmp_path))
        .collect()
    }
    assert set(out) == {"view", "click", "error"}
    assert out["click"]["removal_effect"] == 1.0
    assert out["view"]["removal_effect"] == 0.5
    assert out["error"]["removal_effect"] == 0.0
    assert out["click"]["credit_share"] == 0.666667
    assert out["view"]["credit_share"] == 0.333333
    assert out["error"]["credit_share"] == 0.0
    assert out["view"]["p_conv"] == 0.666667


def test_inclusion_dependency_forward_holds_reverse_fails(spark, tmp_path):
    """Orders 1..3 reference customers 1..2 (o_custkey<c_custkey holds);
    customer 3 never ordered (reverse fails at 2/3). An orphan lineitem
    order key breaks l_orderkey<o_orderkey at 2/3."""
    import datetime as dt

    b = dt.datetime(2024, 1, 1)
    spark.createDataFrame(
        [(1, 1, "O", 1.0, b, "P"), (2, 2, "O", 1.0, b, "P"),
         (3, 1, "O", 1.0, b, "P")],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.parquet(f"{tmp_path}/orders.parquet")
    spark.createDataFrame(
        [(i, f"c{i}", 1, 0.0, "S") for i in [1, 2, 3]],
        "c_custkey long, c_name string, c_nationkey long, c_acctbal double, "
        "c_mktsegment string",
    ).write.parquet(f"{tmp_path}/customer.parquet")
    li = [(ok, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", b)
          for ok in [1, 2, 99]]  # 99 is an orphan
    spark.createDataFrame(
        li,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    ).write.parquet(f"{tmp_path}/lineitem.parquet")
    spark.createDataFrame(
        [(1, "p", "B", "T", 1, 1.0)],
        "p_partkey long, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double",
    ).write.parquet(f"{tmp_path}/part.parquet")
    spark.createDataFrame(
        [(1, "N1", 1)], "n_nationkey long, n_name string, n_regionkey long"
    ).write.parquet(f"{tmp_path}/nation.parquet")

    out = {
        r["candidate"]: r
        for r in load_all()["dq_inclusion_dependency"]
        .spark_fn(spark, str(tmp_path))
        .collect()
    }
    assert out["orders.o_custkey < customer.c_custkey"]["holds"]
    rev = out["customer.c_custkey < orders.o_custkey"]
    assert not rev["holds"] and rev["inclusion_share"] == 0.666667
    li_fk = out["lineitem.l_orderkey < orders.o_orderkey"]
    assert not li_fk["holds"] and li_fk["n_matched"] == 2


def test_weighted_median_volume_outvotes_count(spark, tmp_path):
    """Nine 1-unit lines at $1 vs one 100-unit line at $50: the
    unweighted median is $1 (count majority) but the weighted median
    is $50 (the bulk line holds >half the weight)."""
    import datetime as dt

    b = dt.datetime(2024, 1, 1)
    rows = [(i, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", b) for i in range(9)]
    rows.append((9, 1, 1, 1, 100.0, 50.0, 0.0, 0.0, "N", "O", b))
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    ).write.parquet(f"{tmp_path}/lineitem.parquet")

    (row,) = load_all()["agg_weighted_median"].spark_fn(
        spark, str(tmp_path)
    ).collect()
    assert row["n_rows"] == 10 and row["total_weight"] == 10900
    assert row["unweighted_median_cents"] == 100
    assert row["weighted_median_cents"] == 5000


def test_uplift_qini_persuadables_in_top_decile(spark, tmp_path):
    """20 users, odd ids treated (arm 1). The 10 high-score users (5
    clicks each): treated ones all convert, controls never -> top-half
    uplift 1.0. Low-score users never convert in either arm -> their
    deciles add nothing and the Qini curve is flat after the top
    deciles."""
    import datetime as dt

    b = dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    for u in range(20):
        high = u < 10
        n_clicks = 5 if high else 0
        for k in range(n_clicks):
            rows.append((eid, b + dt.timedelta(minutes=k), u, "click", 1.0, "{}"))
            eid += 1
        rows.append((eid, b + dt.timedelta(hours=1), u, "view", 1.0, "{}"))
        eid += 1
        if high and u % 2 == 1:  # treated (arm 1 = odd ids) high-score users convert
            rows.append((eid, b + dt.timedelta(hours=2), u, "purchase", 9.0, "{}"))
            eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")

    out = {
        r["decile"]: r
        for r in load_all()["events_uplift_qini"]
        .spark_fn(spark, str(tmp_path))
        .collect()
    }
    assert set(out) == set(range(1, 11))
    # deciles 1-5 hold the 10 high-score users (2 per decile, 1 per arm)
    for d in range(1, 6):
        assert out[d]["uplift"] == 1.0
        assert out[d]["rate_treat"] == 1.0 and out[d]["rate_ctrl"] == 0.0
    for d in range(6, 11):
        assert out[d]["uplift"] == 0.0
    assert out[5]["qini_cum"] == 5.0   # 5 incremental conversions found
    assert out[10]["qini_cum"] == 5.0  # flat tail: no value below


def test_diff_in_diff_nets_out_shared_trend(spark, tmp_path):
    """Both arms gain +$10 post (the shared trend); treatment gains an
    extra +$5. Naive post-only diff reads $5 + baseline-difference
    noise; DiD reads exactly $5."""
    import datetime as dt

    b = dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    # user 1 (treat): pre $20, post $35 (trend 10 + effect 5)
    # user 2 (ctrl):  pre $30, post $40 (trend 10 only)
    for u, pre, post in [(1, 20.0, 35.0), (2, 30.0, 40.0)]:
        rows.append((eid, b, u, "purchase", pre, "{}")); eid += 1
        rows.append((eid, b + dt.timedelta(days=10), u, "purchase", post, "{}")); eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")

    (row,) = load_all()["events_diff_in_diff"].spark_fn(
        spark, str(tmp_path)
    ).collect()
    assert row["n_treat"] == 1 and row["n_ctrl"] == 1
    assert row["pre_treat_mean"] == 20.0 and row["pre_ctrl_mean"] == 30.0
    assert row["did_estimate"] == 5.0
    assert row["naive_post_diff"] == -5.0  # baseline gap pollutes the naive read


def test_supplier_hhi_monopoly_vs_balanced(spark, tmp_path):
    """Nation N1 has one supplier with all revenue (HHI 1.0,
    concentrated); N2 splits revenue equally across 5 suppliers
    (HHI 0.2, not concentrated)."""
    import datetime as dt

    b = dt.datetime(2024, 1, 1)
    rows, ok = [], 0
    for _ in range(4):  # supplier 1 (N1) takes everything
        rows.append((ok, 1, 1, 1, 1.0, 25.0, 0.0, 0.0, "N", "O", b)); ok += 1
    for sk in range(2, 7):  # suppliers 2..6 (N2) equal shares
        rows.append((ok, 1, sk, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", b)); ok += 1
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    ).write.parquet(f"{tmp_path}/lineitem.parquet")
    sups = [(1, "s1", 1, 0.0)] + [(sk, f"s{sk}", 2, 0.0) for sk in range(2, 7)]
    spark.createDataFrame(
        sups, "s_suppkey long, s_name string, s_nationkey long, s_acctbal double"
    ).write.parquet(f"{tmp_path}/supplier.parquet")
    spark.createDataFrame(
        [(1, "N1", 1), (2, "N2", 1)],
        "n_nationkey long, n_name string, n_regionkey long",
    ).write.parquet(f"{tmp_path}/nation.parquet")

    out = {
        r["n_name"]: r
        for r in load_all()["join_supplier_hhi_by_nation"]
        .spark_fn(spark, str(tmp_path))
        .collect()
    }
    assert out["N1"]["hhi"] == 1.0 and out["N1"]["concentrated"]
    assert out["N1"]["top_supplier_share"] == 1.0
    assert out["N2"]["hhi"] == 0.2 and not out["N2"]["concentrated"]
    assert out["N2"]["n_suppliers"] == 5


def test_capacity_peaks_exact_p95_and_ratio(spark, tmp_path):
    """Type 'spiky': 19 hours at 10 events and one hour at 100 ->
    p95 = 10 (nearest rank over 20 hours), peak 100, mean 14.5,
    peak_to_mean = 100/14.5."""
    import datetime as dt

    b = dt.datetime(2024, 6, 1)
    rows, eid = [], 0
    for hr in range(20):
        n = 100 if hr == 19 else 10
        for k in range(n):
            rows.append(
                (eid, b + dt.timedelta(hours=hr, seconds=k), 1, "spiky",
                 1.0, "{}")
            )
            eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")

    (row,) = load_all()["events_capacity_peaks"].spark_fn(
        spark, str(tmp_path)
    ).collect()
    assert row["n_active_hours"] == 20 and row["peak_hourly"] == 100
    assert row["p95_hourly"] == 10
    assert row["mean_hourly"] == 14.5
    assert row["peak_to_mean"] == round(100 / 14.5 + 1e-9, 6)


def test_filter_agreement_kappa_extremes(spark, tmp_path):
    """Docs built so the gates fully agree (kappa 1.0): half pass both
    (mid-length, 60 healthy tokens), half fail both (tiny)."""
    good = " ".join(f"word{i}" for i in range(60))
    rows = []
    for i in range(4):
        rows.append((i, good, "en", "s", 500))      # passes both gates
    for i in range(4, 8):
        rows.append((i, "x y", "en", "s", 3))        # fails both gates
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")

    (row,) = load_all()["text_filter_agreement_kappa"].spark_fn(
        spark, str(tmp_path)
    ).collect()
    assert (row["n_yy"], row["n_nn"], row["n_yn"], row["n_ny"]) == (4, 4, 0, 0)
    assert row["observed_agreement"] == 1.0
    assert row["cohens_kappa"] == 1.0


def test_anova_norms_separated_vs_equal(spark, tmp_path):
    """Label 0 vectors have norm 1, label 1 vectors norm 3 with zero
    within-group variance -> ss_within 0 and an infinite F guarded to
    NULL is avoided by construction here: plant tiny within-group
    spread instead and assert F is large; then equal norms -> F = 0."""
    rows = []
    vid = 0
    for lab, base in [(0, 1.0), (1, 3.0)]:
        for k in range(5):
            v = [0.0] * 64
            v[0] = base + (0.001 * k)  # tiny within-group spread
            rows.append((vid, v, lab))
            vid += 1
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{tmp_path}/embeddings.parquet")
    (row,) = load_all()["emb_anova_norms"].spark_fn(
        spark, str(tmp_path)
    ).collect()
    assert row["n_groups"] == 2 and row["n_vectors"] == 10
    assert row["f_stat"] > 1000  # magnitudes leak the label
    assert row["ss_between"] > 9.0  # ~ (3-1)^2/4 * 10 = 10 norm^2 units

    rows2 = []
    for vid in range(10):
        v = [0.0] * 64
        v[0] = 2.0 + 0.001 * (vid % 5)  # same spread in BOTH labels
        rows2.append((vid, v, vid % 2))
    import shutil
    shutil.rmtree(f"{tmp_path}/embeddings.parquet")
    spark.createDataFrame(
        rows2, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{tmp_path}/embeddings.parquet")
    (row2,) = load_all()["emb_anova_norms"].spark_fn(
        spark, str(tmp_path)
    ).collect()
    assert row2["f_stat"] < 0.001  # identical distributions: no leak


def test_knn_reciprocity_hub_vs_clean(spark, tmp_path):
    """Six orthogonal-ish vectors where vector 0 is every other
    vector's nearest neighbor (a planted hub): with k=5 and n=6 every
    ordered pair is an edge, so reciprocity is 1.0 and in-degree is
    uniform 5 — the CLEAN baseline the audit reports for a tiny fully
    connected graph (no orphans, no hubs at the 2k=10 floor)."""
    rows = []
    for i in range(6):
        v = [0.0] * 64
        v[i] = 1.0
        v[63] = 0.2  # shared component so similarities are distinct-ish
        rows.append((i, v, 0))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{tmp_path}/embeddings.parquet")

    (row,) = load_all()["emb_knn_reciprocity"].spark_fn(
        spark, str(tmp_path)
    ).collect()
    assert row["n_vectors"] == 6 and row["n_edges"] == 30  # 6 * k(=5)
    assert row["reciprocity"] == 1.0
    assert row["max_in_degree"] == 5 and row["n_hubs"] == 0
    assert row["n_orphans"] == 0


def test_silhouette_planted_clusters_and_mislabels(spark, tmp_path):
    """Two well-separated planted clusters score near-1 mean silhouette;
    deliberately swapping one vector's label makes it (and only it)
    closer to the other centroid, so n_closer_to_other counts exactly
    the mislabel and its silhouette drags the label mean down."""
    rows = []
    for i in range(20):
        # cluster 0 near (10, 0, ...), cluster 1 near (0, 10, ...)
        rows.append((i, [10.0 + 0.01 * i, 0.0] + [0.0] * 62, 0))
        rows.append((100 + i, [0.0, 10.0 + 0.01 * i] + [0.0] * 62, 1))
    rows.append((999, [10.0, 0.0] + [0.0] * 62, 1))  # cluster-0 point labeled 1
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{tmp_path}/embeddings.parquet")

    out = {
        r["label"]: r
        for r in load_all()["emb_silhouette"].spark_fn(spark, str(tmp_path)).collect()
    }
    assert out[0]["n_closer_to_other"] == 0
    assert out[0]["mean_silhouette"] > 0.9
    assert out[1]["n_closer_to_other"] == 1  # exactly the planted mislabel
    assert out[1]["n_vecs"] == 21


def test_twonn_recovers_planted_intrinsic_dimension(spark, tmp_path):
    """TwoNN on a 2-D uniform sheet embedded in 64 ambient dims must
    estimate id ≈ 2 (the padding dims carry no signal); the ambient
    dimension would be 64, so a wide-tolerance band around 2 pins that
    the estimator reads the manifold, not the storage width."""
    import numpy as np

    rng = np.random.RandomState(7)
    pts = rng.uniform(0.0, 1.0, size=(400, 2))
    rows = [
        (int(i), [float(a), float(b)] + [0.0] * 62)
        for i, (a, b) in enumerate(pts)
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).write.parquet(f"{tmp_path}/embeddings.parquet")

    row = load_all()["emb_intrinsic_dim_twonn"].spark_fn(spark, str(tmp_path)).collect()[0]
    assert row["n_used"] == 400
    assert 1.5 <= row["id_twonn"] <= 2.6, row["id_twonn"]


def test_user_gini_planted_extremes(spark, tmp_path):
    """Equal per-user activity must score Gini == 0 exactly (integer
    identity, no tolerance); concentrating nearly everything on one user
    must match the sorted-index formula computed independently."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    for u in range(10):          # 10 users x 5 events each
        for _ in range(5):
            rows.append((eid, base, u, "click", 1.0, "{}")); eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{tmp_path}/ev_eq/events.parquet")
    r = load_all()["events_user_gini"].spark_fn(spark, f"{tmp_path}/ev_eq").collect()[0]
    assert r["n_users"] == 10 and r["total_events"] == 50
    assert r["gini"] == 0.0

    rows, eid = [], 0
    counts = [1] * 9 + [91]      # one heavy hitter
    for u, c in enumerate(counts):
        for _ in range(c):
            rows.append((eid, base, u, "click", 1.0, "{}")); eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{tmp_path}/ev_skew/events.parquet")
    r = load_all()["events_user_gini"].spark_fn(spark, f"{tmp_path}/ev_skew").collect()[0]
    xs = sorted(counts)
    n, tot = len(xs), sum(xs)
    s_ix = sum((i + 1) * x for i, x in enumerate(xs))
    expected = (2.0 * s_ix - (n + 1.0) * tot) / (n * tot)
    assert abs(r["gini"] - expected) < 1e-6
    assert r["top_decile_share"] == 0.91  # top 10% = the one heavy user


def test_theil_zero_under_planted_equality(spark, tmp_path):
    """Perfectly equal customer revenue in every nation must produce
    theil_within == 0 and between_term == 0 for each nation (exact —
    every ratio is 1 and ln 1 == 0), with shares splitting by headcount."""
    from decimal import Decimal

    spark.createDataFrame(
        [(0, "ALPHA"), (1, "BETA")], "n_nationkey long, n_name string"
    ).write.parquet(f"{tmp_path}/nation.parquet")
    custs = [(c, c % 2) for c in range(8)]
    spark.createDataFrame(
        custs, "c_custkey long, c_nationkey long"
    ).write.parquet(f"{tmp_path}/customer.parquet")
    spark.createDataFrame(
        [(o, o % 8, Decimal("100.00")) for o in range(16)],
        "o_orderkey long, o_custkey long, o_totalprice decimal(15,2)",
    ).write.parquet(f"{tmp_path}/orders.parquet")

    out = load_all()["agg_theil_index"].spark_fn(spark, str(tmp_path)).collect()
    assert len(out) == 2
    for r in out:
        assert r["n_cust"] == 4
        assert r["rev_share"] == 0.5
        assert r["theil_within"] == 0.0
        assert r["between_term"] == 0.0


def test_graph_khop_and_modularity_invariants(spark, sf_dir):
    """Structural identities on the fixture graph: BFS reach is cumulative
    (n_reached[h] = n_reached[h-1] + n_frontier[h], monotone), and the
    modularity census satisfies Σ degree_sum = 2m with Σ intra ≤ m and
    every term in [-1, 1]."""
    hops = load_all()["graph_khop_reach"].spark_fn(spark, sf_dir).collect()
    assert [r["hop"] for r in hops] == [0, 1, 2, 3]
    for prev, cur in zip(hops, hops[1:]):
        assert cur["n_reached"] == prev["n_reached"] + cur["n_frontier"]

    terms = load_all()["graph_modularity"].spark_fn(spark, sf_dir).collect()
    assert terms, "modularity census empty"
    from sec_dl_spark.plans.text import copurchase_edges

    m = copurchase_edges(spark, sf_dir).count()
    assert sum(r["degree_sum"] for r in terms) == 2 * m
    assert sum(r["intra_edges"] for r in terms) <= m
    assert all(-1.0 <= r["modularity_term"] <= 1.0 for r in terms)


def test_wilcoxon_signed_rank_planted_shift_and_symmetry(spark, tmp_path):
    """Construction-pinned signed-rank semantics: when EVERY user's mean
    spend rises post-midpoint (distinct magnitudes), W+ is exactly
    n(n+1)/2 (all rank mass positive) and significant; when gains and
    losses mirror each other in equal magnitudes, the midrank algebra
    makes z EXACTLY 0 — no tolerance, the statistic is integer-built."""
    import datetime as dt

    pre_t, post_t = dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 9)
    rows, eid = [], 0
    n = 12
    for u in range(n):  # all shift up, distinct magnitudes
        rows.append((eid, pre_t, u, "up", 10.0, "{}")); eid += 1
        rows.append((eid, post_t, u, "up", 10.0 + (u + 1), "{}")); eid += 1
    for u in range(n // 2):  # mirrored gains/losses, same |d| per pair
        delta = float(u + 1)
        rows.append((eid, pre_t, 2 * u, "sym", 50.0, "{}")); eid += 1
        rows.append((eid, post_t, 2 * u, "sym", 50.0 + delta, "{}")); eid += 1
        rows.append((eid, pre_t, 2 * u + 1, "sym", 50.0, "{}")); eid += 1
        rows.append((eid, post_t, 2 * u + 1, "sym", 50.0 - delta, "{}")); eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")

    out = {
        r["event_type"]: r
        for r in load_all()["events_wilcoxon_signed_rank"]
        .spark_fn(spark, str(tmp_path))
        .collect()
    }
    assert out["up"]["n_pairs"] == n
    assert out["up"]["w_plus"] == n * (n + 1) / 2
    assert out["up"]["significant_95"]
    assert out["sym"]["z_stat"] == 0.0 and not out["sym"]["significant_95"]


def test_bh_fdr_planted_signal_and_nulls(spark, tmp_path):
    """Construction-pinned multiple-testing semantics: one event type
    carries a massive planted arm shift (p rounds to 0 → rejected by
    BOTH BH and Bonferroni at any m), three null types have identical
    arm distributions (t exactly 0 → p rounds to 1 → never rejected).
    Structural invariants: p_rank is a permutation, q-values are
    monotone non-decreasing in p_rank and capped at 1, and every
    Bonferroni rejection is also a BH rejection (BH is uniformly more
    powerful than Bonferroni by construction)."""
    import datetime as dt

    ts = dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    for typ, arm1_base in (("shift", 110.0), ("null_a", 10.0),
                           ("null_b", 10.0), ("null_c", 10.0)):
        for u in range(20):  # users 0..19 → 10 per arm (user_id % 2)
            base = 10.0 if u % 2 == 0 else arm1_base
            # within-arm variance via the user index; the same pattern in
            # both arms of the null types makes the arm means EQUAL
            rows.append((eid, ts, u, typ, base + (u // 2) % 2, "{}"))
            eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")

    out = load_all()["events_bh_fdr"].spark_fn(spark, str(tmp_path)).collect()
    by_type = {r["event_type"]: r for r in out}
    assert by_type["shift"]["p_value"] == 0.0
    assert by_type["shift"]["p_rank"] == 1
    assert by_type["shift"]["reject_bh"] and by_type["shift"]["reject_bonferroni"]
    for typ in ("null_a", "null_b", "null_c"):
        assert by_type[typ]["t_stat"] == 0.0
        assert by_type[typ]["p_value"] == 1.0
        assert not by_type[typ]["reject_bh"]
        assert not by_type[typ]["reject_bonferroni"]
    ranks = sorted(r["p_rank"] for r in out)
    assert ranks == list(range(1, len(out) + 1))
    in_rank = sorted(out, key=lambda r: r["p_rank"])
    qs = [r["q_value"] for r in in_rank]
    assert qs == sorted(qs) and all(q <= 1.0 for q in qs)
    assert all(r["reject_bh"] for r in out if r["reject_bonferroni"])


def test_spearman_monotone_nonlinear_and_inverse(spark, tmp_path):
    """Construction-pinned rank semantics: a CUBIC (monotone, wildly
    nonlinear) pair scores spearman_r exactly 1, a reversed pair exactly
    -1 — the invariance to monotone transforms that separates Spearman
    from Pearson — and a tied-value pair matches the midrank formula
    computed independently in numpy."""
    import numpy as np

    n = 40
    rows = []
    for i in range(1, n + 1):
        rows.append((
            float(i),                  # l_quantity: 1..40
            float(i) ** 3 / 100.0,     # l_extendedprice: monotone cubic
            float((i % 3)) / 100.0,    # l_discount: heavy ties
            float(n - i) / 100.0,      # l_tax: strictly decreasing
        ))
    spark.createDataFrame(
        rows, "l_quantity double, l_extendedprice double, "
              "l_discount double, l_tax double"
    ).write.parquet(f"{tmp_path}/lineitem.parquet")

    out = {
        (r["col_a"], r["col_b"]): r["spearman_r"]
        for r in load_all()["dq_spearman_correlation"]
        .spark_fn(spark, str(tmp_path))
        .collect()
    }
    assert out[("l_extendedprice", "l_quantity")] == 1.0
    assert out[("l_quantity", "l_tax")] == -1.0
    assert out[("l_discount", "l_extendedprice")] == out[("l_discount", "l_quantity")]

    # independent midrank check for the tied pair (discount vs quantity)
    def midranks(v):
        v = np.asarray(v)
        order = {}
        for x in sorted(set(v)):
            less = (v < x).sum()
            cnt = (v == x).sum()
            order[x] = less + (cnt + 1) / 2.0
        return np.array([order[x] for x in v])

    rq = midranks([r[0] for r in rows])
    rd = midranks([r[2] for r in rows])
    expected = np.corrcoef(rq, rd)[0, 1]
    assert abs(out[("l_discount", "l_quantity")] - round(expected + 1e-9, 6)) < 1e-9


def test_hurst_trending_vs_antipersistent(spark, tmp_path):
    """Construction-pinned R/S regimes: a linear ramp of hourly counts
    (the ultimate persistent series — every increment points the same
    way) fits H near 1, while a strict 0/100 alternation (every
    increment reverses) fits H near 0; both far from the 0.5 random
    walk. Also pins the block census: 512 hours → 32/16/8/4 complete
    blocks at sizes 16/32/64/128."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)

    def write_counts(path, counts):
        rows, eid = [], 0
        for hour, c in enumerate(counts):
            ts = t0 + dt.timedelta(hours=hour)
            for _ in range(c):
                rows.append((eid, ts, 1, "e", 1.0, "{}"))
                eid += 1
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        ).write.parquet(f"{path}/events.parquet")

    fn = load_all()["events_hurst_exponent"].spark_fn

    ramp = str(tmp_path / "ramp")
    write_counts(ramp, [hour for hour in range(1, 513)])
    out = fn(spark, ramp).collect()
    assert {(r["block_size"], r["n_blocks"]) for r in out} == {
        (16, 32), (32, 16), (64, 8), (128, 4)
    }
    h = out[0]["hurst_h"]
    assert all(r["hurst_h"] == h for r in out)
    assert h > 0.9

    alt = str(tmp_path / "alt")
    write_counts(alt, [0 if hour % 2 == 0 else 100 for hour in range(512)])
    out2 = fn(spark, alt).collect()
    h2 = out2[0]["hurst_h"]
    assert abs(h2) < 0.15
    assert h2 < 0.5 < h


def test_gap_sweep_identities_and_monotonicity(spark, sf_dir):
    """Cross-query identity pins the sweep's counting trick: at the
    30-minute gap, n_sessions computed from the lag-delta identity
    (n_users + #breaks) must equal the row count of the full
    cumulative-sum sessionization (events_sessionize) — the two
    formulations are provably the same partition. And both reported
    ratios are monotone in the gap by construction: a larger gap can
    only MERGE sessions (n_sessions and break_rate non-increasing,
    avg_events_per_session non-decreasing)."""
    reg = load_all()
    sweep = {
        r["gap_seconds"]: r
        for r in reg["events_sessionize_gap_sweep"].spark_fn(spark, sf_dir).collect()
    }
    assert set(sweep) == {900, 1800, 3600}
    n_sessions_30m = reg["events_sessionize"].spark_fn(spark, sf_dir).count()
    assert sweep[1800]["n_sessions"] == n_sessions_30m
    assert sweep[900]["n_sessions"] >= sweep[1800]["n_sessions"] >= sweep[3600]["n_sessions"]
    assert sweep[900]["break_rate"] >= sweep[1800]["break_rate"] >= sweep[3600]["break_rate"]
    assert (
        sweep[900]["avg_events_per_session"]
        <= sweep[1800]["avg_events_per_session"]
        <= sweep[3600]["avg_events_per_session"]
    )


def test_holt_backtest_recovers_linear_trend_exactly(spark, tmp_path):
    """Construction-pinned Holt semantics: on an exactly linear daily
    revenue series the recursion reproduces level c+mt and trend m at
    every step (induction: l_t = 0.5*y_t + 0.5*(l+b) = c+mt when the
    invariant holds), so all 7 held-out forecasts are EXACT (abs_err
    0.0, mae 0.0) while the seasonal-naive baseline is off by 7m every
    day — MASE exactly 0. A constant series forecasts exactly too, and
    its snaive error is 0, so the ratio degrades to NULL (nullif), not
    a crash."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)

    def write_daily(path, cents_by_day):
        rows = []
        for day, cents in enumerate(cents_by_day):
            rows.append((day, t0 + dt.timedelta(days=day, hours=12), 1,
                         "purchase", cents / 100.0, "{}"))
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        ).write.parquet(f"{path}/events.parquet")

    fn = load_all()["events_holt_forecast_backtest"].spark_fn

    lin = str(tmp_path / "lin")
    write_daily(lin, [10000 + 500 * day for day in range(30)])
    out = fn(spark, lin).collect()
    assert [r["horizon"] for r in out] == list(range(1, 8))
    for r in out:
        assert r["abs_err"] == 0.0 and r["mae_holt"] == 0.0
        assert r["mase_vs_snaive7"] == 0.0
        assert r["actual_cents"] == 10000 + 500 * (22 + r["horizon"])

    flat = str(tmp_path / "flat")
    write_daily(flat, [777700] * 30)
    out2 = fn(spark, flat).collect()
    assert all(r["abs_err"] == 0.0 for r in out2)
    assert all(r["mase_vs_snaive7"] is None for r in out2)

    # below the 30-day span guard: empty on BOTH engines — the oracle
    # must mirror the y0-not-null filter, because a global aggregate
    # over an empty set still emits one all-NULL row (7 NULL forecast
    # rows vs Spark's 0 would fail certification on a short fixture)
    import duckdb

    short = str(tmp_path / "short")
    write_daily(short, [100] * 12)
    assert fn(spark, short).count() == 0
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{short}/events.parquet/*.parquet'"
    )
    reg = load_all()["events_holt_forecast_backtest"]
    assert con.sql(reg.oracle).fetchall() == []


def test_oracle_exact_max_gates_approximate_regime():
    """ADVICE r13: the two embedding audits that AUTO-ROUTE to IVF above
    similarity.EXACT_THRESHOLD declare the exact-SQL oracle's regime via
    oracle_exact_max, and compare_oracle refuses to hash-compare a
    fixture past the bound (rows-only downgrade with a named reason)
    instead of recording a misleading red row."""
    from sec_dl_spark.operators.similarity import EXACT_THRESHOLD
    from tools.compare_oracle import oracle_regime_block

    specs = load_all()
    for name in ("emb_knn_distance_outliers", "emb_hard_negatives"):
        spec = specs[name]
        assert spec.oracle_exact_max == {"embeddings": EXACT_THRESHOLD}
        # every driver fixture (<= 2000 embeddings) certifies normally
        assert oracle_regime_block(spec, {"embeddings": 2000}) is None
        # at the boundary the exact path still runs -> certifiable
        assert oracle_regime_block(
            spec, {"embeddings": EXACT_THRESHOLD}) is None
        # one row past it the Spark side is approximate -> refuse
        reason = oracle_regime_block(
            spec, {"embeddings": EXACT_THRESHOLD + 1})
        assert reason is not None and "exact regime" in reason
        # an unrelated/unknown table count does not trip the gate
        assert oracle_regime_block(spec, {"documents": 10**9}) is None
    # untagged queries never gate
    assert load_all()["q1_pricing_summary"].oracle_exact_max is None


def test_kruskal_wallis_planted_shift_and_identical_groups(spark, tmp_path):
    """Construction-pinned KW semantics: three dayparts carry IDENTICAL
    value multisets (values 10..29 once each per group → every value has
    tie multiplicity 3, midrank 3v+2, group mean rank exactly 30.5) and
    one daypart is hugely shifted (distinct values 1010..1029 → ranks
    61..80, mean 70.5) — H must reject at α=0.05 with df=3. A second
    fixture with EVERY value equal pins the degenerate tie correction:
    corr = 0 → h_corrected and the verdict are NULL, h_stat is exact 0."""
    import datetime as dt

    def write_events(path, groups):
        rows, eid = [], 0
        for daypart, values in groups.items():
            ts = dt.datetime(2024, 1, 1, 6 * daypart + 3)
            for u, v in enumerate(values):
                rows.append((eid, ts, u, "purchase", v, "{}"))
                eid += 1
        # non-purchase rows must be ignored by the filter
        rows.append((eid, dt.datetime(2024, 1, 1, 3), 0, "click", 1e6, "{}"))
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        ).write.parquet(f"{path}/events.parquet")

    fn = load_all()["events_kruskal_wallis"].spark_fn
    shifted = str(tmp_path / "shifted")
    base_vals = [10.0 + k for k in range(20)]
    write_events(shifted, {0: base_vals, 1: base_vals, 2: base_vals,
                           3: [1010.0 + k for k in range(20)]})
    out = {r["daypart"]: r for r in fn(spark, shifted).collect()}
    assert sorted(out) == [0, 1, 2, 3]
    for k in (0, 1, 2):
        assert out[k]["mean_rank"] == 30.5 and out[k]["n_g"] == 20
    assert out[3]["mean_rank"] == 70.5
    assert out[3]["df"] == 3 and out[3]["reject_h0_95"] is True
    assert out[3]["h_corrected"] > 7.814728  # chi2 crit at df=3

    flat = str(tmp_path / "flat")
    write_events(flat, {k: [5.0] * 10 for k in range(4)})
    out2 = {r["daypart"]: r for r in fn(spark, flat).collect()}
    for k in range(4):
        assert out2[k]["h_stat"] == 0.0
        assert out2[k]["h_corrected"] is None
        assert out2[k]["reject_h0_95"] is None
        assert out2[k]["mean_rank"] == 20.5  # (N+1)/2 with N=40


def test_zonemap_audit_random_vs_sorted_vs_zorder(spark, tmp_path):
    """Construction-pinned pruning semantics: with both probe columns
    hash-scrambled against insert order, the 'natural' layout's 64 files
    each hold ~100 uniform rows, so every file's bounding box overlaps
    every eighth-of-domain probe (P(miss) = (7/8)^100) — all 64 files
    read. The shipdate sort bounds the date dimension (an eighth-range
    probe touches ~1/8 of files, + boundary slack), and the Morton
    layout bounds BOTH dimensions, so each prunes hard; results are
    deterministic across runs."""
    import datetime as dt

    rows = []
    for k in range(6400):
        sd_day = 10000 + (k * 2654435761) % 2400
        pk = 1 + (k * 40503) % 20000
        rows.append(
            (k + 1, 1, pk,
             dt.datetime(1970, 1, 1) + dt.timedelta(days=int(sd_day)))
        )
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_linenumber int, l_partkey long, "
        "l_shipdate timestamp",
    ).write.parquet(f"{tmp_path}/lineitem.parquet")

    fn = load_all()["layout_zonemap_pruning_audit"].spark_fn
    out = {r["layout"]: r for r in fn(spark, str(tmp_path)).collect()}
    assert sorted(out) == ["natural", "shipdate", "zorder"]
    assert all(r["n_probes"] == 9 for r in out.values())
    assert out["natural"]["avg_files_read"] == 64.0
    assert out["shipdate"]["avg_files_read"] < 16
    assert out["zorder"]["avg_files_read"] < 32
    assert out["zorder"]["min_files_read"] < 64
    again = {r["layout"]: r for r in fn(spark, str(tmp_path)).collect()}
    assert {k: tuple(v) for k, v in again.items()} == {
        k: tuple(v) for k, v in out.items()
    }


def test_bootstrap_ci_constant_and_mixed_types(spark, tmp_path):
    """Construction-pinned Poisson-bootstrap semantics (the r14 md5-lane
    rework): a constant-valued type has EVERY replicate mean equal to
    the constant (weights scale numerator and denominator together), so
    the interval collapses to a point; a mixed-value type's interval
    properly brackets its bootstrap mean; and the draws are
    deterministic — two runs give identical rows (seeded statistics,
    not flaky statistics)."""
    import datetime as dt

    ts = dt.datetime(2024, 3, 1)
    rows, eid = [], 0
    for _ in range(40):
        rows.append((eid, ts, eid % 7, "const", 42.0, "{}")); eid += 1
    for k in range(40):
        rows.append((eid, ts, eid % 7, "mix", 0.0 if k % 2 else 100.0, "{}"))
        eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")

    fn = load_all()["agg_bootstrap_ci"].spark_fn
    out = {r["event_type"]: r for r in fn(spark, str(tmp_path)).collect()}
    c = out["const"]
    assert c["boot_mean"] == 42.0 and c["ci_lo"] == 42.0 and c["ci_hi"] == 42.0
    assert c["n_reps"] == 20
    m = out["mix"]
    assert m["ci_lo"] <= m["boot_mean"] <= m["ci_hi"]
    assert m["ci_lo"] < m["ci_hi"]  # 40 mixed rows: replicates must differ
    assert 0.0 < m["boot_mean"] < 100.0
    again = {r["event_type"]: tuple(r) for r in fn(spark, str(tmp_path)).collect()}
    assert again == {k: tuple(v) for k, v in out.items()}


def test_null_injection_rank_and_attribution_oracles(spark, tmp_path):
    """The nullable-ordered-grain class closed end-to-end (VERDICT r14
    ask #1 / ADVICE r14 #1-#2): on a fixture that actually CONTAINS
    NULL value / NULL ts rows — the driver fixtures have none, which is
    exactly why the hazard stayed latent — events_mannwhitney_u,
    events_kruskal_wallis and events_attribution_linear still match
    their DuckDB oracles byte-exact. Without the guards a NULL cents
    grain row sits at opposite ends of the two engines' prefix windows
    (Spark windows default NULLS FIRST, DuckDB NULLS LAST) and shifts
    every midrank, and a NULL-value purchase earns Spark-side
    attribution credit while the oracle excludes it."""
    import datetime as dt

    import duckdb

    from tools.compare_oracle import compare_frames

    rows, eid = [], 0
    base = dt.datetime(2024, 1, 1)
    for k in range(120):
        ts = base + dt.timedelta(hours=k % 24, minutes=k)
        et = ("purchase", "view", "click")[k % 3]
        rows.append((eid, ts, k % 10, et, float(5 + (k * 7) % 40), "{}"))
        eid += 1
    # poison rows: NULL-value / NULL-ts purchases (KW + attribution
    # exclusion symmetry) and NULL-value touches (the MWU grain)
    t0 = base + dt.timedelta(hours=5)
    rows += [
        (eid, t0, 1, "purchase", None, "{}"),
        (eid + 1, None, 2, "purchase", 11.0, "{}"),
        (eid + 2, t0, 3, "view", None, "{}"),
        (eid + 3, None, 4, "click", None, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet/*.parquet'"
    )
    specs = load_all()
    for name in (
        "events_mannwhitney_u",
        "events_kruskal_wallis",
        "events_attribution_linear",
    ):
        got = specs[name].spark_fn(spark, str(tmp_path)).toPandas()
        exp = con.sql(specs[name].oracle).df()
        assert len(got) > 0, f"{name}: vacuous fixture"
        assert compare_frames(got, exp, exact=True) == [], name


def test_kendall_tau_matches_bruteforce_and_degenerates(spark, tmp_path):
    """Construction-pinned tau-b semantics: the grain-pair fold must equal
    the textbook O(n^2) row-pair definition (concordant / discordant
    counts and the tie-corrected tau) computed by brute force on a
    200-row deterministic fixture — and a CONSTANT column must yield
    NULL tau (denominator 0) on every pair that touches it, identically
    to the divide-by-zero convention."""
    rows = []
    for k in range(200):
        q = 1 + (k * 37) % 8          # 8 distinct quantities, heavy ties
        d = ((k * 53) % 5) / 100.0    # 5 distinct discounts
        tx = ((q * 3 + k % 4) % 6) / 100.0  # correlated-with-q tax
        rows.append((float(q), d, tx))
    spark.createDataFrame(
        rows, "l_quantity double, l_discount double, l_tax double"
    ).write.parquet(f"{tmp_path}/lineitem.parquet")

    def brute(xs, ys):
        conc = disc = 0
        n = len(xs)
        for i in range(n):
            for j in range(i + 1, n):
                sx = (xs[i] > xs[j]) - (xs[i] < xs[j])
                sy = (ys[i] > ys[j]) - (ys[i] < ys[j])
                if sx * sy > 0:
                    conc += 1
                elif sx * sy < 0:
                    disc += 1
        import math
        from collections import Counter

        n0 = n * (n - 1) / 2
        n1 = sum(t * (t - 1) / 2 for t in Counter(xs).values())
        n2 = sum(t * (t - 1) / 2 for t in Counter(ys).values())
        tau = (conc - disc) / math.sqrt((n0 - n1) * (n0 - n2))
        return conc, disc, round(tau + 1e-9, 6) + 0.0

    q = [int(round(r[0] * 100)) for r in rows]
    d = [int(round(r[1] * 10000)) for r in rows]
    tx = [int(round(r[2] * 10000)) for r in rows]
    expect = {
        ("l_discount", "l_quantity"): brute(d, q),
        ("l_discount", "l_tax"): brute(d, tx),
        ("l_quantity", "l_tax"): brute(q, tx),
    }
    fn = load_all()["dq_kendall_tau"].spark_fn
    got = {(r["col_a"], r["col_b"]): r for r in fn(spark, str(tmp_path)).collect()}
    assert sorted(got) == sorted(expect)
    for k, (conc, disc, tau) in expect.items():
        assert got[k]["concordant"] == conc, k
        assert got[k]["discordant"] == disc, k
        assert got[k]["tau_b"] == tau, k

    # degenerate: constant tax -> NULL tau for both tax pairs, and the
    # perfectly-monotone (q, d=q/1000) pair pins tau_b = 1.0 exactly
    rows2 = [(float(1 + k % 7), (1 + k % 7) / 1000.0, 0.05) for k in range(50)]
    spark.createDataFrame(
        rows2, "l_quantity double, l_discount double, l_tax double"
    ).write.parquet(f"{tmp_path}/flat/lineitem.parquet")
    out2 = {(r["col_a"], r["col_b"]): r for r in fn(spark, f"{tmp_path}/flat").collect()}
    assert out2[("l_discount", "l_quantity")]["tau_b"] == 1.0
    assert out2[("l_discount", "l_tax")]["tau_b"] is None
    assert out2[("l_quantity", "l_tax")]["tau_b"] is None


def test_kendall_tau_price_matches_bruteforce_with_ties_and_nulls(spark, tmp_path):
    """The sorted-rows dominance kernel must equal the textbook O(n^2)
    row-pair tau-b on a fixture engineered for its failure modes: heavy
    PRICE ties (equal-p pairs must never count), multiple p-groups per
    partition, and NULL rows (complete-case filtered identically in
    both engines — the nullable-ordered-grain class). Also pins the
    DuckDB oracle on the same NULL-carrying fixture byte-exact."""
    import duckdb

    from tools.compare_oracle import compare_frames

    rows = []
    for k in range(240):
        p = float(10 + (k % 40))            # 40 distinct prices, 6-way ties
        q = float(1 + (k * 7) % 6)          # 6 quantities
        d = ((k * 11) % 4) / 100.0          # 4 discounts
        tx = ((k * 5 + k // 3) % 5) / 100.0 # 5 taxes
        rows.append((p, q, d, tx))
    clean = list(rows)
    rows += [(None, 3.0, 0.01, 0.02), (55.0, None, 0.02, 0.03),
             (66.0, 2.0, None, 0.04), (77.0, 4.0, 0.03, None)]
    spark.createDataFrame(
        rows,
        "l_extendedprice double, l_quantity double, l_discount double, "
        "l_tax double",
    ).write.parquet(f"{tmp_path}/lineitem.parquet")

    def brute(xs, ys):
        import math
        from collections import Counter

        conc = disc = 0
        n = len(xs)
        for i in range(n):
            for j in range(i + 1, n):
                sx = (xs[i] > xs[j]) - (xs[i] < xs[j])
                sy = (ys[i] > ys[j]) - (ys[i] < ys[j])
                if sx * sy > 0:
                    conc += 1
                elif sx * sy < 0:
                    disc += 1
        n0 = n * (n - 1) / 2
        n1 = sum(c * (c - 1) / 2 for c in Counter(xs).values())
        n2 = sum(c * (c - 1) / 2 for c in Counter(ys).values())
        tau = (conc - disc) / math.sqrt((n0 - n1) * (n0 - n2))
        return conc, disc, round(tau + 1e-9, 6) + 0.0

    pp = [int(round(r[0] * 100)) for r in clean]
    qq = [int(round(r[1] * 100)) for r in clean]
    dd = [int(round(r[2] * 10000)) for r in clean]
    tt = [int(round(r[3] * 10000)) for r in clean]
    expect = {
        ("l_discount", "l_extendedprice"): brute(dd, pp),
        ("l_extendedprice", "l_quantity"): brute(pp, qq),
        ("l_extendedprice", "l_tax"): brute(pp, tt),
    }
    spec = load_all()["dq_kendall_tau_price"]
    got = {(r["col_a"], r["col_b"]): r for r in spec.spark_fn(spark, str(tmp_path)).collect()}
    assert sorted(got) == sorted(expect)
    for k, (conc, disc, tau) in expect.items():
        assert got[k]["concordant"] == conc, k
        assert got[k]["discordant"] == disc, k
        assert got[k]["tau_b"] == tau, k

    # oracle parity on the SAME NULL-carrying fixture
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM '{tmp_path}/lineitem.parquet/*.parquet'"
    )
    exp = con.sql(spec.oracle).df()
    assert compare_frames(
        spec.spark_fn(spark, str(tmp_path)).toPandas(), exp, exact=True
    ) == []

    # degenerate: constant price -> every pair tied in p -> tau NULL on
    # all three pairs, with zero concordant/discordant
    flat = [(5.0, float(1 + k % 3), 0.01, 0.02) for k in range(30)]
    spark.createDataFrame(
        flat,
        "l_extendedprice double, l_quantity double, l_discount double, "
        "l_tax double",
    ).write.parquet(f"{tmp_path}/flat/lineitem.parquet")
    out2 = {
        (r["col_a"], r["col_b"]): r
        for r in spec.spark_fn(spark, f"{tmp_path}/flat").collect()
    }
    for k, r in out2.items():
        assert r["tau_b"] is None, k
        assert r["concordant"] == 0 and r["discordant"] == 0, k


def test_kendall_tau_price_slot_collect_is_bounded(spark, tmp_path):
    """The kernel's ONE driver-side collect — the exploded
    (pid, col, value) count job — is bounded by partitions x slots, the
    transition-matrix convention (plans/streaming_batch.py's 10k-cell
    guard). Enforce both halves of that contract (VERDICT r15 #5):

    1. a column whose value space exceeds the 1024-slot guard must be
       REFUSED loudly (never a silent row-cardinality-sized collect /
       broadcast of the offset vectors);
    2. on an in-bounds fixture the slot discovery must see the value
       SPACE, not the row count — verified by running a fixture with
       3000 rows over 3 quantity values and checking the query still
       answers exactly (the collect fed it at most
       n_partitions x (3 + 4 + 5) cells).
    """
    import pytest

    # 2000 distinct quantity values -> the slot-vector kernel must refuse
    rows = [
        (float(10 + k % 7), float(k), 0.01, 0.02) for k in range(2000)
    ]
    spark.createDataFrame(
        rows,
        "l_extendedprice double, l_quantity double, l_discount double, "
        "l_tax double",
    ).write.parquet(f"{tmp_path}/wide/lineitem.parquet")
    spec = load_all()["dq_kendall_tau_price"]
    with pytest.raises(ValueError, match="slot-vector kernel is for value-"):
        spec.spark_fn(spark, f"{tmp_path}/wide").collect()

    # row count >> value space: the guard keys on slots, not rows
    rows = [
        (
            float(10 + (k * 13) % 50),
            float(1 + k % 3),
            ((k * 11) % 4) / 100.0,
            ((k * 7) % 5) / 100.0,
        )
        for k in range(3000)
    ]
    spark.createDataFrame(
        rows,
        "l_extendedprice double, l_quantity double, l_discount double, "
        "l_tax double",
    ).write.parquet(f"{tmp_path}/tall/lineitem.parquet")
    out = {
        (r["col_a"], r["col_b"]): r
        for r in spec.spark_fn(spark, f"{tmp_path}/tall").collect()
    }
    assert len(out) == 3
    for r in out.values():
        # 3000 rows pair to ~4.5M comparisons; every slot fold stayed
        # integer-exact, so conc+disc can never exceed n*(n-1)/2
        assert 0 < r["concordant"] + r["discordant"] <= 3000 * 2999 // 2


def test_ivf_recall_audit_planted_cells_and_exact_baseline(spark, tmp_path):
    """Recall accounting pinned on a planted corner geometry: 16 vectors
    per corner cell, each cluster tight inside its own sign pattern so
    every vector's 5 exact NNs share its cell -> recall@5 is already 1.0
    at n_probe=1 and stays 1.0 (monotonicity trivially holds), while the
    candidate share grows from ~1/16 toward (N-1)/N. A planted straddler
    (near-zero first component) checks the bit rule (v > 0 -> bit set,
    zero -> unset) matches the argmax-over-corners semantics.
    n_probe=16 is the exact baseline BY CONSTRUCTION: recall must be
    exactly 1.0, full_recall_share 1.0, candidate share (N-1)/N."""
    import numpy as np

    rng = np.random.default_rng(7)
    rows = []
    vid = 0
    for cell in range(16):
        signs = np.array([1.0 if (cell >> i) & 1 else -1.0 for i in range(4)])
        for _ in range(16):
            v = np.zeros(8, dtype=np.float64)
            v[:4] = signs * (2.0 + rng.random(4))   # strongly inside the cell
            v[4:] = rng.random(4) * 0.05            # tiny tail noise
            rows.append((vid, [float(x) for x in v], cell % 3))
            vid += 1
    # straddler: first component exactly 0 -> bit 0 UNSET both engines
    rows.append((vid, [0.0, -3.0, -3.0, -3.0, 0.0, 0.0, 0.0, 0.0], 0))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{tmp_path}/embeddings.parquet")

    out = {
        r["n_probe"]: r
        for r in load_all()["emb_ivf_recall_audit"]
        .spark_fn(spark, str(tmp_path))
        .collect()
    }
    assert sorted(out) == [1, 2, 4, 8, 16]
    n = len(rows)
    nq = sum(1 for r in rows if r[0] < 100)
    for p, r in out.items():
        assert r["n_queries"] == nq, p
        assert r["mean_recall"] == 1.0, p         # clusters never straddle
        assert r["full_recall_share"] == 1.0, p
    # candidate share grows with probes and hits (N-1)/N at exhaustive
    shares = [out[p]["avg_candidate_share"] for p in (1, 2, 4, 8, 16)]
    assert shares == sorted(shares)
    assert out[16]["avg_candidate_share"] == round((n - 1) / n + 1e-9, 6)
    # oracle parity on the planted fixture (same straddler edge)
    import duckdb

    from tools.compare_oracle import compare_frames

    spec = load_all()["emb_ivf_recall_audit"]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{tmp_path}/embeddings.parquet/*.parquet'"
    )
    exp = con.sql(spec.oracle).df()
    assert compare_frames(
        spec.spark_fn(spark, str(tmp_path)).toPandas(), exp, exact=True
    ) == []


def test_hamming_recall_audit_planted_clusters_and_monotonicity(
    spark, tmp_path, sf_dir
):
    """Recall accounting for the hamming-shortlist/rerank path pinned on a
    planted sign geometry: 6-vector clusters, each tight inside one sign
    pattern (first 4 dims signed per a 4-bit pattern, last 4 positive), so
    every query's 5 exact cosine NNs are exactly its 5 cluster mates AND
    exactly its 5 hamming-0 candidates -> recall 1.0 at every shortlist m.
    The pattern-0 cluster carries 5 members plus a CANDIDATE-ONLY
    STRADDLER (vec_id 200, outside the query cut) whose first component
    is exactly 0.0 — the bit rule (v > 0 -> set, zero -> unset) makes it
    hamming-0 to the all-negative-prefix cluster in BOTH engines, and it
    is also those members' 5th exact cosine NN, so their 1.0 rows survive
    only if the zero-bit rule matches across engines. (It cannot itself
    be a query: its zero dim contributes nothing to cosine, leaving
    pattern-0 and pattern-1 members equidistant — noise then splits its
    exact top-5 across two hamming shells.) Oracle parity re-checked on
    the planted fixture; the real-fixture sentinel is MONOTONICITY
    (nested shortlists -> every recall column non-decreasing in m)."""
    import numpy as np

    rng = np.random.default_rng(11)
    rows = []
    vid = 0
    for cell in range(16):
        signs = np.array([1.0 if (cell >> i) & 1 else -1.0 for i in range(4)])
        n_members = 6 if cell != 0 else 5
        for _ in range(n_members):
            v = np.zeros(8, dtype=np.float64)
            v[:4] = signs * (2.0 + rng.random(4))
            v[4:] = 2.0 + rng.random(4)
            rows.append((vid, [float(x) for x in v], cell % 3))
            vid += 1
    # straddler: first component exactly 0 -> bit UNSET in both engines,
    # signature identical to the pattern-0 (all-negative-prefix) cluster
    rows.append(
        (200, [0.0, -3.0, -3.0, -3.0, 3.0, 3.0, 3.0, 3.0], 0)
    )
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{tmp_path}/embeddings.parquet")

    spec = load_all()["emb_hamming_recall_audit"]
    out = {
        r["shortlist_m"]: r
        for r in spec.spark_fn(spark, str(tmp_path)).collect()
    }
    assert sorted(out) == [5, 10, 25, 50]
    for m, r in out.items():
        assert r["n_queries"] == len(rows) - 1, m  # straddler is corpus-only
        assert r["mean_recall"] == 1.0, m
        assert r["min_recall"] == 1.0, m
        assert r["full_recall_share"] == 1.0, m

    # oracle parity on the planted fixture (same zero-bit edge)
    import duckdb

    from tools.compare_oracle import compare_frames

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM "
        f"'{tmp_path}/embeddings.parquet/*.parquet'"
    )
    exp = con.sql(spec.oracle).df()
    assert compare_frames(
        spec.spark_fn(spark, str(tmp_path)).toPandas(), exp, exact=True
    ) == []

    # real fixture: nested shortlists force non-decreasing recall in m
    real = [
        r.asDict()
        for r in spec.spark_fn(spark, sf_dir).orderBy("shortlist_m").collect()
    ]
    assert [r["shortlist_m"] for r in real] == [5, 10, 25, 50]
    for colname in ("mean_recall", "min_recall", "full_recall_share"):
        vals = [r[colname] for r in real]
        assert vals == sorted(vals), colname
