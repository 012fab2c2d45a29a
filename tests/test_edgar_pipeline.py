"""End-to-end EDGAR ETL on synthetic idx/seed data (hermetic — the idx
sample mirrors the public master.idx format: 9 preamble lines, '----'
separator, pipe-delimited records; see
/root/reference/sec_dl/utils/load_filings_idx.py:38-42 for the shape)."""

import pytest
from pyspark.sql import functions as F

from sec_dl_spark import schemas
from sec_dl_spark.etl.ingest import apply_text_updates, build_filings, pending_filings, write_filings
from sec_dl_spark.etl.monitor import scrape_progress
from sec_dl_spark.etl.scrape import fake_fetcher, scrape_pending
from sec_dl_spark.sources.edgar_idx import idx_url_grid, parse_master_idx

IDX_SAMPLE = """Description:           Master Index of EDGAR Dissemination Feed
Last Data Received:    March 31, 2023
Comments:              webmaster@sec.gov
Anonymous FTP:         ftp://ftp.sec.gov/edgar/
Cloud HTTP:            https://www.sec.gov/Archives/



CIK|Company Name|Form Type|Date Filed|Filename
--------------------------------------------------------------------------------
100|ALPHA CORP|10-K|2023-01-15|edgar/data/100/0001-23-000001.txt
100|ALPHA CORP|8-K|2023-02-01|edgar/data/100/0001-23-000002.txt
200|BETA, INC.|10-Q|2023-03-10|edgar/data/200/0002-23-000001.txt
300|GAMMA LLC|10-K|2023-03-20|edgar/data/300/0003-23-000001.txt
999|UNKNOWN CO|10-K|2023-03-25|edgar/data/999/0009-23-000001.txt
"""


@pytest.fixture(scope="module")
def idx_records(spark, tmp_path_factory):
    p = tmp_path_factory.mktemp("idx") / "master.idx"
    p.write_text(IDX_SAMPLE)
    return parse_master_idx(spark, str(p)).cache()


@pytest.fixture(scope="module")
def companies(spark):
    rows = [(1, "ALF", 100, "ALPHA CORP"), (2, "BET", 200, "BETA, INC."), (3, "NOC", None, "NO CIK CO")]
    return spark.createDataFrame(rows, schemas.COMPANIES)


@pytest.fixture(scope="module")
def filing_types(spark):
    rows = [(1, "10-K", 1), (2, "10-Q", 1), (3, "8-K", 0)]
    return spark.createDataFrame(rows, schemas.FILING_TYPES)


def test_parse_master_idx_drops_preamble_and_separator(idx_records):
    rows = idx_records.collect()
    assert len(rows) == 5  # header + ---- + blank lines all dropped
    assert {r["cik"] for r in rows} == {100, 200, 300, 999}
    r = [x for x in rows if x["type"] == "10-Q"][0]
    assert r["business_name"] == "BETA, INC."
    assert str(r["date"]) == "2023-03-10"
    assert r["path"].startswith("edgar/data/200/")


def test_build_filings_universe_and_type_filters(idx_records, companies, filing_types):
    filings = build_filings(idx_records, companies, filing_types)
    rows = filings.collect()
    # cik 999 (not in universe), cik 300 (not in universe), 8-K (keep=0) dropped
    assert {(r["cik"], r["type"]) for r in rows} == {(100, "10-K"), (200, "10-Q")}
    assert all(r["year"] == 2023 for r in rows)
    assert {r["qtr"] for r in rows} == {1}
    assert len({r["filing_id"] for r in rows}) == 2  # stable distinct hashes
    assert all(r["text"] is None for r in rows)
    # duplicate dim rows never duplicate a filing: the joins are semi-joins
    doubled = build_filings(
        idx_records, companies.unionByName(companies), filing_types.unionByName(filing_types)
    )
    assert doubled.count() == 2


def test_filings_roundtrip_scrape_and_update(spark, idx_records, companies, filing_types, tmp_path):
    base = str(tmp_path / "warehouse")
    filings = build_filings(idx_records, companies, filing_types)
    write_filings(filings, base, mode="overwrite")

    meta = spark.read.parquet(f"{base}/filings_meta")
    text = spark.read.parquet(f"{base}/filings_text")
    assert meta.count() == 2
    assert "text" not in meta.columns  # blob never in the metadata table

    pending = pending_filings(meta, text)
    assert pending.count() == 2

    updates = scrape_pending(pending, fetcher=fake_fetcher).join(
        meta.select("filing_id", "year", "qtr"), "filing_id"
    )
    new_text = apply_text_updates(text, updates)
    assert new_text.where(F.col("text").isNotNull()).count() == 2
    got = new_text.orderBy("filing_id").first()
    assert "annual report" in got["text"]
    assert "binaryblob" not in got["text"]  # chart.jpg segment dropped
    assert got["tokens"] is not None and "report" in got["tokens"]

    # work queue drains declaratively — no trigger machinery
    assert pending_filings(meta, new_text).count() == 0

    prog = scrape_progress(meta, new_text).first()
    assert prog["n_total"] == 2 and prog["n_done"] == 2 and prog["pct_done"] == 100.0


def _pending_wave(spark, base, n=20):
    """A written filings layout with ``n`` unscraped filings: (meta, text)."""
    import datetime as dt

    rows = [
        (i, 100, "ALPHA CORP", "10-K", f"edgar/data/100/w-{i:03d}.txt", dt.date(2023, 2, 1), None, 2023, 1)
        for i in range(n)
    ]
    filings = spark.createDataFrame(
        rows,
        "filing_id long, cik int, business_name string, type string, path string,"
        "date date, text string, year int, qtr int",
    )
    write_filings(filings, base, mode="overwrite")
    return spark.read.parquet(f"{base}/filings_meta"), spark.read.parquet(f"{base}/filings_text")


def _calls(log):
    return log.read_text().splitlines() if log.exists() else []


def test_scrape_fetches_each_pending_filing_once(spark, tmp_path):
    """One fetch per pending filing per wave, however many consumers read
    the scrape: the anti-join and the union of apply_text_updates both
    read the fetched rows, and a lazy fetch would run once per read. The
    fetcher runs in Python workers, so calls are logged to a file."""
    meta, text = _pending_wave(spark, str(tmp_path / "warehouse"))
    log = tmp_path / "fetch.log"

    def counting_fetcher(path):
        with open(log, "a") as f:
            f.write(path + "\n")
        return fake_fetcher(path)

    updates = scrape_pending(pending_filings(meta, text), fetcher=counting_fetcher, partitions=4).join(
        meta.select("filing_id", "year", "qtr"), "filing_id"
    )
    rows = apply_text_updates(text, updates).collect()
    assert len(rows) == 20 and all(r["text"] is not None for r in rows)
    calls = _calls(log)
    assert len(calls) == 20 and len(set(calls)) == 20


def test_transient_fetch_failure_leaves_one_row_per_filing(spark, tmp_path):
    """A fetcher that fails each path's first call and succeeds after: the
    failed filings stay pending with exactly one (NULL-text) row each. A
    re-fetch per consumer would see the failure in one read and the
    success in the other, and emit both the old row and the new one."""
    meta, text = _pending_wave(spark, str(tmp_path / "warehouse"))
    seen = tmp_path / "seen"
    seen.mkdir()

    def flaky_fetcher(path):
        marker = seen / path.replace("/", "_")
        if not marker.exists():
            marker.touch()
            raise ConnectionError(f"transient failure fetching {path}")
        return fake_fetcher(path)

    updates = scrape_pending(pending_filings(meta, text), fetcher=flaky_fetcher, partitions=4).join(
        meta.select("filing_id", "year", "qtr"), "filing_id"
    )
    new_text = apply_text_updates(text, updates)
    rows = new_text.collect()
    assert len(rows) == 20
    assert len({r["filing_id"] for r in rows}) == 20
    assert pending_filings(meta, new_text).count() == 20


def test_write_filings_evaluates_its_input_once(spark, tmp_path):
    """Both tables come from one evaluation of ``filings``: the metadata
    and the text write must not each re-run the upstream (the idx parse
    and the dim semi-joins). A pass-through mapInPandas logs each
    partition it is run over."""
    import datetime as dt

    log = tmp_path / "eval.log"
    rows = [
        (i, 100, "ALPHA CORP", "10-K", f"p{i}", dt.date(2023, 2, 1), None, 2023, 1)
        for i in range(6)
    ]
    filings = spark.createDataFrame(
        rows,
        "filing_id long, cik int, business_name string, type string, path string,"
        "date date, text string, year int, qtr int",
    ).coalesce(1)

    def logged(batches):
        with open(log, "a") as f:
            f.write("run\n")
        yield from batches

    base = str(tmp_path / "warehouse")
    write_filings(filings.mapInPandas(logged, schema=filings.schema), base, mode="overwrite")
    assert len(_calls(log)) == 1
    assert spark.read.parquet(f"{base}/filings_meta").count() == 6
    assert spark.read.parquet(f"{base}/filings_text").count() == 6


def test_idx_url_grid(spark):
    grid = idx_url_grid(spark, 2020, 2021).collect()
    assert len(grid) == 8
    assert grid[0]["url"] == "https://www.sec.gov/Archives/edgar/full-index/2020/QTR1/master.idx"


def test_idx_url_grid_caps_current_year_at_current_quarter(spark):
    """Mirror of the reference grid (load_filings_idx.py:26-28): the current
    year must stop at the current quarter — future master.idx URLs 404."""
    import datetime as dt

    today = dt.date.today()
    cur_q = (today.month - 1) // 3 + 1
    grid = idx_url_grid(spark, today.year - 1).collect()
    this_year = [r for r in grid if r["year"] == today.year]
    assert [r["qtr"] for r in this_year] == list(range(1, cur_q + 1))
    last_year = [r for r in grid if r["year"] == today.year - 1]
    assert [r["qtr"] for r in last_year] == [1, 2, 3, 4]


def test_idx_url_grid_explicit_future_end_year_emits_no_future_urls(spark):
    """An explicit end_year beyond the current year must not emit any
    future-year urls — the quarter cap is scoped to the current year, not
    a bare `qtr <= current_quarter` over every year (which would re-admit
    future-year urls for early quarters; they 404 and stall the fetch
    path)."""
    import datetime as dt

    today = dt.date.today()
    cur_q = (today.month - 1) // 3 + 1
    grid = idx_url_grid(spark, today.year, today.year + 2).collect()
    assert {r["year"] for r in grid} == {today.year}
    assert [r["qtr"] for r in grid] == list(range(1, cur_q + 1))


def test_streaming_idx_ingest_foreachbatch(
    spark, companies, filing_types, tmp_path_factory
):
    """The K10-trigger replacement end-to-end as a stream: quarterly idx
    files arrive → each micro-batch runs the same build_filings dataflow →
    checkpointed parquet appends. Two files with maxFilesPerTrigger=1 →
    two batches; the result must equal the batch run over both files."""
    import pyspark.sql.types as T

    src = tmp_path_factory.mktemp("idx_stream")
    out = str(tmp_path_factory.mktemp("filings_out"))
    ckpt = str(tmp_path_factory.mktemp("ckpt"))

    rows_q1 = "100|ALPHA CORP|10-K|2023-01-15|edgar/data/100/q1-1.txt\n"
    rows_q2 = (
        "200|BETA, INC.|10-Q|2023-04-10|edgar/data/200/q2-1.txt\n"
        "999|UNKNOWN CO|10-K|2023-04-25|edgar/data/999/q2-x.txt\n"
    )
    (src / "2023q1.csv").write_text(rows_q1)
    (src / "2023q2.csv").write_text(rows_q2)

    raw_schema = T.StructType(
        [
            T.StructField("cik", T.IntegerType()),
            T.StructField("business_name", T.StringType()),
            T.StructField("type", T.StringType()),
            T.StructField("date_s", T.StringType()),
            T.StructField("path", T.StringType()),
        ]
    )
    stream = (
        spark.readStream.schema(raw_schema)
        .option("sep", "|")
        .option("maxFilesPerTrigger", 1)
        .csv(str(src))
        .withColumn("date", F.to_date("date_s"))
        .drop("date_s")
    )

    def on_batch(batch_df, batch_id):
        filings = build_filings(batch_df, companies, filing_types)
        filings.write.mode("append").parquet(out)

    q = (
        stream.writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    # UNKNOWN CO (cik 999) filtered by the universe semi-join; both kept
    # rows present exactly once each, with stable content-hash ids
    assert got.count() == 2
    assert {r["path"] for r in got.collect()} == {
        "edgar/data/100/q1-1.txt",
        "edgar/data/200/q2-1.txt",
    }
    assert got.where(F.col("filing_id").isNull()).count() == 0


def test_parse_master_idx_malformed_rows(spark, tmp_path_factory):
    """Robustness: garbage lines, short rows, bad dates must not kill the
    scan — non-record lines drop, bad dates become NULL (the PERMISSIVE
    posture of the reference's errors='ignore' decode, F12)."""
    p = tmp_path_factory.mktemp("idx_bad") / "master.idx"
    p.write_text(
        "garbage preamble\n"
        "100|ALPHA CORP|10-K|2023-01-15|edgar/data/100/ok.txt\n"
        "not|a|cik|row|x\n"
        "200|BETA|10-Q|NOT-A-DATE|edgar/data/200/bad_date.txt\n"
        "300|GAMMA|10-K|2023-03-20\n"  # missing path field
        "|||||\n"
    )
    from sec_dl_spark.sources.edgar_idx import parse_master_idx

    rows = {r["path"]: r for r in parse_master_idx(spark, str(p)).collect()}
    assert "edgar/data/100/ok.txt" in rows
    assert rows["edgar/data/200/bad_date.txt"]["date"] is None
    # the short row parses with a NULL path; the all-pipes row is dropped
    assert None in rows and rows[None]["cik"] == 300
    assert len(rows) == 3


def test_build_corpus_end_to_end(spark, tmp_path):
    """The composed corpus pipeline: monotone funnel, no duplicate
    fingerprints among survivors, leakage-free splits, packed sequences
    within budget, rerun idempotent."""
    from pyspark.sql import functions as F

    from sec_dl_spark.etl.corpus import build_corpus
    from sec_dl_spark.functions import analysis as A
    from sec_dl_spark.functions.text import tokenize

    out = str(tmp_path / "corpus")
    funnel = build_corpus(
        spark, "/root/testdata/sf0.001", out, seq_budget=64,
        compact_target_bytes=64 * 1024 * 1024,
    )
    assert funnel["n_raw"] >= funnel["n_quality"] >= funnel["n_exact_unique"] >= funnel["n_near_unique"] > 0
    assert sum(funnel["splits"].values()) == funnel["n_near_unique"]
    assert set(funnel["splits"]) <= {"train", "val", "test"}

    docs = spark.read.parquet(funnel["documents_path"])
    # exact-dup-free: every surviving fingerprint is unique
    fps = docs.select(A.fingerprint_of(tokenize(F.col("text"))).alias("fp"))
    assert fps.count() == fps.distinct().count()
    # split column restored from the partitioned layout
    assert "split" in docs.columns

    seqs = spark.read.parquet(funnel["sequences_path"])
    assert seqs.count() == docs.count()  # every kept doc is packed exactly once
    # no sequence exceeds the budget unless it is a single long doc
    over = (
        seqs.groupBy("source", "seq_id")
        .agg(F.sum("n_tokens").alias("tot"), F.count("*").alias("n"))
        .where((F.col("tot") > 64) & (F.col("n") > 1))
    )
    assert over.count() == 0
    assert funnel["n_sequences"] > 0
    assert funnel["compaction"]["documents"]["files"] >= 1
    # compaction must PRESERVE the split=... partition layout — the flat
    # compactor would silently flatten it and lose partition pruning for
    # train/val/test consumers (ADVICE r6)
    import os as _os

    part_dirs = {
        d for d in _os.listdir(funnel["documents_path"]) if d.startswith("split=")
    }
    assert part_dirs == {f"split={s}" for s in funnel["splits"]}

    # deterministic rerun: same funnel
    funnel2 = build_corpus(
        spark, "/root/testdata/sf0.001", out, seq_budget=64,
        compact_target_bytes=64 * 1024 * 1024,
    )
    assert {k: funnel2[k] for k in ("n_raw", "n_quality", "n_exact_unique", "n_near_unique", "splits")} == \
        {k: funnel[k] for k in ("n_raw", "n_quality", "n_exact_unique", "n_near_unique", "splits")}


def test_append_corpus_delta_dedups_against_registry(spark, tmp_path):
    """Incremental append: duplicates of already-corpus content are
    rejected via the registry sidecar (without reading corpus text), novel
    docs land in the right split partitions, sequences get a
    batch-namespaced source, the registry grows, and a rerun with the same
    batch token is a no-op."""
    from pyspark.sql import functions as F

    from sec_dl_spark.etl.corpus import append_corpus, build_corpus

    out = str(tmp_path / "corpus")
    base = build_corpus(spark, "/root/testdata/sf0.001", out, seq_budget=64)
    docs0 = spark.read.parquet(base["documents_path"])
    n0 = docs0.count()

    # delta: 5 exact copies of corpus docs (same text, new ids) + 3 novel
    # docs built from corpus texts with every word suffixed (new content,
    # same quality shape so the gate keeps them)
    src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    dup = src.orderBy("doc_id").limit(5).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    novel = (
        src.orderBy("doc_id").limit(3)
        .withColumn("doc_id", F.col("doc_id") + 2_000_000)
        .withColumn(
            "text",
            F.concat_ws(
                " ",
                F.transform(
                    F.split(F.col("text"), " "), lambda w: F.concat(w, F.lit("qz"))
                ),
            ),
        )
    )
    delta_dir = str(tmp_path / "delta")
    dup.unionByName(novel).write.mode("overwrite").parquet(
        f"{delta_dir}/documents.parquet"
    )

    funnel = append_corpus(spark, delta_dir, out, batch="b1", seq_budget=64)
    assert funnel["skipped"] is False
    assert funnel["n_raw"] == 8
    assert funnel["n_novel"] == 3  # the 5 dups rejected by the registry
    docs1 = spark.read.parquet(base["documents_path"])
    assert docs1.count() == n0 + 3
    # appended rows landed under split partitions and carry the column
    added = docs1.where(F.col("doc_id") >= 2_000_000)
    assert added.count() == 3
    assert added.where(F.col("split").isin("train", "val", "test")).count() == 3

    # sequences for the delta are batch-namespaced — no seq_id collisions
    seqs = spark.read.parquet(base["sequences_path"])
    b1 = seqs.where(F.col("source").startswith("b1/"))
    assert b1.count() == 3
    # registry grew by exactly the accepted fingerprints
    reg = spark.read.parquet(base["registry_path"])
    assert reg.where(F.col("batch") == "b1").count() == 3

    # idempotent rerun: same token → no-op, nothing double-appended
    again = append_corpus(spark, delta_dir, out, batch="b1", seq_budget=64)
    assert again["skipped"] is True
    assert spark.read.parquet(base["documents_path"]).count() == n0 + 3

    # a second batch re-offering batch-1 content is rejected cross-batch
    funnel2 = append_corpus(spark, delta_dir, out, batch="b2", seq_budget=64)
    assert funnel2["n_novel"] == 0
    assert spark.read.parquet(base["documents_path"]).count() == n0 + 3


def test_build_corpus_boilerplate_stage(spark, tmp_path):
    """With strip_boilerplate_min_df set, cross-document header passages
    vanish from every surviving document, the funnel reports how many
    docs were touched, and the registry/splits see the CLEANED content."""
    import pandas as pd
    from pyspark.sql import functions as F

    from sec_dl_spark.etl.corpus import build_corpus

    header = "terms of use apply to this document here"  # one 8-token tile
    rows = []
    for i in range(40):
        body = " ".join(f"word{i}x{j} filler{j} content{i}" for j in range(12))
        rows.append({"doc_id": i, "text": f"{header} {body}",
                     "lang": "en", "source": f"s{i % 3}", "n_chars": 0})
    src = tmp_path / "src"
    src.mkdir()
    pd.DataFrame(rows).to_parquet(src / "documents.parquet")

    out = str(tmp_path / "corpus")
    funnel = build_corpus(
        spark, str(src), out, seq_budget=64, strip_boilerplate_min_df=2
    )
    assert funnel["n_boilerplate_touched"] > 0
    docs = spark.read.parquet(funnel["documents_path"])
    n_with_header = docs.where(F.col("text").contains(header)).count()
    assert n_with_header == 0 and docs.count() > 0

    # default path: stage off, funnel key present but None
    funnel2 = build_corpus(spark, str(src), str(tmp_path / "c2"), seq_budget=64)
    assert funnel2["n_boilerplate_touched"] is None
    kept = spark.read.parquet(funnel2["documents_path"])
    assert kept.where(F.col("text").contains(header)).count() > 0
