"""Pipeline entry point — parity with the reference's `python3 -m sec_dl.main`
(/root/reference/sec_dl/main.py:5-8: init → load → process), Spark-first.

    python -m sec_dl_spark --base /data/warehouse \
        --companies companies.csv --filing-types filing_types.csv \
        --idx 2023q1.idx [--http] [--start-year 2018]

Stages:
  1. seed      load the company universe + filing-type CSVs
  2. load      parse master.idx file(s) → universe/type semi-join filters →
               partitioned (year, qtr) two-table layout
  3. scrape    anti-join pending set → partitioned fetch (mapInPandas) →
               parse chain → merged text table
  4. monitor   one progress snapshot (rows pending / done)

Without --http the fetch stage uses the deterministic offline fetcher, so
the full pipeline runs hermetic. The JDBC serving mirror (sinks/jdbc.py) is
wired separately because it needs a reachable PostgreSQL.
"""

from __future__ import annotations

import argparse

from pyspark.sql import functions as F


def query_main(argv: list[str]) -> None:
    """`python -m sec_dl_spark query <name>... [--sf DIR] [--limit N]
    [--explain]` — run any catalog query against the parquet fixtures and
    print its rows (or its formatted physical plan), `query list` to
    enumerate. The developer surface for poking one operator without
    writing a script."""
    ap = argparse.ArgumentParser(prog="sec_dl_spark query")
    ap.add_argument("names", nargs="+", help="catalog query name(s), or 'list'")
    ap.add_argument("--sf", default="/root/testdata/sf0.01", help="fixture dir")
    ap.add_argument("--limit", type=int, default=20, help="rows to print per query")
    ap.add_argument("--explain", action="store_true", help="print the physical plan instead of rows")
    args = ap.parse_args(argv)

    from sec_dl_spark.plans.catalog import load_all
    from sec_dl_spark.session import get_spark

    specs = load_all()
    if args.names == ["list"]:
        for name, spec in specs.items():
            kind = "oracled" if spec.oracle else "rows-only"
            print(f"{name}\t{kind}\t{spec.doc.splitlines()[0] if spec.doc else ''}")
        return
    unknown = [n for n in args.names if n not in specs]
    if unknown:
        raise SystemExit(f"unknown queries: {', '.join(unknown)} (try 'query list')")
    spark = get_spark("sec_dl_spark_query")
    spark.sparkContext.setLogLevel("ERROR")
    for name in args.names:
        df = specs[name].spark_fn(spark, args.sf)
        print(f"== {name} ==")
        if args.explain:
            df.explain("formatted")
        else:
            df.show(args.limit, truncate=80)


def corpus_main(argv: list[str]) -> None:
    """`python -m sec_dl_spark corpus --src DIR --out DIR [...]` — the
    end-to-end training-corpus build (etl/corpus.py): clean → quality →
    exact dedup → near-dedup → split → pack, printing the funnel JSON."""
    ap = argparse.ArgumentParser(prog="sec_dl_spark corpus")
    ap.add_argument("--src", default="/root/testdata/sf0.01", help="fixture dir")
    ap.add_argument("--out", required=True, help="output root")
    ap.add_argument("--min-quality", type=float, default=0.25)
    ap.add_argument("--near-dup-threshold", type=float, default=0.7)
    ap.add_argument("--seq-budget", type=int, default=512)
    ap.add_argument("--compact-target-mb", type=int, default=None)
    args = ap.parse_args(argv)

    import json

    from sec_dl_spark.session import get_spark

    spark = get_spark("sec_dl_spark_corpus")
    spark.sparkContext.setLogLevel("ERROR")
    # import AFTER the session exists: operators/grouped.py declares a
    # module-level pandas_udf whose DDL type parse needs an active context
    from sec_dl_spark.etl.corpus import build_corpus
    funnel = build_corpus(
        spark,
        args.src,
        args.out,
        min_quality=args.min_quality,
        near_dup_threshold=args.near_dup_threshold,
        seq_budget=args.seq_budget,
        compact_target_bytes=(
            args.compact_target_mb * 1024 * 1024 if args.compact_target_mb else None
        ),
    )
    print(json.dumps(funnel))


def main() -> None:
    import sys

    if len(sys.argv) > 1 and sys.argv[1] == "query":
        return query_main(sys.argv[2:])
    if len(sys.argv) > 1 and sys.argv[1] == "corpus":
        return corpus_main(sys.argv[2:])
    ap = argparse.ArgumentParser(prog="sec_dl_spark")
    ap.add_argument("--base", required=True, help="warehouse base path")
    ap.add_argument("--companies", required=True, help="companies seed CSV")
    ap.add_argument("--filing-types", required=True, help="filing types seed CSV")
    ap.add_argument("--idx", nargs="+", required=True, help="master.idx file path(s)")
    ap.add_argument("--http", action="store_true", help="fetch filings over HTTP (default: offline fake)")
    ap.add_argument("--scrape-partitions", type=int, default=None)
    ap.add_argument(
        "--debug",
        action="store_true",
        help="also write parsed filing text as plain text files (K11 parity: "
        "the reference's debug file dump, scrape_all_filings.py:162-166)",
    )
    args = ap.parse_args()

    from sec_dl_spark.etl.ingest import (
        apply_text_updates,
        build_filings,
        pending_filings,
        write_filings,
    )
    from sec_dl_spark.etl.monitor import scrape_progress
    from sec_dl_spark.etl.scrape import fake_fetcher, http_fetcher, scrape_pending
    from sec_dl_spark.session import get_spark
    from sec_dl_spark.sources.csv_seeds import load_companies_csv, load_filing_types_csv
    from sec_dl_spark.sources.edgar_idx import parse_master_idx

    spark = get_spark("sec_dl_spark_pipeline")

    companies = load_companies_csv(spark, args.companies)
    filing_types = load_filing_types_csv(spark, args.filing_types)

    records = parse_master_idx(spark, args.idx)
    filings = build_filings(records, companies, filing_types)
    write_filings(filings, args.base, mode="overwrite")

    meta = spark.read.parquet(f"{args.base}/filings_meta")
    text = spark.read.parquet(f"{args.base}/filings_text")
    # scrape_pending pins its output: the merge below and the --debug dump
    # read the same rows from one fetch per filing
    fetched = scrape_pending(
        pending_filings(meta, text), fetcher=http_fetcher if args.http else fake_fetcher,
        partitions=args.scrape_partitions,
    ).join(meta.select("filing_id", "year", "qtr"), "filing_id")
    merged = apply_text_updates(text, fetched)
    merged.write.mode("overwrite").partitionBy("year", "qtr").parquet(
        f"{args.base}/filings_text_next"
    )

    if args.debug:
        # K11 debug sink: one line per scraped filing, tab-separated id+text
        (
            fetched.select(
                F.concat_ws("\t", F.col("filing_id").cast("string"), "text")
            )
            .write.mode("overwrite")
            .text(f"{args.base}/debug_text")
        )

    done = spark.read.parquet(f"{args.base}/filings_text_next")
    for row in scrape_progress(meta, done).collect():
        print(row.asDict())


if __name__ == "__main__":
    main()
