"""Filings-table construction — the reference's load stage
(/root/reference/sec_dl/utils/load_filings_idx.py:44-58) Spark-first.

The reference filters idx records against the company universe and kept
filing types with pandas isin (:45,:48) and appends to PostgreSQL. Here
both filters are broadcast left-semi joins; the surrogate key is a stable
content hash instead of an autoincrement (deterministic across retries and
partitions — no driver coordination); and storage is laid out for 100 TB:

- partitioned by (year, qtr) mirroring the EDGAR feed granularity, so
  quarterly loads are partition-aligned appends and time-scoped queries
  prune;
- the heavy text column lives in its OWN table keyed by filing_id, so
  relational queries over filings metadata never scan blobs (SURVEY §7
  "What's hard" — the reference's single wide table does not survive
  scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sec_dl_spark.functions.analysis import fingerprint  # noqa: F401  (re-export convenience)
from sec_dl_spark.functions.text import tokenize


def build_filings(
    idx_records: DataFrame, companies: DataFrame, filing_types: DataFrame
) -> DataFrame:
    """idx records ⋉ company universe ⋉ kept filing types → filings rows.

    Both dims broadcast (4,116 companies / 278 types — trivially small even
    at the full EDGAR universe); the fact side never shuffles. The dims
    need no ``distinct``: a left-semi join keeps each left row at most once
    however many right rows match, so a de-duplicated dim would only cost a
    shuffle job per scan. filing_id = xxhash64(path): EDGAR paths are
    unique per filing, so the key is stable and reproducible (the
    reference's autoincrement PK is neither)."""
    ciks = F.broadcast(companies.where(F.col("cik").isNotNull()).select("cik"))
    kept = F.broadcast(filing_types.where(F.col("keep") == 1).select("type"))
    return (
        idx_records.join(ciks, "cik", "left_semi")
        .join(kept, "type", "left_semi")
        .select(
            F.xxhash64("path").alias("filing_id"),
            "cik",
            "business_name",
            "type",
            "path",
            "date",
            F.lit(None).cast("string").alias("text"),
            F.year("date").alias("year"),
            F.quarter("date").alias("qtr"),
        )
    )


def write_filings(filings: DataFrame, base_path: str, mode: str = "append") -> None:
    """Two-table layout: filings_meta (narrow, partitioned by year/qtr) and
    filings_text (filing_id, text, tokens; partitioned the same). Metadata
    scans never touch text; text fetches prune by partition then join on
    filing_id.

    ``filings`` is evaluated once for both writes: it is persisted for the
    duration of the call and unpersisted on the way out. Persist, not
    ``pin``: the first write fills the cache as it goes, so the pair costs
    no extra materialization job, and the upstream (an idx parse and two
    semi-joins) is deterministic, so a block lost to an executor is safely
    recomputed rather than failing the load."""
    filings = filings.persist()
    try:
        meta = filings.select(
            "filing_id", "cik", "business_name", "type", "path", "date", "year", "qtr"
        )
        text = filings.select(
            "filing_id",
            "text",
            F.when(F.col("text").isNotNull(), tokenize(F.col("text"))).alias("tokens"),
            "year",
            "qtr",
        )
        meta.write.mode(mode).partitionBy("year", "qtr").parquet(f"{base_path}/filings_meta")
        text.write.mode(mode).partitionBy("year", "qtr").parquet(f"{base_path}/filings_text")
    finally:
        filings.unpersist()


def pending_filings(meta: DataFrame, text: DataFrame) -> DataFrame:
    """The reference's unscraped_filings work queue (load_filings_idx.py:60-93)
    as a declarative anti-join — no materialized queue, no delete trigger."""
    done = text.where(F.col("text").isNotNull()).select("filing_id")
    return meta.join(done, "filing_id", "left_anti").select("filing_id", "path")


def apply_text_updates(text: DataFrame, updates: DataFrame) -> DataFrame:
    """Batch replacement for the reference's keyed UPDATE (K4,
    scrape_all_filings.py:169-171): merge fetched text into the text table,
    recomputing the derived token column — the trigger (K9) as a pure
    function of text. Updates win over existing rows.

    ``updates`` is read twice, by the anti-join and by the union, so it
    must be materialized (``scrape_pending`` returns pinned rows): a lazy
    fetch would run once per read, and a transient failure could drop a
    filing from one read and not the other, leaving two rows for it."""
    upd = updates.select(
        "filing_id",
        "text",
        tokenize(F.col("text")).alias("tokens"),
        "year",
        "qtr",
    )
    keep = text.join(upd.select("filing_id"), "filing_id", "left_anti")
    return keep.unionByName(upd)
