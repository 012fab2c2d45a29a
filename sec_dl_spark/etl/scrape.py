"""Distributed filing fetch + parse — the reference's scrape stage
(/root/reference/sec_dl/utils/scrape_all_filings.py:117-174) without the
sampling choreography.

The reference's 20 workers avoid collisions by randomly sampling the work
queue (TABLESAMPLE + random pick, :120-147). Spark's task scheduler makes
the whole dance unnecessary: partition the pending set, one fetch task per
partition slice, no contention (SURVEY §4). HTTP politeness (rate limiting)
lives inside the partition loop.

Network access is optional: ``fetcher`` is injectable, and the default
deterministic fake produces EDGAR-shaped SGML documents so the full
pipeline (fetch → strip embedded binaries → clean → tokens) runs hermetic
in tests and in this container (no outbound network).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sec_dl_spark.functions.text import clean_filing_text, strip_embedded_files
from sec_dl_spark.session import pin

SEC_ARCHIVES_BASE = "https://www.sec.gov/Archives/"

FETCH_SCHEMA = T.StructType(
    [
        T.StructField("filing_id", T.LongType()),
        T.StructField("path", T.StringType()),
        T.StructField("raw", T.StringType()),
    ]
)


def fake_fetcher(path: str) -> str:
    """Deterministic EDGAR-shaped SGML for hermetic runs: one text document
    plus one binary attachment that the parse chain must drop."""
    import hashlib

    # md5, not hash(): Python's hash is salted per process, and this must be
    # stable across executors.
    h = int(hashlib.md5(path.encode()).hexdigest()[:8], 16) % 1_000_000
    return (
        "<SEC-DOCUMENT>\n"
        "<DOCUMENT>\n<TYPE>10-K\n<FILENAME>main.htm\n<TEXT>\n"
        f"<html><body>Annual report {h} for {path}. "
        "Revenue&nbsp;grew twenty percent.</body></html>\n"
        "</TEXT>\n</DOCUMENT>\n"
        "<DOCUMENT>\n<TYPE>GRAPHIC\n<FILENAME>chart.jpg\n<TEXT>\n"
        "BINARYBLOBBINARYBLOBBINARYBLOBBINARYBLOB\n"
        "</TEXT>\n</DOCUMENT>\n"
        "</SEC-DOCUMENT>\n"
    )


def http_fetcher(path: str) -> str:
    """Real EDGAR fetch (reference :150-155). Import-gated; only used when
    the environment actually has network + requests."""
    import requests

    resp = requests.get(SEC_ARCHIVES_BASE + path, timeout=30)
    return resp.content.decode("utf-8", "ignore").lower()


def fetch_pending(pending: DataFrame, fetcher=fake_fetcher, rate_limit_s: float = 0.0) -> DataFrame:
    """(filing_id, path) → (filing_id, path, raw) via mapInPandas: one HTTP
    loop per partition, Arrow-batched, with optional per-request sleep for
    politeness. Repartition upstream to control fan-out (the reference's
    CONCURRENT_WORKERS knob)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import time

        for pdf in batches:
            raws = []
            for p in pdf["path"]:
                if rate_limit_s:
                    time.sleep(rate_limit_s)
                try:
                    raws.append(fetcher(p))
                except Exception:  # noqa: BLE001 — a failed fetch stays pending
                    raws.append(None)
            pdf = pdf[["filing_id", "path"]].copy()
            pdf["raw"] = raws
            yield pdf

    return pending.select("filing_id", "path").mapInPandas(run, schema=FETCH_SCHEMA)


def parse_fetched(fetched: DataFrame) -> DataFrame:
    """raw SGML → cleaned text: lowercase + embedded-binary segment drop
    (F7) and NFKD normalization (F5, the reference applies it to every kept
    segment, scrape_all_filings.py:99) in one mapInPandas + builtin
    cleaning chain (F1-F6). Returns (filing_id, text)."""
    lowered = fetched.select("filing_id", F.lower(F.col("raw")).alias("text"))
    stripped = strip_embedded_files(lowered, text_col="text")
    return stripped.select("filing_id", clean_filing_text(F.col("text")).alias("text"))


def scrape_pending(
    pending: DataFrame, fetcher=fake_fetcher, partitions: int | None = None
) -> DataFrame:
    """Full scrape wave: partition → fetch → parse. Returns
    (filing_id, text) for successfully fetched filings.

    The parsed output is pinned (``sec_dl_spark.session.pin``): fetching is
    I/O with side effects, so every consumer — the anti-join and the union
    of ``apply_text_updates``, a join to the metadata table, a debug dump —
    must read the same rows from ONE fetch per filing. A lazy result would
    re-fetch per consumer, doubling the HTTP traffic, and a transient
    failure could drop a filing from one read and keep it in another.

    EAGER: the fetch and parse run at call time, and the pinned blocks are
    executor-local by default — not recomputable under executor loss /
    preemption. Preemptible fleets: set
    ``spark.sec_dl_spark.reliableCheckpoint=true`` + ``setCheckpointDir``."""
    if partitions:
        pending = pending.repartition(partitions)
    fetched = fetch_pending(pending, fetcher=fetcher).where(F.col("raw").isNotNull())
    return pin(parse_fetched(fetched))
