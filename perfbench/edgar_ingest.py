"""edgar_ingest: the reference pipeline run hermetically in quarterly
waves. Each wave lands one seeded master.idx and takes it to searchable:

1. ``parse_master_idx`` → ``build_filings`` → ``write_filings``;
2. ``pending_filings`` → ``scrape_pending`` → ``apply_text_updates`` →
   write (the wave's text partition, plus the scraped text appended to
   the index's stream source);
3. ``incremental_index_sink`` (availableNow, the same checkpoint every
   wave);
4. ``read_incremental_index`` + a search that must find every new filing;
5. ``scrape_progress``, which must report 0 pending.

Setup runs one wave as warm-up; the run times at least ``MIN_WAVES``
whole waves, and more until ``--seconds`` have passed. The index grows
wave after wave, as it does for a user who keeps it fresh."""

from __future__ import annotations

import os
import sys
import time

from perfbench import gen
from perfbench.common import Clock, Ctx, Outcome, layer_means, report_failure
from perfbench.search import BUCKETS

# idx rows per quarter; 70% are kept, about 1.6k filings a wave
IDX_ROWS = 2300
# timed waves per run at least: two latency samples, and a throughput
# over both
MIN_WAVES = 2


def _dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, hidden and marker files skipped."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


class Pipeline:
    def __init__(self, ctx: Ctx):
        from sec_dl_spark import schemas

        self.ctx, self.spark = ctx, ctx.spark
        w = ctx.work
        self.idx_dir, self.base = f"{w}/idx", f"{w}/warehouse"
        self.src, self.index, self.ckpt = f"{w}/stream_src", f"{w}/index", f"{w}/ckpt"
        os.makedirs(self.idx_dir)
        self.cos = gen.companies(ctx.seed)
        self.companies = self.spark.createDataFrame(self.cos, schemas.COMPANIES)
        self.types = self.spark.createDataFrame(gen.filing_types(), schemas.FILING_TYPES)
        self.kept_types = {t for _, t, keep in gen.filing_types() if keep}
        self.ciks = {c[2] for c in self.cos if c[2] is not None}
        self.fetcher = gen.SgmlFetcher(ctx.seed)
        self.idx_rows = self.kept = self.pending_left = 0

    def wave(self, year: int, qtr: int, op: str) -> int:
        """Run one wave; returns the number of filings made searchable."""
        from pyspark.sql import functions as F

        from sec_dl_spark.etl.ingest import apply_text_updates, build_filings, pending_filings, write_filings
        from sec_dl_spark.etl.monitor import scrape_progress
        from sec_dl_spark.etl.scrape import scrape_pending
        from sec_dl_spark.operators.fts import search_all
        from sec_dl_spark.sources.edgar_idx import parse_master_idx
        from sec_dl_spark.streaming.index import incremental_index_sink, read_incremental_index

        spark, tracer = self.spark, self.ctx.tracer
        idx_text = gen.master_idx(self.ctx.seed, year, qtr, self.cos, IDX_ROWS)
        rows = [line.split("|") for line in idx_text.splitlines() if line[:1].isdigit()]
        kept = sum(int(r[0]) in self.ciks and r[2] in self.kept_types for r in rows)
        token = gen.wave_token(rows[0][4])
        this_qtr = (F.col("year") == year) & (F.col("qtr") == qtr)

        with tracer.span("etl.ingest.load", op, count_jobs=True):
            path = f"{self.idx_dir}/{year}Q{qtr}.idx"
            with open(path, "w") as f:
                f.write(idx_text)
            filings = build_filings(parse_master_idx(spark, path), self.companies, self.types)
            write_filings(filings, self.base)

        with tracer.span("etl.scrape.scrape", op, count_jobs=True):
            meta = spark.read.parquet(f"{self.base}/filings_meta")
            text = spark.read.parquet(f"{self.base}/filings_text")
            updates = scrape_pending(
                pending_filings(meta, text), fetcher=self.fetcher, partitions=self.ctx.cpus
            ).join(meta.select("filing_id", "year", "qtr"), "filing_id")
            # pinned: the write below replaces the partition it reads
            new_text = apply_text_updates(text.where(this_qtr), updates).localCheckpoint(eager=True)
            (
                new_text.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("year", "qtr")
                .parquet(f"{self.base}/filings_text")
            )
            new_text.select(F.col("filing_id").alias("doc_id"), "text").write.mode("append").parquet(self.src)

        t0 = time.perf_counter()
        stream = spark.readStream.schema("doc_id long, text string").parquet(self.src)
        query = incremental_index_sink(stream, self.index, self.ckpt, buckets=BUCKETS)
        query.awaitTermination()
        t1 = time.perf_counter()
        if query.exception() is not None:
            raise RuntimeError(f"index sink failed: {query.exception()}")
        tracer.add("streaming.index.commit", op, t0, t1, group=str(query.runId))

        with tracer.span("operators.fts.verify_search", op, count_jobs=True):
            postings, _ = read_incremental_index(spark, self.index)
            found = len(search_all(postings, [token]).collect())

        with tracer.span("etl.monitor.progress", op, count_jobs=True):
            text = spark.read.parquet(f"{self.base}/filings_text")
            progress = scrape_progress(spark.read.parquet(f"{self.base}/filings_meta"), text).first()

        self.idx_rows += len(rows)
        self.kept += kept
        self.pending_left += progress["n_pending"]
        if found != kept or progress["n_pending"] != 0:
            raise RuntimeError(
                f"wave {year}Q{qtr}: {found}/{kept} filings searchable, {progress['n_pending']} pending"
            )
        return kept

    def no_blobs(self, year: int, qtr: int) -> bool:
        """No binary attachment of the wave survived the parse chain."""
        from pyspark.sql import functions as F

        text = self.spark.read.parquet(f"{self.base}/filings_text")
        wave = text.where((F.col("year") == year) & (F.col("qtr") == qtr))
        return wave.where(F.col("text").contains("binaryblob")).count() == 0


def run(ctx: Ctx) -> Outcome:
    tracer, out = ctx.tracer, Outcome()
    t_setup = time.perf_counter()
    pipe = Pipeline(ctx)
    pipe.wave(2000, 1, "warm-up")
    out.warmup_s = time.perf_counter() - t_setup
    tracer.read_counts()

    mark = out.first_span = len(tracer.spans)
    clock, n = Clock(), 1
    while n <= MIN_WAVES or clock.elapsed() < ctx.seconds:
        year, qtr = 2000 + n // 4, n % 4 + 1
        op = f"{year}Q{qtr}"
        out.attempted += 1
        t0 = time.perf_counter()
        try:
            with tracer.span("wave", op):
                out.ops += pipe.wave(year, qtr, op)
            latency = time.perf_counter() - t0
        except Exception:  # noqa: BLE001
            report_failure(op)
            out.failed += 1
        else:
            out.samples.append((op, latency))
            if not clock.check(pipe.no_blobs, year, qtr):
                print(f"perfbench: {op} left attachment text in filings_text", file=sys.stderr)
                out.failed += 1
        finally:
            clock.excluding(tracer.read_counts)
        n += 1
    out.wall_s = clock.elapsed()
    out.check_s = clock.excluded

    if tracer.enabled:
        per = layer_means(tracer.spans[mark:], lambda s: s.name if s.name != "wave" else None)
        names = {
            "etl.ingest.load": ("etl.ingest.load_s", "etl.ingest.load_jobs"),
            "etl.scrape.scrape": ("etl.scrape.scrape_s", "etl.scrape.scrape_jobs"),
            "streaming.index.commit": ("streaming.index.commit_s", "streaming.index.commit_jobs"),
            "operators.fts.verify_search": ("operators.fts.verify_search_s", None),
            "etl.monitor.progress": ("etl.monitor.progress_s", None),
        }
        for span, (s_name, jobs_name) in names.items():
            if span in per:
                out.layers[s_name] = per[span]["s"]
                if jobs_name:
                    out.layers[jobs_name] = per[span]["jobs"]
        files, index_bytes = _dir_stats(ctx.work + "/index")
        stats_bytes = _dir_stats(ctx.work + "/index_stats")[1]
        out.layers["streaming.index.files"] = files
        out.layers["streaming.index.bytes_per_input_byte"] = (index_bytes + stats_bytes) / max(
            1, _dir_stats(pipe.src)[1]
        )
        out.layers["etl.ingest.kept_ratio"] = pipe.kept / max(1, pipe.idx_rows)
        out.layers["etl.scrape.fetch_failed"] = pipe.pending_left
    return out
