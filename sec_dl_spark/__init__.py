"""sec_dl_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the reference pipeline (Peppershaker/sec_dl,
surveyed in SURVEY.md), re-expressed Spark-first:

- relational queries over a star schema (scans, projections, filters, joins,
  aggregations, windows, set ops) via the DataFrame/SQL API so Catalyst and
  Tungsten choose physical strategy;
- full-text search via a materialized inverted index (replacing the
  reference's PostgreSQL GIN index, reference sec_dl/utils/init_tables.py:56-67);
- the EDGAR ingestion dataflow (idx parse, semi-join universe filter, text
  cleaning) as declarative transforms (reference sec_dl/utils/load_filings_idx.py,
  sec_dl/utils/scrape_all_filings.py);
- LLM-data-pipeline extensions: dedup (MinHash-LSH / SimHash / n-gram
  Jaccard / winnowing in operators/dedup.py; the cross-batch exact
  fingerprint gate in streaming/dedup.py), vector similarity search, text
  analysis, multimodal binary-column plumbing — designed for 100 TB scale;
- streaming sinks (incremental FTS index, exact dedup gate, HLL partials)
  over checkpointed foreachBatch micro-batches with idempotent commits.
"""

__version__ = "0.1.0"
