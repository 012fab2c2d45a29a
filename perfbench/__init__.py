"""Benchmark of the sec_dl_spark engine: see README.md."""
