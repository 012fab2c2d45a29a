"""Interchange format round-trips: parquet / ORC / JSON-lines / CSV
(SURVEY.md §2.1-§2.2 breadth — the reference reads CSV and writes JDBC;
a lake engine must also round-trip the columnar and text formats its
neighbors emit).

Format notes the API encodes rather than documents away:

- parquet/ORC are binary columnar: full-fidelity round-trip for every
  Spark type used here (doubles bit-exact, timestamps micros). ORC ships
  in Spark core — no extra package — and is the interchange format of the
  Hive/Trino world.
- JSON/CSV are TEXT: doubles survive only via repr-style output
  (Spark writes shortest-round-trip decimals), timestamps need an
  explicit pattern, and CSV additionally loses null-vs-empty-string
  distinctions unless ``nullValue`` is pinned. Read them back with
  ``spark.read.format(fmt).schema(...)`` and the same options — inference
  is both slow (extra pass) and lossy (ints widen, timestamps stay
  strings).

At 100 TB: write parquet/ORC partitioned and sorted (see operators/layout);
JSON/CSV only at the edges (ingest from third parties, exports to tools) —
never as the internal representation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_TS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"

_TEXT_OPTS = {
    "timestampFormat": _TS_FMT,
    # CSV-only options are ignored by the json reader/writer.
    "nullValue": "\\N",
    "header": "true",
}

FORMATS = ("parquet", "orc", "json", "csv")


def write_table(df: DataFrame, path: str, fmt: str = "parquet", mode: str = "overwrite") -> None:
    """Write ``df`` at ``path`` in ``fmt`` with round-trip-safe options."""
    if fmt not in FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; one of {FORMATS}")
    w = df.write.mode(mode).format(fmt)
    if fmt in ("json", "csv"):
        for k, v in _TEXT_OPTS.items():
            w = w.option(k, v)
    w.save(path)
