"""Interchange-format round-trips (sources/formats.py): ORC and the text
formats written by ``write_table`` must read back (``spark.read``) as the
parquet-sourced frame — full fidelity for columnar, schema-pinned reads
for text."""

import pytest

from sec_dl_spark.sources.fixtures import load_table
from sec_dl_spark.sources.formats import _TEXT_OPTS, FORMATS, write_table

SF = "/root/testdata/sf0.001"


def _sorted_rows(df, cols):
    return [tuple(r) for r in df.select(*cols).orderBy("o_orderkey").collect()]


def test_orc_round_trip_full_fidelity(spark, tmp_path):
    orders = load_table(spark, SF, "orders")
    path = str(tmp_path / "orders_orc")
    write_table(orders, path, "orc")
    back = spark.read.orc(path)
    assert back.schema == orders.schema
    assert _sorted_rows(back, orders.columns) == _sorted_rows(orders, orders.columns)


@pytest.mark.parametrize("fmt", ["json", "csv"])
def test_text_formats_round_trip_with_schema(spark, tmp_path, fmt):
    """Text formats: longs/strings/timestamps round-trip exactly when read
    back with the writer's pinned options; doubles round-trip via shortest-repr output
    (Spark writes full precision)."""
    orders = load_table(spark, SF, "orders")
    path = str(tmp_path / f"orders_{fmt}")
    write_table(orders, path, fmt)
    back = (
        spark.read.format(fmt)
        .schema(orders.schema)
        .options(**_TEXT_OPTS)
        .load(path)
    )
    assert back.schema == orders.schema
    cols = orders.columns
    assert _sorted_rows(back, cols) == _sorted_rows(orders, cols)


def test_write_table_rejects_unsupported_format(spark, tmp_path):
    orders = load_table(spark, SF, "orders").limit(1)
    path = str(tmp_path / "one_avro")
    with pytest.raises(ValueError, match="unsupported format"):
        write_table(orders, path, "avro")


def test_formats_constant_lists_all():
    assert FORMATS == ("parquet", "orc", "json", "csv")
