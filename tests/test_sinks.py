"""JDBC sink unit tests — SQL generation and config surface (no live PG in
this environment; the round-trip integration is gated on a reachable DSN)."""

from sec_dl_spark.sinks.jdbc import FILINGS_COLUMN_TYPES, PG_FTS_DDL, build_upsert_sql


def test_build_upsert_sql():
    sql = build_upsert_sql("filings", ["filing_id", "text", "date"], ["filing_id"])
    assert sql == (
        "INSERT INTO filings (filing_id, text, date) VALUES (%s, %s, %s) "
        "ON CONFLICT (filing_id) DO UPDATE SET text = EXCLUDED.text, date = EXCLUDED.date"
    )


def test_filings_column_types_match_reference_widths():
    # load_filings_idx.py:52-57 — String(200)/String(50)/String(512)
    assert "VARCHAR(200)" in FILINGS_COLUMN_TYPES
    assert "VARCHAR(50)" in FILINGS_COLUMN_TYPES
    assert "VARCHAR(512)" in FILINGS_COLUMN_TYPES


def test_pg_fts_ddl_shape():
    joined = " ".join(PG_FTS_DDL)
    assert "tsvector" in joined and "gin" in joined.lower()


def test_apply_pg_fts_ddl_executes_statements(monkeypatch):
    """apply_pg_fts_ddl ships each DDL statement in order over a psycopg2
    connection (driver-side; exercised here against an injected module
    stub since the container has no psycopg2/PG)."""
    import sys
    import types

    executed = []

    class _Cursor:
        def execute(self, stmt):
            executed.append(stmt)

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

    class _Conn:
        def cursor(self):
            return _Cursor()

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

    fake = types.ModuleType("psycopg2")
    fake.connect = lambda dsn: _Conn()
    monkeypatch.setitem(sys.modules, "psycopg2", fake)

    from sec_dl_spark.sinks.jdbc import apply_pg_fts_ddl

    apply_pg_fts_ddl("dbname=x")
    assert executed == PG_FTS_DDL  # every statement, original order


def _make_sqlite_factory(path: str):
    """Executor-side connection factory (sqlite stands in for psycopg2 —
    same DB-API shape, qmark paramstyle). A closure, so cloudpickle ships
    it by value; a test-module class would pickle by reference and fail to
    import on workers."""

    def factory():
        import sqlite3

        conn = sqlite3.connect(path, timeout=30)
        conn.execute("PRAGMA busy_timeout=30000")
        return conn

    return factory


def test_pg_upsert_fn_executor_side(spark, tmp_path):
    """The K4 upsert path runs on EXECUTORS (foreachPartition), never
    collecting through the driver: multi-partition upsert into a DB-API
    stand-in is row-identical to the expected merged state, including a
    second conflicting batch, with page_size=1 exercising row paging."""
    import sqlite3

    from sec_dl_spark.sinks.jdbc import pg_upsert_batch_fn

    db = str(tmp_path / "serving.db")
    with sqlite3.connect(db) as conn:
        conn.execute("CREATE TABLE filings (filing_id INTEGER PRIMARY KEY, text TEXT)")

    fn = pg_upsert_batch_fn(
        dsn="unused",
        table="filings",
        key_cols=["filing_id"],
        page_size=1,
        connection_factory=_make_sqlite_factory(db),
        paramstyle="qmark",
    )

    b1 = spark.createDataFrame(
        [(1, "one"), (2, "two"), (3, "three")], "filing_id long, text string"
    ).repartition(3)
    fn(b1, 0)
    with sqlite3.connect(db) as conn:
        rows = dict(conn.execute("SELECT filing_id, text FROM filings").fetchall())
    assert rows == {1: "one", 2: "two", 3: "three"}

    # conflicting keys update, new keys insert; empty partitions are no-ops
    b2 = spark.createDataFrame(
        [(2, "TWO"), (4, "four")], "filing_id long, text string"
    ).repartition(8)
    fn(b2, 1)
    with sqlite3.connect(db) as conn:
        rows = dict(conn.execute("SELECT filing_id, text FROM filings").fetchall())
    assert rows == {1: "one", 2: "TWO", 3: "three", 4: "four"}


def test_jdbc_roundtrip_embedded_derby(spark, tmp_path):
    """REAL JDBC write + read using the Derby driver bundled with Spark:
    exercises the actual df.write.jdbc append path (K1-K3 batchsize) and
    the JDBC scan with column pruning (S4/S5) — no mocks. PG-specific
    pieces (ON CONFLICT, tsvector DDL) stay string-level tested above."""
    from sec_dl_spark.sinks.jdbc import read_jdbc, write_jdbc_append

    url = f"jdbc:derby:{tmp_path}/servingdb;create=true"
    props = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}

    src = spark.createDataFrame(
        [(1, "ALF", 100, "ALPHA CORP"), (2, "BET", 200, "BETA, INC.")],
        "permno int, ticker string, cik int, business_name string",
    )
    write_jdbc_append(src, url, "companies", props, batchsize=100)
    # second append accumulates (reference: quarterly idx appends, K3)
    write_jdbc_append(
        spark.createDataFrame([(3, "GAM", 300, "GAMMA LLC")], src.schema), url, "companies", props
    )

    back = read_jdbc(spark, url, "companies", props)
    assert back.count() == 3
    pruned = back.select("cik")  # S4: column-pruned JDBC scan
    assert sorted(r["cik"] for r in pruned.collect()) == [100, 200, 300]
    assert pruned.columns == ["cik"]
