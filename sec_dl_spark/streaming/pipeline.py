"""Structured Streaming operators (SURVEY.md §2.9).

The reference's scrape loop is an unbounded incremental pipeline: infinite
pool.map_async waves (/root/reference/sec_dl/utils/scrape_all_filings.py:177-183)
with trigger-maintained derived state (init_tables.py:59-67) and a polling
monitor. Here the same capabilities are declarative streams:

- file-source micro-batches replace the work-queue sampling;
- watermark + dropDuplicates replaces amended-filing double-processing;
- windowed / session aggregations replace the monitor's polling arithmetic;
- foreachBatch carries the JDBC upsert (sinks/jdbc.py), started by
  streaming/commit.py:foreach_batch_sink like every sink — checkpointed
  offsets replace the reference's delete-trigger work queue (K10).

Every transform here is also exercised in batch form by the oracle-checked
queries in plans/streaming_batch.py; pytest drives the streaming twins with
a real readStream → memory-sink harness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_events_stream(
    spark: SparkSession, source_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of event parquet files (new files = new batches,
    exactly the EDGAR quarterly-arrival shape). maxFilesPerTrigger is the
    backpressure knob (reference: 1000-task waves, BASELINE.md)."""
    reader = spark.readStream.schema(EVENTS_STREAM_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(source_dir)


def windowed_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling (or sliding, when ``slide`` given) event-time window counts
    with late-data handling via watermark."""
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win.alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def session_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Session-window aggregation per user (dynamic gap-close windows) —
    streaming twin of operators/relational.py:sessionize."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "user_id",
            "n_events",
            "total_value",
        )
    )


def dedup_events(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Exactly-once-per-id within the watermark horizon — replaces the
    reference's re-scrape-collision avoidance and handles re-filed
    amendments (8-K/A) arriving late."""
    return events.withWatermark("ts", watermark).dropDuplicates(["event_id"])


def run_stream_to_memory(df: DataFrame, name: str, timeout_s: int = 120) -> DataFrame:
    """Test/ops harness: run a (bounded) stream to a memory sink with
    availableNow semantics, block until drained, return the result table."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_s)
    return df.sparkSession.table(name)


def run_update_stream_to_memory(df: DataFrame, name: str, timeout_s: int = 120) -> DataFrame:
    """Same, but update output mode (applyInPandasWithState update mode
    requires it — append is rejected at analysis time)."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_s)
    return df.sparkSession.table(name)


def run_agg_stream_to_memory(df: DataFrame, name: str, timeout_s: int = 120) -> DataFrame:
    """Same, but complete output mode for aggregation streams."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_s)
    return df.sparkSession.table(name)


RUNNING_TOTALS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)

RUNNING_TOTALS_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("total", T.DoubleType()),
    ]
)


def running_user_totals(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user running
    (count, sum) across micro-batches — the arbitrary-state escape hatch for
    semantics session_window/window can't express (SURVEY §2.9). State is
    one (n, total) tuple per user; each batch emits the user's updated
    running totals. Event-time timeout GC's idle users past the watermark.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 2)]}
        )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=RUNNING_TOTALS_SCHEMA,
            stateStructType=RUNNING_TOTALS_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def purchases_with_recent_clicks(
    events: DataFrame, click_horizon: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Stream-stream interval join: each purchase joins clicks by the same
    user within the preceding horizon. Both sides carry watermarks so state
    for expired intervals is dropped — the unbounded-state trap of naive
    stream joins. (Batch twin: events_asof_join restricted to the horizon.)
    """
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("p_ts", watermark)
    )
    clicks = (
        events.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("value").alias("click_value"),
        )
        .withWatermark("c_ts", watermark)
    )
    return purchases.join(
        clicks,
        F.expr(
            f"p_user = c_user AND c_ts <= p_ts AND c_ts >= p_ts - INTERVAL {click_horizon}"
        ),
        "inner",
    ).select("purchase_id", F.col("p_user").alias("user_id"), "p_ts", "purchase_value", "c_ts", "click_value")


def running_user_totals_tws(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Running per-user totals via Spark 4's ``transformWithStateInPandas``
    — the successor of applyInPandasWithState: state is TYPED and NAMED
    (ValueState/ListState/MapState variables with their own schemas,
    optional TTL, timers via handleExpiredTimer) instead of one opaque
    tuple, and the processor object carries init/close lifecycle. Same
    semantics as :func:`running_user_totals`, so the test pins both APIs
    to identical final totals. RocksDB state store only — the caller must
    set ``spark.sql.streaming.stateStore.providerClass`` to the RocksDB
    provider before starting the query. Runtime dependency note: the
    Python↔state-server protocol is protobuf-based, so ``google.protobuf``
    must be installed (pyspark bundles only the generated stubs); the
    test env-gates on it, mirroring the container-dependent live tests."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState("totals", "n bigint, total double")

        def handleInputRows(self, key, rows, timer_values):
            if self._totals.exists():
                n, total = tuple(self._totals.get())
            else:
                n, total = 0, 0.0
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._totals.update((n, total))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [round(total, 2)],
                }
            )

        def close(self) -> None:
            pass

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .transformWithStateInPandas(
            RunningTotals(),
            outputStructType=RUNNING_TOTALS_SCHEMA,
            outputMode="update",
            timeMode="eventTime",
        )
    )


def dedup_within_watermark(
    events: DataFrame, keys: list[str], watermark: str = "2 hours", ts_col: str = "ts"
) -> DataFrame:
    """Built-in bounded-state streaming dedup: ``dropDuplicatesWithinWatermark``
    keeps one row per key among events whose timestamps fall within the
    watermark delay of each other, and — unlike plain ``dropDuplicates``,
    whose key state grows FOREVER on a stream — evicts key state as the
    watermark passes. The right tool when duplicates arrive close together
    (retries, at-least-once sources); the registry-backed gates in
    streaming/dedup.py remain the tool for ALL-TIME dedup, where
    state must span the corpus, not a time window."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)
