"""Event-stream analytics as oracle-checked BATCH queries (SURVEY.md §2.9).

Each of these has a Structured Streaming twin in sec_dl_spark/streaming/
(same transformations over readStream with watermarks); the batch form is
what the DuckDB oracle can check, the streaming form is pytest-verified
with a file-source micro-batch harness. Timestamps are compared in integer
microseconds everywhere (events.parquet is ns-precision; both engines
truncate to µs — see sources/fixtures.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sec_dl_spark.operators.relational import asof_join, sessionize
from sec_dl_spark.plans.catalog import query, t
from sec_dl_spark.plans.util import cents, cents_sql, money, money_sql, rz, rz6
from sec_dl_spark.session import pin


def _scalar_spine(frame, col: str = "dn"):
    """Dense integer spine spanning ``frame[col]``'s min..max — the
    shared densification every day/hour-grain monitor needs (a missing
    period must be an explicit row, not an engine-dependent absence).
    One 1-row span aggregate + one bounded explode."""
    span = frame.agg(F.min(col).alias("lo"), F.max(col).alias("hi"))
    return span.select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias(col)
    )


def _typed_spine(frame, type_col: str = "event_type", col: str = "dn"):
    """``_scalar_spine`` crossed with the frame's distinct type values:
    one (type, period) row per cell of the dense grid."""
    return frame.select(type_col).distinct().crossJoin(
        F.broadcast(_scalar_spine(frame, col))
    )


@query(
    "events_tumbling_hourly",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour_start, event_type,
           count(*) AS n, (round((sum(CAST(round((value) * 100) AS BIGINT))) / 100.0 + 1e-6, 2) + 0.0) AS total_value
    FROM events
    GROUP BY hour_start, event_type
    ORDER BY hour_start, event_type
    """,
)
def events_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation (streaming twin: groupBy(window(ts,'1
    hour')) with a watermark)."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour_start"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            money(F.sum(cents(F.col("value"))), 100).alias("total_value"),
        )
        .orderBy("hour_start", "event_type")
    )


@query(
    "events_sessionize",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_id, value, epoch_us(ts) AS us,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_us
      FROM events),
    flagged AS (
      SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 1800 * 1000000 THEN 1 ELSE 0 END AS new_s
      FROM ordered),
    sess AS (
      SELECT user_id, event_id, value, us,
             CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      FROM flagged)
    SELECT user_id, session_id, count(*) AS n_events,
           round(sum(value), 2) AS total_value,
           max(us) - min(us) AS duration_us
    FROM sess
    GROUP BY user_id, session_id
    ORDER BY user_id, session_id
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min) + per-session rollup — the batch
    twin of session_window / applyInPandasWithState."""
    e = t(spark, sf_dir, "events")
    s = sessionize(e, key="user_id", ts_col="ts", gap_seconds=1800, order_cols=["event_id"])
    us = F.unix_micros(F.col("ts"))
    return (
        s.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
            (F.max(us) - F.min(us)).alias("duration_us"),
        )
        .orderBy("user_id", "session_id")
    )


@query(
    "events_asof_join",
    oracle="""
    WITH p AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'),
         c AS (SELECT user_id, ts, value FROM events WHERE event_type = 'click')
    SELECT p.event_id, p.user_id,
           round(p.value, 2) AS purchase_value,
           round(c.value, 2) AS last_click_value
    FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
    ORDER BY p.event_id
    """,
)
def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: each purchase matched to the user's most recent
    prior click (operators/relational.py:asof_join — union-sort-carry, one
    shuffle, no per-row lookups)."""
    e = t(spark, sf_dir, "events")
    p = e.where(F.col("event_type") == "purchase").select("event_id", "user_id", "ts", "value")
    c = e.where(F.col("event_type") == "click").select("user_id", "ts", F.col("value").alias("click_value"))
    joined = asof_join(p, c, on="user_id", right_cols=["click_value"])
    return joined.select(
        "event_id",
        "user_id",
        F.round("value", 2).alias("purchase_value"),
        F.round("click_value", 2).alias("last_click_value"),
    ).orderBy("event_id")


@query(
    "events_dedup_first",
    oracle="""
    SELECT user_id, event_type, event_id AS first_event_id FROM (
      SELECT user_id, event_type, event_id,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY epoch_us(ts), event_id) AS rn
      FROM events)
    WHERE rn = 1 ORDER BY user_id, event_type
    """,
)
def events_dedup_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed keep-first dedup — deterministic form of streaming
    dropDuplicates(["user_id","event_type"]) (amended-filing dedup pattern,
    SURVEY §2.9)."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(F.unix_micros(F.col("ts")), "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_type", F.col("event_id").alias("first_event_id"))
        .orderBy("user_id", "event_type")
    )


@query(
    "events_pivot",
    oracle="""
    SELECT user_id,
           count(*) FILTER (WHERE event_type = 'click')    AS click,
           count(*) FILTER (WHERE event_type = 'error')    AS error,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           count(*) FILTER (WHERE event_type = 'signup')   AS signup,
           count(*) FILTER (WHERE event_type = 'view')     AS view
    FROM events WHERE user_id < 20
    GROUP BY user_id ORDER BY user_id
    """,
)
def events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot event-type counts per user (explicit value list keeps the plan
    a single pass — no distinct-values pre-query)."""
    e = t(spark, sf_dir, "events").where(F.col("user_id") < 20)
    types = ["click", "error", "purchase", "signup", "view"]
    out = e.groupBy("user_id").pivot("event_type", types).agg(F.count(F.lit(1)))
    return out.na.fill(0, types).orderBy("user_id")


@query(
    "events_sliding_window",
    oracle="""
    WITH w AS (
      SELECT unnest([time_bucket(INTERVAL '30 minutes', ts),
                     time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes'])
               AS window_start,
             value
      FROM events)
    SELECT window_start, CAST(count(*) AS BIGINT) AS n,
           (round((sum(CAST(round((value) * 100) AS BIGINT))) / 100.0 + 1e-6, 2) + 0.0) AS total_value
    FROM w GROUP BY window_start ORDER BY window_start
    """,
)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window aggregation (1 h window, 30 min slide) — each event
    lands in exactly two windows. Batch twin of groupBy(window(ts, '1 hour',
    '30 minutes')) with a watermark; both engines align 30-min buckets on
    :00/:30 so the window starts agree."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            money(F.sum(cents(F.col("value"))), 100).alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n", "total_value")
        .orderBy("window_start")
    )


@query(
    "events_zscore_pandas",
    oracle="""
    WITH s AS (
      SELECT user_id, event_id, value,
             avg(value) OVER (PARTITION BY user_id) AS mu,
             stddev_pop(value) OVER (PARTITION BY user_id) AS sigma
      FROM events)
    SELECT user_id, event_id,
           round(CASE WHEN sigma > 0 THEN (value - mu) / sigma ELSE 0.0 END + 1e-9, 5) AS z
    FROM s ORDER BY user_id, event_id
    """,
)
def events_zscore_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas (SURVEY §2.10): per-user z-score, checked
    against the equivalent window SQL — the Arrow grouped-map plumbing is
    oracle-verified, not just smoke-tested."""
    from sec_dl_spark.operators.grouped import zscore_per_group

    e = t(spark, sf_dir, "events").select("user_id", "event_id", "value")
    z = zscore_per_group(e, key="user_id", value="value")
    return z.select(
        "user_id", "event_id", F.round(F.col("z") + 1e-9, 5).alias("z")
    ).orderBy("user_id", "event_id")


@query(
    "agg_udaf_geomean",
    oracle="""
    SELECT event_type,
           round(exp(avg(ln(value))) + 1e-9, 5) AS geomean_value
    FROM events WHERE value > 0
    GROUP BY event_type ORDER BY event_type
    """,
)
def agg_udaf_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDF (UDAF surface, SURVEY §2.10): geometric
    mean per event type vs the exp(avg(ln)) identity in SQL."""
    from sec_dl_spark.operators.grouped import geomean_udaf

    e = t(spark, sf_dir, "events").where(F.col("value") > 0)
    return (
        e.groupBy("event_type")
        .agg(F.round(geomean_udaf(F.col("value")) + 1e-9, 5).alias("geomean_value"))
        .orderBy("event_type")
    )


@query(
    "events_unpivot",
    oracle="""
    WITH agg AS (
      SELECT event_type,
             (round((sum(CAST(round((value) * 100) AS BIGINT))) / 100.0 + 1e-6, 2) + 0.0) AS total,
             round(avg(value) + 1e-8, 4) AS mean,
             round(max(value), 2) AS peak
      FROM events GROUP BY event_type)
    SELECT event_type, metric, metric_value FROM agg
    UNPIVOT (metric_value FOR metric IN (total, mean, peak))
    ORDER BY event_type, metric
    """,
)
def events_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unpivot/melt (wide → long, the inverse of events_pivot): per-type
    aggregate columns unpivoted into (metric, value) rows."""
    e = t(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(
        money(F.sum(cents(F.col("value"))), 100).alias("total"),
        F.round(F.avg("value") + 1e-8, 4).alias("mean"),
        F.round(F.max("value"), 2).alias("peak"),
    )
    return agg.unpivot(
        ["event_type"], ["total", "mean", "peak"], "metric", "metric_value"
    ).orderBy("event_type", "metric")


@query(
    "events_funnel",
    oracle="""
    WITH f AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t_view,
             min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS t_click,
             min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t_buy
      FROM events GROUP BY user_id)
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(count(*) FILTER (WHERE t_view IS NOT NULL) AS BIGINT) AS step_view,
           CAST(count(*) FILTER (WHERE t_view IS NOT NULL AND t_click > t_view) AS BIGINT) AS step_click,
           CAST(count(*) FILTER (WHERE t_view IS NOT NULL AND t_click > t_view AND t_buy > t_click) AS BIGINT) AS step_purchase
    FROM f
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view → click → purchase): per-user first-occurrence
    chaining via conditional min aggregation — one shuffle keyed by user,
    no joins, no window (the scalable funnel formulation)."""
    e = t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    f = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", us)).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", us)).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", us)).alias("t_buy"),
    )
    viewed = F.col("t_view").isNotNull()
    clicked = viewed & (F.col("t_click") > F.col("t_view"))
    bought = clicked & (F.col("t_buy") > F.col("t_click"))
    return f.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count(F.when(viewed, 1)).alias("step_view"),
        F.count(F.when(clicked, 1)).alias("step_click"),
        F.count(F.when(bought, 1)).alias("step_purchase"),
    )


@query(
    "events_asof_tolerance",
    oracle="""
    WITH p AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'),
         c AS (SELECT user_id, ts, value FROM events WHERE event_type = 'click'),
    j AS (SELECT p.event_id, p.user_id, p.ts AS p_ts, c.ts AS c_ts,
                 round(p.value, 2) AS purchase_value, c.value AS cv
          FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts)
    SELECT event_id, user_id, purchase_value,
           round(CASE WHEN epoch_us(p_ts) - epoch_us(c_ts) <= 900 * 1000000
                 THEN cv END, 2) AS recent_click_value
    FROM j ORDER BY event_id
    """,
)
def events_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a 15-minute tolerance: matches older than the
    lookback horizon become NULL (pandas merge_asof tolerance; batch twin
    of the stream-stream interval join's bounded state)."""
    e = t(spark, sf_dir, "events")
    p = e.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.round("value", 2).alias("purchase_value")
    )
    c = e.where(F.col("event_type") == "click").select("user_id", "ts", F.col("value").alias("cv"))
    joined = asof_join(
        p, c, on="user_id", right_cols=["cv"], tolerance_seconds=900
    )
    return joined.select(
        "event_id", "user_id", "purchase_value",
        F.round(F.col("cv"), 2).alias("recent_click_value"),
    ).orderBy("event_id")


@query(
    "events_retention_cohort",
    oracle="""
    WITH a AS (SELECT DISTINCT date_trunc('hour', ts) AS hr, user_id FROM events)
    SELECT a.hr AS cohort_hour,
           CAST(count(DISTINCT a.user_id) AS BIGINT) AS active_users,
           CAST(count(DISTINCT CASE WHEN r.user_id IS NOT NULL THEN a.user_id END) AS BIGINT)
             AS retained_next_hour
    FROM a LEFT JOIN a r ON r.user_id = a.user_id AND r.hr = a.hr + INTERVAL 1 HOUR
    GROUP BY a.hr ORDER BY a.hr
    """,
)
def events_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly retention cohorts: of the users active in hour h, how many
    return in h+1 — one distinct-projection self-joined on (user, hour+1);
    the cohort table is tiny after the distinct, so the join is cheap."""
    e = t(spark, sf_dir, "events")
    a = e.select(F.date_trunc("hour", F.col("ts")).alias("hr"), "user_id").distinct()
    r = a.select(F.col("hr").alias("r_hr"), F.col("user_id").alias("r_user"))
    joined = a.join(
        r,
        (F.col("r_user") == F.col("user_id"))
        & (F.col("r_hr") == F.col("hr") + F.expr("INTERVAL 1 HOUR")),
        "left",
    )
    return (
        joined.groupBy(F.col("hr").alias("cohort_hour"))
        .agg(
            F.count_distinct("user_id").alias("active_users"),
            F.count_distinct(
                F.when(F.col("r_user").isNotNull(), F.col("user_id"))
            ).alias("retained_next_hour"),
        )
        .orderBy("cohort_hour")
    )


@query(
    "scalar_map_fns",
    oracle="""
    SELECT event_id,
           array_to_string(list_sort(json_keys(props)), ',') AS prop_keys,
           CAST(len(json_keys(props)) AS BIGINT) AS n_props
    FROM events WHERE event_id < 200 ORDER BY event_id
    """,
)
def scalar_map_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface: parse the JSON props column into MAP<STRING,STRING>
    (from_json), then map_keys/size — nested-type handling the reference
    never needed (no nested types, SURVEY §1.3) but any event pipeline
    does."""
    e = t(spark, sf_dir, "events").where(F.col("event_id") < 200)
    m = e.select(
        "event_id", F.from_json("props", "map<string,string>").alias("pm")
    )
    return m.select(
        "event_id",
        F.concat_ws(",", F.array_sort(F.map_keys("pm"))).alias("prop_keys"),
        F.size(F.map_keys("pm")).cast("long").alias("n_props"),
    ).orderBy("event_id")


@query(
    "events_gap_filled",
    oracle="""
    WITH bounds AS (SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi FROM events),
    spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr FROM bounds),
    agg AS (SELECT date_trunc('hour', ts) AS hr, count(*) AS n FROM events GROUP BY 1)
    SELECT spine.hr AS hour_start, CAST(coalesce(agg.n, 0) AS BIGINT) AS n
    FROM spine LEFT JOIN agg ON spine.hr = agg.hr
    ORDER BY hour_start
    """,
)
def events_gap_filled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly counts: a contiguous hour spine (sequence +
    explode between min/max) left-joined to the aggregates so silent hours
    appear as zeros — the time-series densification every monitoring query
    needs (the reference's 5-min monitor loop assumes continuous polling,
    monitor_scraper_progress.py:29)."""
    e = t(spark, sf_dir, "events")
    bounds = e.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hour_start")
    )
    agg = e.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour_start")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        spine.join(agg, "hour_start", "left")
        .select("hour_start", F.coalesce("n", F.lit(0)).cast("long").alias("n"))
        .orderBy("hour_start")
    )


@query(
    "events_anomaly_mad",
    oracle="""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    ),
    dev AS (
      SELECT e.event_type, abs(e.value - m.med) AS ad, m.med
      FROM events e JOIN med m USING (event_type)
    ),
    mad AS (
      SELECT event_type, min(med) AS med, quantile_cont(ad, 0.5) AS mad
      FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           CAST(sum(CASE WHEN d.ad > 5 * m.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           CAST(count(*) AS BIGINT) AS n_events,
           round(min(m.med) + 1e-9, 4) AS med,
           round(min(m.mad) + 1e-9, 4) AS mad
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type ORDER BY d.event_type
    """,
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier flagging per event type: median absolute deviation
    (5×MAD fence) instead of mean/stddev, so the fence itself is immune
    to the outliers it hunts. Two aggregate-then-broadcast-join passes —
    the medians table is O(event types), so the events scan never
    shuffles on value.

    Scale regime: exact ``percentile`` buffers every distinct value per
    group in aggregation state — O(rows of the hottest event_type), fine
    while a single type's values fit an executor (the fixture regime and
    well beyond), unbounded in principle. Past that, switch
    ``approx=True``: ``approx_percentile`` keeps a bounded KLL-style
    sketch per group (state O(accuracy), error ≤ 1/accuracy quantile
    rank), the tolerance-tested scale path. Exact stays the default
    because it is what the SQL oracle computes."""
    return _anomaly_mad(spark, sf_dir, approx=False)


def _anomaly_mad(
    spark: SparkSession, sf_dir: str, approx: bool = False, accuracy: int = 10000
) -> DataFrame:
    def _median(col: str):
        if approx:
            return F.expr(f"approx_percentile({col}, 0.5, {accuracy})")
        return F.expr(f"percentile({col}, 0.5)")

    e = t(spark, sf_dir, "events").select("event_type", "value")
    med = e.groupBy("event_type").agg(_median("value").alias("med"))
    dev = e.join(F.broadcast(med), "event_type").withColumn(
        "ad", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(_median("ad").alias("mad"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("ad") > 5 * F.col("mad"), 1).otherwise(0))
            .cast("long")
            .alias("n_outliers"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.min("med") + 1e-9, 4).alias("med"),
            F.round(F.min("mad") + 1e-9, 4).alias("mad"),
        )
        .orderBy("event_type")
    )


@query(
    "events_hourly_distinct_users",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour_start, event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           count(*) AS n_events
    FROM events
    GROUP BY hour_start, event_type
    ORDER BY hour_start, event_type
    """,
)
def events_hourly_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-user traffic per (hour, type) — the cardinality twin of
    events_tumbling_hourly. Exact distinct inside a grouped agg keeps the
    two-phase partial/final shape (Expand + partial count-distinct); at
    100x the per-group exact state is bounded by active users per hour,
    with agg_approx_distinct_hll as the documented sketch fallback when
    groups stop fitting."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour_start"), "event_type")
        .agg(
            F.count_distinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("hour_start", "event_type")
    )


@query(
    "events_concurrent_sessions",
    oracle="""
    WITH ordered AS (
      SELECT user_id, epoch_us(ts) AS us,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_us
      FROM events),
    flagged AS (
      SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 1800 * 1000000 THEN 1 ELSE 0 END AS new_s
      FROM ordered),
    sess AS (
      SELECT user_id,
             CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY us
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id,
             us
      FROM flagged),
    iv AS (
      SELECT user_id, session_id, min(us) AS s_us, max(us) AS e_us
      FROM sess GROUP BY user_id, session_id)
    SELECT user_a, user_b, n_overlaps, total_overlap_us FROM (
      SELECT a.user_id AS user_a, b.user_id AS user_b,
             CAST(count(*) AS BIGINT) AS n_overlaps,
             CAST(sum(least(a.e_us, b.e_us) - greatest(a.s_us, b.s_us)) AS BIGINT)
               AS total_overlap_us
      FROM iv a JOIN iv b
        ON a.user_id < b.user_id AND a.s_us <= b.e_us AND b.s_us <= a.e_us
      GROUP BY a.user_id, b.user_id)
    ORDER BY total_overlap_us DESC, user_a, user_b LIMIT 20
    """,
)
def events_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which user pairs are online together: sessionize (30-min gap) →
    per-session [min_ts, max_ts] intervals → interval-overlap SELF-join →
    per-user-pair overlap rollup, top 20 by shared time. The Spark side
    runs the bucketed interval join (operators/relational.py:
    interval_overlap_pairs — explode to density-auto-sized buckets
    (clamped mean session length; VERDICT r13 ask #5 — fixed hour
    buckets were ~84× the 43s mean session and densified co-occupancy
    quadratically), bucket equi-join, exact predicate; each pair is
    emitted exactly once via the overlap-start-bucket predicate inside
    the join stage — no post-join pair-key ``.distinct()`` remains);
    the ORACLE is the quadratic range-condition join — so a candidate
    the bucketing misses (an overlapping pair split across bucket
    boundaries) fails the compare, not just a recall metric. The
    session-interval frame is pinned so the auto-sizing aggregate and
    the explode read one materialization of the sessionize window.
    Closed-interval semantics: single-event sessions (zero length)
    still pair when inside another session."""
    from sec_dl_spark.operators.relational import interval_overlap_pairs
    from sec_dl_spark.session import pin

    e = t(spark, sf_dir, "events")
    s = sessionize(
        e, key="user_id", ts_col="ts", gap_seconds=1800, order_cols=["event_id"]
    )
    us = F.unix_micros(F.col("ts"))
    iv = pin(
        s.groupBy("user_id", "session_id").agg(
            F.min(us).alias("s_us"), F.max(us).alias("e_us")
        )
    )
    pairs = interval_overlap_pairs(iv, key_cols=["user_id", "session_id"])
    return (
        pairs.where(F.col("a_user_id") != F.col("b_user_id"))
        .groupBy(
            F.col("a_user_id").alias("user_a"), F.col("b_user_id").alias("user_b")
        )
        .agg(
            F.count(F.lit(1)).alias("n_overlaps"),
            F.sum("overlap_us").cast("long").alias("total_overlap_us"),
        )
        .orderBy(F.col("total_overlap_us").desc(), "user_a", "user_b")
        .limit(20)
    )


@query(
    "cdc_latest_snapshot",
    oracle="""
    SELECT user_id, event_type, value FROM (
      SELECT user_id, event_type, round(value, 2) AS value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
      FROM events)
    WHERE rn = 1 AND event_type <> 'error'
    ORDER BY user_id
    """,
)
def cdc_latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply (operators/cdc.py:apply_changes): the events stream read
    as a change log — per user the highest-(ts, event_id) change wins,
    and users whose latest change is an 'error' (the delete operation
    here) drop out of the snapshot entirely. The classic upsert-with-
    tombstones materialization: one key-partitioned window, one
    shuffle, history length only widens partitions."""
    from sec_dl_spark.operators.cdc import apply_changes

    e = t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.round("value", 2).alias("value"),
        F.unix_micros(F.col("ts")).alias("us"),
        "event_id",
    )
    snap = apply_changes(
        e, key_cols=["user_id"], seq_cols=["us", "event_id"],
        op_col="event_type", delete_op="error",
    )
    return snap.select("user_id", "event_type", "value").orderBy("user_id")


@query(
    "cdc_scd2_history",
    oracle="""
    SELECT user_id, event_id, round(value, 2) AS value, valid_from, valid_to FROM (
      SELECT user_id, event_id, value, epoch_us(ts) AS valid_from,
             lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                      ORDER BY epoch_us(ts), event_id) AS valid_to,
             event_type
      FROM events)
    WHERE event_type <> 'error' AND user_id < 20
    ORDER BY user_id, valid_from, event_id
    """,
)
def cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history (operators/cdc.py:scd2_history): every non-delete
    change becomes a validity interval [valid_from, valid_to), closed by
    the NEXT change of the same key (deletes close their predecessor but
    emit no row); the latest live version carries an open (NULL)
    valid_to. One lead window per key — the standard dimension-history
    build, which downstream as-of joins consume."""
    from sec_dl_spark.operators.cdc import scd2_history

    e = (
        t(spark, sf_dir, "events")
        .where(F.col("user_id") < 20)
        .select(
            "user_id",
            "event_id",
            F.round("value", 2).alias("value"),
            F.unix_micros(F.col("ts")).alias("us"),
            "event_type",
        )
    )
    hist = scd2_history(
        e, key_cols=["user_id"], seq_cols=["us", "event_id"],
        op_col="event_type", delete_op="error",
    )
    return hist.select(
        "user_id", "event_id", "value", "valid_from", "valid_to"
    ).orderBy("user_id", "valid_from", "event_id")


@query(
    "events_props_variant",
    oracle="""
    SELECT event_type,
           CAST(count(k) AS BIGINT) AS n_with_k,
           CAST(sum(CASE WHEN k > 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
           (round(avg(CAST(k AS DOUBLE)) + 1e-8, 4) + 0.0) AS avg_k
    FROM (SELECT event_type,
                 CAST(json_extract(props, '$.k') AS BIGINT) AS k
          FROM events)
    GROUP BY event_type ORDER BY event_type
    """,
)
def events_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured payload analytics through Spark 4's VARIANT type:
    ``parse_json`` once, ``try_variant_get`` typed extraction — the
    binary variant encoding decodes fields without re-parsing the JSON
    text per access, which is the point at 100 TB (parse once per row,
    not once per extracted path; malformed payloads yield NULL rather
    than failing the scan under ANSI mode). The oracle extracts the same
    path with DuckDB's JSON functions."""
    e = t(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json(F.col("props")), "$.k", "long")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.sum(F.when(F.col("k") > 50, 1).otherwise(0)).cast("long").alias("n_high"),
            (F.round(F.avg(F.col("k").cast("double")) + F.lit(1e-8), 4) + F.lit(0.0)).alias("avg_k"),
        )
        .orderBy("event_type")
    )


@query(
    "events_equidepth_bins",
    oracle="""
    WITH r AS (SELECT value, event_id,
                      row_number() OVER (ORDER BY value, event_id) - 1 AS rk
               FROM events),
    n AS (SELECT count(*) AS n_total FROM events)
    SELECT CAST((rk * 8) // n_total AS INTEGER) AS bin,
           count(*) AS n_events, min(value) AS min_v, max(value) AS max_v
    FROM r, n GROUP BY bin ORDER BY bin
    """,
)
def events_equidepth_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equal-height) histogram of the value column — the
    data-profiling/optimizer-statistics primitive: 8 bins, each holding
    N/8 rows, with exact value bounds per bin. Bin = floor(rank*8/N) on
    the DISTRIBUTED global rank (operators/relational.py:global_rank —
    range partition + offsets, never a single-partition window), so the
    same plan profiles a 10^12-row column. Raw double min/max per bin are
    byte-exact cross-engine; tie-break by event_id makes the rank total."""
    from sec_dl_spark.operators.relational import global_rank

    e = t(spark, sf_dir, "events").select("event_id", "value")
    ranked = global_rank(
        e, [F.col("value").asc(), F.col("event_id").asc()], rank_col="_r"
    )
    tot = e.groupBy().agg(F.count(F.lit(1)).alias("_n"))
    return (
        ranked.crossJoin(F.broadcast(tot))
        .withColumn("bin", F.expr("CAST((_r * 8) DIV _n AS INT)"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("value").alias("min_v"),
            F.max("value").alias("max_v"),
        )
        .orderBy("bin")
    )


@query(
    "cdc_temporal_join",
    oracle="""
    WITH base AS (SELECT user_id, event_id, epoch_us(ts) AS us, event_type
                  FROM events WHERE user_id < 5),
    hist AS (
      SELECT user_id, event_id AS version_id, us AS valid_from, event_type,
             lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS valid_to
      FROM base),
    live AS (SELECT * FROM hist WHERE event_type <> 'error')
    SELECT p.event_id, p.user_id, l.version_id, l.valid_from
    FROM base p LEFT JOIN live l
      ON p.user_id = l.user_id AND p.us >= l.valid_from
     AND (l.valid_to IS NULL OR p.us < l.valid_to)
    ORDER BY p.event_id
    """,
)
def cdc_temporal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal dimension lookup — the consumption side of SCD2: each fact
    (probe event) joins the dimension VERSION valid at its timestamp
    (key equi-join + half-open interval predicate over the scd2_history
    table; 'error' changes are tombstones, so probes landing in a deleted
    period match nothing and stay NULL via the left join). Intervals per
    key are disjoint by construction, so every probe matches at most one
    version. Scale shape: the equi key carries the shuffle; the range
    predicate evaluates within the key's partition (never a
    broadcast-nested-loop)."""
    from sec_dl_spark.operators.cdc import scd2_history

    base = (
        t(spark, sf_dir, "events")
        .where(F.col("user_id") < 5)
        .select(
            "user_id", "event_id", F.unix_micros(F.col("ts")).alias("us"), "event_type"
        )
    )
    hist = scd2_history(
        base, key_cols=["user_id"], seq_cols=["us", "event_id"],
        op_col="event_type", delete_op="error",
    ).select(
        F.col("user_id").alias("h_user_id"),
        F.col("event_id").alias("version_id"),
        "valid_from",
        "valid_to",
    )
    p = base.select("event_id", "user_id", "us")
    joined = p.join(
        hist,
        (F.col("user_id") == F.col("h_user_id"))
        & (F.col("us") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("us") < F.col("valid_to"))),
        "left",
    )
    return joined.select("event_id", "user_id", "version_id", "valid_from").orderBy(
        "event_id"
    )


@query(
    "events_ewma_user",
    oracle="""
    WITH ordered AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_events,
             list(value ORDER BY ts, event_id) AS vals
      FROM events GROUP BY user_id)
    SELECT user_id, n_events,
           (round(reduce(
              CAST(list_prepend(0.0, vals) AS DOUBLE[]),
              (acc, x) -> 0.25::DOUBLE * x + 0.75::DOUBLE * acc
            ) + 1e-9, 6) + 0.0) AS ewma_value
    FROM ordered ORDER BY user_id
    """,
)
def events_ewma_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially weighted moving average of the metric stream
    (alpha = 0.25): collect each user's values in (ts, event_id) order and
    fold them with a JVM higher-order `aggregate` — y ← α·x + (1−α)·y.
    The fold is strictly left-to-right in BOTH engines, and α = 1/4 is an
    exact binary fraction, so every intermediate IEEE operation is
    identical and the result matches the oracle's `reduce` bit-for-bit
    (the round+rz is belt-and-braces, not load-bearing). Per-user state is
    one bounded array (sessions cap at ~100 events in the fixture; a real
    deployment bounds it with a time window), grouped in a single shuffle
    — the batch twin of a streaming EWMA kept in
    applyInPandasWithState."""
    e = t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    g = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "value"))
        ).alias("_evs"),
    )
    fold = F.aggregate(
        F.transform("_evs", lambda s: s["value"]),
        F.lit(0.0),
        lambda acc, x: F.lit(0.25) * x + F.lit(0.75) * acc,
    )
    return (
        g.select("user_id", "n_events", rz(fold, 6).alias("ewma_value"))
        .orderBy("user_id")
    )


@query(
    "events_rolling_median",
    oracle="""
    WITH w AS (
      SELECT user_id, event_id, ts,
             list_sort(list(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)) AS win
      FROM events)
    SELECT user_id, event_id,
           CAST(len(win) AS BIGINT) AS n_win,
           (round(CASE WHEN len(win) % 2 = 1 THEN win[(len(win) + 1) // 2]
                       ELSE (win[len(win) // 2] + win[len(win) // 2 + 1]) / 2.0
                  END + 1e-9, 6) + 0.0) AS rolling_median
    FROM w WHERE user_id < 30 ORDER BY user_id, event_id
    """,
)
def events_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling exact median of each user's last 5 metric values — the
    robust-trend primitive dashboards overlay on noisy event streams. The
    5-row frame collects into a bounded array per row; the median is pure
    element access on the sorted array (odd: middle; even: mean of the two
    middles — one identical IEEE add + halving per engine, so byte-exact).
    The frame is O(k) per row regardless of history length — never a
    growing window state."""
    e = t(spark, sf_dir, "events").where(F.col("user_id") < 30)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, 0)
    )
    win = F.array_sort(F.collect_list("value").over(w))
    n = F.size(win)
    med = F.when(
        n % 2 == 1, F.element_at(win, ((n + 1) / 2).cast("int"))
    ).otherwise(
        (F.element_at(win, (n / 2).cast("int")) + F.element_at(win, (n / 2).cast("int") + 1)) / 2.0
    )
    return (
        e.select(
            "user_id",
            "event_id",
            n.cast("long").alias("n_win"),
            rz(med, 6).alias("rolling_median"),
        )
        .orderBy("user_id", "event_id")
    )


@query(
    "events_winsorized_mean",
    oracle="""
    WITH b AS (
      SELECT event_type,
             quantile_cont(value, 0.05) AS lo,
             quantile_cont(value, 0.95) AS hi
      FROM events GROUP BY event_type)
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           (round(avg(least(greatest(e.value, b.lo), b.hi)) + 1e-8, 4) + 0.0)
             AS winsorized_mean
    FROM events e JOIN b ON e.event_type = b.event_type
    GROUP BY e.event_type ORDER BY e.event_type
    """,
)
def events_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (5%-clamped) mean per event type — the outlier-robust KPI
    a metrics pipeline publishes instead of the raw mean. Composes the
    exact-percentile operator (the distinct-value + cumulative-count plan
    behind agg_percentiles, quantile_cont/type-7 semantics) with a
    broadcast bounds join and a clamped aggregate: two passes total, the
    bounds frame is |groups|-sized, and nothing buffers per-group values
    the way Spark's percentile TypedImperativeAggregate would."""
    from sec_dl_spark.operators.relational import exact_percentiles
    e = t(spark, sf_dir, "events").select("event_type", "value")
    bounds = exact_percentiles(
        e, "event_type", {"value": [(0.05, "lo"), (0.95, "hi")]}
    )
    clamped = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    return (
        e.join(F.broadcast(bounds), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            rz(F.avg(clamped), 4, 1e-8).alias("winsorized_mean"),
        )
        .orderBy("event_type")
    )


# Poisson(1) CDF cutoffs scaled to the 20-bit draw (floor(cum·2^20)):
# weight = #cutoffs the draw exceeds, capping at 6 (P(w>6) < 1e-4).
# IDENTICAL literals on both engines — the draw and the inverse-CDF are
# pure integer arithmetic, so replicate weights are byte-deterministic.
# Poisson(1) inverse-CDF cutoffs at 16-bit draw resolution
# (floor(2^16 * P(X <= k)), k = 0..5 — replicate weights cap at 6; the
# r9-r13 rounds used 20-bit draws, one md5 per (row, replicate) — the
# 16-bit lanes pack FOUR replicate draws per digest, see agg_bootstrap_ci)
_POIS_CUTS16 = (24109, 48218, 60273, 64291, 65296, 65497)


@query(
    "agg_bootstrap_ci",
    oracle=f"""
    WITH reps AS (SELECT unnest(range(20)) AS rep),
    drawn AS (
      SELECT e.event_type, e.value, r.rep,
             CAST(((md5_number_lower('bs' || CAST(r.rep // 4 AS VARCHAR)
                                     || ':' || CAST(e.event_id AS VARCHAR))
                    >> (16 * (r.rep % 4))) & 65535) AS BIGINT) + 1 AS u
      FROM events e CROSS JOIN reps r),
    weighted AS (
      SELECT event_type, rep,
             {" + ".join(f"(CASE WHEN u > {c} THEN 1 ELSE 0 END)" for c in _POIS_CUTS16)}
               AS w, value
      FROM drawn),
    repmeans AS (
      SELECT event_type, rep,
             (round(sum(w * value) / sum(w) + 1e-8, 4) + 0.0) AS m
      FROM weighted GROUP BY event_type, rep)
    SELECT event_type,
           (round(avg(m) + 1e-8, 4) + 0.0) AS boot_mean,
           min(m) AS ci_lo, max(m) AS ci_hi,
           CAST(count(m) AS BIGINT) AS n_reps
    FROM repmeans GROUP BY event_type ORDER BY event_type
    """,
)
def agg_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap confidence interval for the per-type mean — the
    one-pass resampling scheme that works on distributed data because
    each row draws its replicate weights INDEPENDENTLY (Poisson(1)
    approximates multinomial resampling without knowing N). The draws are
    deterministic and byte-reproducible on both engines: replicate r
    reads the 16-bit lane r%4 of md5('bs' || r//4 || ':' || event_id) —
    FOUR draws per digest, so a row hashes 5 times for 20 replicates
    instead of 20 (md5 was the dominant per-row cost of the r9 explode
    form), against the 2^16-scaled Poisson(1) inverse-CDF cutoffs. The
    lane arithmetic mirrors DuckDB's md5_number_lower little-endian
    byte order: bits 16l..16l+15 of the lower-64 word are digest bytes
    (8+2l, 9+2l) = hex chars (17+4l, 19+4l). The replicate axis is
    COLUMNS, not exploded rows: one 40-expression fold per event_type
    (Σ w_r·value, Σ w_r per replicate — all map-side codegen, shuffle
    carries types×40 cells), then stack() turns the wide row into the
    20 replicate means — which also pins the final avg's summation
    order to replicate order on both engines (the exploded form left it
    to shuffle arrival)."""
    from sec_dl_spark.session import spread

    # spread: the fixture scan is one split, and the 5-digest hashing
    # projection is the query's dominant compute — serial otherwise
    # (no-op on a real cluster's many-split scan)
    e = spread(
        t(spark, sf_dir, "events").select("event_type", "event_id", "value")
    )
    # named per-step columns (the holt lesson): inlining the md5 into all
    # 40 aggregate expressions re-evaluates it 40x per row — aggregate
    # expression lists get no cross-expression CSE. Two projection steps
    # keep each digest and each weight evaluated ONCE (CollapseProject
    # refuses to merge projections that would duplicate non-cheap exprs).
    hashed = e.select(
        "event_type",
        "value",
        *[
            F.md5(
                F.concat(
                    F.lit("bs"), F.lit(str(d)), F.lit(":"),
                    F.col("event_id").cast("string"),
                )
            ).alias(f"h{d}")
            for d in range(5)
        ],
    )
    wcols = []
    for r in range(20):
        d, lane = divmod(r, 4)
        pos = 17 + 4 * lane
        u = (
            F.conv(F.substring(F.col(f"h{d}"), pos, 2), 16, 10).cast("long")
            + F.conv(F.substring(F.col(f"h{d}"), pos + 2, 2), 16, 10).cast("long")
            * 256
            + 1
        )
        w = None
        for c in _POIS_CUTS16:
            term = F.when(u > c, 1).otherwise(0)
            w = term if w is None else w + term
        wcols.append(w.alias(f"w{r}"))
    weighted = hashed.select("event_type", "value", *wcols)
    aggs = []
    for r in range(20):
        aggs.append(F.sum(F.col(f"w{r}") * F.col("value")).alias(f"sv{r}"))
        aggs.append(F.sum(F.col(f"w{r}")).alias(f"sw{r}"))
    wide = weighted.groupBy("event_type").agg(*aggs)
    mcols = wide.select(
        "event_type",
        *[
            rz(F.col(f"sv{r}") / F.col(f"sw{r}"), 4, 1e-8).alias(f"m{r}")
            for r in range(20)
        ],
    )
    repmeans = mcols.select(
        "event_type",
        F.expr(
            "stack(20, " + ", ".join(f"m{r}" for r in range(20)) + ") as m"
        ),
    )
    return (
        repmeans.groupBy("event_type")
        .agg(
            rz(F.avg("m"), 4, 1e-8).alias("boot_mean"),
            F.min("m").alias("ci_lo"),
            F.max("m").alias("ci_hi"),
            F.count("m").alias("n_reps"),
        )
        .orderBy("event_type")
    )


@query(
    "events_gap_islands",
    oracle="""
    WITH d AS (
      SELECT user_id, event_id,
             event_id - row_number() OVER (PARTITION BY user_id ORDER BY event_id)
               AS grp
      FROM events WHERE user_id < 50)
    SELECT user_id,
           CAST(min(event_id) AS BIGINT) AS island_start,
           CAST(max(event_id) AS BIGINT) AS island_end,
           CAST(count(*) AS BIGINT) AS island_len
    FROM d GROUP BY user_id, grp
    ORDER BY user_id, island_start
    """,
)
def events_gap_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands — maximal runs of consecutive event ids per user
    via the classic value-minus-row_number trick (consecutive values share
    the difference, so one group-by collapses each island): the id-space
    integrity audit that reports every contiguous range and hole without
    a self-join. One window + one aggregate, all integers."""
    e = t(spark, sf_dir, "events").where(F.col("user_id") < 50).select("user_id", "event_id")
    w = Window.partitionBy("user_id").orderBy("event_id")
    d = e.withColumn("_grp", F.col("event_id") - F.row_number().over(w))
    return (
        d.groupBy("user_id", "_grp")
        .agg(
            F.min("event_id").alias("island_start"),
            F.max("event_id").alias("island_end"),
            F.count(F.lit(1)).alias("island_len"),
        )
        .drop("_grp")
        .orderBy("user_id", "island_start")
    )


@query("events_hll_partial_merge", oracle=None)
def events_hll_partial_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches — the incremental-rollup story
    for COUNT(DISTINCT): per-day HLL sketches of active users
    (``hll_sketch_agg``, Apache DataSketches inside Spark) merge into
    weekly estimates via ``hll_union_agg`` WITHOUT rescanning the days.
    At 100 TB this is how daily jobs maintain weekly/monthly/all-time
    distinct users: each day is aggregated once, ever; every coarser
    rollup is a union of byte-sized sketch partials (the same
    merge==recompute contract the rollup operator pins for sums). The
    estimate is deterministic for a given input (the sketch hash is
    seeded), but not SQL-expressible — rows-only here; pytest pins
    merged-vs-direct equality and the exact-regime accuracy."""
    e = t(spark, sf_dir, "events").select(
        F.date_trunc("day", F.col("ts")).alias("day"), "user_id"
    )
    daily = e.groupBy("day").agg(F.hll_sketch_agg("user_id").alias("sk"))
    weekly = (
        daily.groupBy(F.date_trunc("week", F.col("day")).alias("week_start"))
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_users"),
            F.count(F.lit(1)).alias("n_day_partials"),
        )
    )
    return weekly.orderBy("week_start")


@query(
    "events_ab_welch_ttest",
    oracle="""
    WITH c AS (
      SELECT event_type, user_id % 2 AS arm,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    g AS (
      SELECT event_type,
             count(*) FILTER (arm = 0) AS n_a,
             count(*) FILTER (arm = 1) AS n_b,
             sum(cents) FILTER (arm = 0) AS s_a,
             sum(cents) FILTER (arm = 1) AS s_b,
             sum(CAST(cents AS DOUBLE) * cents) FILTER (arm = 0) AS q_a,
             sum(CAST(cents AS DOUBLE) * cents) FILTER (arm = 1) AS q_b
      FROM c GROUP BY event_type
      HAVING n_a >= 2 AND n_b >= 2),
    s AS (
      SELECT event_type, n_a, n_b,
             CAST(s_a AS DOUBLE) / n_a / 100 AS mean_a,
             CAST(s_b AS DOUBLE) / n_b / 100 AS mean_b,
             (q_a - CAST(s_a AS DOUBLE) * s_a / n_a) / (n_a - 1) / 10000 AS var_a,
             (q_b - CAST(s_b AS DOUBLE) * s_b / n_b) / (n_b - 1) / 10000 AS var_b
      FROM g)
    SELECT event_type,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           (round(mean_a + 1e-9, 4) + 0.0) AS mean_a,
           (round(mean_b + 1e-9, 4) + 0.0) AS mean_b,
           (round((mean_a - mean_b) / sqrt(var_a / n_a + var_b / n_b) + 1e-9, 4) + 0.0)
             AS t_stat,
           (abs((mean_a - mean_b) / sqrt(var_a / n_a + var_b / n_b)) > 1.96)
             AS significant_95
    FROM s ORDER BY event_type
    """,
)
def events_ab_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test per event type between two
    experiment arms (users split by ``user_id % 2`` — the deterministic
    hash-assignment an A/B platform uses): the launch-gate readout a
    metrics pipeline computes per refresh. Every moment is derived from
    EXACT sums of value-cents (counts/sums as BIGINT; the quadratic
    moment accumulates in DOUBLE in both engines — cents² wraps int64
    past ~3.7e9 rows/arm while DuckDB silently promotes to HUGEINT —
    with every term integer-exact below 2^53), so mean and variance
    are deterministic expressions of exact moments —
    float aggregation order (the shuffle-dependent last-ulp hazard that
    plagues avg/var_samp cross-engine) never enters. One grouped
    aggregate with FILTER arms (single shuffle, partial map-side);
    output is arm-pair-per-type bounded. Groups where either arm has
    <2 observations are dropped (HAVING n_a>=2 AND n_b>=2 on both
    engines): sample variance is undefined there, and dividing by
    n-1=0 yields NULL/inf on Spark but an error in DuckDB — the same
    cross-engine divide-by-zero class corpus_epoch_plan guards with
    greatest(n,1)."""
    cents = F.round(F.col("value") * 100).cast("long")
    arm = F.col("user_id") % 2
    c = t(spark, sf_dir, "events").select(
        "event_type", arm.alias("arm"), cents.alias("cents")
    )
    a0, a1 = F.col("arm") == 0, F.col("arm") == 1
    g = c.groupBy("event_type").agg(
        F.count(F.when(a0, 1)).alias("n_a"),
        F.count(F.when(a1, 1)).alias("n_b"),
        F.sum(F.when(a0, F.col("cents"))).alias("s_a"),
        F.sum(F.when(a1, F.col("cents"))).alias("s_b"),
        # cents^2 wraps int64 past ~3.7e9 rows/arm while DuckDB promotes
        # to HUGEINT; accumulate in double (terms integer-exact < 2^53)
        F.sum(F.when(a0, F.col("cents").cast("double") * F.col("cents"))).alias("q_a"),
        F.sum(F.when(a1, F.col("cents").cast("double") * F.col("cents"))).alias("q_b"),
    ).where((F.col("n_a") >= 2) & (F.col("n_b") >= 2))
    mean_a = F.col("s_a").cast("double") / F.col("n_a") / 100
    mean_b = F.col("s_b").cast("double") / F.col("n_b") / 100
    var_a = (
        (F.col("q_a") - F.col("s_a").cast("double") * F.col("s_a") / F.col("n_a"))
        / (F.col("n_a") - 1)
        / 10000
    )
    var_b = (
        (F.col("q_b") - F.col("s_b").cast("double") * F.col("s_b") / F.col("n_b"))
        / (F.col("n_b") - 1)
        / 10000
    )
    t_stat = (mean_a - mean_b) / F.sqrt(var_a / F.col("n_a") + var_b / F.col("n_b"))
    rz = lambda col: F.round(col + F.lit(1e-9), 4) + F.lit(0.0)  # noqa: E731
    return g.select(
        "event_type",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        rz(mean_a).alias("mean_a"),
        rz(mean_b).alias("mean_b"),
        rz(t_stat).alias("t_stat"),
        (F.abs(t_stat) > 1.96).alias("significant_95"),
    ).orderBy("event_type")


@query(
    "events_heavy_hitters_share",
    oracle="""
    WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id),
    tot AS (SELECT sum(n) AS total FROM c),
    top AS (
      SELECT user_id, n,
             row_number() OVER (ORDER BY n DESC, user_id) AS rk
      FROM c QUALIFY rk <= 10)
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(n AS BIGINT) AS n_events,
           CAST(rk AS BIGINT) AS rank,
           (round(CAST(n AS DOUBLE) / total + 1e-9, 6) + 0.0) AS share,
           (round(CAST(sum(n) OVER (ORDER BY rk) AS DOUBLE) / total + 1e-9, 6)
             + 0.0) AS cum_share
    FROM top, tot ORDER BY rank
    """,
)
def events_heavy_hitters_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters with traffic concentration: the top-10 users by event
    count, each with its share of ALL events and the running cumulative
    share — the skew readout that decides whether a user-keyed shuffle
    needs salting (a cum_share knee at rank 3 means three keys carry the
    stage). Counts are one partial-aggregated groupBy; the top-10 is
    orderBy().limit() (TakeOrderedAndProject — parallel partial top-k,
    never a full sort); the total is a 1-row broadcast; the cumulative
    window runs over the 10 SURVIVING rows only. Exact integer counts
    make every share a deterministic division."""
    e = t(spark, sf_dir, "events")
    c = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    top = c.orderBy(F.col("n").desc(), "user_id").limit(10)
    tot = c.agg(F.sum("n").alias("total"))
    w = Window.orderBy(F.col("n").desc(), "user_id")
    return (
        top.crossJoin(F.broadcast(tot))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .withColumn("cum_n", F.sum("n").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .select(
            F.col("user_id").cast("long").alias("user_id"),
            F.col("n").cast("long").alias("n_events"),
            "rank",
            rz6(F.col("n").cast("double") / F.col("total")).alias("share"),
            rz6(F.col("cum_n").cast("double") / F.col("total")).alias("cum_share"),
        )
        .orderBy("rank")
    )


@query(
    "events_psi_drift",
    oracle="""
    WITH e AS (
      SELECT event_type, epoch_us(ts) AS us,
             greatest(least(CAST(round(value * 100) AS BIGINT) // 4000, 9),
                      0) AS bin
      FROM events),
    mid AS (SELECT (min(us) + max(us)) // 2 AS mid_us FROM e),
    counts AS (
      SELECT event_type, bin,
             count(*) FILTER (us < mid_us) AS n_early,
             count(*) FILTER (us >= mid_us) AS n_late
      FROM e, mid GROUP BY event_type, bin),
    spine AS (
      SELECT event_type, b.bin
      FROM (SELECT DISTINCT event_type FROM e),
           (SELECT unnest(range(10)) AS bin) b),
    f AS (
      SELECT s.event_type, s.bin,
             coalesce(c.n_early, 0) AS n_early, coalesce(c.n_late, 0) AS n_late
      FROM spine s LEFT JOIN counts c
        ON s.event_type = c.event_type AND s.bin = c.bin),
    g AS (
      SELECT event_type, sum(n_early) AS tot_early, sum(n_late) AS tot_late
      FROM f GROUP BY event_type),
    terms AS (
      SELECT f.event_type, f.bin,
             (CAST(f.n_early AS DOUBLE) + 0.5) / (g.tot_early + 5.0) AS p,
             (CAST(f.n_late AS DOUBLE) + 0.5) / (g.tot_late + 5.0) AS q,
             g.tot_early, g.tot_late
      FROM f JOIN g ON f.event_type = g.event_type)
    SELECT event_type,
           CAST(max(tot_early) AS BIGINT) AS n_early,
           CAST(max(tot_late) AS BIGINT) AS n_late,
           (round(sum((p - q) * ln(p / q)) + 1e-9, 6) + 0.0) AS psi
    FROM terms GROUP BY event_type ORDER BY event_type
    """,
)
def events_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index per event type between the early and
    late halves of the stream (split at the integer-microsecond midpoint
    of the observed ts range): the standard drift score a feature-store
    monitor raises on (PSI < 0.1 stable, > 0.25 shifted). Values land in
    10 fixed-width bins via EXACT integer-cents division (no float
    boundary flips; negatives clamp into bin 0 — visible to the monitor
    and immune to the Spark-div-truncates vs SQL-floor divergence);
    Laplace 0.5-smoothing keeps empty bins finite on
    both engines, and a per-type bin SPINE (types × range(10)) makes the
    empty bins explicit rather than engine-dependent. Everything derives
    from integer counts — two grouped aggregates, a 1-row midpoint
    broadcast, and a type-cardinality-bounded output; the ln() of
    deterministic rationals rounds at 1e-6 like the BM25 oracles."""
    e = t(spark, sf_dir, "events").select(
        "event_type",
        F.unix_micros("ts").alias("us"),
        F.greatest(
            F.least(
                F.expr("CAST(round(value * 100) AS BIGINT) div 4000"),
                F.lit(9),
            ),
            F.lit(0),
        ).alias("bin"),
    )
    mid = e.agg(
        ((F.min("us") + F.max("us")) / 2).cast("long").alias("mid_us")
    )
    ec = e.crossJoin(F.broadcast(mid))
    counts = ec.groupBy("event_type", "bin").agg(
        F.count(F.when(F.col("us") < F.col("mid_us"), 1)).alias("n_early"),
        F.count(F.when(F.col("us") >= F.col("mid_us"), 1)).alias("n_late"),
    )
    counts = pin(counts)
    spine = (
        counts.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(
            spark.range(10).select(F.col("id").cast("long").alias("bin"))
        ))
    )
    f = (
        spine.join(counts, ["event_type", "bin"], "left")
        .fillna(0, subset=["n_early", "n_late"])
    )
    g = f.groupBy("event_type").agg(
        F.sum("n_early").alias("tot_early"), F.sum("n_late").alias("tot_late")
    )
    p = (F.col("n_early").cast("double") + 0.5) / (F.col("tot_early") + 5.0)
    q = (F.col("n_late").cast("double") + 0.5) / (F.col("tot_late") + 5.0)
    terms = f.join(F.broadcast(g), "event_type").select(
        "event_type", "tot_early", "tot_late",
        ((p - q) * F.log(p / q)).alias("term"),
    )
    return (
        terms.groupBy("event_type")
        .agg(
            F.max("tot_early").cast("long").alias("n_early"),
            F.max("tot_late").cast("long").alias("n_late"),
            rz6(F.sum("term")).alias("psi"),
        )
        .orderBy("event_type")
    )


@query(
    "events_markov_transitions",
    oracle="""
    WITH o AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY epoch_us(ts), event_id) AS prev_type
      FROM events),
    tr AS (SELECT prev_type, event_type AS next_type FROM o
           WHERE prev_type IS NOT NULL),
    c AS (SELECT prev_type, next_type, count(*) AS n FROM tr
          GROUP BY prev_type, next_type),
    row_tot AS (SELECT prev_type, sum(n) AS row_n FROM c GROUP BY prev_type)
    SELECT c.prev_type, c.next_type, CAST(c.n AS BIGINT) AS n,
           (round(CAST(c.n AS DOUBLE) / row_tot.row_n + 1e-9, 6) + 0.0)
             AS p_next_given_prev
    FROM c JOIN row_tot ON c.prev_type = row_tot.prev_type
    ORDER BY c.prev_type, c.next_type
    """,
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences:
    for each (prev, next) event-type pair, the transition count and the
    row-conditional probability P(next | prev) — the behavioral model
    behind funnel design, anomaly scoring (improbable transitions), and
    synthetic-session generation. Consecutive pairs come from ONE lag
    window partitioned by user (each partition is one user's bounded
    history — the standard sessionization shuffle, no global ordering);
    the matrix aggregate is type²-bounded, and conditionals divide exact
    integer counts. Ties on identical timestamps break on event_id, so
    the sequence — and therefore the matrix — is deterministic."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.unix_micros("ts"), "event_id")
    tr = (
        e.withColumn("prev_type", F.lag("event_type").over(w))
        .where(F.col("prev_type").isNotNull())
        .select("prev_type", F.col("event_type").alias("next_type"))
    )
    c = tr.groupBy("prev_type", "next_type").agg(F.count(F.lit(1)).alias("n"))
    row_tot = c.groupBy("prev_type").agg(F.sum("n").alias("row_n"))
    return (
        c.join(F.broadcast(row_tot), "prev_type")
        .select(
            "prev_type",
            "next_type",
            F.col("n").cast("long").alias("n"),
            (F.round(F.col("n").cast("double") / F.col("row_n") + F.lit(1e-9), 6)
             + F.lit(0.0)).alias("p_next_given_prev"),
        )
        .orderBy("prev_type", "next_type")
    )


@query(
    "events_trend_slope",
    oracle="""
    WITH e AS (
      SELECT event_type,
             epoch_us(ts) // 86400000000 AS day,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    d0 AS (SELECT min(day) AS day0 FROM e),
    x AS (SELECT event_type, CAST(day - day0 AS BIGINT) AS x, cents AS y
          FROM e, d0),
    g AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             sum(CAST(x AS DOUBLE) * y) AS sxy,
             sum(CAST(x AS DOUBLE) * x) AS sxx,
             sum(CAST(y AS DOUBLE) * y) AS syy
      FROM x GROUP BY event_type
      HAVING n * sxx - CAST(sx AS DOUBLE) * sx > 0
         AND n * syy - CAST(sy AS DOUBLE) * sy > 0)
    SELECT event_type, n,
           (round((n * sxy - CAST(sx AS DOUBLE) * sy)
                  / (n * sxx - CAST(sx AS DOUBLE) * sx) / 100 + 1e-9, 6)
            + 0.0) AS slope_per_day,
           (round((n * sxy - CAST(sx AS DOUBLE) * sy)
                  * (n * sxy - CAST(sx AS DOUBLE) * sy)
                  / ((n * sxx - CAST(sx AS DOUBLE) * sx)
                     * (n * syy - CAST(sy AS DOUBLE) * sy))
                  + 1e-9, 6) + 0.0) AS r2
    FROM g ORDER BY event_type
    """,
)
def events_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type OLS trend: slope of event value on time (dollars/day) and
    R² — the metric-trend detector that complements the PSI distribution
    monitor (PSI sees SHAPE shifts; a slow level drift can hold shape
    while the mean walks away). First-order moments are EXACT BIGINT
    sums of integer (day-index, cents) pairs; the quadratic moments and
    every n·s − s·s combination form in DOUBLE in both engines (n·sxy
    wraps int64 near 2e7 rows/type while DuckDB promotes to HUGEINT —
    the join_key_skew class), with every term integer-exact below 2^53.
    Day indices are CENTERED on the corpus min day (1-row broadcast) so
    x spans the observation window only.
    Types with zero day- or value-variance are dropped on BOTH engines
    (their slope/R² denominators are 0). One grouped aggregate over a
    3-column projection; output is type-bounded."""
    e = t(spark, sf_dir, "events").select(
        "event_type",
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    d0 = e.agg(F.min("day").alias("day0"))
    x = e.crossJoin(F.broadcast(d0)).select(
        "event_type",
        (F.col("day") - F.col("day0")).cast("long").alias("x"),
        F.col("cents").alias("y"),
    )
    g = (
        x.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("x").cast("long").alias("sx"),
            F.sum("y").cast("long").alias("sy"),
            # quadratic moments AND their n*s combinations form in
            # double: n*sxy wraps int64 near ~2e7 rows/type (a year
            # window x $500 values) while DuckDB promotes to HUGEINT —
            # every term stays integer-exact below 2^53
            F.sum(F.col("x").cast("double") * F.col("y")).alias("sxy"),
            F.sum(F.col("x").cast("double") * F.col("x")).alias("sxx"),
            F.sum(F.col("y").cast("double") * F.col("y")).alias("syy"),
        )
        .where(
            (F.col("n") * F.col("sxx")
             - F.col("sx").cast("double") * F.col("sx") > 0)
            & (F.col("n") * F.col("syy")
               - F.col("sy").cast("double") * F.col("sy") > 0)
        )
    )
    cov_n = F.col("n") * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    var_x = F.col("n") * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    var_y = F.col("n") * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
    return g.select(
        "event_type",
        "n",
        rz6(cov_n / var_x / 100).alias("slope_per_day"),
        rz6(cov_n * cov_n / (var_x * var_y)).alias("r2"),
    ).orderBy("event_type")


@query(
    "events_cusum_changepoint",
    oracle="""
    WITH e AS (
      SELECT event_type,
             epoch_us(ts) // 86400000000 AS day,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    d AS (SELECT event_type, day, CAST(sum(cents) AS BIGINT) AS s_d,
                 CAST(count(*) AS BIGINT) AS m_d
          FROM e GROUP BY event_type, day),
    tot AS (SELECT event_type, CAST(sum(s_d) AS BIGINT) AS s,
                   CAST(sum(m_d) AS BIGINT) AS n
            FROM d GROUP BY event_type),
    c AS (
      -- cumulative INTEGER sums stay bounded by the type totals; the
      -- scaled deviation cum_s*n - S*cum_m forms in DOUBLE (IEEE
      -- products of exact int64 are bit-identical across engines) —
      -- the int64 product n*s_d wrapped in Spark past ~4e8 events/type
      SELECT d.event_type, d.day,
             CAST(sum(d.s_d) OVER (PARTITION BY d.event_type ORDER BY d.day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_s,
             CAST(sum(d.m_d) OVER (PARTITION BY d.event_type ORDER BY d.day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_m
      FROM d),
    cv AS (
      SELECT c.event_type, c.day,
             CAST(c.cum_s AS DOUBLE) * tot.n
               - CAST(tot.s AS DOUBLE) * c.cum_m AS cusum
      FROM c JOIN tot ON c.event_type = tot.event_type),
    peak AS (
      SELECT event_type, day, cusum,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY abs(cusum) DESC, day) AS rk
      FROM cv)
    SELECT p.event_type,
           CAST(t.n AS BIGINT) AS n_events,
           CAST(p.day AS BIGINT) AS changepoint_day,
           (round(p.cusum / t.n / 100 + 1e-9, 4) + 0.0)
             AS cusum_peak_dollars
    FROM peak p JOIN tot t ON p.event_type = t.event_type
    WHERE p.rk = 1 ORDER BY p.event_type
    """,
)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point estimate per event type: the day where the
    cumulative deviation of daily value from the type's overall mean
    peaks — the classic "when did the metric break" estimator (the
    argmax of |CUSUM| is the MLE of a single mean-shift point). The
    deviation is kept EXACTLY INTEGER by scaling: n·s_d − S·m_d (n, S =
    type totals; s_d, m_d = the day's sum/count) is the per-day
    deviation times n, so the running sum, the |·| comparisons, and the
    argmax tie-break (smaller day) are all integer-deterministic; the
    one reported double divides by n·100 at the end. Scale shape: events
    aggregate FIRST to (type, day) — the only event-sized shuffle — and
    every window runs over day-count-sized frames (a 1-year stream is
    365 rows per type), never over raw events."""
    e = t(spark, sf_dir, "events").select(
        "event_type",
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    d = e.groupBy("event_type", "day").agg(
        F.sum("cents").cast("long").alias("s_d"),
        F.count(F.lit(1)).cast("long").alias("m_d"),
    )
    tot = d.groupBy("event_type").agg(
        F.sum("s_d").cast("long").alias("s"), F.sum("m_d").cast("long").alias("n")
    )
    wc = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # cumulative INTEGER sums (bounded by the type totals), scaled
    # deviation formed in DOUBLE — the int64 product n*s_d wrapped in
    # Spark past ~4e8 events/type while DuckDB raised; IEEE double
    # products of exact int64 are bit-identical across engines
    c = (
        d.join(F.broadcast(tot), "event_type")
        .withColumn("cum_s", F.sum("s_d").over(wc).cast("long"))
        .withColumn("cum_m", F.sum("m_d").over(wc).cast("long"))
        .withColumn(
            "cusum",
            F.col("cum_s").cast("double") * F.col("n")
            - F.col("s").cast("double") * F.col("cum_m"),
        )
    )
    wp = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("cusum")).desc(), "day"
    )
    return (
        c.withColumn("rk", F.row_number().over(wp))
        .where(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("n").cast("long").alias("n_events"),
            F.col("day").cast("long").alias("changepoint_day"),
            (F.round(F.col("cusum").cast("double") / F.col("n") / 100
                     + F.lit(1e-9), 4) + F.lit(0.0)).alias("cusum_peak_dollars"),
        )
        .orderBy("event_type")
    )


@query(
    "events_top_session_paths",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                     ORDER BY epoch_us(ts), event_id) AS prev_us
      FROM events),
    flagged AS (
      SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 1800 * 1000000
                     THEN 1 ELSE 0 END AS new_s
      FROM ordered),
    sess AS (
      SELECT user_id, event_id, event_type, us,
             CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS session_id
      FROM flagged),
    paths AS (
      SELECT user_id, session_id,
             string_agg(event_type, '>' ORDER BY us, event_id) AS path
      FROM sess GROUP BY user_id, session_id),
    pc AS (SELECT path, count(*) AS n FROM paths GROUP BY path),
    tot AS (SELECT sum(n) AS total FROM pc)
    SELECT path, CAST(n AS BIGINT) AS n_sessions,
           CAST(row_number() OVER (ORDER BY n DESC, path) AS BIGINT) AS rank,
           (round(CAST(n AS DOUBLE) / total + 1e-9, 6) + 0.0) AS share
    FROM pc, tot QUALIFY rank <= 20 ORDER BY rank
    """,
)
def events_top_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 session paths: the exact ordered event-type sequence of each
    30-minute-gap session, counted across all sessions — the path table
    behind funnel discovery (the Markov matrix gives first-order flow;
    this names the literal journeys, which is what a UX review reads).
    Per-session ordering is materialized deterministically by sorting an
    array of (µs, event_id, type) structs INSIDE the group (collect_list
    order under shuffle is undefined — array_sort makes it a value, not
    an accident). The path-count aggregate shuffles path strings (each
    bounded by session length); the top-20 is orderBy().limit() —
    TakeOrderedAndProject, never a full sort; share divides exact
    integer counts against a 1-row broadcast total."""
    e = t(spark, sf_dir, "events")
    s = sessionize(e, key="user_id", ts_col="ts", gap_seconds=1800,
                   order_cols=["event_id"])
    us = F.unix_micros(F.col("ts"))
    paths = (
        s.groupBy("user_id", "session_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(us.alias("us"), F.col("event_id"),
                                        F.col("event_type")))
            ).alias("evs")
        )
        .select(
            F.array_join(
                F.transform(F.col("evs"), lambda x: x["event_type"]), ">"
            ).alias("path")
        )
    )
    pc = paths.groupBy("path").agg(F.count(F.lit(1)).alias("n"))
    tot = pc.agg(F.sum("n").alias("total"))
    top = pc.orderBy(F.col("n").desc(), "path").limit(20)
    w = Window.orderBy(F.col("n").desc(), "path")
    return (
        top.crossJoin(F.broadcast(tot))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .select(
            "path",
            F.col("n").cast("long").alias("n_sessions"),
            "rank",
            (F.round(F.col("n").cast("double") / F.col("total") + F.lit(1e-9), 6)
             + F.lit(0.0)).alias("share"),
        )
        .orderBy("rank")
    )


@query(
    "events_mannwhitney_u",
    oracle="""
    WITH c AS (
      SELECT event_type, user_id % 2 AS arm,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
    v AS (
      SELECT event_type, cents,
             count(*) FILTER (arm = 0) AS cnt_a,
             count(*) FILTER (arm = 1) AS cnt_b,
             count(*) AS cnt
      FROM c GROUP BY event_type, cents),
    r AS (
      SELECT event_type, cents, cnt_a, cnt_b, cnt,
             coalesce(sum(cnt) OVER (
               PARTITION BY event_type ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cless
      FROM v),
    g AS (
      SELECT event_type,
             sum(cnt_a) AS n_a, sum(cnt_b) AS n_b,
             sum(cnt_a * (2 * cless + cnt + 1)) AS s2a,
             sum(CAST(cnt AS DOUBLE) * cnt * cnt - cnt) AS tie_sum
      FROM r GROUP BY event_type
      HAVING n_a >= 2 AND n_b >= 2
         AND tie_sum < CAST(n_a + n_b AS DOUBLE) * (n_a + n_b) * (n_a + n_b)
                       - (n_a + n_b)),
    s AS (
      SELECT event_type, n_a, n_b,
             (CAST(s2a AS DOUBLE) - CAST(n_a AS DOUBLE) * (n_a + 1)) / 2 AS u_a,
             CAST(n_a AS DOUBLE) * n_b / 2 AS mu,
             sqrt((CAST(n_a AS DOUBLE) * n_b / 12)
                  * ((n_a + n_b + 1)
                     - tie_sum
                       / (CAST(n_a + n_b AS DOUBLE) * (n_a + n_b - 1)))) AS sigma
      FROM g)
    SELECT event_type,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           u_a,
           (round((u_a - mu) / sigma + 1e-9, 4) + 0.0) AS z_stat,
           (abs((u_a - mu) / sigma) > 1.96) AS significant_95
    FROM s ORDER BY event_type
    """,
)
def events_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test per event type between the
    two ``user_id % 2`` experiment arms — the NONPARAMETRIC companion to
    events_ab_welch_ttest (rank-based, so a heavy-tailed metric or a few
    whale users cannot fake or mask a shift the way they can with means).
    Tie-corrected normal approximation.

    Exactness discipline: value-cents are grouped to DISTINCT values
    first, so the rank sum for arm A needs no per-row ranks at all —
    with ``cless`` = count of strictly-smaller observations and ``cnt``
    = tie multiplicity, the doubled midrank ``2*cless + cnt + 1`` is an
    exact INTEGER, and ``s2a = Σ cnt_a·(2·cless+cnt+1)`` (= 2·rank-sum),
    and all arm counts are exact integer moments; the tie term
    ``Σ(t³−t)`` is formed per distinct value in DOUBLE (t³ wraps int64
    past t≈2.1e6 while DuckDB promotes to HUGEINT — the cusum overflow
    class) but every term is integer-valued and exact below 2^53, so
    both engines sum identical values; U, μ, σ, z are then single
    deterministic float expressions of those moments (the same
    integer-moment convention as the Welch query — shuffle-order float
    accumulation never enters). The all-tied degenerate filter compares
    in double for the same reason.

    Scale shape: one row-level grouped aggregate to distinct (type,
    cents) pairs (map-side partial combine), a cumulative window over
    DISTINCT VALUES per type (value-space-sized, never row-sized — the
    exact_percentiles precedent), and a type-bounded final aggregate.
    Degenerate groups are dropped IDENTICALLY in both engines (either
    arm < 2 observations, or all values tied → σ = 0): the cross-engine
    divide-by-zero discipline from the Welch/benford/epoch guards.

    NULL guard (the kruskal-wallis treatment): rows with NULL value or
    NULL ts are filtered on BOTH sides before the value grain — a NULL
    cents row would otherwise sit at opposite ends of the two engines'
    prefix windows (Spark windows default NULLS FIRST, DuckDB NULLS
    LAST) and shift every midrank. This closes the last
    nullable-ordered grain in the catalog."""
    cents = F.round(F.col("value") * 100).cast("long")
    c = (
        t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull() & F.col("ts").isNotNull())
        .select(
            "event_type", (F.col("user_id") % 2).alias("arm"), cents.alias("cents")
        )
    )
    a0, a1 = F.col("arm") == 0, F.col("arm") == 1
    v = c.groupBy("event_type", "cents").agg(
        F.count(F.when(a0, 1)).alias("cnt_a"),
        F.count(F.when(a1, 1)).alias("cnt_b"),
        F.count(F.lit(1)).alias("cnt"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    r = v.withColumn("cless", F.coalesce(F.sum("cnt").over(w), F.lit(0)))
    n = F.col("n_a") + F.col("n_b")
    g = (
        r.groupBy("event_type")
        .agg(
            F.sum("cnt_a").alias("n_a"),
            F.sum("cnt_b").alias("n_b"),
            F.sum(
                F.col("cnt_a") * (2 * F.col("cless") + F.col("cnt") + 1)
            ).alias("s2a"),
            # cnt^3 wraps int64 past cnt ~2.1e6 per (type, cents) bucket
            # (DuckDB silently promotes to HUGEINT); form the cube in
            # double — each cnt^3 - cnt term is integer-valued and exact
            # in double below 2^53, so both engines sum identical values.
            F.sum(
                F.col("cnt").cast("double") * F.col("cnt") * F.col("cnt")
                - F.col("cnt")
            ).alias("tie_sum"),
        )
        .where(
            (F.col("n_a") >= 2)
            & (F.col("n_b") >= 2)
            # n^3 likewise: compare in double (events_cusum_changepoint
            # precedent), else a ~2.1e6-observation type diverges
            # cross-engine on the all-tied filter.
            & (F.col("tie_sum") < n.cast("double") * n * n - n)
        )
    )
    u_a = (
        F.col("s2a").cast("double") - F.col("n_a").cast("double") * (F.col("n_a") + 1)
    ) / 2
    mu = F.col("n_a").cast("double") * F.col("n_b") / 2
    sigma = F.sqrt(
        (F.col("n_a").cast("double") * F.col("n_b") / 12)
        * (
            (F.col("n_a") + F.col("n_b") + 1)
            - F.col("tie_sum")
            / (n.cast("double") * (F.col("n_a") + F.col("n_b") - 1))
        )
    )
    z = (u_a - mu) / sigma
    return g.select(
        "event_type",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        u_a.alias("u_a"),
        (F.round(z + F.lit(1e-9), 4) + F.lit(0.0)).alias("z_stat"),
        (F.abs(z) > 1.96).alias("significant_95"),
    ).orderBy("event_type")


@query(
    "events_chi2_independence",
    oracle="""
    WITH obs AS (
      SELECT event_type, dayofweek(ts) + 1 AS dow, count(*) AS n_obs
      FROM events GROUP BY event_type, dayofweek(ts) + 1),
    grid AS (
      SELECT r.event_type, c.dow
      FROM (SELECT DISTINCT event_type FROM obs) r
      CROSS JOIN (SELECT DISTINCT dow FROM obs) c),
    dense AS (
      SELECT g.event_type, g.dow, coalesce(o.n_obs, 0) AS n_obs
      FROM grid g LEFT JOIN obs o
        ON g.event_type = o.event_type AND g.dow = o.dow),
    rt AS (SELECT event_type, sum(n_obs) AS row_tot FROM dense GROUP BY event_type),
    ct AS (SELECT dow, sum(n_obs) AS col_tot FROM dense GROUP BY dow),
    tot AS (
      SELECT sum(n_obs) AS total,
             count(DISTINCT event_type) AS n_r, count(DISTINCT dow) AS n_c
      FROM dense),
    cell AS (
      SELECT o.event_type, o.dow, o.n_obs,
             CAST(rt.row_tot AS DOUBLE) * ct.col_tot / tot.total AS e,
             tot.total AS total, tot.n_r AS n_r, tot.n_c AS n_c
      FROM dense o
      JOIN rt ON o.event_type = rt.event_type
      JOIN ct ON o.dow = ct.dow
      CROSS JOIN tot),
    hdr AS (
      SELECT sum((n_obs - e) * (n_obs - e) / e) AS chi2,
             any_value(total) AS total,
             (any_value(n_r) - 1) * (any_value(n_c) - 1) AS dof,
             least(any_value(n_r), any_value(n_c)) - 1 AS mind
      FROM cell)
    SELECT cell.event_type, CAST(cell.dow AS BIGINT) AS dow,
           CAST(cell.n_obs AS BIGINT) AS n_obs,
           (round(cell.e + 1e-8, 4) + 0.0) AS n_exp,
           (round((cell.n_obs - cell.e) / sqrt(cell.e) + 1e-9, 4) + 0.0)
             AS std_residual,
           (round(hdr.chi2 + 1e-8, 4) + 0.0) AS chi2_total,
           CAST(hdr.dof AS BIGINT) AS dof,
           (round(sqrt(hdr.chi2 / (hdr.total * hdr.mind)) + 1e-9, 4) + 0.0)
             AS cramers_v
    FROM cell CROSS JOIN hdr
    ORDER BY event_type, dow
    """,
)
def events_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared independence screen between event type and day-of-week:
    the full standardized-residual contingency table (which cells drive
    the dependence) plus the χ² statistic, degrees of freedom, and
    Cramér's V effect size on every row — the seasonality/independence
    audit a metrics pipeline runs before trusting a per-type trend.

    Exactness: observed counts, row/column totals, and the grand total
    are exact integers, so every expected count and residual is one
    deterministic float expression of integers. The only cross-engine
    float SUM is χ² itself — 35 cell contributions (r×c bounded), whose
    accumulation-order error (~1e-13) is far inside the round-4 nudge.
    The observed-cell table is DENSIFIED against the distinct-row ×
    distinct-column grid first (empty cells re-enter with n_obs = 0):
    dropping them silently understates χ² by Σe over the missing cells —
    a perfectly-associated 2×2 would otherwise score Cramér's V ≈ 0.58,
    not 1 (pinned by the planted-independence pytest).

    Scale shape: one row-level aggregate to r×c cells, then everything
    downstream is cell-table-sized (35 rows): the marginals are
    re-aggregations of the CELL table, not rescans of events, and the
    1-row header joins back as a broadcast. Spark's dayofweek (1=Sunday)
    vs DuckDB's (0=Sunday) is aligned with +1 on the oracle side."""
    e = t(spark, sf_dir, "events").select(
        "event_type", F.dayofweek("ts").alias("dow")
    )
    # pin the r×c-bounded observed counts: grid/rt/ct/tot/cell are FIVE
    # plan branches off this frame, and without the pin each one re-runs
    # the events scan + aggregate (5× the only data-sized stage; the
    # probe read 4.4 s for a 35-cell readout before this). Eager, tiny.
    raw = pin(e.groupBy("event_type", "dow").agg(F.count(F.lit(1)).alias("n_obs")))
    grid = raw.select("event_type").distinct().crossJoin(
        raw.select("dow").distinct()
    )
    obs = (
        grid.join(raw, ["event_type", "dow"], "left")
        .withColumn("n_obs", F.coalesce("n_obs", F.lit(0)))
    )
    rt = obs.groupBy("event_type").agg(F.sum("n_obs").alias("row_tot"))
    ct = obs.groupBy("dow").agg(F.sum("n_obs").alias("col_tot"))
    tot = obs.agg(
        F.sum("n_obs").alias("total"),
        F.count_distinct("event_type").alias("n_r"),
        F.count_distinct("dow").alias("n_c"),
    )
    cell = (
        obs.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "dow")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "e", F.col("row_tot").cast("double") * F.col("col_tot") / F.col("total")
        )
    )
    hdr = cell.agg(
        F.sum(
            (F.col("n_obs") - F.col("e")) * (F.col("n_obs") - F.col("e")) / F.col("e")
        ).alias("chi2"),
        F.any_value("total").alias("g_total"),
        ((F.any_value("n_r") - 1) * (F.any_value("n_c") - 1)).alias("dof"),
        (F.least(F.any_value("n_r"), F.any_value("n_c")) - 1).alias("mind"),
    )
    r4 = lambda col, nudge: F.round(col + F.lit(nudge), 4) + F.lit(0.0)  # noqa: E731
    return (
        cell.select("event_type", "dow", "n_obs", "e")
        .crossJoin(F.broadcast(hdr))
        .select(
            "event_type",
            F.col("dow").cast("long").alias("dow"),
            F.col("n_obs").cast("long").alias("n_obs"),
            r4(F.col("e"), 1e-8).alias("n_exp"),
            r4((F.col("n_obs") - F.col("e")) / F.sqrt(F.col("e")), 1e-9).alias(
                "std_residual"
            ),
            r4(F.col("chi2"), 1e-8).alias("chi2_total"),
            F.col("dof").cast("long").alias("dof"),
            r4(
                F.sqrt(F.col("chi2") / (F.col("g_total") * F.col("mind"))), 1e-9
            ).alias("cramers_v"),
        )
        .orderBy("event_type", "dow")
    )


@query(
    "events_kaplan_meier",
    oracle="""
    WITH u AS (
      SELECT user_id,
             min(epoch_us(ts) // 3600000000) AS h0,
             max(epoch_us(ts) // 3600000000) AS h1
      FROM events GROUP BY user_id),
    g AS (SELECT max(epoch_us(ts) // 3600000000) AS gmax,
                 count(DISTINCT user_id) AS n_total
          FROM events),
    p AS (
      SELECT h1 - h0 AS dur,
             CASE WHEN gmax - h1 >= 24 THEN 1 ELSE 0 END AS churn
      FROM u, g),
    lvl AS (
      SELECT dur, count(*) AS n_users, sum(churn) AS n_deaths
      FROM p GROUP BY dur),
    w AS (
      SELECT dur, n_users, n_deaths,
             g.n_total
               - sum(n_users) OVER (ORDER BY dur)
               + n_users AS at_risk
      FROM lvl, g),
    t2 AS (
      SELECT dur, n_deaths, at_risk,
             sum(CASE WHEN at_risk - n_deaths = 0 THEN 0.0
                      ELSE ln(CAST(at_risk - n_deaths AS DOUBLE) / at_risk)
                 END) OVER (ORDER BY dur) AS logsum,
             min(at_risk - n_deaths) OVER (ORDER BY dur) AS minrem
      FROM w)
    SELECT CAST(dur AS BIGINT) AS dur_hours,
           CAST(at_risk AS BIGINT) AS n_at_risk,
           CAST(n_deaths AS BIGINT) AS n_churned,
           (round(CASE WHEN minrem = 0 THEN 0.0 ELSE exp(logsum) END
                  + 1e-9, 6) + 0.0) AS survival
    FROM t2 WHERE n_deaths > 0 ORDER BY dur_hours
    """,
)
def events_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve of user lifetime (hours between a
    user's first and last event, integer hour buckets). A user whose
    last event precedes the global max hour by >= 24 h counts as
    churned (the "death"); later quitters are right-censored —
    censoring is what separates this from a naive lifetime histogram
    (censored users still sit in every risk set they survived through,
    so S(t) is unbiased by the observation window). The product-limit
    estimator runs entirely in hour-granular space: one user-keyed
    shuffle to per-user (first, last), one aggregate down to
    duration-level (n_users, n_deaths) rows, a 1-row (gmax, N)
    broadcast, and windows ONLY over the duration frame — bounded by
    the observation span in hours (720 here, ~2.6e5 even for a 30-year
    log), never by user or event count, so the plan is the same at
    100 TB. S(t) = exp(cumsum ln((n_t-d_t)/n_t)) from exact integer
    counts; the n_t-d_t = 0 final-step case short-circuits to 0.0 on
    both engines BEFORE ln ever sees a zero (DuckDB raises on ln(0),
    Spark returns NULL — the usual cross-engine edge)."""
    e = t(spark, sf_dir, "events").select(
        "user_id",
        F.expr("unix_micros(ts) div 3600000000").alias("h"),
    )
    u = e.groupBy("user_id").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    g = e.agg(
        F.max("h").alias("gmax"),
        F.count_distinct("user_id").alias("n_total"),
    )
    p = u.crossJoin(F.broadcast(g)).select(
        (F.col("h1") - F.col("h0")).alias("dur"),
        F.when(F.col("gmax") - F.col("h1") >= 24, F.lit(1))
        .otherwise(F.lit(0))
        .alias("churn"),
        "n_total",
    )
    lvl = p.groupBy("dur", "n_total").agg(
        F.count(F.lit(1)).alias("n_users"), F.sum("churn").alias("n_deaths")
    )
    wd = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, 0)
    w = lvl.withColumn(
        "at_risk",
        F.col("n_total") - F.sum("n_users").over(wd) + F.col("n_users"),
    )
    rem = F.col("at_risk") - F.col("n_deaths")
    t2 = w.select(
        "dur",
        "n_deaths",
        "at_risk",
        F.sum(
            F.when(rem == 0, F.lit(0.0)).otherwise(
                F.log(rem.cast("double") / F.col("at_risk"))
            )
        )
        .over(wd)
        .alias("logsum"),
        F.min(rem).over(wd).alias("minrem"),
    )
    return (
        t2.filter(F.col("n_deaths") > 0)
        .select(
            F.col("dur").cast("long").alias("dur_hours"),
            F.col("at_risk").cast("long").alias("n_at_risk"),
            F.col("n_deaths").cast("long").alias("n_churned"),
            (
                F.round(
                    F.when(F.col("minrem") == 0, F.lit(0.0)).otherwise(
                        F.exp("logsum")
                    )
                    + F.lit(1e-9),
                    6,
                )
                + F.lit(0.0)
            ).alias("survival"),
        )
        .orderBy("dur_hours")
    )


@query(
    "events_score_calibration",
    oracle="""
    WITH e AS (
      SELECT value,
             CAST(round(value * 100) AS BIGINT) AS cents,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
      FROM events),
    g AS (SELECT min(value) AS vmin, max(value) AS vmax,
                 count(*) AS n_all FROM e),
    b AS (
      SELECT least(CAST(floor((value - vmin)
                         / greatest((vmax - vmin) / 10.0, 1e-12)) AS BIGINT),
                   9) AS bin_id,
             cents, pos, vmin, vmax, n_all
      FROM e, g),
    pb AS (
      SELECT bin_id, count(*) AS n, sum(cents) AS sum_cents, sum(pos) AS n_pos,
             max(vmin) AS vmin, max(vmax) AS vmax, max(n_all) AS n_all
      FROM b GROUP BY bin_id),
    sc AS (
      SELECT bin_id, n, n_all,
             (CAST(sum_cents AS DOUBLE) / 100.0 / n - vmin)
               / greatest(vmax - vmin, 1e-12) AS conf,
             CAST(n_pos AS DOUBLE) / n AS acc
      FROM pb)
    SELECT CAST(bin_id AS BIGINT) AS bin_id,
           CAST(n AS BIGINT) AS n_rows,
           (round(conf + 1e-9, 6) + 0.0) AS conf,
           (round(acc + 1e-9, 6) + 0.0) AS acc,
           (round(abs(acc - conf) + 1e-9, 6) + 0.0) AS gap
    FROM sc
    UNION ALL
    SELECT -1, CAST(max(n_all) AS BIGINT), NULL, NULL,
           (round(sum(CAST(n AS DOUBLE) / n_all * abs(acc - conf))
                  + 1e-9, 6) + 0.0)
    FROM sc
    ORDER BY bin_id
    """,
)
def events_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability table + expected calibration error for `value` read as
    a score predicting the purchase label: 10 equal-width score bins,
    each with its mean normalized score (confidence) and observed
    positive rate (accuracy), plus a bin_id=-1 summary row carrying
    ECE = sum(n_b/N * |acc_b - conf_b|) — the standard eval readout for
    any model-scored column (quality classifiers, reward models) before
    its threshold is trusted. Plan: one scan -> 10-group aggregate with
    a 1-row (min, max, N) broadcast; the ECE row is an aggregate over
    the 10-row bin frame, so nothing after the first aggregate is
    data-sized. Determinism: bin edges and means derive from IEEE
    double ops on broadcast scalars (identical in both engines) and
    exact integer cents/counts; the one order-dependent sum (ECE, <= 10
    terms) rounds at 1e-6 like the PSI/BM25 oracles."""
    e = t(spark, sf_dir, "events").select(
        "value",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        F.when(F.col("event_type") == "purchase", F.lit(1))
        .otherwise(F.lit(0))
        .alias("pos"),
    )
    g = e.agg(
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
        F.count(F.lit(1)).alias("n_all"),
    )
    width = F.greatest(
        (F.col("vmax") - F.col("vmin")) / F.lit(10.0), F.lit(1e-12)
    )
    b = e.crossJoin(F.broadcast(g)).withColumn(
        "bin_id",
        F.least(
            F.floor((F.col("value") - F.col("vmin")) / width).cast("long"),
            F.lit(9),
        ),
    )
    pb = b.groupBy("bin_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("sum_cents"),
        F.sum("pos").alias("n_pos"),
        F.max("vmin").alias("vmin"),
        F.max("vmax").alias("vmax"),
        F.max("n_all").alias("n_all"),
    )
    sc = pb.select(
        "bin_id",
        "n",
        "n_all",
        (
            (F.col("sum_cents").cast("double") / 100.0 / F.col("n") - F.col("vmin"))
            # same greatest(,1e-12) guard as the bin width: an all-equal
            # score column must yield conf = 0, not NaN/Inf, both engines
            / F.greatest(F.col("vmax") - F.col("vmin"), F.lit(1e-12))
        ).alias("conf"),
        (F.col("n_pos").cast("double") / F.col("n")).alias("acc"),
    )
    bins = sc.select(
        F.col("bin_id").cast("long").alias("bin_id"),
        F.col("n").cast("long").alias("n_rows"),
        rz6(F.col("conf")).alias("conf"),
        rz6(F.col("acc")).alias("acc"),
        rz6(F.abs(F.col("acc") - F.col("conf"))).alias("gap"),
    )
    ece = sc.agg(
        F.max("n_all").alias("na"),
        F.sum(
            F.col("n").cast("double")
            / F.col("n_all")
            * F.abs(F.col("acc") - F.col("conf"))
        ).alias("s"),
    ).select(
        F.lit(-1).cast("long").alias("bin_id"),
        F.col("na").cast("long").alias("n_rows"),
        F.lit(None).cast("double").alias("conf"),
        F.lit(None).cast("double").alias("acc"),
        rz6(F.col("s")).alias("gap"),
    )
    return bins.unionByName(ece).orderBy("bin_id")


@query(
    "events_mad_outliers",
    oracle="""
    WITH e AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c
      FROM events),
    vc AS (SELECT event_type, c, count(*) AS cnt FROM e GROUP BY 1, 2),
    vw AS (
      SELECT event_type, c, cnt,
             sum(cnt) OVER (PARTITION BY event_type ORDER BY c) AS cum,
             sum(cnt) OVER (PARTITION BY event_type) AS n
      FROM vc),
    med AS (
      SELECT event_type, max(n) AS n,
             (CAST(min(CASE WHEN cum >= (n + 1) // 2 THEN c END) AS DOUBLE)
              + min(CASE WHEN cum >= n // 2 + 1 THEN c END)) / 2.0 AS m
      FROM vw GROUP BY event_type),
    dv AS (
      SELECT vc.event_type, abs(CAST(vc.c AS DOUBLE) - med.m) AS dval,
             vc.cnt
      FROM vc JOIN med USING (event_type)),
    dvc AS (
      SELECT event_type, dval, CAST(sum(cnt) AS BIGINT) AS cnt
      FROM dv GROUP BY 1, 2),
    dw AS (
      SELECT event_type, dval, cnt,
             sum(cnt) OVER (PARTITION BY event_type ORDER BY dval) AS cum,
             sum(cnt) OVER (PARTITION BY event_type) AS n
      FROM dvc),
    mad AS (
      SELECT event_type,
             (min(CASE WHEN cum >= (n + 1) // 2 THEN dval END)
              + min(CASE WHEN cum >= n // 2 + 1 THEN dval END)) / 2.0 AS mad
      FROM dw GROUP BY event_type),
    fin AS (
      SELECT vc.event_type, vc.cnt, med.n, med.m, mad.mad,
             CASE WHEN mad.mad = 0 THEN NULL
                  ELSE 0.6745 * (vc.c - med.m) / mad.mad END AS z
      FROM vc JOIN med USING (event_type) JOIN mad USING (event_type))
    SELECT event_type,
           CAST(max(n) AS BIGINT) AS n_events,
           (round(max(m) / 100.0 + 1e-9, 6) + 0.0) AS median_value,
           (round(max(mad) / 100.0 + 1e-9, 6) + 0.0) AS mad_value,
           CAST(coalesce(sum(cnt) FILTER (abs(z) > 3.5), 0) AS BIGINT)
             AS n_outliers,
           (round(max(abs(z)) + 1e-9, 6) + 0.0) AS max_abs_z
    FROM fin GROUP BY event_type ORDER BY event_type
    """,
)
def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier audit per event type: exact median and MAD (median
    absolute deviation) of `value`, the modified z-score
    0.6745·(v−med)/MAD, and the count of |z| > 3.5 rows — the
    Iglewicz-Hodge screen that survives the heavy tails a mean/stddev
    z-score is wrecked by. BOTH medians are computed in VALUE SPACE:
    one aggregate reduces events to a (type, cents, cnt) table (pinned —
    it feeds the median, the MAD, and the final fold), and the type-7
    interpolated median falls out of cumulative counts over DISTINCT
    values ((a+b)/2 of the two middle ranks, exact on integer cents) —
    so windows and joins touch frames bounded by value cardinality,
    never row count, and the raw events are scanned exactly once
    however large the stream (the exact_percentiles strategy). A
    MAD = 0 type (>=50% identical values) short-circuits z to NULL /
    outliers to 0 identically on both engines."""
    e = t(spark, sf_dir, "events").select(
        "event_type", F.expr("CAST(round(value * 100) AS BIGINT)").alias("c")
    )
    vc = pin(e.groupBy("event_type", "c").agg(F.count(F.lit(1)).alias("cnt")))
    wv = (
        Window.partitionBy("event_type")
        .orderBy("c")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = Window.partitionBy("event_type")
    vw = vc.withColumn("cum", F.sum("cnt").over(wv)).withColumn(
        "n", F.sum("cnt").over(wn)
    )
    lo = F.expr("(n + 1) div 2")
    hi = F.expr("n div 2 + 1")
    med = vw.groupBy("event_type").agg(
        F.max("n").alias("n"),
        (
            (
                F.min(F.when(F.col("cum") >= lo, F.col("c"))).cast("double")
                + F.min(F.when(F.col("cum") >= hi, F.col("c")))
            )
            / 2.0
        ).alias("m"),
    )
    dv = vc.join(F.broadcast(med.select("event_type", "m")), "event_type").select(
        "event_type",
        F.abs(F.col("c").cast("double") - F.col("m")).alias("dval"),
        "cnt",
    )
    dvc = dv.groupBy("event_type", "dval").agg(
        F.sum("cnt").cast("long").alias("cnt")
    )
    wv2 = (
        Window.partitionBy("event_type")
        .orderBy("dval")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    dw = dvc.withColumn("cum", F.sum("cnt").over(wv2)).withColumn(
        "n", F.sum("cnt").over(wn)
    )
    mad = dw.groupBy("event_type").agg(
        (
            (
                F.min(F.when(F.col("cum") >= lo, F.col("dval")))
                + F.min(F.when(F.col("cum") >= hi, F.col("dval")))
            )
            / 2.0
        ).alias("mad")
    )
    fin = (
        vc.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .withColumn(
            "z",
            F.when(F.col("mad") == 0, F.lit(None).cast("double")).otherwise(
                F.lit(0.6745) * (F.col("c") - F.col("m")) / F.col("mad")
            ),
        )
    )
    return (
        fin.groupBy("event_type")
        .agg(
            F.max("n").cast("long").alias("n_events"),
            rz6(F.max("m") / 100.0).alias("median_value"),
            rz6(F.max("mad") / 100.0).alias("mad_value"),
            F.coalesce(
                F.sum(F.when(F.abs(F.col("z")) > 3.5, F.col("cnt"))), F.lit(0)
            )
            .cast("long")
            .alias("n_outliers"),
            rz6(F.max(F.abs(F.col("z")))).alias("max_abs_z"),
        )
        .orderBy("event_type")
    )


@query(
    "events_sprt_monitor",
    oracle="""
    WITH tday AS (
      SELECT CAST(ts AS DATE) AS day,
             count(*) AS n,
             count(*) FILTER (event_type = 'purchase') AS conv
      FROM events WHERE user_id % 2 = 1 GROUP BY 1),
    c AS (
      SELECT day,
             sum(n) OVER (ORDER BY day) AS cum_n,
             sum(conv) OVER (ORDER BY day) AS cum_conv
      FROM tday),
    l AS (
      SELECT day, cum_n, cum_conv,
             (round(cum_conv * ln(0.22 / 0.18)
                    + (cum_n - cum_conv) * ln(0.78 / 0.82)
                    + 1e-9, 6) + 0.0) AS llr
      FROM c)
    SELECT day,
           CAST(cum_n AS BIGINT) AS cum_trials,
           CAST(cum_conv AS BIGINT) AS cum_conversions,
           llr,
           CASE WHEN llr >= ln(19.0) THEN 'accept_h1'
                WHEN llr <= -ln(19.0) THEN 'accept_h0'
                ELSE 'continue' END AS verdict
    FROM l ORDER BY day
    """,
)
def events_sprt_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald sequential probability-ratio test over the treatment arm
    (user_id % 2 = 1): the running log-likelihood ratio of conversion
    rate p1 = 0.22 vs p0 = 0.18 (the pre-registered design), with the
    day the trajectory first crosses ln 19 / −ln 19 (α = β = 0.05) —
    the monitor that lets an experiment STOP EARLY instead of waiting
    for the fixed-horizon Welch/Mann-Whitney readouts this catalog
    already carries. One scan reduces the arm to day-level (n, conv)
    counts; the cumulative window runs over the DAY frame only
    (observation span, never event count), and the LLR is exact
    integer counts times two engine-identical ln constants, so the
    verdict column is deterministic cross-engine (the CASE compares
    the 1e-6-rounded llr)."""
    tday = (
        t(spark, sf_dir, "events")
        .where(F.col("user_id") % 2 == 1)
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("event_type") == "purchase", F.lit(1)).otherwise(
                    F.lit(0)
                )
            ).alias("conv"),
        )
    )
    wd = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    c = tday.select(
        "day",
        F.sum("n").over(wd).alias("cum_n"),
        F.sum("conv").over(wd).alias("cum_conv"),
    )
    llr = (
        F.round(
            F.col("cum_conv") * F.log(F.lit(0.22) / F.lit(0.18))
            + (F.col("cum_n") - F.col("cum_conv"))
            * F.log(F.lit(0.78) / F.lit(0.82))
            + F.lit(1e-9),
            6,
        )
        + F.lit(0.0)
    )
    thr = F.log(F.lit(19.0))
    out = c.withColumn("llr", llr)
    return (
        out.select(
            "day",
            F.col("cum_n").cast("long").alias("cum_trials"),
            F.col("cum_conv").cast("long").alias("cum_conversions"),
            "llr",
            F.when(F.col("llr") >= thr, F.lit("accept_h1"))
            .when(F.col("llr") <= -thr, F.lit("accept_h0"))
            .otherwise(F.lit("continue"))
            .alias("verdict"),
        )
        .orderBy("day")
    )


@query(
    "events_attribution_linear",
    oracle="""
    WITH p AS (
      SELECT event_id AS pid, user_id, ts AS pts
      FROM events
      WHERE event_type = 'purchase' AND value IS NOT NULL
        AND ts IS NOT NULL),
    tt AS (
      SELECT user_id, event_type, ts AS tts
      FROM events WHERE event_type <> 'purchase'),
    j AS (
      SELECT p.pid, tt.event_type
      FROM p JOIN tt ON p.user_id = tt.user_id
       AND tt.tts <= p.pts AND tt.tts > p.pts - INTERVAL 7 DAY),
    w AS (
      SELECT pid, event_type,
             count(*) OVER (PARTITION BY pid) AS n_touch
      FROM j)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_touches,
           CAST(count(DISTINCT pid) AS BIGINT) AS touched_purchases,
           (round(CAST(sum(CAST(round(1000000.0 / n_touch) AS BIGINT))
                       AS DOUBLE) / 1000000 + 1e-9, 6) + 0.0) AS credit
    FROM w GROUP BY event_type ORDER BY event_type
    """,
)
def events_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: every purchase distributes one
    unit of credit equally across the user's touch events (any
    non-purchase type) in the 7 days up to and including the purchase;
    the readout is credit / touch volume / purchases-reached per touch
    type — the budget-allocation table first/last-touch models bias and
    this one doesn't. Scale shape: the only big exchange co-locates
    both sides on user_id (purchases and touches of one user land
    together; the interval predicate prunes inside the join), the
    per-purchase touch count is a PURCHASE-KEYED window (frame bounded
    by one user's 7-day touch fan-in, never corpus-sized), and the
    credit fold is an event_type-keyed aggregate over the join output.
    Credit crosses engines as exact integer MICRO-UNITS (each 1/n term
    rounded to 1e-6 BEFORE the sum, summed as BIGINT — the welch
    trick): at large SFs a double sum of hundreds of thousands of 1/n
    terms accumulates error right at the 1e-6 rounding grid, where
    engine summation order could flip the digit. Purchase rows with a
    NULL value or NULL ts are excluded identically in BOTH engines
    (value never feeds the credit math, but the oracle filters it, so
    the Spark side must too — cross-engine symmetry over elegance)."""
    e = t(spark, sf_dir, "events")
    p = e.where(
        (F.col("event_type") == "purchase")
        & F.col("value").isNotNull()
        & F.col("ts").isNotNull()
    ).select(F.col("event_id").alias("pid"), "user_id", F.col("ts").alias("pts"))
    tt = e.where(F.col("event_type") != "purchase").select(
        "user_id", "event_type", F.col("ts").alias("tts")
    )
    j = p.join(
        tt,
        (p.user_id == tt.user_id)
        & (F.col("tts") <= F.col("pts"))
        & (F.col("tts") > F.col("pts") - F.expr("INTERVAL 7 DAYS")),
    ).select("pid", "event_type")
    w = j.withColumn("n_touch", F.count(F.lit(1)).over(Window.partitionBy("pid")))
    return (
        w.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_touches"),
            F.count_distinct(F.col("pid")).cast("long").alias("touched_purchases"),
            rz(
                F.sum(
                    F.expr("CAST(round(1000000.0 / n_touch) AS BIGINT)")
                ).cast("double")
                / 1000000,
                6,
            ).alias("credit"),
        )
        .orderBy("event_type")
    )


@query(
    "events_time_to_convert",
    oracle="""
    WITH fv AS (
      SELECT user_id, min(ts) AS fv
      FROM events WHERE event_type = 'view' GROUP BY user_id),
    fp AS (
      SELECT e.user_id, min(e.ts) AS fp
      FROM events e JOIN fv ON e.user_id = fv.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= fv.fv
      GROUP BY e.user_id),
    dur AS (
      SELECT CAST((epoch_us(fp.fp) - epoch_us(fv.fv)) // 60000000 AS BIGINT)
               AS m
      FROM fv JOIN fp ON fv.user_id = fp.user_id),
    vc AS (
      SELECT m, count(*) AS cnt FROM dur GROUP BY m),
    cum AS (
      SELECT m, sum(cnt) OVER (ORDER BY m) AS cum FROM vc),
    tot AS (
      SELECT CAST((SELECT count(*) FROM fv) AS BIGINT) AS n_viewers,
             CAST(count(*) AS BIGINT) AS n_converted,
             CAST(sum(m) AS BIGINT) AS sum_m
      FROM dur)
    SELECT n_viewers, n_converted,
           (round(CAST(n_converted AS DOUBLE) / nullif(n_viewers, 0)
                  + 1e-9, 6) + 0.0) AS conversion_rate,
           (SELECT min(m) FROM cum, tot
             WHERE cum >= (n_converted + 1) // 2) AS median_minutes,
           (SELECT min(m) FROM cum, tot
             WHERE cum >= (9 * n_converted + 9) // 10) AS p90_minutes,
           (round(CAST(sum_m AS DOUBLE) / nullif(n_converted, 0)
                  + 1e-9, 6) + 0.0) AS mean_minutes
    FROM tot
    """,
)
def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert funnel latency: minutes between each user's FIRST
    view and their first purchase at-or-after it, summarized as
    conversion rate, exact nearest-rank median and p90, and the exact
    mean — the latency table that decides remarketing windows. Scale
    shape: two user-keyed aggregates (first view, first qualifying
    purchase — co-partitioned join, no window over raw events), then
    all statistics come off the DISTINCT-MINUTE frame: the cumulative
    window orders the value space (bounded by the latency range in
    minutes), never user rows, and the nearest-rank picks
    (ceil(q*n) via integer (q*n + q') // d) are conditional mins — the
    same value-space percentile plan events_rolling_median and
    events_mad_outliers use. The mean divides two exact integers
    once."""
    e = t(spark, sf_dir, "events")
    fv = (
        e.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("fv"))
    )
    fp = (
        e.where(F.col("event_type") == "purchase")
        .join(fv, "user_id")
        .where(F.col("ts") >= F.col("fv"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("fp"))
    )
    dur = fv.join(fp, "user_id").select(
        F.expr("(unix_micros(fp) - unix_micros(fv)) div 60000000").alias("m")
    )
    # value-space frame: distinct minute values with cumulative counts
    dur = pin(dur)
    vc = dur.groupBy("m").agg(F.count(F.lit(1)).alias("cnt"))
    cum = vc.withColumn(
        "cum",
        F.sum("cnt").over(
            Window.orderBy("m").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    n_viewers = fv.agg(F.count(F.lit(1)).cast("long").alias("n_viewers"))
    tot = dur.agg(
        F.count(F.lit(1)).cast("long").alias("n_converted"),
        F.sum("m").cast("long").alias("sum_m"),
    )
    ranks = cum.crossJoin(F.broadcast(tot)).agg(
        F.min(
            F.when(
                F.col("cum") >= F.expr("(n_converted + 1) div 2"), F.col("m")
            )
        ).alias("median_minutes"),
        F.min(
            F.when(
                F.col("cum") >= F.expr("(9 * n_converted + 9) div 10"),
                F.col("m"),
            )
        ).alias("p90_minutes"),
    )
    return (
        tot.crossJoin(F.broadcast(n_viewers))
        .crossJoin(F.broadcast(ranks))
        .select(
            "n_viewers",
            "n_converted",
            rz(
                F.col("n_converted").cast("double")
                / F.nullif(F.col("n_viewers"), F.lit(0)),
                6,
            ).alias("conversion_rate"),
            "median_minutes",
            "p90_minutes",
            rz(
                F.col("sum_m").cast("double")
                / F.nullif(F.col("n_converted"), F.lit(0)),
                6,
            ).alias("mean_minutes"),
        )
    )


@query(
    "events_dow_seasonality",
    oracle="""
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
      FROM events GROUP BY 1, 2),
    dw AS (
      SELECT event_type,
             CAST(date_diff('day', DATE '1970-01-05', day) % 7 AS BIGINT)
               AS dow,
             CAST(sum(n) AS BIGINT) AS n_events,
             CAST(count(*) AS BIGINT) AS n_days
      FROM d GROUP BY 1, 2),
    tot AS (
      SELECT event_type,
             CAST(sum(n_events) AS BIGINT) AS tot_events,
             CAST(sum(n_days) AS BIGINT) AS tot_days
      FROM dw GROUP BY 1)
    SELECT dw.event_type AS event_type, dow, n_events, n_days,
           (round((CAST(n_events AS DOUBLE) / n_days)
                  / (CAST(tot_events AS DOUBLE) / tot_days) + 1e-9, 6) + 0.0)
             AS seasonal_index
    FROM dw JOIN tot ON dw.event_type = tot.event_type
    ORDER BY event_type, dow
    """,
)
def events_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal index per event type: (avg daily volume on
    this weekday) / (avg daily volume overall) — the profile that
    separates weekday-peaking business metrics from flat system noise,
    and the denominator the CUSUM/trend monitors need to de-season
    their inputs. dow is computed as days-since-a-known-Monday mod 7
    (0=Monday) so both engines agree without locale-dependent weekday
    functions. Scale shape: ONE events scan reduces to the
    (type, day) frame; the weekday and total aggregates are two
    branches off that pinned day-granular frame (types × days rows,
    never event-sized), and the index is one division per output
    row."""
    e = t(spark, sf_dir, "events")
    d = pin(
        e.groupBy(
            "event_type", F.col("ts").cast("date").alias("day")
        ).agg(F.count(F.lit(1)).alias("n"))
    )
    dw = d.groupBy(
        "event_type",
        (F.datediff(F.col("day"), F.lit("1970-01-05")) % 7)
        .cast("long")
        .alias("dow"),
    ).agg(
        F.sum("n").cast("long").alias("n_events"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
    )
    tot = dw.groupBy("event_type").agg(
        F.sum("n_events").cast("long").alias("tot_events"),
        F.sum("n_days").cast("long").alias("tot_days"),
    )
    return (
        dw.join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            "dow",
            "n_events",
            "n_days",
            rz(
                (F.col("n_events").cast("double") / F.col("n_days"))
                / (F.col("tot_events").cast("double") / F.col("tot_days")),
                6,
            ).alias("seasonal_index"),
        )
        .orderBy("event_type", "dow")
    )


@query(
    "events_srm_check",
    oracle="""
    WITH u AS (
      SELECT DISTINCT user_id FROM events),
    arms AS (
      SELECT CAST(count(*) FILTER (user_id % 2 = 0) AS BIGINT) AS n_users_a,
             CAST(count(*) FILTER (user_id % 2 = 1) AS BIGINT) AS n_users_b
      FROM u)
    SELECT n_users_a, n_users_b,
           (round(CAST((n_users_a - n_users_b) * (n_users_a - n_users_b)
                       AS DOUBLE)
                  / nullif(n_users_a + n_users_b, 0) + 1e-9, 6) + 0.0)
             AS chi2,
           CASE WHEN CAST((n_users_a - n_users_b) * (n_users_a - n_users_b)
                          AS DOUBLE)
                     / nullif(n_users_a + n_users_b, 0) > 3.841459
                THEN 'srm_detected' ELSE 'ok' END AS verdict
    FROM arms
    """,
)
def events_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail for the user_id-parity experiment
    split the Welch / Mann-Whitney / SPRT readouts in this catalog all
    assume: a chi-squared test that the USER (not event) counts per arm
    match the designed 50/50 — for two equal-expectation cells the
    statistic collapses to (a−b)²/(a+b), exact integers divided once,
    compared against the 0.05 critical value 3.841. A failed SRM check
    invalidates every downstream treatment-effect number, which is why
    it runs first in any experiment-health pipeline. Scale shape: one
    distinct-users aggregate (partial dedup map-side) feeding a 1-row
    arithmetic projection."""
    u = t(spark, sf_dir, "events").select("user_id").distinct()
    arms = u.agg(
        F.sum(F.when(F.col("user_id") % 2 == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_users_a"),
        F.sum(F.when(F.col("user_id") % 2 == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_users_b"),
    )
    diff2 = (
        (F.col("n_users_a") - F.col("n_users_b"))
        * (F.col("n_users_a") - F.col("n_users_b"))
    ).cast("double")
    chi2 = diff2 / F.nullif(
        F.col("n_users_a") + F.col("n_users_b"), F.lit(0)
    )
    return arms.select(
        "n_users_a",
        "n_users_b",
        rz(chi2, 6).alias("chi2"),
        F.when(chi2 > 3.841459, F.lit("srm_detected"))
        .otherwise(F.lit("ok"))
        .alias("verdict"),
    )


@query(
    "events_cohort_ltv",
    oracle="""
    WITH f AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS fday
      FROM events GROUP BY user_id),
    coh AS (
      SELECT user_id,
             fday - (CAST(date_diff('day', DATE '1970-01-05', fday) % 7
                          AS INTEGER)) AS cohort_week
      FROM f),
    sz AS (
      SELECT cohort_week, CAST(count(*) AS BIGINT) AS n_users
      FROM coh GROUP BY cohort_week),
    p AS (
      SELECT c.cohort_week,
             CAST(date_diff('day', c.cohort_week, CAST(e.ts AS DATE)) // 7
                  AS BIGINT) AS week_offset,
             CAST(round(e.value * 100) AS BIGINT) AS cents
      FROM events e JOIN coh c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase'),
    rev AS (
      SELECT cohort_week, week_offset,
             CAST(sum(cents) AS BIGINT) AS revenue_cents
      FROM p GROUP BY cohort_week, week_offset),
    cum AS (
      SELECT cohort_week, week_offset, revenue_cents,
             CAST(sum(revenue_cents) OVER (
               PARTITION BY cohort_week ORDER BY week_offset) AS BIGINT)
               AS cum_revenue_cents
      FROM rev)
    SELECT cum.cohort_week AS cohort_week, week_offset, n_users,
           revenue_cents, cum_revenue_cents,
           (round(CAST(cum_revenue_cents AS DOUBLE) / 100.0 / n_users
                  + 1e-9, 6) + 0.0) AS ltv_per_user
    FROM cum JOIN sz ON cum.cohort_week = sz.cohort_week
    ORDER BY cohort_week, week_offset
    """,
)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly-cohort lifetime value: users are cohorted by the Monday of
    their FIRST event, purchase revenue accumulates per (cohort,
    weeks-since-start), and LTV per user is the cumulative revenue over
    the cohort's size — the retention-economics curve (how much a
    week-N-old user has been worth so far) that prices acquisition.
    Revenue crosses engines as exact integer CENTS (round(value·100)
    summed as BIGINT), the cohort Monday is days-since-a-known-Monday
    arithmetic (locale-free), and the cumulative window is PARTITIONED
    BY cohort over the week-offset frame — cohorts × weeks rows, never
    event-sized. Scale shape: one user-keyed first-day aggregate, one
    user-co-located join to purchases, then everything is
    cohort-table-sized."""
    e = t(spark, sf_dir, "events")
    f = e.groupBy("user_id").agg(F.min(F.col("ts").cast("date")).alias("fday"))
    coh = f.select(
        "user_id",
        F.date_sub(
            F.col("fday"),
            (F.datediff(F.col("fday"), F.lit("1970-01-05")) % 7).cast("int"),
        ).alias("cohort_week"),
    )
    sz = coh.groupBy("cohort_week").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )
    p = (
        e.where(F.col("event_type") == "purchase")
        .join(coh, "user_id")
        .select(
            "cohort_week",
            F.expr(
                "CAST(datediff(CAST(ts AS DATE), cohort_week) div 7 AS BIGINT)"
            ).alias("week_offset"),
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        )
    )
    rev = p.groupBy("cohort_week", "week_offset").agg(
        F.sum("cents").cast("long").alias("revenue_cents")
    )
    wc = (
        Window.partitionBy("cohort_week")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = rev.withColumn(
        "cum_revenue_cents", F.sum("revenue_cents").over(wc).cast("long")
    )
    return (
        cum.join(sz, "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "n_users",
            "revenue_cents",
            "cum_revenue_cents",
            rz(
                F.col("cum_revenue_cents").cast("double")
                / 100.0
                / F.col("n_users"),
                6,
            ).alias("ltv_per_user"),
        )
        .orderBy("cohort_week", "week_offset")
    )


@query(
    "events_power_mde",
    oracle="""
    WITH u AS (
      SELECT user_id,
             CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS conv
      FROM events GROUP BY user_id),
    arms AS (
      SELECT CAST(count(*) FILTER (user_id % 2 = 0) AS BIGINT) AS n_a,
             CAST(count(*) FILTER (user_id % 2 = 1) AS BIGINT) AS n_b,
             CAST(sum(conv) AS BIGINT) AS n_conv,
             CAST(count(*) AS BIGINT) AS n
      FROM u),
    c AS (
      SELECT n_a, n_b, n_conv,
             CAST(n_conv AS DOUBLE) / nullif(n, 0) AS p,
             least(n_a, n_b) AS n_min
      FROM arms)
    SELECT n_a AS n_users_a, n_b AS n_users_b, n_conv AS n_conv_users,
           (round(p + 1e-9, 6) + 0.0) AS pooled_rate,
           (round((1.959964 + 0.841621)
                  * sqrt(2.0 * p * (1.0 - p) / nullif(n_min, 0))
                  + 1e-9, 6) + 0.0) AS mde_abs,
           (round((1.959964 + 0.841621)
                  * sqrt(2.0 * p * (1.0 - p) / nullif(n_min, 0))
                  / nullif(p, 0) + 1e-9, 6) + 0.0) AS mde_rel
    FROM c
    """,
)
def events_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum detectable effect at the CURRENT sample size — the
    experiment-design readout that answers "is it worth peeking yet":
    with per-arm user counts n and pooled conversion rate p, the
    smallest absolute lift a two-sided α=0.05 test detects with 80%
    power is (z_{0.975}+z_{0.8})·√(2p(1−p)/n_min) (the standard
    two-proportion approximation, conservative via the smaller arm).
    Completes the experiment-health family: SRM validates the split,
    this sizes the wait, Welch/Mann-Whitney/SPRT read the effect. One
    distinct-user aggregate (user grain, purchase flag via max), then
    1-row arithmetic of exact integers and two z constants."""
    u = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            .cast("long")
            .alias("conv")
        )
    )
    arms = u.agg(
        F.sum(F.when(F.col("user_id") % 2 == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("user_id") % 2 == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
        F.sum("conv").cast("long").alias("n_conv"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    p = F.col("n_conv").cast("double") / F.nullif(F.col("n"), F.lit(0))
    n_min = F.least(F.col("n_a"), F.col("n_b"))
    mde = (F.lit(1.959964) + F.lit(0.841621)) * F.sqrt(
        F.lit(2.0) * p * (F.lit(1.0) - p) / F.nullif(n_min, F.lit(0))
    )
    return arms.select(
        F.col("n_a").alias("n_users_a"),
        F.col("n_b").alias("n_users_b"),
        F.col("n_conv").alias("n_conv_users"),
        rz(p, 6).alias("pooled_rate"),
        rz(mde, 6).alias("mde_abs"),
        rz(mde / F.nullif(p, F.lit(0.0)), 6).alias("mde_rel"),
    )


@query(
    "events_anomaly_seasonal",
    oracle="""
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
      FROM events GROUP BY 1, 2),
    dw AS (
      SELECT event_type, day, n,
             CAST(date_diff('day', DATE '1970-01-05', day) % 7 AS BIGINT)
               AS dow
      FROM d),
    base AS (
      SELECT event_type, dow,
             CAST(sum(n) AS BIGINT) AS tot,
             CAST(count(*) AS BIGINT) AS n_days,
             sum(CAST(n AS DOUBLE) * n) AS tot2
      FROM dw GROUP BY 1, 2),
    z AS (
      SELECT dw.event_type AS event_type, day, n,
             CAST(tot AS DOUBLE) / n_days AS mu,
             sqrt(greatest(tot2 / n_days
                           - (CAST(tot AS DOUBLE) / n_days)
                             * (CAST(tot AS DOUBLE) / n_days), 0.0)) AS sd
      FROM dw JOIN base ON dw.event_type = base.event_type
                       AND dw.dow = base.dow
      WHERE n_days >= 3),
    fl AS (
      SELECT event_type, day, n,
             (round((n - mu) / nullif(sd, 0) + 1e-9, 6) + 0.0) AS z
      FROM z)
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_days_scored,
           CAST(count(*) FILTER (abs(z) > 3.0) AS BIGINT) AS n_anomalous,
           (round(max(abs(z)) + 1e-9, 6) + 0.0) AS max_abs_z
    FROM fl GROUP BY event_type ORDER BY event_type
    """,
)
def events_anomaly_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonally-adjusted anomaly screen: each (type, day) volume is
    z-scored against the SAME-WEEKDAY baseline (mean/σ over that type's
    other same-dow days), so a quiet Sunday never false-alarms against
    a Monday-heavy mean — the deseasoned complement to the raw MAD/
    CUSUM monitors this catalog carries. Weekday moments come from
    exact integer sums (Σn, Σn², day counts) over the pinned day frame;
    dow groups with fewer than 3 observed days are excluded identically
    in both engines (a 1-2 day baseline has no meaningful σ), and σ=0
    days null out via nullif rather than dividing by zero. Scale
    shape: ONE events scan to the (type, day) frame; everything after
    is types×7-bounded aggregates and one frame-sized join."""
    e = t(spark, sf_dir, "events")
    d = pin(
        e.groupBy(
            "event_type", F.col("ts").cast("date").alias("day")
        ).agg(F.count(F.lit(1)).alias("n"))
    )
    dw = d.select(
        "event_type",
        "day",
        "n",
        (F.datediff(F.col("day"), F.lit("1970-01-05")) % 7)
        .cast("long")
        .alias("dow"),
    )
    base = dw.groupBy("event_type", "dow").agg(
        F.sum("n").cast("long").alias("tot"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
        # n^2 wraps int64 past ~3.04e9 events/day/type while DuckDB
        # promotes to HUGEINT (the dq_join_key_skew class); accumulate
        # in double — terms integer-exact below 2^53
        F.sum(F.col("n").cast("double") * F.col("n")).alias("tot2"),
    )
    mu = F.col("tot").cast("double") / F.col("n_days")
    sd = F.sqrt(
        F.greatest(
            F.col("tot2") / F.col("n_days") - mu * mu,
            F.lit(0.0),
        )
    )
    z = (
        dw.join(F.broadcast(base), ["event_type", "dow"])
        .where(F.col("n_days") >= 3)
        .select(
            "event_type",
            "day",
            rz((F.col("n") - mu) / F.nullif(sd, F.lit(0.0)), 6).alias("z"),
        )
    )
    return (
        z.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days_scored"),
            F.sum(F.when(F.abs(F.col("z")) > 3.0, 1).otherwise(0))
            .cast("long")
            .alias("n_anomalous"),
            rz(F.max(F.abs(F.col("z"))), 6).alias("max_abs_z"),
        )
        .orderBy("event_type")
    )


@query(
    "events_dau_wau_mau",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    spine AS (SELECT DISTINCT day FROM ud),
    dau AS (
      SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY day),
    w AS (
      SELECT s.day, CAST(count(DISTINCT u.user_id) AS BIGINT) AS wau
      FROM spine s JOIN ud u
        ON u.day <= s.day AND u.day > s.day - 7
      GROUP BY s.day),
    m AS (
      SELECT s.day, CAST(count(DISTINCT u.user_id) AS BIGINT) AS mau
      FROM spine s JOIN ud u
        ON u.day <= s.day AND u.day > s.day - 30
      GROUP BY s.day)
    SELECT dau.day AS day, dau, wau, mau,
           (round(CAST(dau AS DOUBLE) / wau + 1e-9, 6) + 0.0)
             AS dau_over_wau,
           (round(CAST(dau AS DOUBLE) / mau + 1e-9, 6) + 0.0)
             AS dau_over_mau
    FROM dau JOIN w ON dau.day = w.day JOIN m ON dau.day = m.day
    ORDER BY day
    """,
)
def events_dau_wau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU / trailing-30-day MAU per day with the
    DAU/WAU and DAU/MAU stickiness ratios — the canonical engagement
    dashboard. Everything runs on the deduplicated USER-DAY frame (one
    distinct off the event scan — the only event-sized exchange): the
    trailing windows are an explode of each user-day into the ≤7/≤30
    spine days it supports, then exact distinct counts per day, so no
    sliding distinct-window state and no events rescans. At open-web
    scale the exact explode swaps for per-day HLL sketch partials
    (streaming/rollup.py's HLL sink) unioned over each trailing window;
    the exact form here is the oracle-checkable truth both share. WAU/MAU
    are ≥ DAU ≥ 1 on every spine day, so the ratios never divide by
    zero."""
    e = t(spark, sf_dir, "events")
    ud = pin(
        e.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    )
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).cast("long").alias("dau"))

    def trailing(n: int, alias: str) -> DataFrame:
        # explode each user-day forward onto the spine days it supports
        ex = ud.select(
            "user_id",
            F.explode(
                F.expr(f"sequence(day, date_add(day, {n - 1}))")
            ).alias("sday"),
        )
        return (
            ex.join(dau.select(F.col("day").alias("sday")), "sday")
            .groupBy("sday")
            .agg(F.count_distinct("user_id").cast("long").alias(alias))
            .withColumnRenamed("sday", "day")
        )

    w, m = trailing(7, "wau"), trailing(30, "mau")
    return (
        dau.join(w, "day")
        .join(m, "day")
        .select(
            "day",
            "dau",
            "wau",
            "mau",
            rz(F.col("dau").cast("double") / F.col("wau"), 6).alias(
                "dau_over_wau"
            ),
            rz(F.col("dau").cast("double") / F.col("mau"), 6).alias(
                "dau_over_mau"
            ),
        )
        .orderBy("day")
    )


@query(
    "events_funnel_step_timing",
    oracle="""
    WITH f AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events GROUP BY user_id),
    d AS (
      SELECT 'view_to_click' AS step,
             CAST((epoch_us(t_click) - epoch_us(t_view)) // 60000000
                  AS BIGINT) AS m
      FROM f WHERE t_view IS NOT NULL AND t_click >= t_view
      UNION ALL
      SELECT 'click_to_purchase',
             CAST((epoch_us(t_purchase) - epoch_us(t_click)) // 60000000
                  AS BIGINT)
      FROM f WHERE t_click IS NOT NULL AND t_purchase >= t_click),
    vc AS (SELECT step, m, count(*) AS cnt FROM d GROUP BY step, m),
    cum AS (
      SELECT step, m,
             sum(cnt) OVER (PARTITION BY step ORDER BY m) AS cum
      FROM vc),
    tot AS (
      SELECT step, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(m) AS BIGINT) AS sum_m
      FROM d GROUP BY step)
    SELECT tot.step AS step, n,
           (SELECT min(m) FROM cum
             WHERE cum.step = tot.step AND cum >= (n + 1) // 2)
             AS median_minutes,
           (SELECT min(m) FROM cum
             WHERE cum.step = tot.step AND cum >= (9 * n + 9) // 10)
             AS p90_minutes,
           (round(CAST(sum_m AS DOUBLE) / nullif(n, 0) + 1e-9, 6) + 0.0)
             AS mean_minutes
    FROM tot ORDER BY step
    """,
)
def events_funnel_step_timing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-step funnel latency: minutes between each user's first view →
    first subsequent click and first click → first subsequent purchase,
    with exact nearest-rank median/p90 and the exact mean per step —
    the step-level complement to events_time_to_convert (which only
    measures the whole funnel) and the timing twin of events_funnel
    (which only counts). One user-keyed aggregate produces all three
    first-touch timestamps in a single pass (conditional mins), then
    every statistic comes off the per-step DISTINCT-MINUTE cumulative
    frame — step-partitioned value-space windows, never user rows."""
    e = t(spark, sf_dir, "events")
    f = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_purchase"
        ),
    )
    vc_step = f.where(
        F.col("t_view").isNotNull() & (F.col("t_click") >= F.col("t_view"))
    ).select(
        F.lit("view_to_click").alias("step"),
        F.expr("(unix_micros(t_click) - unix_micros(t_view)) div 60000000").alias("m"),
    )
    cp_step = f.where(
        F.col("t_click").isNotNull()
        & (F.col("t_purchase") >= F.col("t_click"))
    ).select(
        F.lit("click_to_purchase").alias("step"),
        F.expr(
            "(unix_micros(t_purchase) - unix_micros(t_click)) div 60000000"
        ).alias("m"),
    )
    d = pin(vc_step.unionByName(cp_step))
    vc = d.groupBy("step", "m").agg(F.count(F.lit(1)).alias("cnt"))
    cum = vc.withColumn(
        "cum",
        F.sum("cnt").over(
            Window.partitionBy("step")
            .orderBy("m")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    tot = d.groupBy("step").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("m").cast("long").alias("sum_m"),
    )
    ranks = (
        cum.join(F.broadcast(tot), "step")
        .groupBy("step")
        .agg(
            F.min(
                F.when(F.col("cum") >= F.expr("(n + 1) div 2"), F.col("m"))
            ).alias("median_minutes"),
            F.min(
                F.when(F.col("cum") >= F.expr("(9 * n + 9) div 10"), F.col("m"))
            ).alias("p90_minutes"),
        )
    )
    return (
        tot.join(ranks, "step")
        .select(
            "step",
            "n",
            "median_minutes",
            "p90_minutes",
            rz(
                F.col("sum_m").cast("double") / F.nullif(F.col("n"), F.lit(0)),
                6,
            ).alias("mean_minutes"),
        )
        .orderBy("step")
    )


@query(
    "events_attribution_first_touch",
    oracle="""
    WITH p AS (
      SELECT event_id AS pid, user_id, ts AS pts
      FROM events WHERE event_type = 'purchase'),
    tt AS (
      SELECT user_id, event_type, ts AS tts
      FROM events WHERE event_type <> 'purchase'),
    j AS (
      SELECT p.pid, tt.event_type, tt.tts
      FROM p JOIN tt ON p.user_id = tt.user_id
       AND tt.tts <= p.pts AND tt.tts > p.pts - INTERVAL 7 DAY),
    w AS (
      SELECT pid, event_type,
             row_number() OVER (PARTITION BY pid
                                ORDER BY tts, event_type) AS rk
      FROM j)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS first_touch_purchases
    FROM w WHERE rk = 1
    GROUP BY event_type ORDER BY event_type
    """,
)
def events_attribution_first_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution: each purchase credits the EARLIEST touch
    in its 7-day lookback (deterministic (ts, event_type) tie-break) —
    the discovery-channel readout, read AGAINST the linear model
    (events_attribution_linear): a type that wins first-touch but loses
    linear credit acquires users that other channels then have to
    re-convince. Same user-co-located interval join as the linear
    model; the winner pick is a purchase-keyed row_number (frame
    bounded by one user's 7-day touch fan-in), then one
    event_type-keyed count."""
    e = t(spark, sf_dir, "events")
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"), "user_id", F.col("ts").alias("pts")
    )
    tt = e.where(F.col("event_type") != "purchase").select(
        "user_id", "event_type", F.col("ts").alias("tts")
    )
    j = p.join(
        tt,
        (p.user_id == tt.user_id)
        & (F.col("tts") <= F.col("pts"))
        & (F.col("tts") > F.col("pts") - F.expr("INTERVAL 7 DAYS")),
    ).select("pid", "event_type", "tts")
    w = j.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("pid").orderBy("tts", "event_type")
        ),
    )
    return (
        w.where(F.col("rk") == 1)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("first_touch_purchases"))
        .orderBy("event_type")
    )


@query(
    "events_error_budget_burn",
    oracle="""
    WITH h AS (
      SELECT date_trunc('hour', ts) AS hour,
             CAST(count(*) AS BIGINT) AS n,
             CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS errs
      FROM events GROUP BY 1),
    b AS (
      SELECT hour, n, errs,
             (CAST(errs AS DOUBLE) / n) / 0.01 AS burn
      FROM h)
    SELECT CAST(count(*) AS BIGINT) AS n_hours,
           CAST(sum(errs) AS BIGINT) AS total_errors,
           (round(CAST(sum(errs) AS DOUBLE) / sum(n) / 0.01 + 1e-9, 6)
             + 0.0) AS overall_burn_rate,
           CAST(count(*) FILTER (burn > 14.4) AS BIGINT) AS hours_fast_burn,
           CAST(count(*) FILTER (burn > 6.0) AS BIGINT) AS hours_slow_burn,
           (round(max(burn) + 1e-9, 6) + 0.0) AS max_hourly_burn
    FROM b
    """,
)
def events_error_budget_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLO error-budget burn report against a 1% error-rate objective:
    overall burn rate (observed error share over the budget), hours
    above the standard fast-burn (14.4×, pages immediately) and
    slow-burn (6×, ticket) multiwindow thresholds, and the worst hour —
    the SRE readout that decides whether an error spike pages or waits
    for business hours. Every hourly rate is a division of exact
    integer counts off ONE scan to the hour frame; the thresholds
    compare unrounded burn identically in both engines (integer-count
    divisions are bit-identical), and the summary is a 1-row fold of
    the hour-bounded frame."""
    e = t(spark, sf_dir, "events")
    h = e.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("long")
        .alias("errs"),
    )
    burn = (F.col("errs").cast("double") / F.col("n")) / F.lit(0.01)
    b = h.select("n", "errs", burn.alias("burn"))
    return b.agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.sum("errs").cast("long").alias("total_errors"),
        rz(
            F.sum("errs").cast("double") / F.sum("n") / F.lit(0.01), 6
        ).alias("overall_burn_rate"),
        F.sum(F.when(F.col("burn") > 14.4, 1).otherwise(0))
        .cast("long")
        .alias("hours_fast_burn"),
        F.sum(F.when(F.col("burn") > 6.0, 1).otherwise(0))
        .cast("long")
        .alias("hours_slow_burn"),
        rz(F.max("burn"), 6).alias("max_hourly_burn"),
    )


@query(
    "events_cart_abandonment",
    oracle="""
    WITH c AS (
      SELECT user_id, CAST(ts AS DATE) AS day, max(ts) AS last_click
      FROM events WHERE event_type = 'click' GROUP BY 1, 2),
    p AS (
      SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
    conv AS (
      SELECT c.user_id, c.day,
             CAST(max(CASE WHEN p.ts >= c.last_click
                            AND p.ts < c.last_click + INTERVAL 24 HOUR
                           THEN 1 ELSE 0 END) AS BIGINT) AS converted
      FROM c LEFT JOIN p ON c.user_id = p.user_id
      GROUP BY c.user_id, c.day)
    SELECT day,
           CAST(count(*) AS BIGINT) AS n_clickers,
           CAST(sum(1 - converted) AS BIGINT) AS n_abandoned,
           (round(CAST(sum(1 - converted) AS DOUBLE) / count(*) + 1e-9, 6)
             + 0.0) AS abandonment_rate
    FROM conv GROUP BY day ORDER BY day
    """,
)
def events_cart_abandonment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cart-abandonment rate per day: a user-day with clicks counts as
    abandoned unless a purchase lands within 24 hours of that day's
    LAST click — the remarketing trigger table (abandoners are the
    retargeting audience; the daily rate is the funnel-health metric).
    Scale shape: the click side reduces to the user-day frame first
    (one aggregate), the purchase join is user-co-located with the
    interval predicate pruning inside, and the verdict is a
    user-day-keyed max — no event-grain window anywhere."""
    e = t(spark, sf_dir, "events")
    c = (
        e.where(F.col("event_type") == "click")
        .groupBy("user_id", F.col("ts").cast("date").alias("day"))
        .agg(F.max("ts").alias("last_click"))
    )
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_uid"), F.col("ts").alias("pts")
    )
    conv = (
        c.join(p, c.user_id == F.col("p_uid"), "left")
        .groupBy("user_id", "day")
        .agg(
            F.max(
                F.when(
                    (F.col("pts") >= F.col("last_click"))
                    & (
                        F.col("pts")
                        < F.col("last_click") + F.expr("INTERVAL 24 HOURS")
                    ),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("converted")
        )
    )
    return (
        conv.groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clickers"),
            F.sum(1 - F.col("converted")).cast("long").alias("n_abandoned"),
            rz(
                F.sum(1 - F.col("converted")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("abandonment_rate"),
        )
        .orderBy("day")
    )


@query(
    "dq_event_duplication",
    oracle="""
    WITH g AS (
      SELECT user_id, event_type, ts, count(*) AS c
      FROM events GROUP BY user_id, event_type, ts),
    d AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(sum(c) AS BIGINT) AS n_events,
             CAST(sum(c - 1) AS BIGINT) AS n_dup_rows,
             CAST(max(c) AS BIGINT) AS worst_multiplicity
      FROM g GROUP BY 1)
    SELECT day, n_events, n_dup_rows,
           (round(CAST(n_dup_rows AS DOUBLE) / n_events + 1e-9, 6) + 0.0)
             AS dup_rate,
           worst_multiplicity
    FROM d WHERE n_dup_rows > 0 ORDER BY day
    """,
)
def dq_event_duplication(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-duplication audit: events identical on the natural key
    (user, type, timestamp) beyond the first are replays — the
    at-least-once-delivery artifact every event pipeline must measure
    before trusting counts. Per day: total events, excess duplicate
    rows, the dup rate, and the worst single multiplicity (a
    multiplicity spike pinpoints a replayed batch; a broad low rate
    points at producer retries). Days with zero dups are omitted (the
    audit reports FINDINGS — all-clean corpora return an empty frame,
    identically in both engines). One natural-key aggregate (map-side
    partials collapse clean keys to one row each), then a day-keyed
    fold."""
    e = t(spark, sf_dir, "events")
    g = e.groupBy("user_id", "event_type", "ts").agg(
        F.count(F.lit(1)).alias("c")
    )
    d = g.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum("c").cast("long").alias("n_events"),
        F.sum(F.col("c") - 1).cast("long").alias("n_dup_rows"),
        F.max("c").cast("long").alias("worst_multiplicity"),
    )
    return (
        d.where(F.col("n_dup_rows") > 0)
        .select(
            "day",
            "n_events",
            "n_dup_rows",
            rz(
                F.col("n_dup_rows").cast("double") / F.col("n_events"), 6
            ).alias("dup_rate"),
            "worst_multiplicity",
        )
        .orderBy("day")
    )


@query(
    "events_new_vs_returning",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    f AS (
      SELECT user_id, min(day) AS first_day FROM ud GROUP BY user_id),
    lab AS (
      SELECT ud.day,
             CASE WHEN ud.day = f.first_day THEN 1 ELSE 0 END AS is_new
      FROM ud JOIN f ON ud.user_id = f.user_id)
    SELECT day,
           CAST(count(*) AS BIGINT) AS active_users,
           CAST(sum(is_new) AS BIGINT) AS new_users,
           CAST(count(*) - sum(is_new) AS BIGINT) AS returning_users,
           (round(CAST(sum(is_new) AS DOUBLE) / count(*) + 1e-9, 6) + 0.0)
             AS new_share
    FROM lab GROUP BY day ORDER BY day
    """,
)
def events_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting: each active day's users split into NEW (their
    first-ever day) vs RETURNING, with the new-user share — the
    acquisition-vs-retention decomposition read next to DAU/WAU/MAU
    (flat DAU can hide healthy acquisition masking churn, or the
    reverse; this table tells them apart). Scale shape: everything runs
    on the deduplicated user-day frame — one distinct off the event
    scan, one user-keyed min for the first day, one user-co-located
    join back, one day-keyed fold. No window over raw events
    anywhere."""
    e = t(spark, sf_dir, "events")
    ud = pin(
        e.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    )
    f = ud.groupBy("user_id").agg(F.min("day").alias("first_day"))
    lab = ud.join(f, "user_id").select(
        "day",
        F.when(F.col("day") == F.col("first_day"), 1).otherwise(0).alias("is_new"),
    )
    return (
        lab.groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("active_users"),
            F.sum("is_new").cast("long").alias("new_users"),
            (F.count(F.lit(1)) - F.sum("is_new")).cast("long").alias(
                "returning_users"
            ),
            rz6(
                F.sum("is_new").cast("double") / F.count(F.lit(1))
            ).alias("new_share"),
        )
        .orderBy("day")
    )


@query(
    "events_bot_detection",
    oracle="""
    WITH o AS (
      SELECT user_id, event_type, epoch_us(ts) AS us,
             lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev
      FROM events),
    u AS (
      SELECT user_id,
             count(*) AS n_events,
             count(DISTINCT event_type) AS n_types,
             count(DISTINCT us // 3600000000) AS n_hours,
             count(prev) AS n_gaps,
             sum(us - prev) AS gap_sum,
             sum(CAST(us - prev AS DOUBLE) * (us - prev)) AS gap_sq
      FROM o GROUP BY user_id
      HAVING count(prev) >= 5 AND sum(us - prev) > 0),
    s AS (
      SELECT user_id, n_events, n_types,
             CAST(gap_sum AS DOUBLE) / n_gaps AS mean_gap,
             sqrt(greatest(gap_sq / n_gaps
                   - (CAST(gap_sum AS DOUBLE) / n_gaps)
                     * (CAST(gap_sum AS DOUBLE) / n_gaps), 0.0))
               / nullif(CAST(gap_sum AS DOUBLE) / n_gaps, 0.0) AS cv,
             CAST(n_events AS DOUBLE) / n_hours AS rate
      FROM u)
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(n_events AS BIGINT) AS n_events,
           CAST(n_types AS BIGINT) AS n_types,
           (round(mean_gap / 1000000.0 + 1e-9, 3) + 0.0) AS mean_gap_s,
           (round(cv + 1e-9, 6) + 0.0) AS gap_cv,
           (round(rate + 1e-9, 4) + 0.0) AS events_per_active_hour,
           (cv < 0.3 AND n_events >= 30) AS is_bot
    FROM s ORDER BY cv, user_id LIMIT 20
    """,
)
def events_bot_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral bot audit: the 20 most machine-regular users by the
    coefficient of variation of their inter-event gaps — humans arrive
    with bursty, high-variance gaps (CV ≈ 1 for a Poisson process, more
    for sessions); a scripted client fires on a timer and its CV
    collapses toward 0. Each user also carries event count, distinct
    event types (scripts are usually monotypic), and events per ACTIVE
    hour; the flag is CV < 0.3 with ≥ 30 events. This is the standard
    pre-training traffic-hygiene gate: bot users distort every
    engagement metric downstream, so this audit runs before DAU/funnel/
    A/B reads.

    Scale shape: one event scan, one user-partitioned lag window
    (partition count = user count — never a global window), then a
    user-grain fold of EXACT integer-µs gap moments; the quadratic
    moment Σgap² is accumulated in DOUBLE in both engines (a µs gap
    squares to ~1e20, past int64 — the dq_join_key_skew overflow
    class), with each term exact below 2^53. CV/rate are deterministic
    expressions of those moments; the top-20 cut is a TakeOrdered over
    user-grain rows, ordered by raw CV (bit-identical both engines)
    with user_id tie-break. Users with < 6 events are excluded (a CV
    of 2 gaps is noise, and both engines drop them identically)."""
    us = F.unix_micros(F.col("ts"))
    o = t(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", us.alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    o = o.withColumn("prev", F.lag("us").over(w))
    gap = F.col("us") - F.col("prev")
    u = (
        o.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("event_type").alias("n_types"),
            F.countDistinct(
                (F.col("us") / F.lit(3600000000)).cast("long")
            ).alias("n_hours"),
            F.count("prev").alias("n_gaps"),
            F.sum(gap).alias("gap_sum"),
            F.sum(gap.cast("double") * gap).alias("gap_sq"),
        )
        # gap_sum = 0 means every event shares one microsecond: CV is
        # undefined (NULL), and a NULL sort key diverges cross-engine
        # (Spark asc = NULLS FIRST, DuckDB = NULLS LAST). Such a user is
        # the replay-audit's finding (dq_event_duplication), not a
        # rhythm — excluded identically in both engines.
        .where((F.col("n_gaps") >= 5) & (F.col("gap_sum") > 0))
    )
    mean_gap = F.col("gap_sum").cast("double") / F.col("n_gaps")
    cv = F.sqrt(
        F.greatest(
            F.col("gap_sq") / F.col("n_gaps") - mean_gap * mean_gap,
            F.lit(0.0),
        )
    ) / F.nullif(mean_gap, F.lit(0.0))
    return (
        u.select(
            F.col("user_id").cast("long").alias("user_id"),
            F.col("n_events").cast("long").alias("n_events"),
            F.col("n_types").cast("long").alias("n_types"),
            rz(mean_gap / 1e6, 3).alias("mean_gap_s"),
            rz6(cv).alias("gap_cv"),
            rz(F.col("n_events").cast("double") / F.col("n_hours"), 4).alias(
                "events_per_active_hour"
            ),
            ((cv < 0.3) & (F.col("n_events") >= 30)).alias("is_bot"),
            cv.alias("_cv"),
        )
        .orderBy(F.col("_cv").asc(), F.col("user_id").asc())
        .limit(20)
        .drop("_cv")
    )


@query(
    "events_lagged_crosscorr",
    oracle="""
    WITH d AS (
      SELECT epoch_us(ts) // 86400000000 AS dn, event_type FROM events),
    span AS (SELECT min(dn) AS lo, max(dn) AS hi FROM d),
    spine AS (
      SELECT unnest(generate_series(lo, hi)) AS dn FROM span),
    cc AS (SELECT dn, count(*) AS x FROM d WHERE event_type = 'click'
           GROUP BY dn),
    pc AS (SELECT dn, count(*) AS y FROM d WHERE event_type = 'purchase'
           GROUP BY dn),
    f AS (
      SELECT s.dn, coalesce(cc.x, 0) AS x, coalesce(pc.y, 0) AS y
      FROM spine s LEFT JOIN cc ON s.dn = cc.dn
                   LEFT JOIN pc ON s.dn = pc.dn),
    lags AS (SELECT unnest(generate_series(0, 7)) AS lag),
    pairs AS (
      SELECT l.lag, a.x, b.y
      FROM lags l JOIN f a ON true JOIN f b ON b.dn = a.dn + l.lag),
    m AS (
      SELECT lag, count(*) AS n,
             sum(CAST(x AS DOUBLE)) AS sx, sum(CAST(y AS DOUBLE)) AS sy,
             sum(CAST(x AS DOUBLE) * y) AS sxy,
             sum(CAST(x AS DOUBLE) * x) AS sxx,
             sum(CAST(y AS DOUBLE) * y) AS syy
      FROM pairs GROUP BY lag)
    SELECT CAST(lag AS BIGINT) AS lag_days,
           CAST(n AS BIGINT) AS n_days,
           (round((n * sxy - sx * sy)
                  / nullif(sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
                           0.0) + 1e-9, 6) + 0.0) AS pearson_r
    FROM m ORDER BY lag_days
    """,
)
def events_lagged_crosscorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation between the daily click series and the
    daily purchase series: Pearson r of (clicks on day d, purchases on
    day d+ℓ) for lags 0..7 — the lead-indicator scan that answers "do
    clicks PREDICT purchases, and with how many days of lead?" (the
    argmax lag is the natural attribution window; a flat profile says
    the series are unrelated). Days are integer day-numbers
    (epoch_µs // 86400e6 — locale- and calendar-free in both engines)
    densified over the full observed span, with missing days counted
    as 0 (dropping them would bias r toward busy days).

    Scale shape: everything after the first grouped count lives in
    DAY-space — the spine is bounded by the time range regardless of
    row count, the 8 lags explode the day frame (≤ 8·span rows), and
    the per-lag moments fold in one aggregate. Moments accumulate in
    DOUBLE (a 1e9-events/day deployment squares past int64; each term
    is integer-valued and exact below 2^53), and r is a deterministic
    expression of them, zero-variance-guarded identically in both
    engines."""
    d = t(spark, sf_dir, "events").select(
        (F.unix_micros(F.col("ts")) / F.lit(86400000000))
        .cast("long")
        .alias("dn"),
        "event_type",
    )
    spine = _scalar_spine(d)
    cc = (
        d.where(F.col("event_type") == "click")
        .groupBy("dn")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    pc = (
        d.where(F.col("event_type") == "purchase")
        .groupBy("dn")
        .agg(F.count(F.lit(1)).alias("y"))
    )
    f = pin(
        spine.join(cc, "dn", "left")
        .join(pc, "dn", "left")
        .select(
            "dn",
            F.coalesce(F.col("x"), F.lit(0)).alias("x"),
            F.coalesce(F.col("y"), F.lit(0)).alias("y"),
        )
    )
    a = f.select(
        F.col("dn").alias("adn"),
        F.col("x").alias("x"),
        F.explode(F.sequence(F.lit(0), F.lit(7))).alias("lag"),
    )
    b = f.select(F.col("dn").alias("bdn"), F.col("y").alias("y"))
    pairs = a.join(b, a.adn + a.lag == b.bdn)
    xd, yd = F.col("x").cast("double"), F.col("y").cast("double")
    m = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xd).alias("sx"),
        F.sum(yd).alias("sy"),
        F.sum(xd * F.col("y")).alias("sxy"),
        F.sum(xd * F.col("x")).alias("sxx"),
        F.sum(yd * F.col("y")).alias("syy"),
    )
    n = F.col("n")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return m.select(
        F.col("lag").cast("long").alias("lag_days"),
        n.cast("long").alias("n_days"),
        rz6(num / F.nullif(den, F.lit(0.0))).alias("pearson_r"),
    ).orderBy("lag_days")


@query(
    "events_linear_interpolation",
    oracle="""
    WITH e AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS hn,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    known AS (
      SELECT event_type, hn, sum(cents) AS sc, count(*) AS cnt
      FROM e GROUP BY event_type, hn),
    span AS (SELECT min(hn) AS lo, max(hn) AS hi FROM e),
    types AS (SELECT DISTINCT event_type FROM e),
    spine AS (
      SELECT t.event_type, s.hn
      FROM types t CROSS JOIN
        (SELECT unnest(generate_series(lo, hi)) AS hn FROM span) s),
    f AS (
      SELECT sp.event_type, sp.hn,
             CAST(k.sc AS DOUBLE) / k.cnt AS v,
             CASE WHEN k.hn IS NULL THEN NULL ELSE sp.hn END AS khn
      FROM spine sp LEFT JOIN known k
        ON sp.event_type = k.event_type AND sp.hn = k.hn),
    w AS (
      SELECT event_type, hn, v,
             last_value(v IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY hn
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             last_value(khn IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY hn
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS phn,
             first_value(v IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY hn
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             first_value(khn IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY hn
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nhn
      FROM f),
    out AS (
      SELECT event_type, hn,
             (v IS NOT NULL) AS observed,
             CASE
               WHEN v IS NOT NULL THEN v
               WHEN pv IS NULL THEN nv
               WHEN nv IS NULL THEN pv
               ELSE pv + (nv - pv) * (hn - phn) / (nhn - phn)
             END AS val
      FROM w)
    SELECT event_type, CAST(hn AS BIGINT) AS hour_num, observed,
           (round(val / 100.0 + 1e-9, 4) + 0.0) AS value_dollars
    FROM out ORDER BY event_type, hour_num
    """,
)
def events_linear_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly value series with LINEAR interpolation — the
    imputation every monitoring/feature pipeline needs when a sensor
    reports intermittently: per event type, the hourly mean value where
    observed, and for silent hours the straight line between the
    nearest observed hours (edges clamp to nearest-known — back-fill
    before the first reading, forward-fill after the last). This is
    the companion to events_gap_filled (which zero-fills COUNTS, the
    right call when absence means zero; interpolation is the right
    call when absence means no reading).

    Scale shape: one event scan folds to (type, hour) grain with exact
    integer cents sums; everything after lives on the HOUR SPINE —
    bounded by the calendar span times the type count no matter how
    many raw rows flow in (the day-frame discipline of cusum/trend).
    The four IGNORE-NULLS carry windows partition by type over that
    bounded spine. Interpolated values are deterministic double
    expressions of exact integer moments and integer hour gaps,
    identical in both engines."""
    e = t(spark, sf_dir, "events").select(
        "event_type",
        (F.unix_micros(F.col("ts")) / F.lit(3600000000))
        .cast("long")
        .alias("hn"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    known = e.groupBy("event_type", "hn").agg(
        F.sum("cents").alias("sc"), F.count(F.lit(1)).alias("cnt")
    )
    spine = _typed_spine(e, col="hn")
    f = spine.join(known, ["event_type", "hn"], "left").select(
        "event_type",
        "hn",
        (F.col("sc").cast("double") / F.col("cnt")).alias("v"),
        F.when(F.col("cnt").isNotNull(), F.col("hn")).alias("khn"),
    )
    wp = (
        Window.partitionBy("event_type")
        .orderBy("hn")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = (
        Window.partitionBy("event_type")
        .orderBy("hn")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    w = f.select(
        "event_type",
        "hn",
        "v",
        F.last("v", ignorenulls=True).over(wp).alias("pv"),
        F.last("khn", ignorenulls=True).over(wp).alias("phn"),
        F.first("v", ignorenulls=True).over(wn).alias("nv"),
        F.first("khn", ignorenulls=True).over(wn).alias("nhn"),
    )
    val = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .otherwise(
            F.col("pv")
            + (F.col("nv") - F.col("pv"))
            * (F.col("hn") - F.col("phn"))
            / (F.col("nhn") - F.col("phn"))
        )
    )
    return w.select(
        "event_type",
        F.col("hn").cast("long").alias("hour_num"),
        F.col("v").isNotNull().alias("observed"),
        rz(val / 100.0, 4).alias("value_dollars"),
    ).orderBy("event_type", "hour_num")


@query(
    "events_transition_dwell",
    oracle="""
    WITH o AS (
      SELECT user_id, event_type, epoch_us(ts) AS us,
             lag(event_type) OVER w AS prev_type,
             lag(epoch_us(ts)) OVER w AS prev_us
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
    g AS (
      SELECT prev_type, event_type, us - prev_us AS gap_us,
             (us - prev_us) // 1000000 AS gap_s
      FROM o WHERE prev_us IS NOT NULL),
    agg AS (
      SELECT prev_type, event_type,
             count(*) AS n,
             sum(CAST(gap_us AS DOUBLE)) AS gap_sum
      FROM g GROUP BY prev_type, event_type),
    vc AS (
      SELECT prev_type, event_type, gap_s, count(*) AS cnt
      FROM g GROUP BY prev_type, event_type, gap_s),
    vw AS (
      SELECT prev_type, event_type, gap_s, cnt,
             sum(cnt) OVER (PARTITION BY prev_type, event_type
                            ORDER BY gap_s) AS cum,
             sum(cnt) OVER (PARTITION BY prev_type, event_type) AS n
      FROM vc),
    med AS (
      SELECT prev_type, event_type,
             (min(CASE WHEN cum >= (n + 1) // 2 THEN gap_s END)
              + min(CASE WHEN cum >= n // 2 + 1 THEN gap_s END)) / 2.0
               AS med_s
      FROM vw GROUP BY prev_type, event_type)
    SELECT a.prev_type, a.event_type,
           CAST(a.n AS BIGINT) AS n_transitions,
           (round(a.gap_sum / a.n / 1000000.0 + 1e-9, 3) + 0.0)
             AS mean_dwell_s,
           (round(m.med_s + 1e-9, 1) + 0.0) AS median_dwell_s
    FROM agg a JOIN med m
      ON a.prev_type = m.prev_type AND a.event_type = m.event_type
    ORDER BY a.prev_type, a.event_type
    """,
)
def events_transition_dwell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dwell time per event-type transition: for every (previous event →
    next event) pair within a user's stream, the count, mean, and exact
    median of the wait between them — the TIMING layer over the Markov
    transition matrix (the matrix says users go click→purchase; this
    says whether that edge takes 40 seconds or 2 days, which is what
    session-timeout tuning, cache TTLs, and nudge scheduling actually
    consume).

    Scale shape: one user-partitioned lag window produces the
    transition stream with exact integer-µs gaps; the mean folds per
    transition pair with the µs sum in DOUBLE (year-long gaps times
    enough rows pass int64; every term integer-exact below 2^53); the
    median runs ENTIRELY in value space — gaps truncate to whole
    seconds, reduce to a (pair, gap_s, cnt) frame, and the type-7
    two-middle-ranks median falls out of cumulative counts over
    DISTINCT values (the events_mad_outliers strategy: windows bounded
    by value cardinality, never row count)."""
    us = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    o = (
        t(spark, sf_dir, "events")
        .select("user_id", "event_type", "event_id", us.alias("us"))
        .withColumn("prev_type", F.lag("event_type").over(w))
        .withColumn("prev_us", F.lag("us").over(w))
    )
    g = o.where(F.col("prev_us").isNotNull()).select(
        "prev_type",
        "event_type",
        (F.col("us") - F.col("prev_us")).alias("gap_us"),
        ((F.col("us") - F.col("prev_us")) / F.lit(1000000))
        .cast("long")
        .alias("gap_s"),
    )
    g = pin(g)
    agg = g.groupBy("prev_type", "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("gap_us").cast("double")).alias("gap_sum"),
    )
    vc = g.groupBy("prev_type", "event_type", "gap_s").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wv = (
        Window.partitionBy("prev_type", "event_type")
        .orderBy("gap_s")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = Window.partitionBy("prev_type", "event_type")
    vw = vc.withColumn("cum", F.sum("cnt").over(wv)).withColumn(
        "n", F.sum("cnt").over(wn)
    )
    med = vw.groupBy("prev_type", "event_type").agg(
        (
            (
                F.min(
                    F.when(
                        F.col("cum") >= F.expr("(n + 1) div 2"), F.col("gap_s")
                    )
                ).cast("double")
                + F.min(
                    F.when(
                        F.col("cum") >= F.expr("n div 2 + 1"), F.col("gap_s")
                    )
                )
            )
            / 2.0
        ).alias("med_s")
    )
    return (
        agg.join(med, ["prev_type", "event_type"])
        .select(
            "prev_type",
            "event_type",
            F.col("n").cast("long").alias("n_transitions"),
            rz(F.col("gap_sum") / F.col("n") / 1e6, 3).alias("mean_dwell_s"),
            rz(F.col("med_s"), 1).alias("median_dwell_s"),
        )
        .orderBy("prev_type", "event_type")
    )


@query(
    "events_churn_risk",
    oracle="""
    WITH o AS (
      SELECT user_id, epoch_us(ts) AS us,
             lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev
      FROM events),
    nowt AS (SELECT max(us) AS now_us FROM o),
    g AS (
      SELECT user_id, (us - prev) // 1000000 AS gap_s
      FROM o WHERE prev IS NOT NULL),
    lastseen AS (
      SELECT user_id, max(us) AS last_us, count(*) AS n_events
      FROM o GROUP BY user_id HAVING count(*) >= 11),
    vc AS (
      SELECT user_id, gap_s, count(*) AS cnt FROM g GROUP BY user_id, gap_s),
    vw AS (
      SELECT user_id, gap_s, cnt,
             sum(cnt) OVER (PARTITION BY user_id ORDER BY gap_s) AS cum,
             sum(cnt) OVER (PARTITION BY user_id) AS n
      FROM vc),
    p90 AS (
      SELECT user_id,
             min(CASE WHEN cum * 10 >= n * 9 THEN gap_s END) AS p90_gap_s
      FROM vw GROUP BY user_id),
    s AS (
      SELECT l.user_id, l.n_events,
             (nowt.now_us - l.last_us) // 1000000 AS recency_s,
             p90.p90_gap_s,
             CAST((nowt.now_us - l.last_us) // 1000000 AS DOUBLE)
               / greatest(p90.p90_gap_s, 1) AS risk
      FROM lastseen l JOIN p90 ON l.user_id = p90.user_id, nowt)
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(n_events AS BIGINT) AS n_events,
           CAST(recency_s AS BIGINT) AS recency_s,
           CAST(p90_gap_s AS BIGINT) AS p90_gap_s,
           (round(risk + 1e-9, 4) + 0.0) AS churn_risk
    FROM s ORDER BY risk DESC, user_id LIMIT 20
    """,
)
def events_churn_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral churn-risk scoring: the 20 users most overdue relative
    to their OWN rhythm — risk = time-since-last-event divided by the
    user's p90 inter-event gap (a user whose silence is 5× their own
    90th-percentile gap is at risk; a weekly user 3 days quiet is not)
    — the personalized alternative to a fixed inactivity cutoff, and
    the label-generation query for churn-model training. "Now" is the
    corpus max timestamp, so the score is reproducible offline.

    Scale shape: one user-partitioned lag window yields integer-second
    gaps; the per-user p90 is nearest-rank over the (user, gap_s, cnt)
    VALUE-SPACE frame (cum·10 ≥ n·9 — pure integer comparison, no
    float percentile); recency and risk are deterministic expressions
    of exact integers with a greatest(p90,1) floor identical in both
    engines; the cut is a TakeOrdered over user-grain rows. Users with
    ≤ 10 events are excluded (their p90 is noise) identically both
    sides."""
    us = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    o = (
        t(spark, sf_dir, "events")
        .select("user_id", "event_id", us.alias("us"))
        .withColumn("prev", F.lag("us").over(w))
    )
    o = pin(o)
    nowt = o.agg(F.max("us").alias("now_us"))
    g = o.where(F.col("prev").isNotNull()).select(
        "user_id",
        ((F.col("us") - F.col("prev")) / F.lit(1000000))
        .cast("long")
        .alias("gap_s"),
    )
    lastseen = (
        o.groupBy("user_id")
        .agg(F.max("us").alias("last_us"), F.count(F.lit(1)).alias("n_events"))
        .where(F.col("n_events") >= 11)
    )
    vc = g.groupBy("user_id", "gap_s").agg(F.count(F.lit(1)).alias("cnt"))
    wv = (
        Window.partitionBy("user_id")
        .orderBy("gap_s")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = Window.partitionBy("user_id")
    vw = vc.withColumn("cum", F.sum("cnt").over(wv)).withColumn(
        "n", F.sum("cnt").over(wn)
    )
    p90 = vw.groupBy("user_id").agg(
        F.min(
            F.when(F.col("cum") * 10 >= F.col("n") * 9, F.col("gap_s"))
        ).alias("p90_gap_s")
    )
    s = (
        lastseen.join(p90, "user_id")
        .crossJoin(F.broadcast(nowt))
        .select(
            "user_id",
            "n_events",
            ((F.col("now_us") - F.col("last_us")) / F.lit(1000000))
            .cast("long")
            .alias("recency_s"),
            "p90_gap_s",
        )
    )
    risk = F.col("recency_s").cast("double") / F.greatest(
        F.col("p90_gap_s"), F.lit(1)
    )
    return (
        s.select(
            F.col("user_id").cast("long").alias("user_id"),
            F.col("n_events").cast("long").alias("n_events"),
            F.col("recency_s").cast("long").alias("recency_s"),
            F.col("p90_gap_s").cast("long").alias("p90_gap_s"),
            rz(risk, 4).alias("churn_risk"),
            risk.alias("_r"),
        )
        .orderBy(F.col("_r").desc(), "user_id")
        .limit(20)
        .drop("_r")
    )


@query(
    "events_growth_accounting",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS dn
      FROM events),
    f AS (SELECT user_id, min(dn) AS first_dn FROM ud GROUP BY user_id),
    lagged AS (
      SELECT ud.user_id, ud.dn, f.first_dn,
             lag(ud.dn) OVER (PARTITION BY ud.user_id ORDER BY ud.dn)
               AS prev_dn,
             lead(ud.dn) OVER (PARTITION BY ud.user_id ORDER BY ud.dn)
               AS next_dn
      FROM ud JOIN f ON ud.user_id = f.user_id),
    span AS (SELECT max(dn) AS max_dn FROM ud),
    act AS (
      SELECT dn,
             count(*) AS active,
             sum(CASE WHEN dn = first_dn THEN 1 ELSE 0 END) AS new_u,
             sum(CASE WHEN dn > first_dn AND prev_dn = dn - 1
                      THEN 1 ELSE 0 END) AS retained,
             sum(CASE WHEN dn > first_dn AND prev_dn < dn - 1
                      THEN 1 ELSE 0 END) AS resurrected
      FROM lagged GROUP BY dn),
    churn AS (
      SELECT dn + 1 AS dn, count(*) AS churned
      FROM lagged, span
      WHERE (next_dn IS NULL OR next_dn > dn + 1) AND dn + 1 <= span.max_dn
      GROUP BY dn + 1)
    SELECT CAST(coalesce(a.dn, c.dn) AS BIGINT) AS day_num,
           CAST(coalesce(a.active, 0) AS BIGINT) AS active,
           CAST(coalesce(a.new_u, 0) AS BIGINT) AS new_users,
           CAST(coalesce(a.retained, 0) AS BIGINT) AS retained,
           CAST(coalesce(a.resurrected, 0) AS BIGINT) AS resurrected,
           CAST(coalesce(c.churned, 0) AS BIGINT) AS churned,
           CAST(coalesce(a.new_u, 0) + coalesce(a.resurrected, 0)
                - coalesce(c.churned, 0) AS BIGINT) AS net_change,
           (round(CAST(coalesce(a.new_u, 0) + coalesce(a.resurrected, 0)
                       AS DOUBLE)
                  / greatest(coalesce(c.churned, 0), 1) + 1e-9, 4) + 0.0)
             AS quick_ratio
    FROM act a FULL JOIN churn c ON a.dn = c.dn
    ORDER BY day_num
    """,
)
def events_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full growth-accounting quartet per day: NEW (first-ever day),
    RETAINED (also active yesterday), RESURRECTED (returned after ≥ 1
    missed day), and CHURNED (active yesterday, silent today), plus
    net change and the quick ratio (new+resurrected)/churned — the
    canonical DAU decomposition that tells "flat DAU because nothing
    happens" apart from "flat DAU because a leaky bucket refills as
    fast as it drains". Extends events_new_vs_returning (which only
    splits new/returning) with the resurrection/churn sides; churn is
    attributed to the first SILENT day and suppressed past the corpus
    edge (the last day cannot observe churn). The day join is FULL
    OUTER with zero-filled actives: a day where EVERYONE churned has
    no active row yet is exactly the day the report must surface.

    Scale shape: everything runs on the deduplicated (user, day) frame
    — one distinct off the scan, user-partitioned lag/lead windows
    (partition count = users), two day-keyed folds, one day-keyed
    outer join. Day numbers are integer epoch-µs divisions (calendar-
    and locale-free both engines); every output is exact integer
    counting with a greatest(churn,1) guard on the ratio."""
    ud = pin(
        t(spark, sf_dir, "events")
        .select(
            "user_id",
            (F.unix_micros(F.col("ts")) / F.lit(86400000000))
            .cast("long")
            .alias("dn"),
        )
        .distinct()
    )
    f = ud.groupBy("user_id").agg(F.min("dn").alias("first_dn"))
    w = Window.partitionBy("user_id").orderBy("dn")
    lagged = pin(
        ud.join(f, "user_id")
        .withColumn("prev_dn", F.lag("dn").over(w))
        .withColumn("next_dn", F.lead("dn").over(w))
    )
    span = lagged.agg(F.max("dn").alias("max_dn"))
    act = lagged.groupBy("dn").agg(
        F.count(F.lit(1)).alias("active"),
        F.sum(F.when(F.col("dn") == F.col("first_dn"), 1).otherwise(0)).alias(
            "new_u"
        ),
        F.sum(
            F.when(
                (F.col("dn") > F.col("first_dn"))
                & (F.col("prev_dn") == F.col("dn") - 1),
                1,
            ).otherwise(0)
        ).alias("retained"),
        F.sum(
            F.when(
                (F.col("dn") > F.col("first_dn"))
                & (F.col("prev_dn") < F.col("dn") - 1),
                1,
            ).otherwise(0)
        ).alias("resurrected"),
    )
    churn = (
        lagged.crossJoin(F.broadcast(span))
        .where(
            (F.col("next_dn").isNull() | (F.col("next_dn") > F.col("dn") + 1))
            & (F.col("dn") + 1 <= F.col("max_dn"))
        )
        .groupBy((F.col("dn") + 1).alias("dn"))
        .agg(F.count(F.lit(1)).alias("churned"))
    )
    # FULL OUTER: an all-churn day has no active row but must surface
    out = act.join(churn, "dn", "full")
    churned = F.coalesce(F.col("churned"), F.lit(0))
    new_u = F.coalesce(F.col("new_u"), F.lit(0))
    resurrected = F.coalesce(F.col("resurrected"), F.lit(0))
    return out.select(
        F.col("dn").cast("long").alias("day_num"),
        F.coalesce(F.col("active"), F.lit(0)).cast("long").alias("active"),
        new_u.cast("long").alias("new_users"),
        F.coalesce(F.col("retained"), F.lit(0))
        .cast("long")
        .alias("retained"),
        resurrected.cast("long").alias("resurrected"),
        churned.cast("long").alias("churned"),
        (new_u + resurrected - churned).cast("long").alias("net_change"),
        rz(
            (new_u + resurrected).cast("double")
            / F.greatest(churned, F.lit(1)),
            4,
        ).alias("quick_ratio"),
    ).orderBy("day_num")


@query(
    "events_attribution_window_sweep",
    oracle="""
    WITH p AS (
      SELECT event_id, user_id, epoch_us(ts) AS us
      FROM events WHERE event_type = 'purchase'),
    c AS (
      SELECT user_id, epoch_us(ts) AS us
      FROM events WHERE event_type = 'click'),
    lastc AS (
      SELECT p.event_id, max(c.us) AS click_us
      FROM p JOIN c ON p.user_id = c.user_id AND c.us <= p.us
      GROUP BY p.event_id),
    g AS (
      SELECT p.event_id, p.us - lastc.click_us AS gap_us
      FROM p LEFT JOIN lastc ON p.event_id = lastc.event_id),
    n AS (SELECT count(*) AS n_purchases FROM p),
    win AS (
      SELECT * FROM (VALUES
        (0, '1h', 3600000000), (1, '6h', 21600000000),
        (2, '24h', 86400000000), (3, '7d', 604800000000))
        v(ordinal, window_name, w_us)),
    s AS (
      SELECT win.ordinal, win.window_name,
             sum(CASE WHEN g.gap_us IS NOT NULL AND g.gap_us <= win.w_us
                      THEN 1 ELSE 0 END) AS n_attributed
      FROM win CROSS JOIN g GROUP BY win.ordinal, win.window_name)
    SELECT CAST(s.ordinal AS BIGINT) AS ordinal, s.window_name,
           CAST(s.n_attributed AS BIGINT) AS n_attributed,
           CAST(n.n_purchases AS BIGINT) AS n_purchases,
           (round(CAST(s.n_attributed AS DOUBLE) / n.n_purchases
                  + 1e-9, 6) + 0.0) AS attributed_share
    FROM s, n ORDER BY ordinal
    """,
)
def events_attribution_window_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution-window sensitivity sweep: the share of purchases with
    a prior click within 1h/6h/24h/7d — the curve that DECIDES the
    attribution window the first-touch/linear models then assume (pick
    the knee; a share still climbing at 7d means the journey is longer
    than the model). Each purchase's gap to its most recent prior
    click is computed ONCE (a user-co-located backward join folded to
    purchase grain — the as-of pattern), then all four windows read as
    conditional counts against a 4-row broadcast, the
    text_dedup_threshold_sweep discipline: never one scan per
    candidate window.

    Integer-µs gaps and exact counts throughout; purchases with no
    prior click count against every window's denominator identically
    in both engines."""
    e = t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    p = e.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", us.alias("us")
    )
    c = e.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), us.alias("cus")
    )
    lastc = (
        p.join(c, (p.user_id == c.cu) & (F.col("cus") <= F.col("us")))
        .groupBy("event_id")
        .agg(F.max("cus").alias("click_us"))
    )
    g = pin(
        p.join(lastc, "event_id", "left").select(
            "event_id", (F.col("us") - F.col("click_us")).alias("gap_us")
        )
    )
    n = g.agg(F.count(F.lit(1)).alias("n_purchases"))
    win = p.sparkSession.createDataFrame(
        [
            (0, "1h", 3600000000),
            (1, "6h", 21600000000),
            (2, "24h", 86400000000),
            (3, "7d", 604800000000),
        ],
        "ordinal int, window_name string, w_us long",
    )
    s = (
        F.broadcast(win)
        .crossJoin(g)
        .groupBy("ordinal", "window_name")
        .agg(
            F.sum(
                F.when(
                    F.col("gap_us").isNotNull()
                    & (F.col("gap_us") <= F.col("w_us")),
                    1,
                ).otherwise(0)
            ).alias("n_attributed")
        )
    )
    return (
        s.crossJoin(F.broadcast(n))
        .select(
            F.col("ordinal").cast("long").alias("ordinal"),
            "window_name",
            F.col("n_attributed").cast("long").alias("n_attributed"),
            F.col("n_purchases").cast("long").alias("n_purchases"),
            rz6(
                F.col("n_attributed").cast("double") / F.col("n_purchases")
            ).alias("attributed_share"),
        )
        .orderBy("ordinal")
    )


@query(
    "events_velocity_burst",
    oracle="""
    WITH o AS (
      SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
    v AS (
      SELECT user_id, event_id,
             count(*) OVER (
               PARTITION BY user_id ORDER BY us
               RANGE BETWEEN 60000000 PRECEDING AND CURRENT ROW)
               AS burst_60s
      FROM o),
    u AS (
      SELECT user_id,
             count(*) AS n_events,
             max(burst_60s) AS max_burst_60s
      FROM v GROUP BY user_id)
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(n_events AS BIGINT) AS n_events,
           CAST(max_burst_60s AS BIGINT) AS max_burst_60s,
           (max_burst_60s >= 20) AS velocity_flag
    FROM u ORDER BY max_burst_60s DESC, user_id LIMIT 20
    """,
)
def events_velocity_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Velocity-rule fraud screen: each user's maximum event count
    inside ANY trailing 60-second window, flagged at ≥ 20 — the
    burst detector that catches card-testing runs, scraping loops, and
    click-fraud spikes that the CV-regularity audit (a WHOLE-stream
    statistic) smooths over: a user can be human-bursty on average and
    still fire 50 requests in one minute once.

    Scale shape: ONE user-partitioned RANGE-frame window over integer
    µs (the frame is time-bounded — Spark maintains it as a sliding
    two-pointer over each user's sorted stream, never a per-row
    self-join), one user-grain fold, TakeOrdered top-20 with exact
    integer ordering. The same frame is the streaming twin's
    `window(ts, '60 seconds', '...')` sliding count."""
    us = F.unix_micros(F.col("ts"))
    o = t(spark, sf_dir, "events").select(
        "user_id", "event_id", us.alias("us")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-60000000, 0)
    )
    v = o.withColumn("burst_60s", F.count(F.lit(1)).over(w))
    u = v.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max("burst_60s").alias("max_burst_60s"),
    )
    return (
        u.select(
            F.col("user_id").cast("long").alias("user_id"),
            F.col("n_events").cast("long").alias("n_events"),
            F.col("max_burst_60s").cast("long").alias("max_burst_60s"),
            (F.col("max_burst_60s") >= 20).alias("velocity_flag"),
        )
        .orderBy(F.col("max_burst_60s").desc(), "user_id")
        .limit(20)
    )


@query(
    "events_ab_cuped",
    oracle="""
    WITH b AS (
      SELECT user_id, epoch_us(ts) AS us,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    mid AS (SELECT (min(us) + max(us)) // 2 AS m FROM b),
    u AS (
      SELECT user_id, user_id % 2 AS arm,
             sum(CASE WHEN us < mid.m THEN cents ELSE 0 END) AS x,
             sum(CASE WHEN us >= mid.m THEN cents ELSE 0 END) AS y
      FROM b, mid GROUP BY user_id),
    pooled AS (
      SELECT count(*) AS n,
             sum(CAST(x AS DOUBLE)) AS sx, sum(CAST(y AS DOUBLE)) AS sy,
             sum(CAST(x AS DOUBLE) * y) AS sxy,
             sum(CAST(x AS DOUBLE) * x) AS sxx
      FROM u),
    theta AS (
      SELECT n, sx / n AS xbar,
             (sxy - sx * sy / n) / nullif(sxx - sx * sx / n, 0.0) AS th
      FROM pooled),
    arms AS (
      SELECT arm, count(*) AS n_a,
             sum(CAST(x AS DOUBLE)) AS sx, sum(CAST(y AS DOUBLE)) AS sy,
             sum(CAST(x AS DOUBLE) * y) AS sxy,
             sum(CAST(x AS DOUBLE) * x) AS sxx,
             sum(CAST(y AS DOUBLE) * y) AS syy
      FROM u GROUP BY arm),
    s AS (
      SELECT a.arm, a.n_a,
             a.sy / a.n_a AS mean_y,
             a.sy / a.n_a - theta.th * (a.sx / a.n_a - theta.xbar)
               AS mean_y_adj,
             (a.syy - a.sy * a.sy / a.n_a) / a.n_a AS var_y,
             ((a.syy - a.sy * a.sy / a.n_a)
              - 2 * theta.th * (a.sxy - a.sx * a.sy / a.n_a)
              + theta.th * theta.th * (a.sxx - a.sx * a.sx / a.n_a))
             / a.n_a AS var_adj
      FROM arms a, theta)
    SELECT CAST(arm AS BIGINT) AS arm,
           CAST(n_a AS BIGINT) AS n_users,
           (round(mean_y / 100.0 + 1e-9, 4) + 0.0) AS mean_spend,
           (round(mean_y_adj / 100.0 + 1e-9, 4) + 0.0) AS mean_spend_cuped,
           (round(1.0 - var_adj / nullif(var_y, 0.0) + 1e-9, 6) + 0.0)
             AS variance_reduction
    FROM s ORDER BY arm
    """,
)
def events_ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for the A/B spend metric: each user's
    POST-period spend adjusted by their PRE-period spend,
    ŷ = y − θ(x − x̄) with θ = cov(x,y)/var(x) pooled across arms —
    the standard trick that shrinks experiment confidence intervals
    for free when users have sticky baselines (Deng et al.'s
    pre-experiment-data method; variance_reduction ≈ ρ² is how much
    less traffic the same test now needs). Reported per arm: raw vs
    adjusted mean and the realized variance reduction — read next to
    the Welch/MWU tests, which this makes more sensitive.

    Scale shape: one scan folds to USER grain with exact integer-cents
    pre/post sums (conditional on the broadcast time midpoint); all
    second-order statistics are DOUBLE sums of integer-valued products
    (cents² passes int64 — the standing overflow discipline), and both
    the adjusted means and var(ŷ) come from the ALGEBRAIC identity
    var(y) − 2θcov + θ²var(x) on those moments — no per-user double
    ever enters a sum, so both engines fold identical values in any
    order. Zero pre-period variance nulls θ identically both sides."""
    b = t(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("us"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    mid = b.agg(
        ((F.min("us") + F.max("us")) / F.lit(2)).cast("long").alias("m")
    )
    u = (
        b.crossJoin(F.broadcast(mid))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("us") < F.col("m"), F.col("cents")).otherwise(0)).alias("x"),
            F.sum(F.when(F.col("us") >= F.col("m"), F.col("cents")).otherwise(0)).alias("y"),
        )
        .withColumn("arm", F.col("user_id") % 2)
    )
    u = pin(u)
    xd, yd = F.col("x").cast("double"), F.col("y").cast("double")
    pooled = u.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xd).alias("sx"),
        F.sum(yd).alias("sy"),
        F.sum(xd * F.col("y")).alias("sxy"),
        F.sum(xd * F.col("x")).alias("sxx"),
    )
    theta = pooled.select(
        (F.col("sx") / F.col("n")).alias("xbar"),
        (
            (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n"))
            / F.nullif(
                F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"),
                F.lit(0.0),
            )
        ).alias("th"),
    )
    arms = u.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_a"),
        F.sum(xd).alias("sx"),
        F.sum(yd).alias("sy"),
        F.sum(xd * F.col("y")).alias("sxy"),
        F.sum(xd * F.col("x")).alias("sxx"),
        F.sum(yd * F.col("y")).alias("syy"),
    )
    s = arms.crossJoin(F.broadcast(theta))
    na = F.col("n_a")
    mean_y = F.col("sy") / na
    mean_adj = mean_y - F.col("th") * (F.col("sx") / na - F.col("xbar"))
    var_y = (F.col("syy") - F.col("sy") * F.col("sy") / na) / na
    var_adj = (
        (F.col("syy") - F.col("sy") * F.col("sy") / na)
        - 2 * F.col("th") * (F.col("sxy") - F.col("sx") * F.col("sy") / na)
        + F.col("th")
        * F.col("th")
        * (F.col("sxx") - F.col("sx") * F.col("sx") / na)
    ) / na
    return s.select(
        F.col("arm").cast("long").alias("arm"),
        na.cast("long").alias("n_users"),
        rz(mean_y / 100.0, 4).alias("mean_spend"),
        rz(mean_adj / 100.0, 4).alias("mean_spend_cuped"),
        rz6(1.0 - var_adj / F.nullif(var_y, F.lit(0.0))).alias(
            "variance_reduction"
        ),
    ).orderBy("arm")


@query(
    "dq_out_of_order_events",
    oracle="""
    WITH o AS (
      SELECT event_id, user_id, epoch_us(ts) AS us,
             max(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS runmax
      FROM events),
    l AS (
      SELECT us // 86400000000 AS dn,
             CASE WHEN runmax IS NOT NULL AND us < runmax
                  THEN 1 ELSE 0 END AS late,
             CASE WHEN runmax IS NOT NULL AND us < runmax
                  THEN (runmax - us) // 1000000 ELSE NULL END AS late_s
      FROM o)
    SELECT CAST(dn AS BIGINT) AS day_num,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(late) AS BIGINT) AS n_late,
           (round(CAST(sum(late) AS DOUBLE) / count(*) + 1e-9, 6) + 0.0)
             AS late_share,
           CAST(coalesce(max(late_s), 0) AS BIGINT) AS max_lateness_s
    FROM l GROUP BY dn ORDER BY day_num
    """,
)
def dq_out_of_order_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-order ingestion audit: per day, the share of events whose
    event time PRECEDES an already-ingested event of the same user
    (ingest order = event_id), and the worst observed lateness — THE
    measurement that sets a Structured Streaming watermark: the
    `withWatermark` delay should cover max (or a high quantile of)
    lateness, and this table says what that is per day instead of
    guessing. Zero late rows on a clean feed is the finding too (a
    watermark of seconds suffices; every windowed state store shrinks).

    Scale shape: one user-partitioned running-max window in ingest
    order (exact integer µs — the frame excludes the current row so an
    on-time event never compares against itself), then a day-keyed
    fold of exact counts. Nothing after the window exceeds day
    grain."""
    us = F.unix_micros(F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    o = t(spark, sf_dir, "events").select(
        "event_id", "user_id", us.alias("us")
    ).withColumn("runmax", F.max("us").over(w))
    late_cond = F.col("runmax").isNotNull() & (F.col("us") < F.col("runmax"))
    l = o.select(
        (F.col("us") / F.lit(86400000000)).cast("long").alias("dn"),
        F.when(late_cond, 1).otherwise(0).alias("late"),
        F.when(
            late_cond,
            ((F.col("runmax") - F.col("us")) / F.lit(1000000)).cast("long"),
        ).alias("late_s"),
    )
    return (
        l.groupBy("dn")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("late").alias("n_late"),
            rz6(F.sum("late").cast("double") / F.count(F.lit(1))).alias(
                "late_share"
            ),
            F.coalesce(F.max("late_s"), F.lit(0)).alias("max_lateness_s"),
        )
        .select(
            F.col("dn").cast("long").alias("day_num"),
            F.col("n_events").cast("long").alias("n_events"),
            F.col("n_late").cast("long").alias("n_late"),
            "late_share",
            F.col("max_lateness_s").cast("long").alias("max_lateness_s"),
        )
        .orderBy("day_num")
    )


@query(
    "events_dx_retention",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS dn
      FROM events),
    f AS (SELECT user_id, min(dn) AS first_dn FROM ud GROUP BY user_id),
    span AS (SELECT max(dn) AS max_dn FROM ud),
    x AS (SELECT unnest([1, 7, 30]) AS horizon),
    cohort AS (
      SELECT x.horizon, f.user_id, f.first_dn
      FROM f CROSS JOIN x, span
      WHERE f.first_dn + x.horizon <= span.max_dn),
    hits AS (
      SELECT c.horizon, c.user_id,
             max(CASE WHEN ud.dn = c.first_dn + c.horizon
                      THEN 1 ELSE 0 END) AS on_day,
             max(CASE WHEN ud.dn >= c.first_dn + c.horizon
                      THEN 1 ELSE 0 END) AS at_or_after
      FROM cohort c JOIN ud ON c.user_id = ud.user_id
      GROUP BY c.horizon, c.user_id)
    SELECT CAST(horizon AS BIGINT) AS horizon_days,
           CAST(count(*) AS BIGINT) AS n_eligible,
           CAST(sum(on_day) AS BIGINT) AS n_day_x,
           (round(CAST(sum(on_day) AS DOUBLE) / count(*) + 1e-9, 6) + 0.0)
             AS day_x_retention,
           CAST(sum(at_or_after) AS BIGINT) AS n_unbounded,
           (round(CAST(sum(at_or_after) AS DOUBLE) / count(*)
                  + 1e-9, 6) + 0.0) AS unbounded_retention
    FROM hits GROUP BY horizon ORDER BY horizon_days
    """,
)
def events_dx_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic dX retention KPIs: among users old enough to measure
    (first day + X within the corpus), the share active EXACTLY X days
    after their first day (day-X retention — the industry headline d1/
    d7/d30) and the share active at-or-after X days (unbounded
    retention — the survival form). Censoring is explicit: users whose
    horizon extends past the corpus edge are excluded from that
    horizon's denominator in both engines, the mistake-proof form of
    the metric. Complements the weekly cohort matrix
    (events_retention_cohort) with the exact-day KPI gauges.

    Scale shape: user-day frame (one distinct), user-keyed first-day
    fold, a 3-row horizon broadcast crossed with the USER frame (≤ 3
    rows per user), one user-co-located join back to the day frame
    folded to per-(horizon, user) hit flags, then a 3-row final fold.
    Day numbers are integer epoch-µs divisions; everything is exact
    integer counting."""
    ud = pin(
        t(spark, sf_dir, "events")
        .select(
            "user_id",
            (F.unix_micros(F.col("ts")) / F.lit(86400000000))
            .cast("long")
            .alias("dn"),
        )
        .distinct()
    )
    f = ud.groupBy("user_id").agg(F.min("dn").alias("first_dn"))
    span = ud.agg(F.max("dn").alias("max_dn"))
    x = ud.sparkSession.createDataFrame(
        [(1,), (7,), (30,)], "horizon int"
    )
    cohort = (
        f.crossJoin(F.broadcast(x))
        .crossJoin(F.broadcast(span))
        .where(F.col("first_dn") + F.col("horizon") <= F.col("max_dn"))
        .select("horizon", "user_id", "first_dn")
    )
    hits = (
        cohort.join(ud, "user_id")
        .groupBy("horizon", "user_id")
        .agg(
            F.max(
                F.when(
                    F.col("dn") == F.col("first_dn") + F.col("horizon"), 1
                ).otherwise(0)
            ).alias("on_day"),
            F.max(
                F.when(
                    F.col("dn") >= F.col("first_dn") + F.col("horizon"), 1
                ).otherwise(0)
            ).alias("at_or_after"),
        )
    )
    return (
        hits.groupBy("horizon")
        .agg(
            F.count(F.lit(1)).alias("n_eligible"),
            F.sum("on_day").alias("n_day_x"),
            rz6(F.sum("on_day").cast("double") / F.count(F.lit(1))).alias(
                "day_x_retention"
            ),
            F.sum("at_or_after").alias("n_unbounded"),
            rz6(
                F.sum("at_or_after").cast("double") / F.count(F.lit(1))
            ).alias("unbounded_retention"),
        )
        .select(
            F.col("horizon").cast("long").alias("horizon_days"),
            F.col("n_eligible").cast("long").alias("n_eligible"),
            F.col("n_day_x").cast("long").alias("n_day_x"),
            "day_x_retention",
            F.col("n_unbounded").cast("long").alias("n_unbounded"),
            "unbounded_retention",
        )
        .orderBy("horizon_days")
    )


@query(
    "events_snaive_mase",
    oracle="""
    WITH e AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS dn,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    span AS (SELECT min(dn) AS lo, max(dn) AS hi FROM e),
    types AS (SELECT DISTINCT event_type FROM e),
    spine AS (
      SELECT t.event_type, s.dn
      FROM types t CROSS JOIN
        (SELECT unnest(generate_series(lo, hi)) AS dn FROM span) s),
    daily AS (
      SELECT sp.event_type, sp.dn,
             coalesce(sum(e.cents), 0) AS y
      FROM spine sp LEFT JOIN e
        ON sp.event_type = e.event_type AND sp.dn = e.dn
      GROUP BY sp.event_type, sp.dn),
    lagged AS (
      SELECT event_type, dn, y,
             lag(y, 7) OVER w AS y_l7,
             lag(y, 1) OVER w AS y_l1
      FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY dn)),
    m AS (
      SELECT event_type,
             count(y_l7) AS n_eval,
             sum(abs(y - y_l7)) AS ae_snaive,
             sum(CASE WHEN y_l7 IS NOT NULL THEN abs(y - y_l1) END)
               AS ae_naive1
      FROM lagged GROUP BY event_type)
    SELECT event_type,
           CAST(n_eval AS BIGINT) AS n_days_eval,
           (round(CAST(ae_snaive AS DOUBLE) / n_eval / 100.0 + 1e-9, 4)
            + 0.0) AS mae_snaive,
           (round(CAST(ae_naive1 AS DOUBLE) / n_eval / 100.0 + 1e-9, 4)
            + 0.0) AS mae_naive1,
           (round(CAST(ae_snaive AS DOUBLE)
                  / nullif(CAST(ae_naive1 AS DOUBLE), 0.0) + 1e-9, 4) + 0.0)
             AS mase_vs_naive1
    FROM m ORDER BY event_type
    """,
)
def events_snaive_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest per event type: forecast each
    day's revenue with the value from 7 days earlier and score it with
    MAE and the MASE-style ratio against the naive-1 (yesterday)
    baseline over the SAME evaluation days — the sanity gauge every
    forecasting effort needs first (a model that can't beat "same day
    last week" shouldn't ship, and a ratio < 1 here proves the weekly
    cycle is real signal). Evaluation days are exactly those with a
    7-day-old observation, identical in both engines; missing days are
    true zeros on the densified spine (no revenue ≠ no reading).

    Scale shape: one scan folds to the (type, day) frame; the spine,
    the two lags, and the scoring fold are all calendar-bounded (the
    cusum/interpolation day-frame discipline). Absolute errors are
    exact integer cents; means and the ratio are single deterministic
    divisions."""
    e = t(spark, sf_dir, "events").select(
        "event_type",
        (F.unix_micros(F.col("ts")) / F.lit(86400000000))
        .cast("long")
        .alias("dn"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    daily = (
        _typed_spine(e).join(e, ["event_type", "dn"], "left")
        .groupBy("event_type", "dn")
        .agg(F.coalesce(F.sum("cents"), F.lit(0)).alias("y"))
    )
    w = Window.partitionBy("event_type").orderBy("dn")
    lagged = daily.withColumn("y_l7", F.lag("y", 7).over(w)).withColumn(
        "y_l1", F.lag("y", 1).over(w)
    )
    m = lagged.groupBy("event_type").agg(
        F.count("y_l7").alias("n_eval"),
        F.sum(F.abs(F.col("y") - F.col("y_l7"))).alias("ae_snaive"),
        F.sum(
            F.when(
                F.col("y_l7").isNotNull(), F.abs(F.col("y") - F.col("y_l1"))
            )
        ).alias("ae_naive1"),
    )
    return m.select(
        "event_type",
        F.col("n_eval").cast("long").alias("n_days_eval"),
        rz(
            F.col("ae_snaive").cast("double") / F.col("n_eval") / 100.0, 4
        ).alias("mae_snaive"),
        rz(
            F.col("ae_naive1").cast("double") / F.col("n_eval") / 100.0, 4
        ).alias("mae_naive1"),
        rz(
            F.col("ae_snaive").cast("double")
            / F.nullif(F.col("ae_naive1").cast("double"), F.lit(0.0)),
            4,
        ).alias("mase_vs_naive1"),
    ).orderBy("event_type")


@query(
    "events_audience_overlap",
    oracle="""
    WITH ut AS (
      SELECT DISTINCT user_id, event_type FROM events),
    n AS (SELECT event_type, count(*) AS n_users FROM ut GROUP BY event_type),
    p AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             count(*) AS n_both
      FROM ut a JOIN ut b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY a.event_type, b.event_type)
    SELECT p.type_a, p.type_b,
           CAST(na.n_users AS BIGINT) AS n_a,
           CAST(nb.n_users AS BIGINT) AS n_b,
           CAST(p.n_both AS BIGINT) AS n_both,
           (round(CAST(p.n_both AS DOUBLE)
                  / (na.n_users + nb.n_users - p.n_both) + 1e-9, 6) + 0.0)
             AS jaccard,
           (round(CAST(p.n_both AS DOUBLE)
                  / least(na.n_users, nb.n_users) + 1e-9, 6) + 0.0)
             AS containment
    FROM p JOIN n na ON p.type_a = na.event_type
           JOIN n nb ON p.type_b = nb.event_type
    ORDER BY type_a, type_b
    """,
)
def events_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix: for every pair of event types, the
    Jaccard and containment of their USER sets — the segmentation
    readout behind "do purchasers also file errors", cross-sell
    targeting, and funnel-stage audience sizing (containment of
    purchase-users inside click-users ≈ funnel reachability). The
    at-scale swap for thousands of segment types is per-type HLL
    sketches with inclusion-exclusion; at type²-bounded pair counts
    the exact form is strictly better.

    Scale shape: one distinct to the (user, type) frame, a
    user-co-located self-join whose pair fanout per user is bounded by
    the TYPE count (constant — never corpus-quadratic), and
    type-pair-keyed exact folds; sizes join back from a type-keyed
    count. All exact integers; one deterministic division each."""
    ut = pin(
        t(spark, sf_dir, "events").select("user_id", "event_type").distinct()
    )
    n = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_users"))
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select(F.col("user_id").alias("ub"), F.col("event_type").alias("type_b"))
    p = (
        a.join(b, (a.user_id == b.ub) & (a.type_a < b.type_b))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    na = n.select(F.col("event_type").alias("type_a"), F.col("n_users").alias("n_a"))
    nb = n.select(F.col("event_type").alias("type_b"), F.col("n_users").alias("n_b"))
    return (
        p.join(F.broadcast(na), "type_a")
        .join(F.broadcast(nb), "type_b")
        .select(
            "type_a",
            "type_b",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.col("n_both").cast("long").alias("n_both"),
            rz6(
                F.col("n_both").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_both"))
            ).alias("jaccard"),
            rz6(
                F.col("n_both").cast("double")
                / F.least(F.col("n_a"), F.col("n_b"))
            ).alias("containment"),
        )
        .orderBy("type_a", "type_b")
    )


@query(
    "events_stl_decomposition",
    oracle="""
    WITH e AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS dn,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    span AS (SELECT min(dn) AS lo, max(dn) AS hi FROM e),
    types AS (SELECT DISTINCT event_type FROM e),
    spine AS (
      SELECT t.event_type, s.dn
      FROM types t CROSS JOIN
        (SELECT unnest(generate_series(lo, hi)) AS dn FROM span) s),
    daily AS (
      SELECT sp.event_type, sp.dn, coalesce(sum(e.cents), 0) AS y
      FROM spine sp LEFT JOIN e
        ON sp.event_type = e.event_type AND sp.dn = e.dn
      GROUP BY sp.event_type, sp.dn),
    tr AS (
      SELECT event_type, dn, y,
             CASE WHEN count(*) OVER w = 7
                  THEN sum(y) OVER w END AS tr7
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY dn
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
    det AS (
      SELECT event_type, dn, y, tr7,
             CAST(round((y - tr7 / 7.0) * 10000) AS BIGINT) AS d_u
      FROM tr WHERE tr7 IS NOT NULL),
    seas AS (
      SELECT event_type, dn % 7 AS dow,
             CAST(round(avg(d_u)) AS BIGINT) AS s_u
      FROM det GROUP BY event_type, dn % 7),
    parts AS (
      SELECT det.event_type,
             CAST(round(det.tr7 / 7.0 * 10000) AS BIGINT) AS t_u,
             det.d_u, seas.s_u, det.d_u - seas.s_u AS r_u
      FROM det JOIN seas
        ON det.event_type = seas.event_type AND det.dn % 7 = seas.dow),
    m AS (
      SELECT event_type, count(*) AS n,
             sum(CAST(t_u AS DOUBLE)) AS st, sum(CAST(t_u AS DOUBLE) * t_u) AS stt,
             sum(CAST(d_u AS DOUBLE) * d_u) AS sdd,
             sum(CAST(s_u AS DOUBLE) * s_u) AS sss,
             sum(CAST(r_u AS DOUBLE) * r_u) AS srr
      FROM parts GROUP BY event_type)
    SELECT event_type,
           CAST(n AS BIGINT) AS n_days,
           (round((stt - st * st / n) / nullif(stt - st * st / n + sdd, 0.0)
                  + 1e-9, 6) + 0.0) AS trend_var_share,
           (round(sss / nullif(sdd, 0.0) + 1e-9, 6) + 0.0)
             AS seasonal_var_share,
           (round(srr / nullif(sdd, 0.0) + 1e-9, 6) + 0.0)
             AS residual_var_share
    FROM m ORDER BY event_type
    """,
)
def events_stl_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-lite decomposition of each type's daily revenue series:
    trend = centered 7-day moving average (full windows only),
    seasonal = day-of-week mean of the detrended series, residual =
    what's left — reported as variance shares (trend's share of total
    variation; seasonal and residual shares of the detrended
    variation), the triage readout that says whether a series is
    driven by drift, by weekly rhythm, or by noise — i.e. WHICH
    monitor (trend_slope, dow_seasonality, or the anomaly screens)
    should own its alerts.

    Scale shape: the (type, day) frame is calendar-bounded; the moving
    average is one 7-row window; detrended and seasonal components are
    rounded to 1e-4 integer units BEFORE every fold (the
    integer-moment convention — the engines sum identical integers in
    any order), and variance shares are deterministic expressions of
    those moments with zero-variance guards identical both sides. Day
    numbers are epoch-µs divisions so dn % 7 is the same locale-free
    weekday in both engines."""
    e = t(spark, sf_dir, "events").select(
        "event_type",
        (F.unix_micros(F.col("ts")) / F.lit(86400000000))
        .cast("long")
        .alias("dn"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    daily = (
        _typed_spine(e).join(e, ["event_type", "dn"], "left")
        .groupBy("event_type", "dn")
        .agg(F.coalesce(F.sum("cents"), F.lit(0)).alias("y"))
    )
    w7 = (
        Window.partitionBy("event_type")
        .orderBy("dn")
        .rowsBetween(-3, 3)
    )
    tr = daily.withColumn(
        "tr7",
        F.when(F.count(F.lit(1)).over(w7) == 7, F.sum("y").over(w7)),
    )
    det = tr.where(F.col("tr7").isNotNull()).select(
        "event_type",
        "dn",
        "tr7",
        F.round((F.col("y") - F.col("tr7") / 7.0) * 10000)
        .cast("long")
        .alias("d_u"),
    )
    det = pin(det)
    seas = (
        det.groupBy("event_type", (F.col("dn") % 7).alias("dow"))
        .agg(F.round(F.avg("d_u")).cast("long").alias("s_u"))
        .select(
            F.col("event_type").alias("s_type"),
            F.col("dow").alias("s_dow"),
            "s_u",
        )
    )
    parts = det.withColumn("dow", F.col("dn") % 7).join(
        F.broadcast(seas),
        (F.col("event_type") == F.col("s_type"))
        & (F.col("dow") == F.col("s_dow")),
    ).select(
        "event_type",
        F.round(F.col("tr7") / 7.0 * 10000).cast("long").alias("t_u"),
        "d_u",
        "s_u",
        (F.col("d_u") - F.col("s_u")).alias("r_u"),
    )
    td = F.col("t_u").cast("double")
    m = parts.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(td).alias("st"),
        F.sum(td * F.col("t_u")).alias("stt"),
        F.sum(F.col("d_u").cast("double") * F.col("d_u")).alias("sdd"),
        F.sum(F.col("s_u").cast("double") * F.col("s_u")).alias("sss"),
        F.sum(F.col("r_u").cast("double") * F.col("r_u")).alias("srr"),
    )
    n = F.col("n")
    tvar = F.col("stt") - F.col("st") * F.col("st") / n
    return m.select(
        "event_type",
        n.cast("long").alias("n_days"),
        rz6(tvar / F.nullif(tvar + F.col("sdd"), F.lit(0.0))).alias(
            "trend_var_share"
        ),
        rz6(F.col("sss") / F.nullif(F.col("sdd"), F.lit(0.0))).alias(
            "seasonal_var_share"
        ),
        rz6(F.col("srr") / F.nullif(F.col("sdd"), F.lit(0.0))).alias(
            "residual_var_share"
        ),
    ).orderBy("event_type")


@query(
    "dq_ingest_volume_anomaly",
    oracle="""
    WITH e AS (
      SELECT epoch_us(ts) // 86400000000 AS dn FROM events),
    span AS (SELECT min(dn) AS lo, max(dn) AS hi FROM e),
    spine AS (SELECT unnest(generate_series(lo, hi)) AS dn FROM span),
    daily AS (
      SELECT s.dn, count(e.dn) AS n
      FROM spine s LEFT JOIN e ON s.dn = e.dn GROUP BY s.dn),
    w AS (
      SELECT dn, n,
             CASE WHEN count(*) OVER win = 7
                  THEN list_sort(list(n) OVER win)[4] END AS med7
      FROM daily
      WINDOW win AS (ORDER BY dn ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
    s AS (
      SELECT dn, n, med7,
             CAST(n - med7 AS DOUBLE) / greatest(med7, 1) AS dev
      FROM w WHERE med7 IS NOT NULL)
    SELECT CAST(dn AS BIGINT) AS day_num,
           CAST(n AS BIGINT) AS n_events,
           CAST(med7 AS BIGINT) AS trailing_median,
           (round(dev + 1e-9, 4) + 0.0) AS deviation,
           (abs(dev) > 0.5) AS is_anomaly
    FROM s ORDER BY day_num
    """,
)
def dq_ingest_volume_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily ingest-volume anomaly screen: each day's event count
    against the EXACT median of the trailing 7 days (current day
    excluded), flagged past ±50% — the first-line pipeline monitor
    that catches both the doubled feed (an upstream replay) and the
    silent day (a dead producer: the zero-densified spine makes a
    missing day a 100% drop, not a missing row). The trailing-median
    baseline is the robust choice: one spiky yesterday cannot poison
    today's expectation the way a trailing mean would.

    Scale shape: one scan folds to the day frame; the rolling median
    is a CONSTANT 7-element frame (a sorted 7-list per row — the
    events_rolling_median bounded-frame discipline, never a
    value-space window), and day counts are exact integers with a
    greatest(median,1) guard identical both engines. Warm-up days
    (fewer than 7 priors) are excluded identically."""
    e = t(spark, sf_dir, "events").select(
        (F.unix_micros(F.col("ts")) / F.lit(86400000000))
        .cast("long")
        .alias("dn")
    )
    daily = (
        _scalar_spine(e)
        .join(e.groupBy("dn").agg(F.count(F.lit(1)).alias("cnt")), "dn", "left")
        .select("dn", F.coalesce(F.col("cnt"), F.lit(0)).alias("n"))
    )
    win = Window.orderBy("dn").rowsBetween(-7, -1)
    w = daily.withColumn(
        "med7",
        F.when(
            F.count(F.lit(1)).over(win) == 7,
            F.element_at(F.sort_array(F.collect_list("n").over(win)), 4),
        ),
    )
    s = w.where(F.col("med7").isNotNull())
    dev = (F.col("n") - F.col("med7")).cast("double") / F.greatest(
        F.col("med7"), F.lit(1)
    )
    return s.select(
        F.col("dn").cast("long").alias("day_num"),
        F.col("n").cast("long").alias("n_events"),
        F.col("med7").cast("long").alias("trailing_median"),
        rz(dev, 4).alias("deviation"),
        (F.abs(dev) > 0.5).alias("is_anomaly"),
    ).orderBy("day_num")


@query(
    "events_target_encoding",
    oracle="""
    WITH c AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    g AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS s
      FROM c GROUP BY event_type),
    tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(s) AS BIGINT) AS ss
      FROM g)
    SELECT event_type, n AS n_events,
           (round(CAST(s AS DOUBLE) / n / 100 + 1e-8, 4) + 0.0) AS raw_mean,
           (round((s + 20.0 * ss / nn) / (n + 20) / 100 + 1e-8, 4) + 0.0)
             AS encoded_mean,
           (round(20.0 / (n + 20) + 1e-9, 6) + 0.0) AS shrink
    FROM g, tot ORDER BY event_type
    """,
)
def events_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed (empirical-Bayes) target-encoding audit for the
    event_type categorical against the value target — the standard
    feature-engineering transform a training pipeline applies to
    high-cardinality categoricals, shown at category grain: raw
    category mean, the m=20-pseudo-observation shrunk encoding
    (s + m·μ_global)/(n + m), and the shrink weight m/(n+m) that says
    how much each category was pulled toward the prior. Rare
    categories shrink hard (the overfitting the transform exists to
    prevent); the audit is what a feature store publishes next to the
    encoder so reviewers can see the prior's pull before training on
    it.

    Scale shape: one grouped integer-moment fold (exact cents sums —
    float order never enters), one 1-row global total broadcast, and
    deterministic scalar divisions of exact integers per category row.
    The category frame is |distinct types| — dashboard-sized at any
    fact scale."""
    c = t(spark, sf_dir, "events").select(
        "event_type",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    g = c.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
    )
    tot = g.agg(
        F.sum("n").cast("long").alias("nn"), F.sum("s").cast("long").alias("ss")
    )
    j = g.crossJoin(F.broadcast(tot))
    mu_g = F.lit(20.0) * F.col("ss") / F.col("nn")
    return j.select(
        "event_type",
        F.col("n").alias("n_events"),
        rz(F.col("s").cast("double") / F.col("n") / 100, 4, 1e-8).alias(
            "raw_mean"
        ),
        rz((F.col("s") + mu_g) / (F.col("n") + 20) / 100, 4, 1e-8).alias(
            "encoded_mean"
        ),
        rz6(F.lit(20.0) / (F.col("n") + 20)).alias("shrink"),
    ).orderBy("event_type")


@query(
    "events_session_entropy",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY user_id, event_type),
    u AS (
      SELECT user_id,
             CAST(sum(c) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS n_types,
             CAST(sum(CAST(round(c * ln(c) * 1e9) AS BIGINT)) AS BIGINT)
               AS t_units
      FROM c GROUP BY user_id HAVING sum(c) >= 5),
    h AS (
      SELECT n, n_types,
             (round(ln(n) - CAST(t_units AS DOUBLE) / (n * 1e9) + 1e-9, 6)
              + 0.0) AS rh
      FROM u)
    SELECT floor(rh * 4) / 4 AS entropy_bin,
           CAST(count(*) AS BIGINT) AS n_users,
           (round(avg(CAST(n AS DOUBLE)) + 1e-8, 4) + 0.0) AS avg_events,
           (round(avg(CAST(n_types AS DOUBLE)) + 1e-8, 4) + 0.0) AS avg_types
    FROM h GROUP BY entropy_bin ORDER BY entropy_bin
    """,
)
def events_session_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral-diversity histogram: each user's Shannon entropy over
    their event-type mix (H = ln n − (1/n)Σc·ln c, ≥5 events), bucketed
    into quarter-nat bins with the user count and mean activity per
    bin. The low-entropy mass is monotypic traffic (scripted clients,
    scrapers — the complement of events_bot_detection's timing lens);
    the high-entropy tail is genuinely engaged users. Segmentation
    teams read the bimodality, abuse teams read the H≈0 spike.

    Scale shape: one (user,type) fold, one user-grain fold, one
    bin-grain fold — no windows, no joins beyond a bounded grouping
    chain. Each c·ln c term rounds to 1e-9 integer units BEFORE the
    per-user sum (exact integer addition — the cross-engine float-order
    class; terms stay < 2^63 to ~4·10^8 events of one type for one
    user), H is a deterministic double expression of exact integers
    rounded at 6 digits, and the bin edge multiplies the ROUNDED value
    by 4 — an exact power-of-two scaling, so the floor is
    deterministic in both engines."""
    c = t(spark, sf_dir, "events").groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    u = (
        c.groupBy("user_id")
        .agg(
            F.sum("c").cast("long").alias("n"),
            F.count(F.lit(1)).cast("long").alias("n_types"),
            F.sum(F.round(F.col("c") * F.log("c") * 1e9).cast("long"))
            .cast("long")
            .alias("t_units"),
        )
        .where(F.col("n") >= 5)
    )
    rh = rz6(
        F.log("n") - F.col("t_units").cast("double") / (F.col("n") * 1e9)
    )
    h = u.select("n", "n_types", rh.alias("rh"))
    return (
        h.groupBy((F.floor(F.col("rh") * 4) / 4).alias("entropy_bin"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            rz(F.avg(F.col("n").cast("double")), 4, 1e-8).alias("avg_events"),
            rz(F.avg(F.col("n_types").cast("double")), 4, 1e-8).alias(
                "avg_types"
            ),
        )
        .orderBy("entropy_bin")
    )


@query(
    "events_max_drawdown",
    oracle="""
    WITH d AS (
      SELECT epoch_us(ts) // 86400000000 AS dn,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE -1 END
                      * CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events WHERE event_type IN ('purchase', 'error') GROUP BY dn),
    eq AS (
      SELECT dn,
             CAST(sum(cents) OVER (ORDER BY dn) AS BIGINT) AS cum
      FROM d),
    dd AS (
      SELECT dn, cum,
             CAST(max(cum) OVER (ORDER BY dn) AS BIGINT) AS runmax
      FROM eq),
    trough AS (
      SELECT dn AS trough_dn, cum AS trough_cum, runmax,
             runmax - cum AS max_drawdown_cents
      FROM dd ORDER BY runmax - cum DESC, dn LIMIT 1)
    SELECT (SELECT CAST(min(dd.dn) AS BIGINT) FROM dd, trough
            WHERE dd.cum = trough.runmax AND dd.dn <= trough.trough_dn)
             AS peak_dn,
           CAST(trough_dn AS BIGINT) AS trough_dn,
           CAST(runmax AS BIGINT) AS peak_cum_cents,
           CAST(trough_cum AS BIGINT) AS trough_cum_cents,
           CAST(max_drawdown_cents AS BIGINT) AS max_drawdown_cents,
           (round(CAST(max_drawdown_cents AS DOUBLE)
                  / nullif(runmax, 0) + 1e-9, 6) + 0.0) AS drawdown_frac
    FROM trough
    """,
)
def events_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of the cumulative daily NET-revenue curve
    (purchases credit, errors debit as the chargeback/refund proxy —
    gross purchase flow alone is nonnegative, so its cumulative curve
    can never draw down and the statistic would be vacuously zero):
    the deepest peak-to-trough fall, with the peak day, trough day,
    and the fall as a fraction of the peak — the revenue-health
    readout a finance/ops dashboard tracks: the worst sustained
    stretch where debits outran credits. Days without flow simply
    extend the previous equity level, so densification cannot change
    the maximum and is skipped in both engines.

    Scale shape: the fact scan folds to DAY grain first (exact integer
    cents per day), and everything after — running sum, running max,
    the trough argmax, the peak lookup — runs on the day-grain frame,
    whose row count is calendar-bounded (≤ a few thousand rows per
    tracked year regardless of fact volume; the unpartitioned windows
    are bounded by that, never by data scale). All integer arithmetic;
    the one float is the final fraction of two exact integers."""
    d = (
        t(spark, sf_dir, "events")
        .where(F.col("event_type").isin("purchase", "error"))
        .groupBy(
            (F.unix_micros(F.col("ts")) / F.lit(86400000000)).cast("long")
            .alias("dn")
        )
        .agg(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1)
                .otherwise(-1)
                * F.expr("CAST(round(value * 100) AS BIGINT)")
            )
            .cast("long")
            .alias("cents")
        )
    )
    w = Window.orderBy("dn").rowsBetween(Window.unboundedPreceding, 0)
    dd = d.select(
        "dn",
        F.sum("cents").over(w).cast("long").alias("cum"),
    ).select("dn", "cum", F.max("cum").over(w).cast("long").alias("runmax"))
    dd = pin(dd)
    trough = (
        dd.select(
            F.col("dn").alias("trough_dn"),
            F.col("cum").alias("trough_cum"),
            F.col("runmax").alias("t_runmax"),
            (F.col("runmax") - F.col("cum")).alias("max_drawdown_cents"),
        )
        .orderBy(F.desc("max_drawdown_cents"), F.asc("trough_dn"))
        .limit(1)
    )
    peak = (
        dd.join(
            F.broadcast(trough),
            (F.col("cum") == F.col("t_runmax"))
            & (F.col("dn") <= F.col("trough_dn")),
        )
        .agg(F.min("dn").cast("long").alias("peak_dn"))
    )
    return peak.crossJoin(F.broadcast(trough)).select(
        "peak_dn",
        F.col("trough_dn").cast("long").alias("trough_dn"),
        F.col("t_runmax").cast("long").alias("peak_cum_cents"),
        F.col("trough_cum").cast("long").alias("trough_cum_cents"),
        F.col("max_drawdown_cents").cast("long").alias("max_drawdown_cents"),
        rz6(
            F.col("max_drawdown_cents").cast("double")
            / F.nullif(F.col("t_runmax"), F.lit(0))
        ).alias("drawdown_frac"),
    )


@query(
    "events_revenue_streaks",
    oracle="""
    WITH d0 AS (
      SELECT epoch_us(ts) // 86400000000 AS dn,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE -1 END
                      * CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events WHERE event_type IN ('purchase', 'error') GROUP BY dn),
    span AS (SELECT min(dn) AS lo, max(dn) AS hi FROM d0),
    spine AS (SELECT unnest(generate_series(lo, hi)) AS dn FROM span),
    d AS (
      SELECT s.dn, coalesce(d0.cents, 0) AS cents
      FROM spine s LEFT JOIN d0 ON s.dn = d0.dn),
    dl AS (
      SELECT dn, cents - lag(cents) OVER (ORDER BY dn) AS delta
      FROM d),
    sg AS (
      SELECT dn, CASE WHEN delta > 0 THEN 1 WHEN delta < 0 THEN -1
                      ELSE 0 END AS sgn,
             row_number() OVER (ORDER BY dn) AS rn
      FROM dl WHERE delta IS NOT NULL),
    sgg AS (
      SELECT dn, sgn,
             rn - row_number() OVER (PARTITION BY sgn ORDER BY dn) AS grp
      FROM sg),
    isl AS (
      SELECT sgn, grp,
             CAST(count(*) AS BIGINT) AS len,
             CAST(min(dn) AS BIGINT) AS start_dn
      FROM sgg GROUP BY sgn, grp),
    best AS (
      SELECT sgn, len, start_dn,
             row_number() OVER (PARTITION BY sgn
                                ORDER BY len DESC, start_dn) AS rk
      FROM isl),
    census AS (
      SELECT sgn, CAST(sum(len) AS BIGINT) AS n_days,
             CAST(count(*) AS BIGINT) AS n_streaks
      FROM isl GROUP BY sgn)
    SELECT CASE WHEN c.sgn = 1 THEN 'up' WHEN c.sgn = -1 THEN 'down'
                ELSE 'flat' END AS direction,
           c.n_days, c.n_streaks,
           b.len AS longest_days, b.start_dn AS longest_start_dn
    FROM census c JOIN best b ON c.sgn = b.sgn AND b.rk = 1
    ORDER BY direction
    """,
)
def events_revenue_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Momentum census of the daily net-revenue series (same
    credit/debit basis as events_max_drawdown, densified so a silent
    day is an explicit zero): for each day-over-day direction
    (up / down / flat), the total day count, the number of maximal
    runs, and the longest run with its start day — the
    "N consecutive growth days" readout an ops review quotes, and the
    flat-streak row doubles as a stuck-pipeline detector (a long run
    of zero deltas usually means ingest stopped, not revenue).

    Scale shape: the fact scan folds to day grain first; the spine,
    lag, and gaps-and-islands grouping (rn − per-direction rn, the
    events_gap_islands pattern) all run on the calendar-bounded
    day-grain frame (≤ a few thousand rows per tracked year at any
    fact volume — the unpartitioned windows are bounded by the
    calendar, never by data scale). Longest-run selection is a
    deterministic (len DESC, start_dn) rank — no bare max_by ties.
    Everything is exact integer arithmetic."""
    d0 = (
        t(spark, sf_dir, "events")
        .where(F.col("event_type").isin("purchase", "error"))
        .groupBy(
            (F.unix_micros(F.col("ts")) / F.lit(86400000000)).cast("long")
            .alias("dn")
        )
        .agg(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(-1)
                * F.expr("CAST(round(value * 100) AS BIGINT)")
            )
            .cast("long")
            .alias("cents")
        )
    )
    d = (
        _scalar_spine(d0)
        .join(d0, "dn", "left")
        .select("dn", F.coalesce("cents", F.lit(0)).alias("cents"))
    )
    wd = Window.orderBy("dn")
    dl = d.select(
        "dn", (F.col("cents") - F.lag("cents").over(wd)).alias("delta")
    ).where(F.col("delta").isNotNull())
    sg = dl.select(
        "dn",
        F.when(F.col("delta") > 0, 1)
        .when(F.col("delta") < 0, -1)
        .otherwise(0)
        .alias("sgn"),
        F.row_number().over(wd).alias("rn"),
    )
    isl = (
        sg.select(
            "dn",
            "sgn",
            (
                F.col("rn")
                - F.row_number().over(Window.partitionBy("sgn").orderBy("dn"))
            ).alias("grp"),
        )
        .groupBy("sgn", "grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("len"),
            F.min("dn").cast("long").alias("start_dn"),
        )
    )
    isl = pin(isl)
    best = isl.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("sgn").orderBy(
                F.desc("len"), F.asc("start_dn")
            )
        ),
    ).where(F.col("rk") == 1)
    census = isl.groupBy("sgn").agg(
        F.sum("len").cast("long").alias("n_days"),
        F.count(F.lit(1)).cast("long").alias("n_streaks"),
    )
    direction = (
        F.when(F.col("c.sgn") == 1, "up")
        .when(F.col("c.sgn") == -1, "down")
        .otherwise("flat")
    )
    return (
        census.alias("c")
        .join(best.alias("b"), F.col("c.sgn") == F.col("b.sgn"))
        .select(
            direction.alias("direction"),
            F.col("c.n_days").alias("n_days"),
            F.col("c.n_streaks").alias("n_streaks"),
            F.col("b.len").alias("longest_days"),
            F.col("b.start_dn").alias("longest_start_dn"),
        )
        .orderBy("direction")
    )


@query(
    "events_periodogram",
    oracle="""
    WITH d0 AS (
      SELECT epoch_us(ts) // 86400000000 AS dn, count(*) AS x
      FROM events GROUP BY dn),
    span AS (SELECT min(dn) AS lo, max(dn) AS hi FROM d0),
    spine AS (SELECT unnest(generate_series(lo, hi)) AS dn FROM span),
    d AS (
      SELECT s.dn - span.lo AS tt, coalesce(d0.x, 0) AS x
      FROM spine s LEFT JOIN d0 ON s.dn = d0.dn, span),
    m AS (SELECT count(*) AS nd, sum(x) // count(*) AS ybar FROM d),
    y AS (SELECT tt, CAST(x - ybar AS BIGINT) AS y FROM d, m),
    p AS (SELECT unnest(generate_series(2, 30)) AS period),
    terms AS (
      SELECT p.period,
             CAST(round(y.y * cos(2 * pi() * y.tt / p.period) * 1e6)
                  AS BIGINT) AS au,
             CAST(round(y.y * sin(2 * pi() * y.tt / p.period) * 1e6)
                  AS BIGINT) AS bu
      FROM y, p),
    pw AS (
      SELECT period,
             CAST(sum(au) AS DOUBLE) * sum(au)
             + CAST(sum(bu) AS DOUBLE) * sum(bu) AS power
      FROM terms GROUP BY period),
    tot AS (SELECT sum(power) AS tp, max(power) AS mp FROM pw)
    SELECT CAST(period AS BIGINT) AS period,
           (round(power / nullif(tp, 0.0) + 1e-9, 6) + 0.0) AS power_share,
           power = mp AS dominant
    FROM pw, tot ORDER BY period
    """,
)
def events_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Periodogram screen over the daily event-count series: spectral
    power at candidate cycle lengths 2..30 days (Goertzel-style
    A_p = Σ y_t·cos(2πt/p), B_p = Σ y_t·sin(2πt/p) on the demeaned,
    densified series), each reported as its share of total candidate
    power with the dominant cycle flagged. Where dow_seasonality
    ASSUMES the week and measures it, this query DISCOVERS the cycle —
    a 14-day paycheck rhythm, a 30-day billing pulse, or an unexpected
    9-day batch artifact all surface without being hypothesized.

    Scale shape: the fact scan folds to day grain first; the spine,
    demeaning (integer ybar = total div n_days — exact in both
    engines), and the days × 29 candidate cross join are all
    calendar-bounded. Each trig term is rounded to 1e-6 integer units
    BEFORE the sum (exact integer addition — float-order class;
    a last-ulp cos/sin divergence moves a term by ≤1 unit of ~1e12,
    far inside the 6-digit share round), and power combines the two
    exact sums in double (the int64 square-wrap class)."""
    d0 = (
        t(spark, sf_dir, "events")
        .groupBy(
            (F.unix_micros(F.col("ts")) / F.lit(86400000000)).cast("long")
            .alias("dn")
        )
        .agg(F.count(F.lit(1)).alias("x"))
    )
    lo = d0.agg(F.min("dn").alias("lo"))
    d = (
        _scalar_spine(d0)
        .join(d0, "dn", "left")
        .crossJoin(F.broadcast(lo))
        .select(
            (F.col("dn") - F.col("lo")).alias("tt"),
            F.coalesce("x", F.lit(0)).alias("x"),
        )
    )
    m = d.agg(
        F.count(F.lit(1)).alias("nd"),
        F.expr("sum(x) div count(*)").alias("ybar"),
    )
    y = d.crossJoin(F.broadcast(m)).select(
        "tt", (F.col("x") - F.col("ybar")).cast("long").alias("y")
    )
    p = spark.range(2, 31).select(F.col("id").alias("period"))
    ang = F.lit(2.0) * F.lit(3.141592653589793) * F.col("tt") / F.col("period")
    terms = y.crossJoin(F.broadcast(p)).select(
        "period",
        F.round(F.col("y") * F.cos(ang) * 1e6).cast("long").alias("au"),
        F.round(F.col("y") * F.sin(ang) * 1e6).cast("long").alias("bu"),
    )
    pw = terms.groupBy("period").agg(
        (
            F.sum("au").cast("double") * F.sum("au")
            + F.sum("bu").cast("double") * F.sum("bu")
        ).alias("power")
    )
    tot = pw.agg(F.sum("power").alias("tp"), F.max("power").alias("mp"))
    return (
        pw.crossJoin(F.broadcast(tot))
        .select(
            F.col("period").cast("long").alias("period"),
            rz6(F.col("power") / F.nullif(F.col("tp"), F.lit(0.0))).alias(
                "power_share"
            ),
            (F.col("power") == F.col("mp")).alias("dominant"),
        )
        .orderBy("period")
    )


def _markov_oracle() -> str:
    """Generate the unrolled fixed-point oracle for
    events_markov_attribution: shared transition matrix pm
    (MATERIALIZED — referenced by every scenario chain), then for each
    scenario (full + one removal per standard channel) six unrolled
    value-iteration steps in EXACT 1e-9 integer fixed-point:

        v_{i+1}[s] = (Σ_t pu(s→t) · val_i(t)) // 1e9,
        val_i(CONV) = 1e9, val_i(NULL) = 0, else v_i[t] (0 if absent)

    Every quantity is an integer (products ≤ 1e18 < 2^63 because
    Σ_t pu ≤ 1e9 and values ≤ 1e9), so the oracle and the Spark side
    compute IDENTICAL numbers regardless of summation order — the same
    discipline as the integer-unit entropy/PMI folds."""
    channels = ["click", "error", "signup", "view"]
    scen = {"full": None, **{f"no_{c}": c for c in channels}}
    parts = []
    for name, removed in scen.items():
        pmsrc = (
            "pm" if removed is None
            else f"(SELECT * FROM pm WHERE to_s <> '{removed}')"
        )
        prev = f"v0_{name}"
        parts.append(
            f"{prev} AS (SELECT CAST(NULL AS VARCHAR) AS state, "
            f"CAST(NULL AS BIGINT) AS vu WHERE false)"
        )
        for i in range(1, 7):
            cur = f"v{i}_{name}"
            parts.append(
                f"""{cur} AS (
      SELECT p.from_s AS state,
             CAST(sum(p.pu * (CASE WHEN p.to_s = 'CONV' THEN 1000000000
                                   WHEN p.to_s = 'NULL' THEN 0
                                   ELSE coalesce(v.vu, 0) END))
                  // 1000000000 AS BIGINT) AS vu
      FROM {pmsrc} p LEFT JOIN {prev} v ON p.to_s = v.state
      GROUP BY p.from_s)"""
            )
            prev = cur
        parts.append(
            f"p_{name} AS (SELECT CAST(coalesce((SELECT vu FROM v6_{name} "
            f"WHERE state = 'START'), 0) AS BIGINT) AS pu)"
        )
    removal_rows = "\n      UNION ALL\n".join(
        f"      SELECT '{c}' AS channel, "
        f"(SELECT pu FROM p_full) - (SELECT pu FROM p_no_{c}) AS ru"
        for c in channels
    )
    scenario_ctes = ",\n    ".join(parts)
    return f"""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS us, event_id, event_type AS ty
      FROM events),
    r AS (
      SELECT user_id, ty,
             row_number() OVER (PARTITION BY user_id ORDER BY us, event_id)
               AS rk
      FROM e),
    fp AS (SELECT user_id, min(rk) AS frk FROM r WHERE ty = 'purchase'
           GROUP BY user_id),
    j AS (
      SELECT r.user_id, r.ty, r.rk, fp.frk
      FROM r LEFT JOIN fp USING (user_id)
      WHERE fp.frk IS NULL OR r.rk <= fp.frk),
    tr0 AS (
      SELECT coalesce(lag(ty) OVER (PARTITION BY user_id ORDER BY rk),
                      'START') AS from_s,
             CASE WHEN ty = 'purchase' THEN 'CONV' ELSE ty END AS to_s,
             (frk IS NULL
              AND rk = max(rk) OVER (PARTITION BY user_id))
               AS last_unconverted
      FROM j),
    tr AS (
      SELECT from_s, to_s FROM tr0
      UNION ALL SELECT to_s, 'NULL' FROM tr0 WHERE last_unconverted),
    cnts AS (SELECT from_s, to_s, CAST(count(*) AS BIGINT) AS cnt
             FROM tr GROUP BY from_s, to_s),
    outs AS (SELECT from_s, CAST(sum(cnt) AS BIGINT) AS outc
             FROM cnts GROUP BY from_s),
    pm AS MATERIALIZED (
      SELECT c.from_s, c.to_s,
             CAST(round(CAST(cnt AS DOUBLE) * 1000000000 / outc) AS BIGINT)
               AS pu
      FROM cnts c JOIN outs USING (from_s)),
    {scenario_ctes},
    rem AS (
{removal_rows}),
    obs AS (SELECT DISTINCT to_s AS channel FROM pm
            WHERE to_s NOT IN ('CONV', 'NULL')),
    tot AS (SELECT CAST(sum(ru) AS BIGINT) AS tru FROM rem
            JOIN obs USING (channel))
    SELECT rem.channel,
           (round(CAST(ru AS DOUBLE)
                  / nullif((SELECT pu FROM p_full), 0) + 1e-9, 6) + 0.0)
             AS removal_effect,
           (round(CAST(ru AS DOUBLE) / nullif(tot.tru, 0) + 1e-9, 6) + 0.0)
             AS credit_share,
           (round((SELECT pu FROM p_full) / 1e9 + 1e-9, 6) + 0.0) AS p_conv
    FROM rem JOIN obs USING (channel), tot
    ORDER BY rem.channel
    """


@query("events_markov_attribution", oracle=_markov_oracle())
def events_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain (removal-effect) attribution — the data-driven
    alternative to first/last-touch: user journeys (truncated at the
    first purchase) become a transition matrix over channel states plus
    START / CONV / NULL absorbers; each channel's credit is how much
    the 6-step conversion probability from START DROPS when transitions
    into that channel are removed (mass flows to NULL — the standard
    removal-effect construction), normalized across channels. The
    first/linear/window-sweep attribution queries answer "what touched
    the conversion"; this one answers "what was CAUSALLY LOAD-BEARING
    in the graph of journeys" — channels that merely ride along earn
    nothing.

    Scale shape: the ONLY fact-sized work is journey extraction (one
    user-partitioned rank window + lag window — the sessionize
    exchange) and the transition fold; the matrix that reaches the
    driver is (|channels|+3)²-bounded (dashboard-sized at any fact
    volume, enforced), and the 5-scenario × 6-step value iteration
    runs in EXACT 1e-9 integer fixed-point — every product ≤ 1e18, so
    Python and the oracle's unrolled CTE chain compute bit-identical
    integers regardless of summation order; the final ratios divide
    exact integers inside Spark expressions (the proven F.round/rz6
    lane)."""
    e = t(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("us"),
        "event_id",
        F.col("event_type").alias("ty"),
    )
    wu = Window.partitionBy("user_id").orderBy("us", "event_id")
    r = e.select("user_id", "ty", F.row_number().over(wu).alias("rk"))
    fp = (
        r.where(F.col("ty") == "purchase")
        .groupBy("user_id")
        .agg(F.min("rk").alias("frk"))
    )
    j = r.join(fp, "user_id", "left").where(
        F.col("frk").isNull() | (F.col("rk") <= F.col("frk"))
    )
    wr = Window.partitionBy("user_id").orderBy("rk")
    tr0 = j.select(
        F.coalesce(F.lag("ty").over(wr), F.lit("START")).alias("from_s"),
        F.when(F.col("ty") == "purchase", "CONV")
        .otherwise(F.col("ty"))
        .alias("to_s"),
        (
            F.col("frk").isNull()
            & (
                F.col("rk")
                == F.max("rk").over(Window.partitionBy("user_id"))
            )
        ).alias("last_unconverted"),
    )
    tr = tr0.select("from_s", "to_s").unionAll(
        tr0.where(F.col("last_unconverted")).select(
            F.col("to_s").alias("from_s"), F.lit("NULL").alias("to_s")
        )
    )
    cnts = tr.groupBy("from_s", "to_s").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    outs = cnts.groupBy("from_s").agg(F.sum("cnt").cast("long").alias("outc"))
    pm_rows = (
        cnts.join(outs, "from_s")
        .select(
            "from_s",
            "to_s",
            F.round(F.col("cnt").cast("double") * 1e9 / F.col("outc"))
            .cast("long")
            .alias("pu"),
        )
        .collect()
    )
    # the collected matrix is (|states|)²-bounded — dashboard-sized at
    # any fact volume; enforce the contract rather than trust it
    if len(pm_rows) > 10_000:
        raise ValueError(
            f"transition matrix has {len(pm_rows)} cells — the state "
            "space is not bounded; refusing a driver-side solve"
        )
    pm = [(row["from_s"], row["to_s"], row["pu"]) for row in pm_rows]
    channels = ["click", "error", "signup", "view"]
    observed = sorted(
        {to for _f, to, _p in pm if to not in ("CONV", "NULL")}
        & set(channels)
    )

    def p_conv_units(removed: str | None) -> int:
        mat = [(f, to, pu) for f, to, pu in pm if to != removed]
        v: dict[str, int] = {}
        for _ in range(6):
            nxt: dict[str, int] = {}
            for f, to, pu in mat:
                val = (
                    1_000_000_000
                    if to == "CONV"
                    else 0 if to == "NULL" else v.get(to, 0)
                )
                nxt[f] = nxt.get(f, 0) + pu * val
            v = {s: total // 1_000_000_000 for s, total in nxt.items()}
        return v.get("START", 0)

    pf = p_conv_units(None)
    rows = [(c, pf, pf - p_conv_units(c)) for c in observed]
    out = spark.createDataFrame(
        rows, "channel string, pf long, ru long"
    )
    tot = out.agg(F.sum("ru").cast("long").alias("tru"))
    return (
        out.crossJoin(F.broadcast(tot))
        .select(
            "channel",
            rz6(
                F.col("ru").cast("double") / F.nullif(F.col("pf"), F.lit(0))
            ).alias("removal_effect"),
            rz6(
                F.col("ru").cast("double") / F.nullif(F.col("tru"), F.lit(0))
            ).alias("credit_share"),
            rz6(F.col("pf") / F.lit(1e9)).alias("p_conv"),
        )
        .orderBy("channel")
    )


@query(
    "events_uplift_qini",
    oracle="""
    WITH u AS (
      SELECT user_id,
             CAST(user_id % 2 AS BIGINT) AS arm,
             CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS score,
             CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS conv
      FROM events GROUP BY user_id),
    n AS (SELECT CAST(count(*) AS BIGINT) AS nu FROM u),
    r AS (
      SELECT u.*,
             CAST((row_number() OVER (ORDER BY score DESC, user_id) - 1)
                  * 10 // n.nu AS BIGINT) AS dec
      FROM u, n),
    d AS (
      SELECT dec,
             CAST(count(*) FILTER (arm = 1) AS BIGINT) AS nt,
             CAST(count(*) FILTER (arm = 0) AS BIGINT) AS nc,
             CAST(sum(conv) FILTER (arm = 1) AS BIGINT) AS ct,
             CAST(sum(conv) FILTER (arm = 0) AS BIGINT) AS cc
      FROM r GROUP BY dec),
    term AS (
      SELECT dec, nt, nc, ct, cc,
             CAST(round((ct - CAST(cc AS DOUBLE) * nt / nullif(nc, 0))
                        * 1e6) AS BIGINT) AS qu
      FROM d),
    q AS (
      SELECT dec, nt, nc, ct, cc,
             sum(qu) OVER (ORDER BY dec) AS qcum
      FROM term)
    SELECT dec + 1 AS decile, nt AS n_treat, nc AS n_ctrl,
           (round(CAST(ct AS DOUBLE) / nullif(nt, 0) + 1e-9, 6) + 0.0)
             AS rate_treat,
           (round(CAST(cc AS DOUBLE) / nullif(nc, 0) + 1e-9, 6) + 0.0)
             AS rate_ctrl,
           (round(CAST(ct AS DOUBLE) / nullif(nt, 0)
                  - CAST(cc AS DOUBLE) / nullif(nc, 0) + 1e-9, 6) + 0.0)
             AS uplift,
           (round(CAST(qcum AS DOUBLE) / 1e6 + 1e-8, 4) + 0.0)
             AS qini_cum
    FROM q ORDER BY decile
    """,
)
def events_uplift_qini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uplift (Qini) decile table: users ranked by an engagement score
    (click count — the stand-in for a model score), split into deciles;
    each decile reports treatment/control conversion rates (arms =
    user_id parity, the platform's deterministic assignment), their
    uplift, and the cumulative Qini statistic Σ(ct − cc·nt/nc) — the
    curve an uplift model is judged by: steep early deciles mean the
    score finds the PERSUADABLE users, a flat curve means targeting by
    it is wasted spend. Complements the A/B family (welch/CUPED/SRM
    measure the average effect; this measures targeting value).

    Scale shape: one user-grain fold (score + converter flag + arm),
    decile assignment via `global_rank` and integer division (never an
    ntile global window), one decile-grain conditional fold, and the
    Qini prefix sum runs over the ≤10 decile rows with each term
    rounded to 1e-6 integer units first (exact cumsum — the
    cross-engine float-order class). Division guards (nullif) are
    identical in both engines."""
    from sec_dl_spark.operators.relational import global_rank

    u = t(spark, sf_dir, "events").groupBy("user_id").agg(
        (F.col("user_id") % 2).cast("long").alias("arm"),
        F.count(F.when(F.col("event_type") == "click", 1))
        .cast("long")
        .alias("score"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .cast("long")
        .alias("conv"),
    )
    n = u.agg(F.count(F.lit(1)).cast("long").alias("nu"))
    r = (
        global_rank(u, order=[F.desc("score"), F.asc("user_id")], rank_col="rk")
        .crossJoin(F.broadcast(n))
        .select("arm", "conv", F.expr("rk * 10 div nu").cast("long").alias("dec"))
    )
    d = r.groupBy("dec").agg(
        F.count(F.when(F.col("arm") == 1, 1)).cast("long").alias("nt"),
        F.count(F.when(F.col("arm") == 0, 1)).cast("long").alias("nc"),
        F.sum(F.when(F.col("arm") == 1, F.col("conv"))).cast("long").alias("ct"),
        F.sum(F.when(F.col("arm") == 0, F.col("conv"))).cast("long").alias("cc"),
    )
    qu = F.round(
        (
            F.col("ct")
            - F.col("cc").cast("double")
            * F.col("nt")
            / F.nullif(F.col("nc"), F.lit(0))
        )
        * 1e6
    ).cast("long")
    term = d.select("dec", "nt", "nc", "ct", "cc", qu.alias("qu"))
    wq = Window.orderBy("dec").rowsBetween(Window.unboundedPreceding, 0)
    q = term.select(
        "dec", "nt", "nc", "ct", "cc", F.sum("qu").over(wq).alias("qcum")
    )
    rt = F.col("ct").cast("double") / F.nullif(F.col("nt"), F.lit(0))
    rc = F.col("cc").cast("double") / F.nullif(F.col("nc"), F.lit(0))
    return q.select(
        (F.col("dec") + 1).cast("long").alias("decile"),
        F.col("nt").alias("n_treat"),
        F.col("nc").alias("n_ctrl"),
        rz6(rt).alias("rate_treat"),
        rz6(rc).alias("rate_ctrl"),
        rz6(rt - rc).alias("uplift"),
        rz(F.col("qcum").cast("double") / 1e6, 4, 1e-8).alias("qini_cum"),
    ).orderBy("decile")


@query(
    "events_diff_in_diff",
    oracle="""
    WITH span AS (
      SELECT (min(epoch_us(ts) // 86400000000)
              + max(epoch_us(ts) // 86400000000)) // 2 AS mid
      FROM events),
    uu AS (SELECT DISTINCT user_id FROM events),
    s AS (
      SELECT uu.user_id, CAST(uu.user_id % 2 AS BIGINT) AS arm,
             CAST(coalesce(sum(CASE WHEN e.event_type = 'purchase'
                        AND epoch_us(e.ts) // 86400000000 <= span.mid
                   THEN CAST(round(e.value * 100) AS BIGINT) ELSE 0 END), 0)
                  AS BIGINT) AS pre_cents,
             CAST(coalesce(sum(CASE WHEN e.event_type = 'purchase'
                        AND epoch_us(e.ts) // 86400000000 > span.mid
                   THEN CAST(round(e.value * 100) AS BIGINT) ELSE 0 END), 0)
                  AS BIGINT) AS post_cents
      FROM uu LEFT JOIN events e ON uu.user_id = e.user_id, span
      GROUP BY uu.user_id),
    g AS (
      SELECT arm, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(pre_cents) AS BIGINT) AS sp,
             CAST(sum(post_cents) AS BIGINT) AS so
      FROM s GROUP BY arm),
    w AS (
      SELECT max(CASE WHEN arm = 1 THEN n END) AS n_t,
             max(CASE WHEN arm = 0 THEN n END) AS n_c,
             max(CASE WHEN arm = 1 THEN sp END) AS sp_t,
             max(CASE WHEN arm = 0 THEN sp END) AS sp_c,
             max(CASE WHEN arm = 1 THEN so END) AS so_t,
             max(CASE WHEN arm = 0 THEN so END) AS so_c
      FROM g)
    SELECT CAST(n_t AS BIGINT) AS n_treat, CAST(n_c AS BIGINT) AS n_ctrl,
           (round(CAST(sp_t AS DOUBLE) / n_t / 100 + 1e-8, 4) + 0.0)
             AS pre_treat_mean,
           (round(CAST(sp_c AS DOUBLE) / n_c / 100 + 1e-8, 4) + 0.0)
             AS pre_ctrl_mean,
           (round(CAST(so_t AS DOUBLE) / n_t / 100 + 1e-8, 4) + 0.0)
             AS post_treat_mean,
           (round(CAST(so_c AS DOUBLE) / n_c / 100 + 1e-8, 4) + 0.0)
             AS post_ctrl_mean,
           (round((CAST(so_t AS DOUBLE) / n_t - CAST(sp_t AS DOUBLE) / n_t
                   - (CAST(so_c AS DOUBLE) / n_c
                      - CAST(sp_c AS DOUBLE) / n_c)) / 100 + 1e-8, 4) + 0.0)
             AS did_estimate,
           (round((CAST(so_t AS DOUBLE) / n_t - CAST(so_c AS DOUBLE) / n_c)
                  / 100 + 1e-8, 4) + 0.0) AS naive_post_diff
    FROM w
    """,
)
def events_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences readout: per-user purchase spend split
    at the corpus-midpoint day into pre/post periods, arms by user_id
    parity; the DiD estimate (treatment's post−pre change minus
    control's) nets out the shared time trend that the naive post-only
    difference absorbs — the two columns side by side show exactly how
    much bias the naive read carries. The pre-period also doubles as
    an A/A check (arm means should match before any treatment).

    Scale shape: one distinct-user frame LEFT JOINed to the fact scan
    (users with no purchases stay as exact zeros — dropping them biases
    every mean), folded to user grain then arm grain; all moments are
    exact integer cents and every output is a deterministic expression
    of six folded integers. The midpoint day is a 1-row span aggregate
    broadcast into the scan predicate."""
    us = F.unix_micros(F.col("ts"))
    e = t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        (us / F.lit(86400000000)).cast("long").alias("dn"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    span = e.agg(
        ((F.min("dn") + F.max("dn")) / 2).cast("long").alias("mid")
    )
    uu = e.select("user_id").distinct()
    j = uu.join(e, "user_id", "left").crossJoin(F.broadcast(span))
    is_p = F.col("event_type") == "purchase"
    s = j.groupBy("user_id").agg(
        F.coalesce(
            F.sum(
                F.when(is_p & (F.col("dn") <= F.col("mid")), F.col("cents"))
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("pre_cents"),
        F.coalesce(
            F.sum(
                F.when(is_p & (F.col("dn") > F.col("mid")), F.col("cents"))
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("post_cents"),
    )
    g = s.groupBy((F.col("user_id") % 2).cast("long").alias("arm")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("pre_cents").cast("long").alias("sp"),
        F.sum("post_cents").cast("long").alias("so"),
    )
    w = g.agg(
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n_t"),
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n_c"),
        F.max(F.when(F.col("arm") == 1, F.col("sp"))).alias("sp_t"),
        F.max(F.when(F.col("arm") == 0, F.col("sp"))).alias("sp_c"),
        F.max(F.when(F.col("arm") == 1, F.col("so"))).alias("so_t"),
        F.max(F.when(F.col("arm") == 0, F.col("so"))).alias("so_c"),
    )
    mt = lambda col, n: F.col(col).cast("double") / F.col(n)  # noqa: E731
    return w.select(
        F.col("n_t").cast("long").alias("n_treat"),
        F.col("n_c").cast("long").alias("n_ctrl"),
        rz(mt("sp_t", "n_t") / 100, 4, 1e-8).alias("pre_treat_mean"),
        rz(mt("sp_c", "n_c") / 100, 4, 1e-8).alias("pre_ctrl_mean"),
        rz(mt("so_t", "n_t") / 100, 4, 1e-8).alias("post_treat_mean"),
        rz(mt("so_c", "n_c") / 100, 4, 1e-8).alias("post_ctrl_mean"),
        rz(
            (mt("so_t", "n_t") - mt("sp_t", "n_t")
             - (mt("so_c", "n_c") - mt("sp_c", "n_c"))) / 100,
            4,
            1e-8,
        ).alias("did_estimate"),
        rz((mt("so_t", "n_t") - mt("so_c", "n_c")) / 100, 4, 1e-8).alias(
            "naive_post_diff"
        ),
    )


@query(
    "events_capacity_peaks",
    oracle="""
    WITH h AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS hn,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY event_type, hn),
    r AS (
      SELECT event_type, n,
             row_number() OVER (PARTITION BY event_type ORDER BY n, hn)
               AS rk,
             count(*) OVER (PARTITION BY event_type) AS nh,
             sum(n) OVER (PARTITION BY event_type) AS tot
      FROM h)
    SELECT event_type,
           CAST(max(nh) AS BIGINT) AS n_active_hours,
           CAST(max(n) AS BIGINT) AS peak_hourly,
           CAST(min(CASE WHEN rk * 100 >= nh * 95 THEN n END) AS BIGINT)
             AS p95_hourly,
           (round(CAST(max(tot) AS DOUBLE) / max(nh) + 1e-8, 4) + 0.0)
             AS mean_hourly,
           (round(CAST(max(n) AS DOUBLE) * max(nh) / max(tot) + 1e-9, 6)
            + 0.0) AS peak_to_mean
    FROM r GROUP BY event_type ORDER BY event_type
    """,
)
def events_capacity_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capacity-planning peaks per event type: the busiest hour, the
    exact nearest-rank p95 hour, the mean over ACTIVE hours, and the
    peak-to-mean ratio — the table an on-call/provisioning review reads
    to size a consumer for bursts rather than averages (a
    peak_to_mean ≈ 1 stream autoscale handles; ≫ 1 needs headroom or
    buffering). Hours with zero events are genuinely idle and excluded
    from the denominator by construction (mean over active hours).

    Scale shape: the fact scan folds to (type, hour) grain first; the
    rank window partitions by TYPE over hour-grain rows (calendar-
    bounded partitions — never fact-sized), p95 is the integer
    nearest-rank crossing (rk·100 ≥ n·95) in count space, and every
    output is exact-integer-derived."""
    h = (
        t(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            (F.unix_micros(F.col("ts")) / F.lit(3600000000)).cast("long")
            .alias("hn"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    wt = Window.partitionBy("event_type")
    r = h.select(
        "event_type",
        "n",
        F.row_number().over(wt.orderBy("n", "hn")).alias("rk"),
        F.count(F.lit(1)).over(wt).alias("nh"),
        F.sum("n").over(wt).alias("tot"),
    )
    return (
        r.groupBy("event_type")
        .agg(
            F.max("nh").cast("long").alias("n_active_hours"),
            F.max("n").cast("long").alias("peak_hourly"),
            F.min(
                F.when(F.col("rk") * 100 >= F.col("nh") * 95, F.col("n"))
            )
            .cast("long")
            .alias("p95_hourly"),
            rz(
                F.max("tot").cast("double") / F.max("nh"), 4, 1e-8
            ).alias("mean_hourly"),
            rz6(
                F.max("n").cast("double") * F.max("nh") / F.max("tot")
            ).alias("peak_to_mean"),
        )
        .orderBy("event_type")
    )


@query(
    "events_user_gini",
    oracle="""
    WITH c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS x
               FROM events GROUP BY user_id),
    r AS (SELECT x, user_id,
                 CAST(row_number() OVER (ORDER BY x, user_id) AS BIGINT) AS i
          FROM c),
    s AS (SELECT CAST(count(*) AS BIGINT) AS n_users,
                 CAST(sum(x) AS BIGINT) AS total_events,
                 sum(CAST(i AS HUGEINT) * x) AS s_ix
          FROM r),
    top AS (SELECT CAST(sum(r.x) AS BIGINT) AS top_x
            FROM r, s WHERE r.i > s.n_users - s.n_users // 10)
    SELECT n_users, total_events,
           (round((2.0 * CAST(s_ix AS DOUBLE)
                   - (CAST(n_users AS DOUBLE) + 1.0) * total_events)
                  / (CAST(n_users AS DOUBLE) * total_events) + 1e-9, 6)
            + 0.0) AS gini,
           (round(CAST(top_x AS DOUBLE) / total_events + 1e-9, 6) + 0.0)
             AS top_decile_share
    FROM s, top
    """,
)
def events_user_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user activity plus the top-decile share —
    the one-row inequality readout behind two operational calls: how
    salted a user-keyed shuffle must be (a Gini near 1 means a handful
    of keys carry the stage — the smooth-curve complement to
    events_heavy_hitters_share's top-10 table), and whether per-user
    training-data caps bind (a high top-decile share means capping the
    heaviest users reshapes the corpus). Uses the sorted-index identity
    G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n.

    Scale shape: one partial-aggregated user groupBy, then the sorted
    index comes from operators/relational.py:global_rank (range exchange
    + per-partition rank + broadcast offsets — never a global
    single-partition window over n_users rows). Σ i·xᵢ accumulates in
    DECIMAL(38,0)/HUGEINT (i reaches n_users and x the per-user max, so
    an int64 product-sum silently wraps at planet scale — the
    Mann-Whitney r11 class); every output derives from exact integer
    sums divided once."""
    from sec_dl_spark.operators.relational import global_rank

    e = t(spark, sf_dir, "events")
    c = e.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("x"))
    r = global_rank(c, [F.asc("x"), F.asc("user_id")], rank_col="_i0").withColumn(
        "i", (F.col("_i0") + 1).cast("long")
    )
    s = r.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("x").cast("long").alias("total_events"),
        F.sum(
            F.col("i").cast("decimal(19,0)") * F.col("x").cast("decimal(19,0)")
        ).alias("s_ix"),
    )
    top = (
        r.crossJoin(F.broadcast(s.select("n_users").alias("_n")))
        .where(F.col("i") > F.col("n_users") - F.expr("n_users div 10"))
        .agg(F.sum("x").cast("long").alias("top_x"))
    )
    return s.crossJoin(F.broadcast(top)).select(
        "n_users",
        "total_events",
        rz6(
            (
                F.lit(2.0) * F.col("s_ix").cast("double")
                - (F.col("n_users").cast("double") + F.lit(1.0))
                * F.col("total_events")
            )
            / (F.col("n_users").cast("double") * F.col("total_events"))
        ).alias("gini"),
        rz6(F.col("top_x").cast("double") / F.col("total_events")).alias(
            "top_decile_share"
        ),
    )


@query(
    "events_cms_frequency",
    oracle="""
    WITH ev AS (
      SELECT user_id,
             ((user_id % 2147483647) + 2147483647) % 2147483647 AS xm
      FROM events),
    h AS MATERIALIZED (
      SELECT user_id, 0 AS row,
             ((1000003 * xm + 999983) % 2147483647) % 256 AS slot FROM ev
      UNION ALL SELECT user_id, 1,
             ((1426104154 * xm + 1999966) % 2147483647) % 256 FROM ev
      UNION ALL SELECT user_id, 2,
             ((1049561761 * xm + 2999949) % 2147483647) % 256 FROM ev
      UNION ALL SELECT user_id, 3,
             ((1604566856 * xm + 3999932) % 2147483647) % 256 FROM ev),
    sk AS MATERIALIZED (
      SELECT row, slot, CAST(count(*) AS BIGINT) AS cnt
      FROM h GROUP BY row, slot),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM events),
    truec AS MATERIALIZED (
      SELECT user_id, CAST(count(*) AS BIGINT) AS true_cnt
      FROM events WHERE user_id % 17 = 0 GROUP BY user_id),
    ph AS (SELECT DISTINCT user_id, row, slot FROM h WHERE user_id % 17 = 0),
    est AS (
      SELECT ph.user_id, CAST(min(sk.cnt) AS BIGINT) AS cms_est
      FROM ph JOIN sk USING (row, slot) GROUP BY ph.user_id)
    SELECT truec.user_id, truec.true_cnt, est.cms_est,
           CAST(est.cms_est - truec.true_cnt AS BIGINT) AS overcount,
           ((est.cms_est - truec.true_cnt) * 256 <= 3 * n.n_total) AS bound_ok
    FROM truec JOIN est USING (user_id), n
    ORDER BY user_id
    """,
)
def events_cms_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency audit over per-user event counts
    (operators/sketch.py:cms_build/cms_estimate): build the 4×256
    engine-portable sketch over ALL events, probe the deterministic
    user slice (user_id ≡ 0 mod 17), and report each probe's true
    count, sketch estimate, one-sided overcount (NEVER negative — the
    CM invariant), and whether it sits inside the e/width·N error
    budget. Unlike Spark's built-in count_min_sketch blob, this sketch is
    a (row, slot, cnt) TABLE under a closed-form hash family — byte-
    reproducible in ANSI SQL (the oracle rebuilds it), mergeable by
    (row, slot) sum like the HLL rollup partials, and therefore
    streamable: per-batch sketches union into the same estimates.

    Scale shape: the build's shuffle carries ≤ depth·width groups
    regardless of N (partial aggregation collapses the 4-way explode
    map-side); the probe side joins against the ≤1024-row broadcast
    sketch. Everything is exact integer arithmetic end to end — the
    sketch itself is the deterministic object, not a sampled one."""
    from sec_dl_spark.operators.sketch import cms_build, cms_estimate

    e = t(spark, sf_dir, "events")
    sk = pin(cms_build(e.select("user_id"), "user_id", width=256, depth=4))
    truec = (
        e.where(F.col("user_id") % 17 == 0)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("true_cnt"))
    )
    est = cms_estimate(sk, truec.select("user_id"), "user_id", width=256, depth=4)
    n = e.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    return (
        truec.join(est, "user_id")
        .crossJoin(F.broadcast(n))
        .select(
            "user_id",
            "true_cnt",
            "cms_est",
            (F.col("cms_est") - F.col("true_cnt")).cast("long").alias("overcount"),
            (
                (F.col("cms_est") - F.col("true_cnt")) * 256 <= 3 * F.col("n_total")
            ).alias("bound_ok"),
        )
        .orderBy("user_id")
    )


@query(
    "events_acf_daily",
    oracle="""
    WITH d0 AS (
      SELECT epoch_us(ts) // 86400000000 AS dn, count(*) AS x
      FROM events GROUP BY dn),
    span AS (SELECT min(dn) AS lo, max(dn) AS hi FROM d0),
    spine AS (SELECT unnest(generate_series(lo, hi)) AS dn FROM span),
    d AS MATERIALIZED (
      SELECT s.dn - span.lo AS tt, coalesce(d0.x, 0) AS x
      FROM spine s LEFT JOIN d0 ON s.dn = d0.dn, span),
    m AS (SELECT count(*) AS nd, sum(x) // count(*) AS ybar FROM d),
    y AS MATERIALIZED (SELECT tt, CAST(x - ybar AS BIGINT) AS y FROM d, m),
    den AS (SELECT sum(CAST(y AS DOUBLE) * y) AS s2 FROM y),
    lags AS (SELECT unnest(generate_series(1, 14)) AS lag),
    num AS (
      SELECT l.lag, sum(CAST(a.y AS DOUBLE) * b.y) AS s01
      FROM lags l JOIN y a ON true JOIN y b ON b.tt = a.tt + l.lag
      GROUP BY l.lag)
    SELECT CAST(num.lag AS BIGINT) AS lag,
           (round(num.s01 / nullif(den.s2, 0.0) + 1e-9, 6) + 0.0) AS acf
    FROM num, den ORDER BY lag
    """,
)
def events_acf_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the daily event-count series at lags
    1-14: r_k = Σ y_t·y_{t+k} / Σ y_t² on the demeaned, densified
    series — the complement to events_periodogram (which scans
    frequency space) and events_lagged_crosscorr (which correlates two
    DIFFERENT series): a slow-decay ACF says trend (difference before
    modeling), a spike at 7 confirms the weekly cycle, and near-zero
    everywhere certifies the residual noise a forecast monitor wants.

    Scale shape: the fact table collapses to the day grain FIRST (one
    partial-aggregated groupBy); everything after — spine densify,
    integer demean (sum div n), a 14-lag self-join on the day frame —
    is day-count-sized. Products accumulate as exact-in-double integers
    (the correlation-matrix convention: demeaned daily counts squared
    stay far below 2⁵³ at any plausible day count, so cross-engine
    summation order cannot differ)."""
    e = t(spark, sf_dir, "events")
    d0 = e.groupBy(
        (F.col("ts").cast("long") / F.lit(86400)).cast("long").alias("dn")
    ).agg(F.count(F.lit(1)).alias("x"))
    span = d0.agg(F.min("dn").alias("lo"), F.max("dn").alias("hi"))
    spine = span.select(F.explode(F.sequence("lo", "hi")).alias("dn"))
    d = pin(
        spine.join(d0, "dn", "left")
        .crossJoin(F.broadcast(span))
        .select(
            (F.col("dn") - F.col("lo")).alias("tt"),
            F.coalesce(F.col("x"), F.lit(0)).alias("x"),
        )
    )
    m = d.agg(
        F.count(F.lit(1)).alias("nd"),
        F.expr("sum(x) div count(*)").alias("ybar"),
    )
    y = pin(
        d.crossJoin(F.broadcast(m)).select(
            "tt", (F.col("x") - F.col("ybar")).cast("long").alias("y")
        )
    )
    den = y.agg(F.sum(F.col("y").cast("double") * F.col("y")).alias("s2"))
    lags = spark.range(1, 15).select(F.col("id").alias("lag"))
    a = y.select(F.col("tt").alias("ta"), F.col("y").alias("ya"))
    b = y.select(F.col("tt").alias("tb"), F.col("y").alias("yb"))
    num = (
        F.broadcast(lags)
        .join(a, F.lit(True))
        .join(b, F.col("tb") == F.col("ta") + F.col("lag"))
        .groupBy("lag")
        .agg(F.sum(F.col("ya").cast("double") * F.col("yb")).alias("s01"))
    )
    return (
        num.crossJoin(F.broadcast(den))
        .select(
            F.col("lag").cast("long").alias("lag"),
            rz6(F.col("s01") / F.nullif(F.col("s2"), F.lit(0.0))).alias("acf"),
        )
        .orderBy("lag")
    )


@query(
    "events_poisson_dispersion",
    oracle="""
    WITH d0 AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS dn, count(*) AS x
      FROM events GROUP BY event_type, dn),
    span AS (SELECT min(dn) AS lo, max(dn) AS hi FROM d0),
    types AS (SELECT DISTINCT event_type FROM events),
    spine AS (
      SELECT t.event_type, s.dn
      FROM types t, (SELECT unnest(generate_series(lo, hi)) AS dn FROM span) s),
    d AS (
      SELECT sp.event_type, coalesce(d0.x, 0) AS x
      FROM spine sp LEFT JOIN d0
        ON sp.event_type = d0.event_type AND sp.dn = d0.dn),
    mo AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(x) AS BIGINT) AS sx,
             sum(CAST(x AS DOUBLE) * x) AS sxx
      FROM d GROUP BY event_type),
    f AS (
      SELECT event_type, n_days, sx,
             (n_days * sxx - CAST(sx AS DOUBLE) * sx)
               / ((n_days - 1) * CAST(sx AS DOUBLE)) AS fano
      FROM mo WHERE n_days > 1 AND sx > 0)
    SELECT event_type, n_days,
           (round(CAST(sx AS DOUBLE) / n_days + 1e-9, 4) + 0.0) AS mean_daily,
           (round(fano + 1e-9, 4) + 0.0) AS fano,
           CASE WHEN fano > 1.5 THEN 'overdispersed'
                WHEN fano < 0.6666666666666666 THEN 'underdispersed'
                ELSE 'poisson-like' END AS verdict
    FROM f ORDER BY event_type
    """,
)
def events_poisson_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor (index of dispersion, var/mean of the densified daily
    count series) per event type, with a Poisson verdict: a Poisson
    arrival process has Fano ≈ 1; heavy overdispersion says bursts /
    clustering / mixed rates (capacity must be sized to peaks, and a
    naive Poisson simulator would NOT reproduce this stream — the
    synthetic-data tell), underdispersion says rate-limiting or
    scheduled emission. Complements events_capacity_peaks (which sizes
    the peaks) by CLASSIFYING the arrival law that produced them.

    Scale shape: the fact table collapses to (type, day) in one
    partial-aggregated groupBy; the spine densify (types × days) and
    the per-type moment fold are calendar-sized. Counts and Σx are
    exact integers, the quadratic Σx² accumulates as exact-in-double
    integers (the correlation-matrix convention), and the verdict
    thresholds compare the UNROUNDED ratio identically in both
    engines."""
    e = t(spark, sf_dir, "events")
    d0 = e.groupBy(
        "event_type",
        (F.col("ts").cast("long") / F.lit(86400)).cast("long").alias("dn"),
    ).agg(F.count(F.lit(1)).alias("x"))
    span = d0.agg(F.min("dn").alias("lo"), F.max("dn").alias("hi"))
    types = e.select("event_type").distinct()
    spine = types.crossJoin(F.broadcast(span)).select(
        "event_type", F.explode(F.sequence("lo", "hi")).alias("dn")
    )
    d = spine.join(d0, ["event_type", "dn"], "left").select(
        "event_type", F.coalesce(F.col("x"), F.lit(0)).alias("x")
    )
    mo = d.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x").cast("double") * F.col("x")).alias("sxx"),
    )
    fano = (
        F.col("n_days") * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    ) / ((F.col("n_days") - 1) * F.col("sx").cast("double"))
    return (
        mo.where((F.col("n_days") > 1) & (F.col("sx") > 0))
        .select(
            "event_type",
            "n_days",
            rz(F.col("sx").cast("double") / F.col("n_days")).alias("mean_daily"),
            rz(fano).alias("fano"),
            F.when(fano > 1.5, F.lit("overdispersed"))
            .when(fano < 2.0 / 3.0, F.lit("underdispersed"))
            .otherwise(F.lit("poisson-like"))
            .alias("verdict"),
        )
        .orderBy("event_type")
    )


@query(
    "events_interarrival_cv",
    oracle="""
    WITH s AS (
      SELECT user_id, event_id, epoch_us(ts) // 1000000 AS tsec FROM events),
    g AS (
      SELECT user_id,
             tsec - lag(tsec) OVER (PARTITION BY user_id
                                    ORDER BY tsec, event_id) AS gap
      FROM s),
    pu AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(gap) AS BIGINT) AS sg,
             sum(CAST(gap AS DOUBLE) * gap) AS sgg
      FROM g WHERE gap IS NOT NULL GROUP BY user_id),
    c AS (
      SELECT (n * sgg - CAST(sg AS DOUBLE) * sg)
               / (CAST(sg AS DOUBLE) * sg) AS cv2
      FROM pu WHERE n >= 4 AND sg > 0)
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           (round(avg(cv2) + 1e-9, 6) + 0.0) AS mean_cv2,
           (round(CAST(sum(CASE WHEN cv2 > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                  / count(*) + 1e-9, 6) + 0.0) AS share_bursty,
           (round(max(cv2) + 1e-9, 6) + 0.0) AS max_cv2
    FROM c
    """,
)
def events_interarrival_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-arrival burstiness census: squared coefficient of
    variation CV² = var/mean² of each user's second-granular gaps
    (users with ≥ 4 gaps), summarized as the measured-user count, mean
    CV², the share of BURSTY users (CV² > 1 — a Poisson user sits at 1,
    a scheduler near 0), and the worst offender. The per-user refinement
    of events_poisson_dispersion's corpus-level verdict: bots and
    scripted traffic show CV² near 0 (metronomic) while scraping bursts
    blow past 1 — the same separation bots.py's streaming heuristics act
    on, quantified over everyone.

    Scale shape: one user-partitioned lag window over (tsec, event_id)
    — a total order, so gaps are deterministic under ties — then one
    user-grain moment fold and one 1-row summary fold. Gap sums are
    exact integers; Σgap² accumulates exact-in-double (quadratics
    convention); each user's CV² is one deterministic expression, and
    the bursty test compares the unrounded ratio identically both
    sides."""
    e = t(spark, sf_dir, "events")
    s = e.select("user_id", "event_id", F.col("ts").cast("long").alias("tsec"))
    w = Window.partitionBy("user_id").orderBy("tsec", "event_id")
    g = s.select(
        "user_id", (F.col("tsec") - F.lag("tsec").over(w)).alias("gap")
    ).where(F.col("gap").isNotNull())
    pu = g.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("gap").cast("long").alias("sg"),
        F.sum(F.col("gap").cast("double") * F.col("gap")).alias("sgg"),
    )
    cv2 = (F.col("n") * F.col("sgg") - F.col("sg").cast("double") * F.col("sg")) / (
        F.col("sg").cast("double") * F.col("sg")
    )
    c = pu.where((F.col("n") >= 4) & (F.col("sg") > 0)).select(cv2.alias("cv2"))
    return c.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        rz6(F.avg("cv2")).alias("mean_cv2"),
        rz6(
            F.sum(F.when(F.col("cv2") > 1, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1))
        ).alias("share_bursty"),
        rz6(F.max("cv2")).alias("max_cv2"),
    )


@query(
    "events_mutual_information",
    oracle="""
    WITH c AS MATERIALIZED (
      SELECT event_type, (epoch_us(ts) // 3600000000) % 24 AS hr,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY event_type, hr),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM c),
    rows_ AS MATERIALIZED (
      SELECT event_type, CAST(sum(n) AS BIGINT) AS nr FROM c GROUP BY event_type),
    cols_ AS MATERIALIZED (
      SELECT hr, CAST(sum(n) AS BIGINT) AS nc FROM c GROUP BY hr),
    mi AS (
      SELECT CAST(sum(CAST(round(
               (CAST(c.n AS DOUBLE) / tot.nt)
               * ln((CAST(c.n AS DOUBLE) * tot.nt)
                    / (CAST(r.nr AS DOUBLE) * cl.nc)) * 1e9) AS BIGINT))
             AS BIGINT) AS mi_units
      FROM c JOIN rows_ r USING (event_type) JOIN cols_ cl USING (hr), tot),
    hr_ AS (
      SELECT CAST(sum(CAST(round(
               -(CAST(nr AS DOUBLE) / tot.nt)
               * ln(CAST(nr AS DOUBLE) / tot.nt) * 1e9) AS BIGINT))
             AS BIGINT) AS h_row_units
      FROM rows_, tot),
    hc_ AS (
      SELECT CAST(sum(CAST(round(
               -(CAST(nc AS DOUBLE) / tot.nt)
               * ln(CAST(nc AS DOUBLE) / tot.nt) * 1e9) AS BIGINT))
             AS BIGINT) AS h_col_units
      FROM cols_, tot)
    SELECT (round(CAST(mi_units AS DOUBLE) / 1e9 / ln(2) + 1e-9, 6) + 0.0)
             AS mi_bits,
           (round(CAST(h_row_units AS DOUBLE) / 1e9 / ln(2) + 1e-9, 6) + 0.0)
             AS h_type_bits,
           (round(CAST(h_col_units AS DOUBLE) / 1e9 / ln(2) + 1e-9, 6) + 0.0)
             AS h_hour_bits,
           (round(CAST(mi_units AS DOUBLE)
                  / nullif(least(CAST(h_row_units AS DOUBLE), h_col_units), 0.0)
                  + 1e-9, 6) + 0.0) AS nmi
    FROM mi, hr_, hc_
    """,
)
def events_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between event type and hour-of-day, in bits,
    with both marginal entropies and the normalized MI
    (MI / min(H_type, H_hour)) — the effect-SIZE companion to
    events_chi2_independence's significance test: χ² at planet-scale N
    flags microscopically small dependencies, while NMI stays
    interpretable ("how many bits of the event type does the clock
    explain") at any N. The same estimator drives feature-selection
    passes over categorical training columns.

    Scale shape: ONE (type, hour) groupBy carries everything — the
    contingency table is |types|·24 cells; marginals and MI are folds
    over that tiny frame. Every p·ln(p/q) term rounds to 1e-9 integer
    units BEFORE its sum (zero cells never appear — absent (type,hour)
    combinations contribute exactly their 0·ln0 = 0 limit by omission
    in both engines), so the folds are exact integer addition; the
    bits conversion divides once by ln 2 at the end."""
    e = t(spark, sf_dir, "events")
    c = pin(
        e.groupBy(
            "event_type",
            ((F.col("ts").cast("long") / F.lit(3600)).cast("long") % 24).alias("hr"),
        ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    tot = c.agg(F.sum("n").cast("long").alias("nt"))
    rows_ = c.groupBy("event_type").agg(F.sum("n").cast("long").alias("nr"))
    cols_ = c.groupBy("hr").agg(F.sum("n").cast("long").alias("nc"))
    mi_term = F.round(
        (F.col("n").cast("double") / F.col("nt"))
        * F.log(
            (F.col("n").cast("double") * F.col("nt"))
            / (F.col("nr").cast("double") * F.col("nc"))
        )
        * F.lit(1e9)
    ).cast("long")
    mi = (
        c.join(rows_, "event_type")
        .join(F.broadcast(cols_), "hr")
        .crossJoin(F.broadcast(tot))
        .agg(F.sum(mi_term).cast("long").alias("mi_units"))
    )
    hrow_term = F.round(
        -(F.col("nr").cast("double") / F.col("nt"))
        * F.log(F.col("nr").cast("double") / F.col("nt"))
        * F.lit(1e9)
    ).cast("long")
    hr_ = rows_.crossJoin(F.broadcast(tot)).agg(
        F.sum(hrow_term).cast("long").alias("h_row_units")
    )
    hcol_term = F.round(
        -(F.col("nc").cast("double") / F.col("nt"))
        * F.log(F.col("nc").cast("double") / F.col("nt"))
        * F.lit(1e9)
    ).cast("long")
    hc_ = cols_.crossJoin(F.broadcast(tot)).agg(
        F.sum(hcol_term).cast("long").alias("h_col_units")
    )
    ln2 = F.log(F.lit(2.0))
    return (
        mi.crossJoin(F.broadcast(hr_))
        .crossJoin(F.broadcast(hc_))
        .select(
            rz6(F.col("mi_units").cast("double") / F.lit(1e9) / ln2).alias("mi_bits"),
            rz6(F.col("h_row_units").cast("double") / F.lit(1e9) / ln2).alias(
                "h_type_bits"
            ),
            rz6(F.col("h_col_units").cast("double") / F.lit(1e9) / ln2).alias(
                "h_hour_bits"
            ),
            rz6(
                F.col("mi_units").cast("double")
                / F.nullif(
                    F.least(
                        F.col("h_row_units").cast("double"),
                        F.col("h_col_units").cast("double"),
                    ),
                    F.lit(0.0),
                )
            ).alias("nmi"),
        )
    )


@query(
    "events_entropy_rate",
    oracle="""
    WITH o AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY epoch_us(ts), event_id) AS prev_type
      FROM events),
    c AS MATERIALIZED (
      SELECT prev_type, event_type AS next_type, CAST(count(*) AS BIGINT) AS n
      FROM o WHERE prev_type IS NOT NULL GROUP BY prev_type, next_type),
    rt AS MATERIALIZED (
      SELECT prev_type, CAST(sum(n) AS BIGINT) AS n_out FROM c GROUP BY prev_type),
    tot AS MATERIALIZED (SELECT CAST(sum(n_out) AS BIGINT) AS nt FROM rt),
    h AS (
      SELECT c.prev_type,
             CAST(sum(CAST(round(
               (CAST(c.n AS DOUBLE) / rt.n_out)
               * ln(CAST(rt.n_out AS DOUBLE) / c.n) * 1e9) AS BIGINT))
             AS BIGINT) AS h_units
      FROM c JOIN rt USING (prev_type) GROUP BY c.prev_type)
    SELECT h.prev_type AS event_type, rt.n_out,
           (round(CAST(h.h_units AS DOUBLE) / 1e9 / ln(2) + 1e-9, 6) + 0.0)
             AS h_next_bits,
           (round(CAST(rt.n_out AS DOUBLE) / tot.nt + 1e-9, 6) + 0.0)
             AS weight_share,
           (round(CAST(h.h_units AS DOUBLE) * rt.n_out
                  / (1e9 * ln(2) * tot.nt) + 1e-9, 6)
            + 0.0) AS contribution_bits
    FROM h JOIN rt USING (prev_type) CROSS JOIN tot ORDER BY event_type
    """,
)
def events_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov entropy rate by state: for each current event type, the
    conditional entropy H(next | cur) of what users do NEXT, its weight
    in the stationary mix, and its weighted contribution to the chain's
    overall entropy rate Σ p(cur)·H(next|cur) — the predictability
    readout on top of events_markov_transitions' raw matrix: a state
    near 0 bits is a deterministic funnel step (its next hop is fixed),
    one near log₂|types| says the journey forks uniformly there.
    Sequence models and session simulators size their context windows
    off exactly this number.

    Scale shape: one user-partitioned lag window over the total order
    (ts, event_id) — the markov_transitions shuffle — then everything
    folds over the |types|²-bounded transition table. Each p·ln term
    rounds to 1e-9 integer units BEFORE its per-state sum (exact
    integer addition both engines); weights are exact-integer ratios
    divided once."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").cast("long"), F.col("event_id")
    )
    o = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).where(F.col("prev_type").isNotNull())
    c = pin(
        o.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
            F.count(F.lit(1)).cast("long").alias("n")
        )
    )
    rt = c.groupBy("prev_type").agg(F.sum("n").cast("long").alias("n_out"))
    tot = rt.agg(F.sum("n_out").cast("long").alias("nt"))
    term = F.round(
        (F.col("n").cast("double") / F.col("n_out"))
        * F.log(F.col("n_out").cast("double") / F.col("n"))
        * F.lit(1e9)
    ).cast("long")
    h = (
        c.join(F.broadcast(rt), "prev_type")
        .groupBy("prev_type")
        .agg(F.sum(term).cast("long").alias("h_units"))
    )
    ln2 = F.log(F.lit(2.0))
    return (
        h.join(rt, "prev_type")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("prev_type").alias("event_type"),
            "n_out",
            rz6(F.col("h_units").cast("double") / F.lit(1e9) / ln2).alias(
                "h_next_bits"
            ),
            rz6(F.col("n_out").cast("double") / F.col("nt")).alias("weight_share"),
            rz6(
                F.col("h_units").cast("double")
                * F.col("n_out")
                / (F.lit(1e9) * ln2 * F.col("nt"))
            ).alias("contribution_bits"),
        )
        .orderBy("event_type")
    )


@query(
    "events_wilcoxon_signed_rank",
    oracle="""
    WITH e AS (
      SELECT event_type, user_id, epoch_us(ts) AS us,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    mid AS MATERIALIZED (SELECT (min(us) + max(us)) // 2 AS mid_us FROM e),
    pu AS (
      SELECT event_type, user_id,
             CAST(sum(cents) FILTER (us <= mid_us) AS BIGINT) AS pre_sum,
             CAST(count(*) FILTER (us <= mid_us) AS BIGINT) AS pre_n,
             CAST(sum(cents) FILTER (us > mid_us) AS BIGINT) AS post_sum,
             CAST(count(*) FILTER (us > mid_us) AS BIGINT) AS post_n
      FROM e, mid GROUP BY event_type, user_id),
    d AS (
      SELECT event_type,
             CAST(post_sum AS DOUBLE) / post_n
               - CAST(pre_sum AS DOUBLE) / pre_n AS diff
      FROM pu WHERE pre_n > 0 AND post_n > 0),
    dz AS (SELECT event_type, abs(diff) AS ad,
                  CASE WHEN diff > 0 THEN 1 ELSE 0 END AS pos
           FROM d WHERE diff <> 0),
    v AS (
      SELECT event_type, ad,
             CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(pos) AS BIGINT) AS cnt_pos
      FROM dz GROUP BY event_type, ad),
    r AS (
      SELECT event_type, cnt, cnt_pos,
             coalesce(sum(cnt) OVER (
               PARTITION BY event_type ORDER BY ad
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cless
      FROM v),
    g AS (
      SELECT event_type,
             CAST(sum(cnt) AS BIGINT) AS n,
             CAST(sum(cnt_pos * (2 * cless + cnt + 1)) AS BIGINT) AS w2p,
             sum(CAST(cnt AS DOUBLE) * cnt * cnt - cnt) AS tie_sum
      FROM r GROUP BY event_type HAVING n >= 6),
    s AS (
      SELECT event_type, n, w2p,
             CAST(n AS DOUBLE) * (n + 1) / 2 AS mu2,
             sqrt(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 6
                  - tie_sum / 12) AS sigma2
      FROM g)
    SELECT event_type, n AS n_pairs,
           (CAST(w2p AS DOUBLE) / 2) AS w_plus,
           (round((w2p - mu2) / sigma2 + 1e-9, 4) + 0.0) AS z_stat,
           (abs((w2p - mu2) / sigma2) > 1.96) AS significant_95
    FROM s ORDER BY event_type
    """,
)
def events_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test per event type: did each user's mean
    spend CHANGE between the first and second half of the observation
    span? The PAIRED complement to events_mannwhitney_u — pairing every
    user with themselves cancels between-user variance, so it detects
    shifts the unpaired rank-sum drowns in user heterogeneity (the
    pre/post analysis behind launches without a holdout). Zero diffs
    drop and |d| midranks handle ties, both per the standard treatment.

    Scale shape: one (type, user) conditional fold against the 1-row
    broadcast midpoint, then everything runs on the VALUE-GRAIN |d|
    frame (the mannwhitney machinery: cumulative-below window ordered
    by |d| within type, W⁺ as the exact integer Σ cnt_pos·(2·cless +
    cnt + 1) — twice the midrank, so no halves — and the tie-corrected
    normal approximation with Σ(t³−t) in double). Per-user diffs are
    deterministic doubles (exact integer cents sums divided once), so
    both engines build the identical rank frame."""
    e = t(spark, sf_dir, "events").select(
        "event_type",
        "user_id",
        F.unix_micros(F.col("ts")).alias("sec"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    # µs-granular midpoint on BOTH sides (the oracle's epoch_us): a
    # second-granular midpoint would classify sub-second events near the
    # boundary differently across engines
    mid = e.agg(
        F.expr("(min(sec) + max(sec)) div 2").cast("long").alias("mid_sec")
    )
    pu = (
        e.crossJoin(F.broadcast(mid))
        .groupBy("event_type", "user_id")
        .agg(
            F.sum(F.when(F.col("sec") <= F.col("mid_sec"), F.col("cents"))).alias("pre_sum"),
            F.count(F.when(F.col("sec") <= F.col("mid_sec"), 1)).cast("long").alias("pre_n"),
            F.sum(F.when(F.col("sec") > F.col("mid_sec"), F.col("cents"))).alias("post_sum"),
            F.count(F.when(F.col("sec") > F.col("mid_sec"), 1)).cast("long").alias("post_n"),
        )
    )
    d = pu.where((F.col("pre_n") > 0) & (F.col("post_n") > 0)).select(
        "event_type",
        (
            F.col("post_sum").cast("double") / F.col("post_n")
            - F.col("pre_sum").cast("double") / F.col("pre_n")
        ).alias("diff"),
    )
    dz = d.where(F.col("diff") != 0).select(
        "event_type",
        F.abs("diff").alias("ad"),
        F.when(F.col("diff") > 0, 1).otherwise(0).alias("pos"),
    )
    v = dz.groupBy("event_type", "ad").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("pos").cast("long").alias("cnt_pos"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("ad")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    r = v.withColumn("cless", F.coalesce(F.sum("cnt").over(w), F.lit(0)))
    g = (
        r.groupBy("event_type")
        .agg(
            F.sum("cnt").cast("long").alias("n"),
            F.sum(
                F.col("cnt_pos") * (2 * F.col("cless") + F.col("cnt") + 1)
            ).cast("long").alias("w2p"),
            F.sum(
                F.col("cnt").cast("double") * F.col("cnt") * F.col("cnt")
                - F.col("cnt")
            ).alias("tie_sum"),
        )
        .where(F.col("n") >= 6)
    )
    mu2 = F.col("n").cast("double") * (F.col("n") + 1) / 2
    sigma2 = F.sqrt(
        F.col("n").cast("double") * (F.col("n") + 1) * (2 * F.col("n") + 1) / 6
        - F.col("tie_sum") / 12
    )
    z = (F.col("w2p") - mu2) / sigma2
    return g.select(
        "event_type",
        F.col("n").alias("n_pairs"),
        (F.col("w2p").cast("double") / 2).alias("w_plus"),
        (F.round(z + 1e-9, 4) + F.lit(0.0)).alias("z_stat"),
        (F.abs(z) > 1.96).alias("significant_95"),
    ).orderBy("event_type")


@query(
    "events_bh_fdr",
    oracle="""
    WITH c AS (
      SELECT event_type, user_id % 2 AS arm,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    g AS (
      SELECT event_type,
             count(*) FILTER (arm = 0) AS n_a,
             count(*) FILTER (arm = 1) AS n_b,
             sum(cents) FILTER (arm = 0) AS s_a,
             sum(cents) FILTER (arm = 1) AS s_b,
             sum(CAST(cents AS DOUBLE) * cents) FILTER (arm = 0) AS q_a,
             sum(CAST(cents AS DOUBLE) * cents) FILTER (arm = 1) AS q_b
      FROM c GROUP BY event_type
      HAVING n_a >= 2 AND n_b >= 2),
    s AS (
      SELECT event_type, n_a, n_b,
             CAST(s_a AS DOUBLE) / n_a / 100 AS mean_a,
             CAST(s_b AS DOUBLE) / n_b / 100 AS mean_b,
             (q_a - CAST(s_a AS DOUBLE) * s_a / n_a) / (n_a - 1) / 10000 AS var_a,
             (q_b - CAST(s_b AS DOUBLE) * s_b / n_b) / (n_b - 1) / 10000 AS var_b
      FROM g),
    zt AS (
      SELECT event_type,
             (round((mean_a - mean_b) / sqrt(var_a / n_a + var_b / n_b)
                    + 1e-9, 4) + 0.0) AS t_stat
      FROM s),
    xx AS (
      SELECT event_type, t_stat,
             abs(t_stat) * 0.7071067811865476 AS x
      FROM zt),
    uu AS (
      SELECT event_type, t_stat, x,
             1.0 / (1.0 + 0.3275911 * x) AS u
      FROM xx),
    pv AS (
      SELECT event_type, t_stat,
             (round(least(1.0,
                (((((1.061405429 * u - 1.453152027) * u + 1.421413741) * u
                   - 0.284496736) * u + 0.254829592) * u) * exp(-x * x))
                + 1e-9, 6) + 0.0) AS p_value
      FROM uu),
    m AS (SELECT count(*) AS m FROM pv),
    rk AS MATERIALIZED (
      SELECT pv.*, m.m,
             row_number() OVER (ORDER BY p_value, event_type) AS p_rank
      FROM pv, m),
    ks AS (
      SELECT coalesce(max(p_rank) FILTER (
               p_value <= CAST(p_rank AS DOUBLE) * 0.05 / m), 0) AS kstar
      FROM rk),
    qv AS (
      SELECT rk.*,
             min(CAST(m AS DOUBLE) * p_value / p_rank) OVER (
               ORDER BY p_rank DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS q_raw
      FROM rk)
    SELECT event_type, t_stat, p_value,
           CAST(p_rank AS BIGINT) AS p_rank,
           (round(least(1.0, q_raw) + 1e-9, 6) + 0.0) AS q_value,
           (p_rank <= ks.kstar) AS reject_bh,
           (p_value <= 0.05 / m) AS reject_bonferroni
    FROM qv, ks ORDER BY p_rank
    """,
)
def events_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR control over the per-type Welch t-tests —
    the missing multiple-testing layer of the experimentation stack
    (events_ab_welch_ttest reads one test at alpha=0.05; a dashboard
    reading ALL event types at once inflates false positives linearly,
    which is exactly what BH's step-up rule and the Bonferroni bound
    both correct, at different power). Composes the registered Welch
    readout: two-sided p-values come from the 4-digit-rounded t_stat
    via the Abramowitz-Stegun 7.1.26 erfc polynomial — a CLOSED FORM
    both engines evaluate on identical inputs with an identical Horner
    chain, so the only cross-engine hazard is exp()'s last ulp, buried
    by the 6-digit round (the ln-in-integer-units convention's
    tolerance argument). BH: rank p ascending, k* = max{k: p_(k) <=
    k/m*alpha}, reject ranks <= k*; q-values are the tail-running min
    of m*p/rank capped at 1 (Storey's monotone adjustment).

    Scale shape: everything after the Welch fold (one grouped
    aggregate over the fact scan) runs on the event-type frame —
    the ranking window, the k* fold, and the reverse running min are
    all bounded by the number of TESTS, never by N."""
    wz = events_ab_welch_ttest(spark, sf_dir).select("event_type", "t_stat")
    x = F.abs(F.col("t_stat")) * F.lit(0.7071067811865476)
    u = F.lit(1.0) / (F.lit(1.0) + F.lit(0.3275911) * x)
    poly = (
        (
            (
                ((F.lit(1.061405429) * u - F.lit(1.453152027)) * u + F.lit(1.421413741))
                * u
                - F.lit(0.284496736)
            )
            * u
            + F.lit(0.254829592)
        )
        * u
    )
    pv = wz.select(
        "event_type",
        "t_stat",
        rz6(F.least(F.lit(1.0), poly * F.exp(-x * x))).alias("p_value"),
    )
    m = pv.agg(F.count(F.lit(1)).alias("m"))
    # the ONLY windows: over the tests frame (one row per event type)
    wrank = Window.orderBy("p_value", "event_type")
    rk = pin(
        pv.crossJoin(F.broadcast(m)).withColumn(
            "p_rank", F.row_number().over(wrank).cast("long")
        )
    )
    ks = rk.agg(
        F.coalesce(
            F.max(
                F.when(
                    F.col("p_value")
                    <= F.col("p_rank").cast("double") * 0.05 / F.col("m"),
                    F.col("p_rank"),
                )
            ),
            F.lit(0),
        ).alias("kstar")
    )
    wq = Window.orderBy(F.desc("p_rank")).rowsBetween(Window.unboundedPreceding, 0)
    return (
        rk.withColumn(
            "q_raw",
            F.min(
                F.col("m").cast("double") * F.col("p_value") / F.col("p_rank")
            ).over(wq),
        )
        .crossJoin(F.broadcast(ks))
        .select(
            "event_type",
            "t_stat",
            "p_value",
            "p_rank",
            rz6(F.least(F.lit(1.0), F.col("q_raw"))).alias("q_value"),
            (F.col("p_rank") <= F.col("kstar")).alias("reject_bh"),
            (F.col("p_value") <= F.lit(0.05) / F.col("m")).alias(
                "reject_bonferroni"
            ),
        )
        .orderBy("p_rank")
    )


@query(
    "events_hurst_exponent",
    oracle="""
    WITH h0 AS (
      SELECT epoch_us(ts) // 3600000000 AS hn, count(*) AS x
      FROM events GROUP BY hn),
    span AS (SELECT min(hn) AS lo, max(hn) AS hi FROM h0),
    spine AS (SELECT unnest(generate_series(lo, hi)) AS hn FROM span),
    d AS MATERIALIZED (
      SELECT s.hn - span.lo AS tt, coalesce(h0.x, 0) AS x
      FROM spine s LEFT JOIN h0 ON s.hn = h0.hn, span),
    tot AS (SELECT count(*) AS t FROM d),
    sizes AS (SELECT unnest([16, 32, 64, 128]) AS s),
    bd AS MATERIALIZED (
      SELECT sizes.s, d.tt // sizes.s AS blk, d.tt, d.x
      FROM d, sizes, tot
      WHERE d.tt // sizes.s < tot.t // sizes.s),
    bs AS MATERIALIZED (
      SELECT s, blk,
             CAST(sum(x) AS DOUBLE) / s AS mean,
             sqrt(sum(CAST(x AS DOUBLE) * x) / s
                  - (CAST(sum(x) AS DOUBLE) / s) * (CAST(sum(x) AS DOUBLE) / s))
               AS sd
      FROM bd GROUP BY s, blk),
    z AS (
      SELECT bd.s, bd.blk,
             sum(bd.x - bs.mean) OVER (
               PARTITION BY bd.s, bd.blk ORDER BY bd.tt
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS z
      FROM bd JOIN bs USING (s, blk)),
    rb AS (
      SELECT s, blk, max(z) - min(z) AS r FROM z GROUP BY s, blk),
    rs AS MATERIALIZED (
      SELECT rb.s, rb.r / bs.sd AS rs
      FROM rb JOIN bs USING (s, blk) WHERE bs.sd > 0),
    pts AS MATERIALIZED (
      SELECT s, count(*) AS n_blocks, sum(rs) / count(*) AS rs_mean,
             CAST(round(ln(CAST(s AS DOUBLE)) * 1e6) AS BIGINT) AS xu,
             CAST(round(ln(sum(rs) / count(*)) * 1e6) AS BIGINT) AS yu
      FROM rs GROUP BY s HAVING count(*) >= 2 AND sum(rs) > 0),
    fit AS (
      SELECT count(*) AS n,
             sum(CAST(xu AS DOUBLE)) AS sx, sum(CAST(yu AS DOUBLE)) AS sy,
             sum(CAST(xu AS DOUBLE) * yu) AS sxy,
             sum(CAST(xu AS DOUBLE) * xu) AS sxx
      FROM pts)
    SELECT CAST(pts.s AS BIGINT) AS block_size,
           CAST(pts.n_blocks AS BIGINT) AS n_blocks,
           (round(pts.rs_mean + 1e-9, 6) + 0.0) AS rs_mean,
           (round((fit.n * fit.sxy - fit.sx * fit.sy)
                  / nullif(fit.n * fit.sxx - fit.sx * fit.sx, 0.0)
                  + 1e-9, 4) + 0.0) AS hurst_h
    FROM pts, fit ORDER BY block_size
    """,
)
def events_hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent of the hourly event-count series via rescaled-range
    (R/S) analysis: split the densified hour series into complete blocks
    of 16/32/64/128 hours, per block take R = range of the cumulative
    demeaned walk and S = population std, then H = OLS slope of
    ln(mean R/S) against ln(block size). H ~ 0.5 says the load is
    memoryless (bursts don't cluster); H > 0.5 says LONG-RANGE
    dependence — busy hours beget busy hours across scales, so capacity
    planning off short-window averages (events_capacity_peaks) will
    undershoot; H < 0.5 says mean-reverting churn. The long-memory
    complement to events_acf_daily (fixed lags) and events_periodogram
    (fixed cycles): R/S sees correlation structure at EVERY horizon at
    once.

    Exactness discipline: block means are integer sums over power-of-two
    block sizes (exact in double), deviations/cumulative walks are exact
    differences of exact terms, S comes from the same moment identity
    the correlation matrix uses (terms integer-exact below 2^53), and
    the OLS runs on ln-values in 1e-6 integer units (the heaps-law
    convention — sub-ulp exp/ln engine differences are buried by the
    unit round). Zero-variance blocks drop on both engines; block sizes
    with fewer than 2 complete blocks drop from the fit.

    Scale shape: the fact table collapses to the hour grain FIRST; all
    windows are partitioned by (size, block) — frames of at most 128
    rows — and the fit folds over at most 4 points. Nothing after the
    first aggregate scales with N."""
    e = t(spark, sf_dir, "events")
    h0 = e.groupBy(
        (F.col("ts").cast("long") / F.lit(3600)).cast("long").alias("hn")
    ).agg(F.count(F.lit(1)).alias("x"))
    span = h0.agg(F.min("hn").alias("lo"), F.max("hn").alias("hi"))
    spine = span.select(F.explode(F.sequence("lo", "hi")).alias("hn"))
    d = pin(
        spine.join(h0, "hn", "left")
        .crossJoin(F.broadcast(span))
        .select(
            (F.col("hn") - F.col("lo")).alias("tt"),
            F.coalesce(F.col("x"), F.lit(0)).alias("x"),
        )
    )
    tot = d.agg(F.count(F.lit(1)).alias("t"))
    sizes = spark.range(1).select(
        F.explode(F.array(F.lit(16), F.lit(32), F.lit(64), F.lit(128))).alias("s")
    )
    bd = pin(
        d.crossJoin(F.broadcast(sizes))
        .crossJoin(F.broadcast(tot))
        .where(F.expr("tt div s") < F.expr("t div s"))
        .select("s", F.expr("tt div s").alias("blk"), "tt", "x")
    )
    mean = F.col("sx").cast("double") / F.col("s")
    bs = pin(
        bd.groupBy("s", "blk")
        .agg(
            F.sum("x").alias("sx"),
            F.sum(F.col("x").cast("double") * F.col("x")).alias("sxx"),
        )
        .select(
            "s",
            "blk",
            mean.alias("mean"),
            F.sqrt(F.col("sxx") / F.col("s") - mean * mean).alias("sd"),
        )
    )
    wz = Window.partitionBy("s", "blk").orderBy("tt").rowsBetween(
        Window.unboundedPreceding, 0
    )
    z = bd.join(bs, ["s", "blk"]).withColumn(
        "z", F.sum(F.col("x") - F.col("mean")).over(wz)
    )
    rb = z.groupBy("s", "blk").agg((F.max("z") - F.min("z")).alias("r"))
    rs = rb.join(bs, ["s", "blk"]).where(F.col("sd") > 0).select(
        "s", (F.col("r") / F.col("sd")).alias("rs")
    )
    pts = pin(
        rs.groupBy("s")
        .agg(
            F.count(F.lit(1)).alias("n_blocks"),
            (F.sum("rs") / F.count(F.lit(1))).alias("rs_mean"),
        )
        .where((F.col("n_blocks") >= 2) & (F.col("rs_mean") > 0))
        .select(
            "s",
            "n_blocks",
            "rs_mean",
            F.round(F.log(F.col("s").cast("double")) * 1e6)
            .cast("long")
            .alias("xu"),
            F.round(F.log("rs_mean") * 1e6).cast("long").alias("yu"),
        )
    )
    xd, yd = F.col("xu").cast("double"), F.col("yu").cast("double")
    fit = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xd).alias("fsx"),
        F.sum(yd).alias("fsy"),
        F.sum(xd * F.col("yu")).alias("fsxy"),
        F.sum(xd * F.col("xu")).alias("fsxx"),
    )
    n = F.col("n")
    slope = (n * F.col("fsxy") - F.col("fsx") * F.col("fsy")) / F.nullif(
        n * F.col("fsxx") - F.col("fsx") * F.col("fsx"), F.lit(0.0)
    )
    return (
        pts.crossJoin(F.broadcast(fit))
        .select(
            F.col("s").cast("long").alias("block_size"),
            F.col("n_blocks").cast("long").alias("n_blocks"),
            rz6(F.col("rs_mean")).alias("rs_mean"),
            rz(slope).alias("hurst_h"),
        )
        .orderBy("block_size")
    )


@query(
    "events_sessionize_gap_sweep",
    oracle="""
    WITH o AS (
      SELECT user_id, epoch_us(ts) AS us,
             lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev
      FROM events),
    m AS (
      SELECT count(*) AS n,
             count(DISTINCT user_id) AS nu,
             count(*) FILTER (prev IS NOT NULL AND us - prev > 900000000)
               AS b900,
             count(*) FILTER (prev IS NOT NULL AND us - prev > 1800000000)
               AS b1800,
             count(*) FILTER (prev IS NOT NULL AND us - prev > 3600000000)
               AS b3600
      FROM o)
    SELECT gap_seconds,
           CAST(nu + breaks AS BIGINT) AS n_sessions,
           CAST(nu AS BIGINT) AS n_users,
           (round(CAST(n AS DOUBLE) / (nu + breaks) + 1e-9, 6) + 0.0)
             AS avg_events_per_session,
           (round(CAST(breaks AS DOUBLE) / nullif(n - nu, 0) + 1e-9, 6) + 0.0)
             AS break_rate
    FROM (
      SELECT 900 AS gap_seconds, n, nu, b900 AS breaks FROM m
      UNION ALL SELECT 1800, n, nu, b1800 FROM m
      UNION ALL SELECT 3600, n, nu, b3600 FROM m)
    ORDER BY gap_seconds
    """,
)
def events_sessionize_gap_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-definition sensitivity sweep: how many sessions exist at
    a 15/30/60-minute inactivity gap — the table that tells a metrics
    owner whether the 30-minute convention (events_sessionize) is
    load-bearing or arbitrary BEFORE they ship a session-count KPI.
    The key identity: gap-based session COUNTS need no per-gap
    re-sessionization — n_sessions(g) = n_users + #(inter-event gaps
    > g), so one user-partitioned lag pass scores every threshold at
    once (each threshold is one conditional count over the same delta
    column), where a naive sweep would run the cumulative-sum session
    assignment three times. break_rate is the share of inter-event
    gaps that split at the threshold — monotone DECREASING in gap by
    construction, pinned by pytest.

    Scale shape: one lag window partitioned by user (the sessionize
    exchange), ONE global fold producing five counters, a constant
    3-row expansion. Exact integers end to end; the two ratios are
    single divisions of exact counts."""
    e = t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id").orderBy(us, "event_id")
    o = e.select("user_id", us.alias("us"), F.lag(us).over(w).alias("prev"))
    delta = F.col("us") - F.col("prev")
    have = F.col("prev").isNotNull()
    m = o.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("user_id").alias("nu"),
        F.count(F.when(have & (delta > 900 * 1_000_000), 1)).alias("b900"),
        F.count(F.when(have & (delta > 1800 * 1_000_000), 1)).alias("b1800"),
        F.count(F.when(have & (delta > 3600 * 1_000_000), 1)).alias("b3600"),
    )
    rows = [
        F.struct(
            F.lit(g).cast("long").alias("gap_seconds"),
            F.col(b).alias("breaks"),
        )
        for g, b in ((900, "b900"), (1800, "b1800"), (3600, "b3600"))
    ]
    n, nu, breaks = F.col("n"), F.col("nu"), F.col("x.breaks")
    return (
        m.select("n", "nu", F.explode(F.array(*rows)).alias("x"))
        .select(
            F.col("x.gap_seconds").alias("gap_seconds"),
            (nu + breaks).cast("long").alias("n_sessions"),
            nu.cast("long").alias("n_users"),
            rz6(n.cast("double") / (nu + breaks)).alias("avg_events_per_session"),
            rz6(
                breaks.cast("double") / F.nullif((n - nu).cast("double"), F.lit(0.0))
            ).alias("break_rate"),
        )
        .orderBy("gap_seconds")
    )


def _holt_oracle_sql() -> str:
    """Generated unrolled Holt recursion (the markov_attribution
    convention: a fixed-step recurrence becomes a generated CTE chain
    computing the identical IEEE expression tree the Spark side builds,
    so both engines produce bit-equal doubles). Train days tt=0..22,
    forecast horizons 1..7 onto tt=23..29; requires a >=30-day span."""
    pivot = ",\n             ".join(
        f"max(CASE WHEN tt = {k} THEN y END) AS y{k}" for k in range(30)
    )
    steps = ["s0 AS (SELECT p.*, CAST(y0 AS DOUBLE) AS l0, "
             "CAST(y1 - y0 AS DOUBLE) AS b0 FROM p)"]
    for t in range(1, 23):
        steps.append(
            f"s{t} AS MATERIALIZED (SELECT s{t-1}.*, "
            f"0.5 * y{t} + 0.5 * (l{t-1} + b{t-1}) AS l{t}, "
            f"0.25 * ((0.5 * y{t} + 0.5 * (l{t-1} + b{t-1})) - l{t-1}) "
            f"+ 0.75 * b{t-1} AS b{t} FROM s{t-1})"
        )
    errs = ", ".join(
        f"abs(CAST(y{22+h} AS DOUBLE) - (l22 + {h}.0 * b22)) AS e{h}, "
        f"abs(CAST(y{22+h} AS DOUBLE) - CAST(y{15+h} AS DOUBLE)) AS sn{h}"
        for h in range(1, 8)
    )
    esum = " + ".join(f"e{h}" for h in range(1, 8))
    snsum = " + ".join(f"sn{h}" for h in range(1, 8))
    fc_rows = "\n      UNION ALL ".join(
        f"SELECT {h} AS horizon, y{22+h} AS actual_cents, "
        f"l22 + {h}.0 * b22 AS fc, e{h} AS err FROM sc"
        for h in range(1, 8)
    )
    step_chain = ",\n    ".join(steps)
    return f"""
    WITH e AS (
      SELECT epoch_us(ts) // 86400000000 AS dn,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    span AS (SELECT min(dn) AS lo, max(dn) AS hi FROM e),
    spine AS (SELECT unnest(generate_series(lo, hi)) AS dn FROM span),
    daily AS (
      SELECT s.dn - span.lo AS tt, coalesce(sum(e.cents), 0) AS y
      FROM spine s LEFT JOIN e ON s.dn = e.dn, span
      GROUP BY tt, span.lo),
    tot AS (SELECT count(*) AS t FROM daily),
    p0 AS (SELECT {pivot}
           FROM daily, tot WHERE tot.t >= 30),
    -- a global aggregate over an EMPTY set still yields one all-NULL
    -- row; mirror the Spark side's y0-not-null filter so a <30-day
    -- span is empty on BOTH engines, not 7 NULL rows vs 0
    p AS (SELECT * FROM p0 WHERE y0 IS NOT NULL),
    {step_chain},
    sc AS (SELECT s22.*, {errs} FROM s22),
    m AS (SELECT ({esum}) / 7.0 AS mae_h, ({snsum}) AS sn_tot,
                 ({esum}) AS e_tot FROM sc)
    SELECT CAST(f.horizon AS BIGINT) AS horizon,
           CAST(f.actual_cents AS BIGINT) AS actual_cents,
           (round(f.fc / 100.0 + 1e-9, 4) + 0.0) AS forecast_value,
           (round(f.err / 100.0 + 1e-9, 4) + 0.0) AS abs_err,
           (round(m.mae_h / 100.0 + 1e-9, 4) + 0.0) AS mae_holt,
           (round(m.e_tot / nullif(m.sn_tot, 0.0) + 1e-9, 4) + 0.0)
             AS mase_vs_snaive7
    FROM ({fc_rows}) f, m
    ORDER BY horizon
    """


@query("events_holt_forecast_backtest", oracle=_holt_oracle_sql())
def events_holt_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend forecast backtest on total daily revenue: fit
    level+trend exponential smoothing (alpha=1/2, beta=1/4 — dyadic, so
    early steps are exact and later ones deterministic IEEE) on the
    first 23 days of the densified spine, forecast horizons 1..7 onto
    the held-out last week, and score each horizon plus the summary
    MAE and the MASE-style ratio against the seasonal-naive forecast
    (same-day-last-week, the events_snaive_mase baseline) over the SAME
    seven evaluation days. A ratio < 1 is the go/no-go gate for replacing
    the snaive dashboard number with a trend-aware one.

    Cross-engine exactness: the recurrence l_t = a*y_t + (1-a)(l+b),
    b_t = B*(l_t - l_{t-1}) + (1-B)*b_t-1 is unrolled into the SAME
    expression tree on both engines (the generated-oracle
    markov_attribution convention) — IEEE +,*,- are correctly rounded
    and deterministic, so both engines produce bit-equal doubles; the
    final 4-digit nudge round is belt-and-braces. Error sums are
    explicit 7-term chains in a fixed order, never an aggregate whose
    summation order could differ.

    Scale shape: one scan folds to the day grain; the 30-day series
    pivots onto ONE row (30 conditional maxes over a calendar-bounded
    frame) and the whole recursion is a single codegen projection on
    that row — no collect, no window, nothing driver-sized. Requires a
    >=30-day span (empty result below, both engines)."""
    e = t(spark, sf_dir, "events").select(
        (F.unix_micros(F.col("ts")) / F.lit(86400000000))
        .cast("long")
        .alias("dn"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    d0 = e.groupBy("dn").agg(F.sum("cents").alias("x"))
    span = d0.agg(F.min("dn").alias("lo"), F.max("dn").alias("hi"))
    spine = span.select(F.explode(F.sequence("lo", "hi")).alias("dn"))
    daily = (
        spine.join(d0, "dn", "left")
        .crossJoin(F.broadcast(span))
        .select(
            (F.col("dn") - F.col("lo")).alias("tt"),
            F.coalesce(F.col("x"), F.lit(0)).alias("y"),
        )
    )
    tot = daily.agg(F.count(F.lit(1)).alias("t"))
    p = (
        daily.crossJoin(F.broadcast(tot))
        .where(F.col("t") >= 30)
        .agg(*[
            F.max(F.when(F.col("tt") == k, F.col("y"))).alias(f"y{k}")
            for k in range(30)
        ])
        .where(F.col("y0").isNotNull())
    )
    y = [F.col(f"y{k}") for k in range(30)]
    # The recursion runs as ONE constant-size aggregate fold over the
    # array of observations instead of 45 chained withColumns: the chain
    # form re-analyzed a growing plan per step (r16 isolation profile:
    # 1.9 s of the query's 2.9 s was plan construction, zero pins), while
    # a lambda fold is a single expression the analyzer sees once. The
    # arithmetic is IDENTICAL per step — 0.5*y_t + 0.5*(l+b), then
    # 0.25*(l_new − l) + 0.75*b with l_new's subtree repeated verbatim
    # (IEEE ops are deterministic, so re-evaluating the same expression
    # yields the same double; byte-exact re-certified at 3 SFs).
    def _holt_step(acc, yv):
        l_new = F.lit(0.5) * yv + F.lit(0.5) * (acc["l"] + acc["b"])
        return F.struct(
            l_new.alias("l"),
            (F.lit(0.25) * (l_new - acc["l"]) + F.lit(0.75) * acc["b"]).alias("b"),
        )

    p = p.withColumn(
        "_hrec",
        F.aggregate(
            F.array(*[y[tt] for tt in range(1, 23)]),
            F.struct(
                y[0].cast("double").alias("l"),
                (y[1] - y[0]).cast("double").alias("b"),
            ),
            _holt_step,
        ),
    )
    l22, b22 = F.col("_hrec.l"), F.col("_hrec.b")
    fc = {h: l22 + F.lit(float(h)) * b22 for h in range(1, 8)}
    err = {h: F.abs(y[22 + h].cast("double") - fc[h]) for h in range(1, 8)}
    sn = {
        h: F.abs(y[22 + h].cast("double") - y[15 + h].cast("double"))
        for h in range(1, 8)
    }
    # explicit fixed-order 7-term chains (never an aggregate whose
    # summation order could differ between engines)
    e_tot = err[1]
    sn_tot = sn[1]
    for h in range(2, 8):
        e_tot = e_tot + err[h]
        sn_tot = sn_tot + sn[h]
    rows = [
        F.struct(
            F.lit(h).cast("long").alias("horizon"),
            y[22 + h].cast("long").alias("actual_cents"),
            rz(fc[h] / 100.0).alias("forecast_value"),
            rz(err[h] / 100.0).alias("abs_err"),
        )
        for h in range(1, 8)
    ]
    return (
        p.select(
            F.explode(F.array(*rows)).alias("f"),
            rz(e_tot / F.lit(7.0) / 100.0).alias("mae_holt"),
            rz(e_tot / F.nullif(sn_tot, F.lit(0.0))).alias("mase_vs_snaive7"),
        )
        .select(
            "f.horizon", "f.actual_cents", "f.forecast_value", "f.abs_err",
            "mae_holt", "mase_vs_snaive7",
        )
        .orderBy("horizon")
    )


@query(
    "events_kruskal_wallis",
    oracle="""
    WITH c AS (
      SELECT ((epoch_us(ts) // 3600000000) % 24) // 6 AS daypart,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
        AND value IS NOT NULL AND ts IS NOT NULL),
    dc AS (SELECT daypart, cents, count(*) AS n_dc FROM c GROUP BY daypart, cents),
    grain AS (SELECT cents, CAST(sum(n_dc) AS BIGINT) AS cnt FROM dc GROUP BY cents),
    r AS (
      SELECT cents, cnt,
             2 * coalesce(sum(cnt) OVER (ORDER BY cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + cnt + 1 AS m2
      FROM grain),
    g AS (
      SELECT daypart, CAST(sum(n_dc) AS BIGINT) AS n_g,
             CAST(sum(n_dc * m2) AS BIGINT) AS s2_g
      FROM dc JOIN r USING (cents) GROUP BY daypart),
    ties AS (
      SELECT sum(CAST(cnt AS DOUBLE) * cnt * cnt - cnt) AS tie_sum FROM grain),
    h AS (
      SELECT CAST(sum(n_g) AS BIGINT) AS n_total,
             CAST(count(*) AS BIGINT) - 1 AS df,
             ((coalesce(sum(CASE WHEN daypart = 0 THEN
                 (CAST(s2_g AS DOUBLE) * CAST(s2_g AS DOUBLE))
                 / CAST(n_g AS DOUBLE) END), 0.0)
               + coalesce(sum(CASE WHEN daypart = 1 THEN
                 (CAST(s2_g AS DOUBLE) * CAST(s2_g AS DOUBLE))
                 / CAST(n_g AS DOUBLE) END), 0.0))
              + coalesce(sum(CASE WHEN daypart = 2 THEN
                 (CAST(s2_g AS DOUBLE) * CAST(s2_g AS DOUBLE))
                 / CAST(n_g AS DOUBLE) END), 0.0))
             + coalesce(sum(CASE WHEN daypart = 3 THEN
                 (CAST(s2_g AS DOUBLE) * CAST(s2_g AS DOUBLE))
                 / CAST(n_g AS DOUBLE) END), 0.0) AS s_terms
      FROM g),
    stats AS (
      SELECT n_total, df,
             3.0 * s_terms / (CAST(n_total AS DOUBLE)
                              * (CAST(n_total AS DOUBLE) + 1.0))
               - 3.0 * (CAST(n_total AS DOUBLE) + 1.0) AS h_raw,
             1.0 - tie_sum / (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)
                              * CAST(n_total AS DOUBLE)
                              - CAST(n_total AS DOUBLE)) AS corr
      FROM h, ties)
    SELECT CAST(g.daypart AS BIGINT) AS daypart, g.n_g,
           (round(CAST(g.s2_g AS DOUBLE) / (2.0 * CAST(g.n_g AS DOUBLE))
                  + 1e-9, 4) + 0.0) AS mean_rank,
           (round(h_raw + 1e-9, 4) + 0.0) AS h_stat,
           CASE WHEN corr > 0 THEN (round(h_raw / corr + 1e-9, 4) + 0.0)
             END AS h_corrected,
           stats.df,
           CASE WHEN corr > 0 THEN
             h_raw / corr > CASE stats.df
               WHEN 1 THEN 3.841459 WHEN 2 THEN 5.991465
               WHEN 3 THEN 7.814728 WHEN 4 THEN 9.487729
               WHEN 5 THEN 11.070498 WHEN 6 THEN 12.591587 END
             END AS reject_h0_95
    FROM g, stats ORDER BY daypart
    """,
)
def events_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H: do purchase values differ by time of day? The
    k-group generalization completing the rank-test family (Welch = 2
    means, Mann-Whitney = 2 ranks, Wilcoxon = paired; KW = k=4 daypart
    groups, UTC-hour DIV 6 — the events_mutual_information hour
    convention). Exactness discipline is the MWU one, globalized: cents
    group to DISTINCT values, the doubled midrank 2·cless+cnt+1 is an
    exact INTEGER off ONE value-grain prefix sum (global_cumsum range
    exchange Spark-side — never an N-row single-partition window; the
    grain is value-cardinality-sized), per-group rank sums s2_g =
    Σ n_dc·m2 are exact int64 (s2_g ≤ N(2N+1); SQUARING would wrap, so
    both engines CAST to DOUBLE first — the MWU tie-term class), and the
    Σ s2_g²/n_g fold is ordered ((g0+g1)+g2)+g3 via one-hot conditional
    sums so both engines add the four non-integer terms in the SAME
    sequence (group-agg iteration order is nondeterministic in both).
    NULL values/timestamps are filtered on BOTH sides before the grain:
    a NULL cents row would otherwise sit at opposite ends of the two
    engines' prefix windows (Spark windows default NULLS FIRST, DuckDB
    NULLS LAST) and shift every midrank.
    H = 3·S/(N(N+1)) − 3(N+1) with the Σ(t³−t) tie correction; the
    α=0.05 verdict compares the corrected H to the chi-square critical
    value for the observed df (public table constants, df ≤ 6). Output:
    one row per daypart (group size + mean rank) carrying the global
    test columns."""
    from sec_dl_spark.operators.relational import global_cumsum

    e = t(spark, sf_dir, "events")
    c = e.where(
        (F.col("event_type") == "purchase")
        & F.col("value").isNotNull()
        & F.col("ts").isNotNull()
    ).select(
        F.expr("((unix_micros(ts) div 3600000000) % 24) div 6").alias("daypart"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    dc = c.groupBy("daypart", "cents").agg(F.count(F.lit(1)).alias("n_dc"))
    grain = dc.groupBy("cents").agg(F.sum("n_dc").cast("long").alias("cnt"))
    r = global_cumsum(grain, order=["cents"], value_col="cnt", out_col="csum").select(
        "cents",
        "cnt",
        (F.lit(2) * (F.col("csum") - F.col("cnt")) + F.col("cnt") + F.lit(1)).alias("m2"),
    )
    g = (
        dc.join(r, "cents")
        .groupBy("daypart")
        .agg(
            F.sum("n_dc").cast("long").alias("n_g"),
            F.sum(F.col("n_dc") * F.col("m2")).cast("long").alias("s2_g"),
        )
    )
    ties = grain.agg(
        F.sum(
            F.col("cnt").cast("double") * F.col("cnt") * F.col("cnt") - F.col("cnt")
        ).alias("tie_sum")
    )

    def term(k: int):
        return F.coalesce(
            F.sum(
                F.when(
                    F.col("daypart") == k,
                    (F.col("s2_g").cast("double") * F.col("s2_g").cast("double"))
                    / F.col("n_g").cast("double"),
                )
            ),
            F.lit(0.0),
        )

    h = g.agg(
        F.sum("n_g").cast("long").alias("n_total"),
        (F.count(F.lit(1)).cast("long") - F.lit(1)).alias("df"),
        (((term(0) + term(1)) + term(2)) + term(3)).alias("s_terms"),
    )
    nd = F.col("n_total").cast("double")
    stats = h.crossJoin(ties).select(
        "n_total",
        "df",
        (
            F.lit(3.0) * F.col("s_terms") / (nd * (nd + F.lit(1.0)))
            - F.lit(3.0) * (nd + F.lit(1.0))
        ).alias("h_raw"),
        (F.lit(1.0) - F.col("tie_sum") / (nd * nd * nd - nd)).alias("corr"),
    )
    crit = (
        F.when(F.col("df") == 1, 3.841459)
        .when(F.col("df") == 2, 5.991465)
        .when(F.col("df") == 3, 7.814728)
        .when(F.col("df") == 4, 9.487729)
        .when(F.col("df") == 5, 11.070498)
        .when(F.col("df") == 6, 12.591587)
    )
    return (
        g.crossJoin(F.broadcast(stats))
        .select(
            F.col("daypart").cast("long").alias("daypart"),
            "n_g",
            rz(F.col("s2_g").cast("double") / (F.lit(2.0) * F.col("n_g").cast("double"))).alias("mean_rank"),
            rz(F.col("h_raw")).alias("h_stat"),
            F.when(F.col("corr") > 0, rz(F.col("h_raw") / F.col("corr"))).alias("h_corrected"),
            "df",
            F.when(F.col("corr") > 0, (F.col("h_raw") / F.col("corr")) > crit).alias("reject_h0_95"),
        )
        .orderBy("daypart")
    )
