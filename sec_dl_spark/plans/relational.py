"""Relational operator surface (SURVEY.md §2.3-§2.8) as oracle-checked
queries over the driver fixtures.

The reference's relational capability is PostgreSQL SQL over a star schema
(SURVEY.md §3.2) plus the hand-rolled pandas filters/semi-joins of the idx
loader (sec_dl/utils/load_filings_idx.py:33-48). Here every operator is a
declarative DataFrame program: Catalyst does column pruning, predicate
pushdown and join-strategy selection (broadcast for the small dims), and AQE
re-plans at runtime — see SURVEY.md §4 for the mapping.

Conventions (driver hash-compare): every computed column aliased identically
on both sides; integer-valued computed columns cast to BIGINT; floating
aggregates rounded (sums→2dp, avgs/rates→4dp); every query totally ordered
by a unique key for stable limits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sec_dl_spark.plans.catalog import query, t
from sec_dl_spark.plans.util import cents, cents_sql, money, money_sql, rz, rz6
from sec_dl_spark.session import pin

# --------------------------------------------------------------------------
# Aggregations (A*, §2.5) — flagship first.
# --------------------------------------------------------------------------


@query(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                 AS sum_qty,
           {money_sql('sum(' + cents_sql('l_extendedprice') + ')', 100)} AS sum_base_price,
           {money_sql('sum(' + cents_sql('l_extendedprice') + ' * (100 - ' + cents_sql('l_discount') + '))', 10000)} AS sum_disc_price,
           {money_sql('sum(' + cents_sql('l_extendedprice') + ' * (100 - ' + cents_sql('l_discount') + ') * (100 + ' + cents_sql('l_tax') + '))', 1000000)} AS sum_charge,
           round(avg(l_quantity) + 1e-8, 4)                                 AS avg_qty,
           round(avg(l_extendedprice) + 1e-8, 4)                            AS avg_price,
           round(avg(l_discount) + 1e-8, 4)                                 AS avg_disc,
           count(*)                                                  AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H Q1-style grouped aggregation (partial agg map-side,
    single shuffle on the 6-value group key; filter pushed to parquet).
    The three price sums use the integer-moment convention (exact BIGINT
    cents/cents·pct/cents·pct² units, one divide at output) — their
    group sums reach 4.6e10 dollars at sf1, the magnitude where the old
    double-sum form flips cent boundaries between engines (the join_q9
    class). sum_qty stays a plain double sum: integral values sum
    exactly up to 2^53."""
    li = t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp"))
    ep_c, disc_c, tax_c = (
        cents(F.col("l_extendedprice")),
        cents(F.col("l_discount")),
        cents(F.col("l_tax")),
    )
    disc_u = ep_c * (F.lit(100) - disc_c)
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            money(F.sum(ep_c), 100).alias("sum_base_price"),
            money(F.sum(disc_u), 10000).alias("sum_disc_price"),
            money(F.sum(disc_u * (F.lit(100) + tax_c)), 1000000).alias("sum_charge"),
            F.round(F.avg("l_quantity") + 1e-8, 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice") + 1e-8, 4).alias("avg_price"),
            F.round(F.avg("l_discount") + 1e-8, 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "agg_count_filter",
    oracle="""
    SELECT count(*) AS n_total,
           count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
           count(*) FILTER (WHERE o_totalprice > 200000) AS n_big
    FROM orders
    """,
)
def agg_count_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional counts — the reference's progress query is COUNT over a
    NULL filter (sec_dl/utils/monitor_scraper_progress.py:5-7, SURVEY A1)."""
    o = t(spark, sf_dir, "orders")
    return o.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count(F.when(F.col("o_orderstatus") == "O", 1)).alias("n_open"),
        F.count(F.when(F.col("o_totalprice") > 200000, 1)).alias("n_big"),
    )


@query(
    "agg_distinct",
    oracle="""
    SELECT l_returnflag,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
           count(*) AS n_rows
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped COUNT(DISTINCT) — expands to two-phase distinct aggregation."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count_distinct("l_partkey").alias("n_parts"),
            F.count_distinct("l_suppkey").alias("n_supps"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "agg_minmax_having",
    oracle="""
    SELECT c_mktsegment,
           round(min(c_acctbal), 2) AS min_bal,
           round(max(c_acctbal), 2) AS max_bal,
           round(avg(c_acctbal) + 1e-8, 4) AS avg_bal,
           count(*) AS n
    FROM customer
    GROUP BY c_mktsegment
    HAVING count(*) > 100
    ORDER BY c_mktsegment
    """,
)
def agg_minmax_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min/max/avg + HAVING post-aggregation filter."""
    c = t(spark, sf_dir, "customer")
    return (
        c.groupBy("c_mktsegment")
        .agg(
            F.round(F.min("c_acctbal"), 2).alias("min_bal"),
            F.round(F.max("c_acctbal"), 2).alias("max_bal"),
            F.round(F.avg("c_acctbal") + 1e-8, 4).alias("avg_bal"),
            F.count(F.lit(1)).alias("n"),
        )
        .where(F.col("n") > 100)
        .orderBy("c_mktsegment")
    )


@query(
    "agg_rollup",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n, (round((sum(CAST(round((o_totalprice) * 100) AS BIGINT))) / 100.0 + 1e-6, 2) + 0.0) AS total
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy subtotals (single shuffle; Expand feeds partial agg)."""
    o = t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            money(F.sum(cents(F.col("o_totalprice"))), 100).alias("total"),
        )
        .orderBy(F.col("o_orderstatus").asc_nulls_first(), F.col("o_orderpriority").asc_nulls_first())
    )


@query(
    "agg_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           count(*) AS n, round(sum(l_quantity), 2) AS qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two low-cardinality dims."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("qty"))
        .orderBy(F.col("l_returnflag").asc_nulls_first(), F.col("l_linestatus").asc_nulls_first())
    )


@query(
    "agg_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, count(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via the SQL surface."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("_gs_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n
        FROM _gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
        """
    )


# --------------------------------------------------------------------------
# Joins (J*, §2.4) — broadcast dims, semi/anti as membership predicates.
# --------------------------------------------------------------------------


@query(
    "join_star_3way",
    oracle="""
    SELECT r_name, count(*) AS n_customers,
           (round((sum(CAST(round((c_acctbal) * 100) AS BIGINT))) / 100.0 + 1e-6, 2) + 0.0) AS total_bal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name ORDER BY r_name
    """,
)
def join_star_3way(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema rollup customer→nation→region; both dims broadcast so the
    fact table never shuffles before aggregation (the reference's in-memory
    cik-universe probe, sec_dl/utils/load_filings_idx.py:33,45, generalized)."""
    c = t(spark, sf_dir, "customer")
    n = F.broadcast(t(spark, sf_dir, "nation"))
    r = F.broadcast(t(spark, sf_dir, "region"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            money(F.sum(cents(F.col("c_acctbal"))), 100).alias("total_bal"),
        )
        .orderBy("r_name")
    )


@query(
    "join_left_outer",
    oracle="""
    SELECT n_name, count(*) AS n_rows,
           CAST(count(o_orderkey) AS BIGINT) AS n_orders,
           (round((sum(CAST(round((o_totalprice) * 100) AS BIGINT))) / 100.0 + 1e-6, 2) + 0.0) AS total
    FROM customer
    LEFT JOIN (SELECT * FROM orders WHERE o_orderstatus = 'F') o ON c_custkey = o_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name ORDER BY n_name
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving order-less customers (COUNT skips nulls)."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    n = F.broadcast(t(spark, sf_dir, "nation"))
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("o_orderkey").alias("n_orders"),
            money(F.sum(cents(F.col("o_totalprice"))), 100).alias("total"),
        )
        .orderBy("n_name")
    )


@query(
    "join_full_outer",
    oracle="""
    WITH c AS (SELECT c_nationkey AS nationkey, count(*) AS n_cust FROM customer GROUP BY 1),
         s AS (SELECT s_nationkey AS nationkey, count(*) AS n_supp FROM supplier GROUP BY 1)
    SELECT coalesce(c.nationkey, s.nationkey) AS nationkey,
           coalesce(n_cust, 0) AS n_cust, coalesce(n_supp, 0) AS n_supp
    FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey
    ORDER BY nationkey
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two pre-aggregated sides (aggregate-before-join
    shrinks both shuffle inputs to |nations|)."""
    c = (
        t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    s = (
        t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return (
        c.join(s, "nationkey", "full_outer")
        .select(
            "nationkey",
            F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
            F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
        )
        .orderBy("nationkey")
    )


@query(
    "join_semi",
    oracle="""
    SELECT c_mktsegment, count(*) AS n
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join as membership predicate — the universe filter of the
    idx loader (sec_dl/utils/load_filings_idx.py:45,48, SURVEY J2/P6)."""
    c = t(spark, sf_dir, "customer")
    big = t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 400000).select("o_custkey")
    return (
        c.join(big, c.c_custkey == big.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("c_mktsegment")
    )


@query(
    "join_anti",
    oracle="""
    SELECT c_mktsegment, count(*) AS n
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join — the declarative replacement for the reference's
    unscraped_filings work-queue table + delete trigger
    (sec_dl/utils/load_filings_idx.py:68-93, SURVEY J3/K10)."""
    c = t(spark, sf_dir, "customer")
    p = t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "P").select("o_custkey")
    return (
        c.join(p, c.c_custkey == p.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("c_mktsegment")
    )


@query(
    "join_cross_urls",
    oracle="""
    SELECT y AS year, q AS qtr,
           printf('https://www.sec.gov/Archives/edgar/full-index/%d/QTR%d/master.idx', y, q) AS url
    FROM (SELECT DISTINCT CAST(year(o_orderdate) AS BIGINT) AS y FROM orders)
    CROSS JOIN (SELECT unnest(generate_series(1, 4)) AS q)
    ORDER BY year, qtr
    """,
)
def join_cross_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross join (year × quarter) + URL formatting — the EDGAR idx download
    grid (sec_dl/utils/load_filings_idx.py:22-29, SURVEY J4/F8)."""
    years = (
        t(spark, sf_dir, "orders")
        .select(F.year("o_orderdate").cast("long").alias("year"))
        .distinct()
    )
    quarters = spark.range(1, 5).select(F.col("id").alias("qtr"))
    return (
        years.crossJoin(F.broadcast(quarters))
        .select(
            "year",
            "qtr",
            F.format_string(
                "https://www.sec.gov/Archives/edgar/full-index/%d/QTR%d/master.idx",
                F.col("year"),
                F.col("qtr"),
            ).alias("url"),
        )
        .orderBy("year", "qtr")
    )


@query(
    "join_q3_topk",
    oracle="""
    SELECT o.o_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15'
      AND l.l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def join_q3_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style: selective fact-fact join + grouped revenue + top-k
    (TakeOrderedAndProject — no full sort materialized)."""
    c = t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = t(spark, sf_dir, "orders").where(F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp"))
    li = t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select("o_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "o_orderkey")
        .limit(10)
    )


@query(
    "join_q5_region_revenue",
    oracle="""
    SELECT n_name,
           (round((sum(CAST(round((l_extendedprice) * 100) AS BIGINT) * (100 - CAST(round((l_discount) * 100) AS BIGINT)))) / 10000.0 + 1e-6, 2) + 0.0) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n_name ORDER BY revenue DESC, n_name
    """,
)
def join_q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style 6-way join; dims broadcast, facts shuffle on join keys."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    n = F.broadcast(t(spark, sf_dir, "nation"))
    r = F.broadcast(t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(money(F.sum(cents(F.col("l_extendedprice")) * (F.lit(100) - cents(F.col("l_discount")))), 10000).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "n_name")
    )


@query(
    "join_range",
    oracle="""
    SELECT o_orderstatus, count(*) AS n_fast_items,
           (round((sum(CAST(round((l_extendedprice) * 100) AS BIGINT))) / 100.0 + 1e-6, 2) + 0.0) AS fast_revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
     AND l_shipdate >= o_orderdate
     AND l_shipdate < o_orderdate + INTERVAL 30 DAY
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi + range-band join (items shipped within 30 days of order) —
    the equi key carries the shuffle; the band is a post-join residual."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    cond = (
        (li.l_orderkey == o.o_orderkey)
        & (li.l_shipdate >= o.o_orderdate)
        & (li.l_shipdate < F.date_add(o.o_orderdate.cast("date"), 30).cast("timestamp"))
    )
    return (
        li.join(o, cond)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_fast_items"),
            money(F.sum(cents(F.col("l_extendedprice"))), 100).alias("fast_revenue"),
        )
        .orderBy("o_orderstatus")
    )


# --------------------------------------------------------------------------
# Sorts / limits / top-k / set ops (T*, §2.6).
# --------------------------------------------------------------------------


@query(
    "sort_multi_key_limit",
    oracle="""
    SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS price
    FROM orders
    ORDER BY o_orderstatus ASC, price DESC, o_orderkey ASC
    LIMIT 100
    """,
)
def sort_multi_key_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key sort + limit → TakeOrderedAndProject (no global sort)."""
    o = t(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_orderstatus", F.round("o_totalprice", 2).alias("price"))
        .orderBy(F.col("o_orderstatus").asc(), F.col("price").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


@query(
    "topk_per_group",
    oracle="""
    SELECT c_mktsegment, c_custkey, round(c_acctbal, 2) AS bal
    FROM (
      SELECT c_mktsegment, c_custkey, c_acctbal,
             row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS rn
      FROM customer)
    WHERE rn <= 3
    ORDER BY c_mktsegment, bal DESC, c_custkey
    """,
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via ranking window (Spark pushes rn<=k into the sort
    as a group-limit at scale)."""
    c = t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    return (
        c.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("c_mktsegment", "c_custkey", F.round("c_acctbal", 2).alias("bal"))
        .orderBy("c_mktsegment", F.col("bal").desc(), "c_custkey")
    )


@query(
    "set_ops",
    oracle="""
    WITH cn AS (SELECT DISTINCT c_nationkey AS nationkey FROM customer),
         sn AS (SELECT DISTINCT s_nationkey AS nationkey FROM supplier)
    SELECT 'union' AS op, count(*) AS n FROM (SELECT nationkey FROM cn UNION SELECT nationkey FROM sn)
    UNION ALL
    SELECT 'intersect' AS op, count(*) AS n FROM (SELECT nationkey FROM cn INTERSECT SELECT nationkey FROM sn)
    UNION ALL
    SELECT 'except' AS op, count(*) AS n FROM (SELECT nationkey FROM cn EXCEPT SELECT nationkey FROM sn)
    ORDER BY op
    """,
)
def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT over the two nation-key sets."""
    cn = t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey")).distinct()
    sn = t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey")).distinct()
    rows = [
        cn.union(sn).distinct().agg(F.lit("union").alias("op"), F.count(F.lit(1)).alias("n")),
        cn.intersect(sn).agg(F.lit("intersect").alias("op"), F.count(F.lit(1)).alias("n")),
        cn.exceptAll(sn).agg(F.lit("except").alias("op"), F.count(F.lit(1)).alias("n")),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("op")


@query(
    "union_by_name",
    oracle="""
    SELECT kind, count(*) AS n,
           (round((sum(CAST(round((acctbal) * 100) AS BIGINT))) / 100.0 + 1e-6, 2) + 0.0) AS total_bal
    FROM (
      SELECT 'customer' AS kind, c_acctbal AS acctbal FROM customer
      UNION ALL
      SELECT 'supplier' AS kind, s_acctbal AS acctbal FROM supplier)
    GROUP BY kind ORDER BY kind
    """,
)
def union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-aligned unionByName — the quarterly idx batches appended into
    one filings table (sec_dl/utils/load_filings_idx.py:37-58)."""
    c = t(spark, sf_dir, "customer").select(F.lit("customer").alias("kind"), F.col("c_acctbal").alias("acctbal"))
    s = t(spark, sf_dir, "supplier").select(F.lit("supplier").alias("kind"), F.col("s_acctbal").alias("acctbal"))
    return (
        c.unionByName(s)
        .groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n"),
            money(F.sum(cents(F.col("acctbal"))), 100).alias("total_bal"),
        )
        .orderBy("kind")
    )


@query(
    "distinct_rows",
    oracle="""
    SELECT DISTINCT o_orderstatus, o_orderpriority
    FROM orders ORDER BY o_orderstatus, o_orderpriority
    """,
)
def distinct_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT as group-by-all-columns."""
    return (
        t(spark, sf_dir, "orders")
        .select("o_orderstatus", "o_orderpriority")
        .distinct()
        .orderBy("o_orderstatus", "o_orderpriority")
    )


@query(
    "filter_isin",
    oracle="""
    SELECT p_brand, count(*) AS n, CAST(sum(p_size) AS BIGINT) AS total_size
    FROM part
    WHERE p_brand IN ('Brand#1', 'Brand#12', 'Brand#13') AND p_size BETWEEN 5 AND 40
    GROUP BY p_brand ORDER BY p_brand
    """,
)
def filter_isin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-list + BETWEEN predicates (pushed to the parquet scan) — the
    reference's filing-type keep-list filter (SURVEY P6)."""
    p = t(spark, sf_dir, "part")
    return (
        p.where(F.col("p_brand").isin("Brand#1", "Brand#12", "Brand#13") & F.col("p_size").between(5, 40))
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("p_size").cast("long").alias("total_size"))
        .orderBy("p_brand")
    )


# --------------------------------------------------------------------------
# Window functions (§2.8).
# --------------------------------------------------------------------------


@query(
    "window_running_sum",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
    FROM orders WHERE o_custkey < 200
    ORDER BY o_custkey, o_orderkey
    """,
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative sum with explicit ROWS frame."""
    o = t(spark, sf_dir, "orders").where(F.col("o_custkey") < 200)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        o.select("o_custkey", "o_orderkey", F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"))
        .orderBy("o_custkey", "o_orderkey")
    )


@query(
    "window_lag_lead",
    oracle="""
    SELECT event_id, user_id,
           round(value - lag(value)  OVER w, 4) AS delta_prev,
           round(lead(value) OVER w - value, 4) AS delta_next
    FROM events
    WHERE user_id < 30
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ORDER BY user_id, event_id
    """,
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead deltas per user over event time."""
    e = t(spark, sf_dir, "events").where(F.col("user_id") < 30)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.select(
            "event_id",
            "user_id",
            F.round(F.col("value") - F.lag("value").over(w), 4).alias("delta_prev"),
            F.round(F.lead("value").over(w) - F.col("value"), 4).alias("delta_next"),
        )
        .orderBy("user_id", "event_id")
    )


@query(
    "window_rank",
    oracle="""
    SELECT p_partkey, p_brand,
           CAST(rank()       OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC) AS BIGINT) AS price_rank,
           CAST(dense_rank() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC) AS BIGINT) AS price_dense_rank
    FROM part WHERE p_size > 45
    ORDER BY p_brand, price_rank, p_partkey
    """,
)
def window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank within brand (ties share rank → deterministic)."""
    p = t(spark, sf_dir, "part").where(F.col("p_size") > 45)
    w = Window.partitionBy("p_brand").orderBy(F.col("p_retailprice").desc())
    return (
        p.select(
            "p_partkey",
            "p_brand",
            F.rank().over(w).cast("long").alias("price_rank"),
            F.dense_rank().over(w).cast("long").alias("price_dense_rank"),
        )
        .orderBy("p_brand", "price_rank", "p_partkey")
    )


# --------------------------------------------------------------------------
# Scalar functions (F*, §2.7).
# --------------------------------------------------------------------------


@query(
    "scalar_string_fns",
    oracle="""
    SELECT p_partkey,
           upper(p_brand) AS brand_uc,
           substring(p_name, 1, 8) AS name_prefix,
           concat_ws('|', p_brand, p_type) AS brand_type,
           CAST(length(p_name) AS BIGINT) AS name_len,
           trim(p_type) AS type_trim
    FROM part WHERE p_partkey <= 200 ORDER BY p_partkey
    """,
)
def scalar_string_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """upper/substring/concat_ws/length/trim (SURVEY F1/F6/F8 family)."""
    p = t(spark, sf_dir, "part").where(F.col("p_partkey") <= 200)
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_uc"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.length("p_name").cast("long").alias("name_len"),
        F.trim(F.col("p_type")).alias("type_trim"),
    ).orderBy("p_partkey")


@query(
    "scalar_date_fns",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS BIGINT)    AS yr,
           CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
           CAST(month(o_orderdate) AS BIGINT)   AS mon,
           date_trunc('month', o_orderdate)     AS month_start,
           CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since
    FROM orders WHERE o_orderkey % 100 = 0 ORDER BY o_orderkey
    """,
)
def scalar_date_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """year/quarter/month/date_trunc/datediff (SURVEY F9)."""
    o = t(spark, sf_dir, "orders").where(F.col("o_orderkey") % 100 == 0)
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("yr"),
        F.quarter("o_orderdate").cast("long").alias("qtr"),
        F.month("o_orderdate").cast("long").alias("mon"),
        F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date"))
        .cast("long")
        .alias("days_since"),
    ).orderBy("o_orderkey")


@query(
    "scalar_math_case",
    oracle="""
    SELECT bucket, count(*) AS n,
           (round((sum(revenue_u)) / 1000.0 + 1e-6, 2) + 0.0) AS revenue,
           round(avg(tax_amt) + 1e-8, 4) AS avg_tax
    FROM (
      SELECT CASE WHEN o_totalprice < 100000 THEN 'small'
                  WHEN o_totalprice < 300000 THEN 'medium'
                  ELSE 'large' END AS bucket,
             CAST(round((o_totalprice) * 100) AS BIGINT) * 9 AS revenue_u,
             abs(o_totalprice) * 0.07 AS tax_amt
      FROM orders)
    GROUP BY bucket ORDER BY bucket
    """,
)
def scalar_math_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN bucketing + arithmetic/abs."""
    o = t(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 100000, "small")
        .when(F.col("o_totalprice") < 300000, "medium")
        .otherwise("large")
    )
    return (
        o.select(
            bucket.alias("bucket"),
            (cents(F.col("o_totalprice")) * F.lit(9)).alias("revenue_u"),
            (F.abs(F.col("o_totalprice")) * 0.07).alias("tax_amt"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            money(F.sum("revenue_u"), 1000).alias("revenue"),
            F.round(F.avg("tax_amt") + 1e-8, 4).alias("avg_tax"),
        )
        .orderBy("bucket")
    )


@query(
    "scalar_json",
    oracle="""
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           count(*) AS n, round(avg(value) + 1e-8, 4) AS avg_value
    FROM events
    GROUP BY k ORDER BY k
    """,
)
def scalar_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction from events.props (SURVEY §2.7 declared set)."""
    e = t(spark, sf_dir, "events")
    return (
        e.select(F.get_json_object("props", "$.k").cast("long").alias("k"), "value")
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("value") + 1e-8, 4).alias("avg_value"))
        .orderBy("k")
    )


@query(
    "null_handling",
    oracle="""
    SELECT coalesce(nullif(c_mktsegment, 'BUILDING'), 'REDACTED') AS segment,
           count(*) AS n,
           count(*) FILTER (WHERE nullif(c_mktsegment, 'BUILDING') IS NULL) AS n_nulled
    FROM customer
    GROUP BY segment ORDER BY segment
    """,
)
def null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nullif/coalesce/isNull — the reference's IS NULL work-queue predicate
    (sec_dl/utils/monitor_scraper_progress.py:6, SURVEY P5)."""
    c = t(spark, sf_dir, "customer")
    nulled = F.nullif(F.col("c_mktsegment"), F.lit("BUILDING"))
    return (
        c.select(
            F.coalesce(nulled, F.lit("REDACTED")).alias("segment"),
            nulled.isNull().alias("_is_null"),
        )
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("_is_null"), 1)).alias("n_nulled"),
        )
        .orderBy("segment")
    )


@query(
    "sample_systematic",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n,
           (round((sum(CAST(round((l_extendedprice) * 100) AS BIGINT))) / 100.0 + 1e-6, 2) + 0.0) AS sum_price
    FROM lineitem WHERE l_orderkey % 37 = 0
    """,
)
def sample_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 1-in-37 systematic sample by key modulus — the
    scalable, reproducible replacement for the reference's TABLESAMPLE
    SYSTEM_ROWS block sampling (scrape_all_filings.py:128-134, SURVEY §2.6
    T1). The predicate pushes to the scan; no shuffle."""
    li = t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 37 == 0)
    return li.agg(
        F.count(F.lit(1)).alias("n"),
        money(F.sum(cents(F.col("l_extendedprice"))), 100).alias("sum_price"),
    )


@query("sample_bernoulli_seeded", oracle=None)
def sample_bernoulli_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded Bernoulli row sample (df.sample — SURVEY §2.6 T1/T2 Spark
    mapping). RNG-dependent → rows-only check; pytest asserts the sampled
    fraction lands within binomial bounds and is reproducible per seed."""
    li = t(spark, sf_dir, "lineitem")
    return li.sample(fraction=0.1, seed=42).agg(F.count(F.lit(1)).alias("n"))


@query(
    "agg_percentiles",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5) + 1e-8, 4) AS p50,
           round(quantile_cont(l_extendedprice, 0.9) + 1e-8, 4) AS p90,
           round(quantile_cont(l_quantity, 0.25) + 1e-8, 4) AS q1_qty
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (quantile_cont semantics)
    via the distinct-value + cumulative-count formulation
    (operators/relational.py:exact_percentiles) — fully codegen and
    map-side combinable, unlike Spark's `percentile`
    TypedImperativeAggregate whose per-group buffers merge serially.
    The approx_percentile variant is the sketch-based alternative —
    checked in pytest against these exact values with rank-error
    tolerance."""
    from sec_dl_spark.operators.relational import exact_percentiles

    li = t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_quantity"
    )
    raw = exact_percentiles(
        li,
        "l_returnflag",
        {
            "l_extendedprice": [(0.5, "p50_raw"), (0.9, "p90_raw")],
            "l_quantity": [(0.25, "q1_raw")],
        },
    )
    return (
        raw.select(
            "l_returnflag",
            F.round(F.col("p50_raw") + 1e-8, 4).alias("p50"),
            F.round(F.col("p90_raw") + 1e-8, 4).alias("p90"),
            F.round(F.col("q1_raw") + 1e-8, 4).alias("q1_qty"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "agg_collect_list",
    oracle="""
    SELECT o_orderpriority,
           array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses,
           CAST(count(*) AS BIGINT) AS n
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def agg_collect_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set/collect_list surface (SURVEY §2.5): grouped distinct
    value collection, sorted and joined for order-stable comparison."""
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.concat_ws(",", F.sort_array(F.collect_set("o_orderstatus"))).alias("statuses"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "join_skew_salted",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           (round(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                        * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
                  / 10000.0 + 1e-6, 2) + 0.0) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted fact⋈dim join (operators/skew.py): dim replicated n_salts
    ways, facts salted deterministically — the mitigation for hot keys when
    broadcast is impossible. Result-identical to the plain join, which is
    exactly what the oracle asserts.

    Revenue accumulates by the integer-moment convention (exact BIGINT
    cents² units, one divide at output): the 5 priority groups sum
    ~6e10 dollars each at sf1 — the largest money magnitudes in the
    catalog — and the double-sum form crossed a cent rounding boundary
    there (the join_q9 class; caught by the sf1 money-sum sweep).
    Headroom: |term| ≤ ~1.1e9, int64-safe past sf1000."""
    from sec_dl_spark.operators.skew import salted_join

    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    joined = salted_join(
        li.withColumnRenamed("l_orderkey", "o_orderkey"), o, key="o_orderkey", n_salts=4
    )
    rev_u = F.round(F.col("l_extendedprice") * 100).cast("long") * (
        F.lit(100) - F.round(F.col("l_discount") * 100).cast("long")
    )
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.round(F.sum(rev_u).cast("double") / F.lit(10000.0) + F.lit(1e-6), 2)
                + F.lit(0.0)
            ).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "agg_salted_distinct",
    oracle="""
    SELECT l_returnflag, CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_distinct_l_partkey
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def agg_salted_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted distinct count (operators/skew.py): per-value salt
    spreads each hot group's dedup state over n_salts tasks; per-salt
    partial counts sum exactly. Oracle = the plain count(DISTINCT)."""
    from sec_dl_spark.operators.skew import salted_distinct_count

    li = t(spark, sf_dir, "lineitem")
    return salted_distinct_count(li, ["l_returnflag"], "l_partkey", n_salts=4).orderBy(
        "l_returnflag"
    )


@query(
    "window_range_frame",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
             RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW), 2) AS wk_spend
    FROM orders
    ORDER BY o_custkey, o_orderkey
    """,
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window (value-based, not row-based): per-customer spend
    over the trailing 7 days. rangeBetween on epoch seconds — frame bounds
    follow the ORDER BY value, so ties all join the frame (row frames
    cannot express this)."""
    from pyspark.sql.window import Window

    o = t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-604800, 0)
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.round(F.sum("o_totalprice").over(w), 2).alias("wk_spend"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@query(
    "agg_minmax_by",
    oracle="""
    WITH ranked AS (
      SELECT l_returnflag, l_orderkey,
             row_number() OVER (PARTITION BY l_returnflag
               ORDER BY l_extendedprice DESC, l_orderkey DESC) AS rmax,
             row_number() OVER (PARTITION BY l_returnflag
               ORDER BY l_extendedprice ASC, l_orderkey ASC) AS rmin
      FROM lineitem)
    SELECT l_returnflag,
           max(CASE WHEN rmax = 1 THEN l_orderkey END) AS priciest_order,
           max(CASE WHEN rmin = 1 THEN l_orderkey END) AS cheapest_order
    FROM ranked GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def agg_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by (argmax/argmin) aggregates — single-pass, no
    self-join-on-max idiom needed. The ordering key is (price, orderkey) so
    price ties break deterministically — bare max_by picks an arbitrary row
    on ties, which is a correctness-gate flake, not a semantics difference."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.expr("max_by(l_orderkey, struct(l_extendedprice, l_orderkey))").alias(
                "priciest_order"
            ),
            F.expr("min_by(l_orderkey, struct(l_extendedprice, l_orderkey))").alias(
                "cheapest_order"
            ),
        )
        .orderBy("l_returnflag")
    )


@query(
    "sql_adhoc_q6",
    oracle="""
    SELECT (round((sum(CAST(round((l_extendedprice) * 100) AS BIGINT) * CAST(round((l_discount) * 100) AS BIGINT))) / 10000.0 + 1e-6, 2) + 0.0) AS revenue,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem
    WHERE l_shipdate >= DATE '1995-01-01' AND l_shipdate < DATE '1996-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
)
def sql_adhoc_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ad-hoc SQL entry path (SURVEY §3.2 — the reference's user-facing
    query surface is raw SQL against PG): register fixture views, run a
    TPC-H Q6-style predicate scan through spark.sql. Same Catalyst plan as
    the DataFrame form; this pins the SQL front door itself."""
    from sec_dl_spark.sources.fixtures import register_fixtures

    register_fixtures(spark, sf_dir)
    return spark.sql("""
        SELECT (round((sum(CAST(round((l_extendedprice) * 100) AS BIGINT) * CAST(round((l_discount) * 100) AS BIGINT))) / 10000.0 + 1e-6, 2) + 0.0) AS revenue,
               count(*) AS n
        FROM lineitem
        WHERE l_shipdate >= DATE '1995-01-01' AND l_shipdate < DATE '1996-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """)


@query(
    "scalar_encode_decode",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (WHERE decode(encode(text)) = text) AS BIGINT) AS n_roundtrip,
           CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes
    FROM documents
    """,
)
def scalar_encode_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UTF-8 encode/decode round trip (SURVEY §2.7 F12 — the reference's
    content.decode('utf-8','ignore')); byte lengths differ from char
    lengths on any non-ASCII content, which the fixtures contain."""
    d = t(spark, sf_dir, "documents")
    enc = F.encode(F.col("text"), "UTF-8")
    return d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.decode(enc, "UTF-8") == F.col("text"), 1)).alias("n_roundtrip"),
        F.sum(F.length(enc)).cast("long").alias("total_bytes"),
    )


@query("agg_approx_distinct_hll", oracle=None)
def agg_approx_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) per event_type — the sketch
    path for cardinality at 100 TB (exact distinct shuffles every value;
    the sketch merges map-side in constant space). Estimator-specific
    values → rows-only; pytest bounds the relative error vs exact."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", 0.02).alias("approx_users"))
        .orderBy("event_type")
    )


@query(
    "join_null_safe",
    oracle="""
    WITH a AS (SELECT DISTINCT o_orderstatus,
                 CASE WHEN o_orderpriority = '1-URGENT' THEN NULL ELSE o_orderpriority END AS pri
               FROM orders),
         b AS (SELECT DISTINCT o_orderstatus,
                 CASE WHEN o_orderpriority = '1-URGENT' THEN NULL ELSE o_orderpriority END AS pri
               FROM orders)
    SELECT a.o_orderstatus, count(*) AS n_matches
    FROM a JOIN b ON a.o_orderstatus = b.o_orderstatus
                 AND a.pri IS NOT DISTINCT FROM b.pri
    GROUP BY a.o_orderstatus ORDER BY a.o_orderstatus
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys
    match each other instead of vanishing — required when the join key is a
    legitimately-nullable column (the reference's companies.cik is nullable,
    SURVEY §1.2)."""
    o = t(spark, sf_dir, "orders")
    pri = F.when(F.col("o_orderpriority") == "1-URGENT", None).otherwise(
        F.col("o_orderpriority")
    )
    a = o.select("o_orderstatus", pri.alias("pri")).distinct()
    b = o.select("o_orderstatus", pri.alias("pri_b")).distinct()
    return (
        a.join(
            b,
            (a["o_orderstatus"] == b["o_orderstatus"]) & a["pri"].eqNullSafe(b["pri_b"]),
        )
        .groupBy(a["o_orderstatus"].alias("o_orderstatus"))
        .agg(F.count(F.lit(1)).alias("n_matches"))
        .orderBy("o_orderstatus")
    )


@query(
    "subquery_exists",
    oracle="""
    SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_customers
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def subquery_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS through the SQL front door — Catalyst
    rewrites them to semi/anti joins (same plan as the DataFrame forms in
    join_semi/join_anti; this pins the subquery SURFACE)."""
    from sec_dl_spark.sources.fixtures import register_fixtures

    register_fixtures(spark, sf_dir)
    return spark.sql("""
        SELECT c_mktsegment, count(*) AS n_customers
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
        GROUP BY c_mktsegment ORDER BY c_mktsegment
    """)


@query(
    "window_distribution_fns",
    oracle="""
    SELECT c_custkey,
           CAST(ntile(4) OVER w AS INTEGER) AS bal_quartile,
           round(percent_rank() OVER w + 1e-9, 6) AS pct_rank,
           round(cume_dist() OVER w + 1e-9, 6) AS cume
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    ORDER BY c_custkey
    """,
)
def window_distribution_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions — ntile quartiles, percent_rank,
    cume_dist per segment (ordering tie-broken by key so both engines
    agree on rank positions)."""
    c = t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        F.ntile(4).over(w).alias("bal_quartile"),
        F.round(F.percent_rank().over(w) + 1e-9, 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w) + 1e-9, 6).alias("cume"),
    ).orderBy("c_custkey")


@query(
    "entity_match_levenshtein",
    oracle="""
    WITH c AS (SELECT c_custkey, lower(c_name) AS nm, substr(lower(c_name), 1, 16) AS blk
               FROM customer)
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           CAST(levenshtein(a.nm, b.nm) AS BIGINT) AS edit_dist
    FROM c a JOIN c b ON a.blk = b.blk AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.nm, b.nm) <= 3
    ORDER BY id_a, id_b LIMIT 50
    """,
)
def entity_match_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity matching by edit distance (record linkage over noisy names —
    the reference's ticker/name reconciliation concern, README §PERMNO vs
    CIK): prefix-blocked candidates, levenshtein ≤ 3. The block must be
    discriminative for the data — TPC-H names share a constant prefix, so
    a short block degenerates to one giant bucket (the classic blocking
    failure); 16 chars keeps buckets ≤ ~100 names while ≤3-edit pairs
    (differing only in trailing digits) still co-block."""
    c = t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.lower("c_name").alias("nm"),
        F.substring(F.lower("c_name"), 1, 16).alias("blk"),
    )
    a = c.select(F.col("c_custkey").alias("id_a"), F.col("nm").alias("nm_a"), "blk")
    b = c.select(F.col("c_custkey").alias("id_b"), F.col("nm").alias("nm_b"), "blk")
    dist = F.levenshtein("nm_a", "nm_b")
    return (
        a.join(b, "blk")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", dist.cast("long").alias("edit_dist"))
        .where(F.col("edit_dist") <= 3)
        .orderBy("id_a", "id_b")
        .limit(50)
    )


from sec_dl_spark.operators.layout import (  # noqa: E402
    hilbert_sql_2d,
    with_hilbert_key,
    zorder_key,
    zorder_sql,
)

_ZSQL = zorder_sql(["l_orderkey", "l_suppkey"], bits=16)
_HSQL = hilbert_sql_2d("l_orderkey", "l_suppkey", bits=8)


@query(
    "layout_zorder_key",
    oracle=f"""
    SELECT l_orderkey, l_suppkey, CAST({_ZSQL} AS BIGINT) AS zkey
    FROM lineitem
    ORDER BY zkey, l_orderkey, l_suppkey
    LIMIT 100
    """,
)
def layout_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) clustering key over two scan columns — the layout
    primitive behind multi-column file pruning at 100 TB (operators/
    layout.py:zorder_key; Delta's OPTIMIZE ZORDER BY re-expressed as one
    codegen projection + repartitionByRange). The catalog entry checks the
    bit-interleave arithmetic against the oracle computing the identical
    key independently; the file-bbox pruning effect is pinned by
    tests/test_layout.py."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    return (
        li.withColumn(
            "zkey", zorder_key(["l_orderkey", "l_suppkey"], bits=16).cast("long")
        )
        .orderBy("zkey", "l_orderkey", "l_suppkey")
        .limit(100)
    )


@query(
    "layout_hilbert_key",
    oracle=f"""
    WITH __base AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
    h AS ({_HSQL})
    SELECT l_orderkey, l_suppkey, hd AS hkey
    FROM h ORDER BY hkey, l_orderkey, l_suppkey LIMIT 100
    """,
)
def layout_hilbert_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve clustering key over two scan columns — the
    locality-preserving upgrade of layout_zorder_key: consecutive keys
    are always grid-adjacent cells (pytest-pinned against the classic
    rotate/reflect reference), so contiguous key ranges cut into files
    have tighter bounding rectangles than the Z-curve's
    power-of-two-boundary jumps — strictly better min/max pruning for
    the same file count. One codegen projection (the unrolled per-level
    recurrence via named intermediates — expression tree linear in
    bits), checked here against the oracle computing the identical
    index independently; the layout shuffle contract (exactly one range
    exchange) is pinned by tests/test_layout.py."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey").distinct()
    return (
        with_hilbert_key(li, "l_orderkey", "l_suppkey", out="hkey", bits=8)
        .orderBy("hkey", "l_orderkey", "l_suppkey")
        .limit(100)
    )


@query(
    "agg_weighted_avg",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_extendedprice * l_quantity) / sum(l_quantity) + 1e-8, 4)
             AS w_avg_price,
           round(sum(l_extendedprice * (1 - l_discount) * l_quantity)
                 / sum(l_quantity) + 1e-8, 4) AS w_avg_net,
           CAST(sum(l_quantity) AS BIGINT) AS total_qty
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def agg_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted average prices per flag/status — the weighted-mean
    agg shape (sum(x*w)/sum(w)) that avg() cannot express. Two partial
    sums per weight, one shuffle keyed by the group: identical scale
    posture to q1_pricing_summary."""
    li = t(spark, sf_dir, "lineitem")
    w = F.col("l_quantity")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round((F.sum(F.col("l_extendedprice") * w) / F.sum(w)) + 1e-8, 4).alias(
                "w_avg_price"
            ),
            F.round(
                (F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")) * w) / F.sum(w))
                + 1e-8,
                4,
            ).alias("w_avg_net"),
            F.sum(w).cast("long").alias("total_qty"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "join_q10_returned_revenue",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           round(c.c_acctbal, 2) AS acctbal
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1995-01-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name, c.c_acctbal
    ORDER BY revenue DESC, c.c_custkey LIMIT 20
    """,
)
def join_q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-style returned-item revenue report: customers ranked by
    revenue lost to returns in a date window — a 4-table star join
    (lineitem fact against customer/orders key chain + broadcast nation)
    with grouped aggregation and a top-20 cut. Scale posture: the
    returnflag and orderdate filters push to the two fact scans, nation
    broadcasts, the fact-fact joins shuffle on their keys only, and the
    final ORDER BY + LIMIT is TakeOrderedAndProject (no global sort).
    Deterministic tie-break on c_custkey; revenue rounded at 2dp (exact
    2-decimal inputs)."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp")
    )
    li = t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = t(spark, sf_dir, "nation")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            "revenue",
            F.round(F.col("c_acctbal"), 2).alias("acctbal"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "join_q18_large_orders",
    oracle="""
    WITH big AS (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey HAVING sum(l_quantity) > 150
    )
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
           round(o.o_totalprice, 2) AS totalprice,
           round(sum(l.l_quantity), 2) AS sum_qty
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN big ON big.l_orderkey = o.o_orderkey
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY totalprice DESC, o.o_orderkey LIMIT 50
    """,
)
def join_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-style large-volume-order report: orders whose total line
    quantity exceeds a threshold, with their customer and re-aggregated
    quantity — the HAVING-subquery-as-semi-join pattern. Scale posture:
    the `big` keylist is an aggregate on l_orderkey reused as a join
    filter; Spark plans it as an aggregation feeding a key-only join
    (AQE free to broadcast the filtered keylist when it is small —
    threshold filters usually make it tiny relative to the fact), and
    the final cut is TakeOrderedAndProject. Ties break on o_orderkey."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_sq"))
        .where(F.col("_sq") > 150)
        .select("l_orderkey")
    )
    return (
        li.join(big, "l_orderkey", "left_semi")
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.round(F.col("o_totalprice"), 2).alias("totalprice"),
            "sum_qty",
        )
        .orderBy(F.desc("totalprice"), F.asc("o_orderkey"))
        .limit(50)
    )


# --------------------------------------------------------------------------
# TPC-H-style report queries continued (Q7/Q12/Q14/Q16/Q19/Q22 shapes,
# adapted to the trimmed fixture schema — no partsupp/shipmode/phone
# columns, so the joins keep the canonical plan shape with the columns the
# fixtures carry). Reference parity: the reference serves exactly this
# class of warehouse report over PostgreSQL (SURVEY.md §3.2;
# sec_dl/utils/init_tables.py:31-52 is its star schema).
# --------------------------------------------------------------------------


@query(
    "join_q7_nation_volume",
    oracle="""
    SELECT supp_nation, cust_nation, l_year,
           (round((sum(volume_u)) / 10000.0 + 1e-6, 2) + 0.0) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS BIGINT) AS l_year,
             CAST(round((l_extendedprice) * 100) AS BIGINT) * (100 - CAST(round((l_discount) * 100) AS BIGINT)) AS volume_u
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE (n1.n_name = 'NATION_18' AND n2.n_name = 'NATION_19')
         OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_18'))
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def join_q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-style bilateral trade volume: lineitem joined to BOTH ends
    (supplier nation and customer nation) with the nation dim broadcast
    twice under different aliases, the disjunctive pair filter applied
    after both attaches, yearly rollup. Scale shape: the fact shuffles on
    its join keys only; both nation attaches are broadcasts; the OR filter
    prunes to the two nation pair rows before the aggregate."""
    s = t(spark, sf_dir, "supplier")
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    nat = t(spark, sf_dir, "nation")
    n1 = F.broadcast(
        nat.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    )
    n2 = F.broadcast(
        nat.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    )
    pair = (
        (F.col("supp_nation") == "NATION_18") & (F.col("cust_nation") == "NATION_19")
    ) | ((F.col("supp_nation") == "NATION_19") & (F.col("cust_nation") == "NATION_18"))
    return (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n1, F.col("s_nationkey") == F.col("s_nk"))
        .join(n2, F.col("c_nationkey") == F.col("c_nk"))
        .where(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(money(F.sum(cents(F.col("l_extendedprice")) * (F.lit(100) - cents(F.col("l_discount")))), 10000).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query(
    "join_q12_ship_delay",
    oracle="""
    SELECT delay_class,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM (
      SELECT o_orderpriority,
             CASE WHEN date_diff('day', o_orderdate, l_shipdate) <= 30 THEN 'fast'
                  WHEN date_diff('day', o_orderdate, l_shipdate) <= 90 THEN 'normal'
                  ELSE 'slow' END AS delay_class
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
    GROUP BY delay_class ORDER BY delay_class
    """,
)
def join_q12_ship_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-style priority-by-delay matrix (the fixtures carry no
    shipmode/commitdate, so the Q12 'late shipment' class derives from the
    l_shipdate - o_orderdate gap): conditional counts split order
    priorities per delay bucket — one fact-fact equi join, one aggregate,
    CASE arithmetic all codegen."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    delay = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.when(delay <= 30, "fast")
            .when(delay <= 90, "normal")
            .otherwise("slow")
            .alias("delay_class"),
            high.alias("is_high"),
        )
        .groupBy("delay_class")
        .agg(
            F.sum(F.when(F.col("is_high"), 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(F.col("is_high"), 0).otherwise(1)).cast("long").alias("low_line_count"),
        )
        .orderBy("delay_class")
    )


@query(
    "agg_q14_promo_share",
    oracle="""
    SELECT (round((100.0 * sum(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0 END)
                  / sum(l_extendedprice * (1 - l_discount))) + 1e-9, 4) + 0.0)
             AS promo_share
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-09-01'
      AND l_shipdate <  TIMESTAMP '1997-10-01'
    """,
)
def agg_q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 promo revenue share for one ship month: conditional
    aggregate ratio, part dim broadcast, shipdate predicate pushed to the
    parquet scan. Rounded with the +1e-9 nudge and -0.0 normalization
    (plans/text.py:rz convention) — a ratio is a double division, so the
    engines' summation orders must not leak into the serialized value."""
    li = t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    p = F.broadcast(t(spark, sf_dir, "part"))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0)))
    share = 100.0 * promo / F.sum(rev)
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg((F.round(share + F.lit(1e-9), 4) + F.lit(0.0)).alias("promo_share"))
    )


@query(
    "join_q16_supplier_cnt",
    oracle="""
    SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    LIMIT 20
    """,
)
def join_q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-style supplier diversity count (lineitem stands in for the
    absent partsupp association; the excluded-supplier subquery keys on
    negative account balance instead of the absent comment column): NOT IN
    becomes a broadcast left-anti join, then a distinct count per
    (brand, type, size). The limit's cut boundary is deterministic — the
    group key completes the total order after the count."""
    li = t(spark, sf_dir, "lineitem")
    p = F.broadcast(t(spark, sf_dir, "part").where(F.col("p_brand") != "Brand#1"))
    bad = F.broadcast(
        t(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 0).select("s_suppkey")
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(bad, li.l_suppkey == bad.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", F.col("p_size").cast("long").alias("p_size"))
        .agg(F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
        .limit(20)
    )


@query(
    "join_q19_or_predicates",
    oracle="""
    SELECT (round((sum(CAST(round((l_extendedprice) * 100) AS BIGINT) * (100 - CAST(round((l_discount) * 100) AS BIGINT)))) / 10000.0 + 1e-6, 2) + 0.0) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def join_q19_or_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-style disjunctive-predicate revenue (brand/size stand in
    for the absent container column): three AND-blocks OR-ed across both
    join sides. Catalyst splits the disjunction — the p_brand IN (...) and
    l_quantity range hulls push to the scans, the full residual applies
    after the broadcast join — the exact pattern Q19 exists to test."""
    li = t(spark, sf_dir, "lineitem")
    p = F.broadcast(t(spark, sf_dir, "part"))
    block = lambda brand, smax, qlo, qhi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & F.col("p_size").between(1, smax)
        & F.col("l_quantity").between(qlo, qhi)
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .where(block("Brand#1", 15, 1, 11) | block("Brand#2", 25, 10, 20) | block("Brand#3", 35, 20, 30))
        .agg(money(F.sum(cents(F.col("l_extendedprice")) * (F.lit(100) - cents(F.col("l_discount")))), 10000).alias("revenue"))
    )


@query(
    "join_q22_idle_customers",
    oracle="""
    WITH pool AS (SELECT * FROM customer WHERE c_nationkey IN (0, 1, 2, 3, 4, 5, 6)),
    cutoff AS (SELECT avg(c_acctbal) AS ab FROM pool WHERE c_acctbal > 0.0)
    SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
           CAST(count(*) AS BIGINT) AS numcust,
           (round((sum(CAST(round((c_acctbal) * 100) AS BIGINT))) / 100.0 + 1e-6, 2) + 0.0) AS totacctbal
    FROM pool, cutoff
    WHERE c_acctbal > ab
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY c_nationkey ORDER BY nationkey
    """,
)
def join_q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-style dormant high-balance customers (nation keys stand in
    for the absent phone country codes; 'dormant' = no order since
    2000-01-01 — the dense fixtures give every customer SOME order, so
    total absence would be vacuous): a 1-row aggregate broadcast as the
    comparison scalar, NOT EXISTS as a left-anti join against the
    date-filtered orders, per-nation rollup. Scale shape: the scalar
    attach is a broadcast of one row; the anti join shuffles on custkey
    (and only the recent slice of orders); nothing else moves."""
    pool = t(spark, sf_dir, "customer").where(
        F.col("c_nationkey").isin(0, 1, 2, 3, 4, 5, 6)
    )
    cutoff = pool.where(F.col("c_acctbal") > 0.0).agg(F.avg("c_acctbal").alias("ab"))
    o = (
        t(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    return (
        pool.crossJoin(F.broadcast(cutoff))
        .where(F.col("c_acctbal") > F.col("ab"))
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy(F.col("c_nationkey").cast("long").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            money(F.sum(cents(F.col("c_acctbal"))), 100).alias("totacctbal"),
        )
        .orderBy("nationkey")
    )


from sec_dl_spark.operators.fts import trgm_match, trigrams_sql  # noqa: E402

_TG_SQL = trigrams_sql("nm")


@query(
    "entity_match_trigram",
    oracle=f"""
    WITH names AS (SELECT DISTINCT p_name AS nm FROM part),
    tg AS (SELECT nm, {_TG_SQL} AS t FROM names)
    SELECT a.nm AS name_a, b.nm AS name_b,
           (round((len(list_intersect(a.t, b.t))::DOUBLE
                   / (len(a.t) + len(b.t) - len(list_intersect(a.t, b.t))))
                  + 1e-9, 4) + 0.0) AS sim
    FROM tg a JOIN tg b ON a.nm < b.nm
    WHERE len(list_intersect(a.t, b.t))::DOUBLE
          / (len(a.t) + len(b.t) - len(list_intersect(a.t, b.t))) >= 0.5
    ORDER BY name_a, name_b
    """,
)
def entity_match_trigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pg_trgm-style fuzzy name matching (operators/fts.py:trgm_match —
    the reference's PostgreSQL similarity()/GIN-trigram capability,
    SURVEY §2.2 K7 family): dedupe part names to a dictionary, generate
    candidates by a trigram posting-list self-join, score exact Jaccard
    per candidate. The oracle computes the QUADRATIC ground truth over
    the dictionary, so a candidate-generation gap (a >=0.5 pair the
    posting join misses) fails the compare — with no df cutoff the
    posting join is provably exhaustive (sim > 0 needs a shared trigram).
    Scale shape: the fact table never joins — only the distinct-name
    dictionary moves, and pair volume is bounded by trigram posting
    lists."""
    names = t(spark, sf_dir, "part").select(F.col("p_name").alias("nm")).distinct()
    m = trgm_match(names, "nm", threshold=0.5)
    return m.select(
        "name_a",
        "name_b",
        (F.round(F.col("sim") + F.lit(1e-9), 4) + F.lit(0.0)).alias("sim"),
    ).orderBy("name_a", "name_b")


@query(
    "join_q13_order_count_dist",
    oracle="""
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist FROM (
      SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
      GROUP BY c_custkey)
    GROUP BY c_count ORDER BY custdist DESC, c_count DESC
    """,
)
def join_q13_order_count_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 customer order-count distribution: LEFT join so
    zero-order customers keep a 0 bucket (count(o_orderkey) skips the
    null-extended rows — the exact outer-join-plus-count subtlety Q13
    exists to test; the priority filter must live in the JOIN condition,
    not WHERE, or those customers vanish), then a histogram of the
    counts. Two aggregations, both key-partitioned; the second input is
    one row per customer."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").where(F.col("o_orderpriority") != "5-LOW")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@query(
    "join_q15_top_supplier",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey AS supplier_no,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN rev ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
    ORDER BY s_suppkey
    """,
)
def join_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 top supplier(s) by quarterly revenue: the revenue CTE is
    computed ONCE and reused for both the per-supplier rows and the max
    scalar (Q15's 'view' semantics) — here a cached narrow aggregate, the
    max attached as a 1-row broadcast crossJoin. Ties all surface (the
    max filter, not a LIMIT 1), ordered by key. Revenue is rounded
    BEFORE the max compare on both engines so the tie set is identical."""
    li = t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    rev = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("total_revenue")
        )
        # one materialization for both the per-supplier rows and the max
        # scalar (Q15's 'view' semantics literally): without it the two
        # branches re-run the float sum and a boundary-rounding flip
        # could desync the tie set from the max (session.pin: eager,
        # executor-local by default, reliable-checkpoint mode via conf)
    )
    rev = pin(rev)
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    s = t(spark, sf_dir, "supplier")
    return (
        s.join(rev, s.s_suppkey == rev.supplier_no)
        .crossJoin(F.broadcast(mx))
        .where(F.col("total_revenue") == F.col("mx"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@query(
    "join_q17_small_qty_revenue",
    oracle="""
    SELECT round(sum(CAST(round((l_extendedprice) * 100) AS BIGINT)) / 700.0 + 1e-9, 2) AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#3'
      AND l_quantity < (
        SELECT 0.2 * avg(l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = lineitem.l_partkey)
    """,
)
def join_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 small-quantity order revenue: the correlated per-part
    average decorrelates into ONE grouped aggregate joined back to the
    fact (what Catalyst does to the subquery anyway, written explicitly
    so the plan is visibly a single extra key-partitioned agg, not a
    per-row subquery). The brand filter applies to the OUTER side only —
    the average is over ALL lineitems of the part, which is exactly the
    trap mis-decorrelations fall into."""
    li = t(spark, sf_dir, "lineitem")
    p = F.broadcast(
        t(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#3").select("p_partkey")
    )
    avg_qty = li.groupBy(F.col("l_partkey").alias("ap_key")).agg(
        (F.avg("l_quantity") * 0.2).alias("qty_cut")
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(avg_qty, li.l_partkey == F.col("ap_key"))
        .where(F.col("l_quantity") < F.col("qty_cut"))
        .agg(
            F.round(
                F.sum(cents(F.col("l_extendedprice"))).cast("double") / F.lit(700.0)
                + F.lit(1e-9),
                2,
            ).alias("avg_yearly")
        )
    )


@query(
    "join_q8_market_share",
    oracle="""
    WITH vol AS (
      SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n2.n_name AS supp_nation
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region   ON n1.n_regionkey = r_regionkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      JOIN part     ON l_partkey = p_partkey
      WHERE r_name = 'EUROPE' AND p_type = 'STANDARD')
    SELECT o_year,
           (round((sum(CASE WHEN supp_nation = 'NATION_18' THEN volume ELSE 0 END)
                   / sum(volume)) + 1e-9, 4) + 0.0) AS mkt_share
    FROM vol GROUP BY o_year ORDER BY o_year
    """,
)
def join_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 national market share: NATION_18's share of STANDARD-part
    revenue sold to EUROPE customers, by order year — an 8-way star join
    where every dimension (nation twice, region, part, supplier) is
    broadcast and only lineitem–orders shuffles, then a conditional-sum
    ratio per year. The region and part filters prune their broadcasts
    BEFORE the join, so the fact rows that survive carry two small
    attached attributes, not eight."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    nat = t(spark, sf_dir, "nation")
    n1 = F.broadcast(nat.select(F.col("n_nationkey").alias("c_nk"), "n_regionkey"))
    n2 = F.broadcast(
        nat.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    )
    r = F.broadcast(t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE"))
    s = t(spark, sf_dir, "supplier")
    p = F.broadcast(
        t(spark, sf_dir, "part").where(F.col("p_type") == "STANDARD").select("p_partkey")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n1, F.col("c_nationkey") == F.col("c_nk"))
        .join(r, F.col("n_regionkey") == F.col("r_regionkey"))
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(n2, F.col("s_nationkey") == F.col("s_nk"))
        .join(p, li.l_partkey == p.p_partkey)
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            vol.alias("volume"),
            "supp_nation",
        )
    )
    share = F.sum(
        F.when(F.col("supp_nation") == "NATION_18", F.col("volume")).otherwise(F.lit(0.0))
    ) / F.sum("volume")
    return (
        joined.groupBy("o_year")
        .agg((F.round(share + F.lit(1e-9), 4) + F.lit(0.0)).alias("mkt_share"))
        .orderBy("o_year")
    )


@query(
    "join_q21_waiting_supplier",
    oracle="""
    WITH li AS (
      SELECT l_orderkey, l_suppkey, l_shipdate, o_orderdate
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
    SELECT s_name, CAST(count(*) AS BIGINT) AS numwait FROM (
      SELECT DISTINCT a.l_orderkey, a.l_suppkey
      FROM li a
      WHERE a.l_shipdate > a.o_orderdate + INTERVAL 60 DAY
        AND EXISTS (SELECT 1 FROM li b
                    WHERE b.l_orderkey = a.l_orderkey
                      AND b.l_suppkey <> a.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM li c
                        WHERE c.l_orderkey = a.l_orderkey
                          AND c.l_suppkey <> a.l_suppkey
                          AND c.l_shipdate > c.o_orderdate + INTERVAL 60 DAY)) w
    JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20
    """,
)
def join_q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 suppliers who kept orders waiting ('late' = shipped more
    than 60 days after the order date — the fixtures carry no
    commit/receipt dates): the sole late supplier on a multi-supplier
    order. The ORACLE states it with correlated EXISTS / NOT EXISTS; the
    Spark side uses the DECORRELATED form — one per-order aggregate
    (distinct supplier count, distinct LATE supplier count) joined back,
    keeping exactly the late rows where n_suppliers > 1 and
    n_late_suppliers = 1. Different formulations, same semantics, so a
    decorrelation bug fails the compare. Scale shape: the per-order agg
    and the join-back shuffle on l_orderkey; supplier attaches broadcast."""
    li = (
        t(spark, sf_dir, "lineitem")
        .join(t(spark, sf_dir, "orders"), F.col("l_orderkey") == F.col("o_orderkey"))
        .select("l_orderkey", "l_suppkey", "l_shipdate", "o_orderdate")
    )
    late_flag = F.col("l_shipdate") > F.date_add(
        F.col("o_orderdate").cast("date"), 60
    ).cast("timestamp")
    pairs = li.select("l_orderkey", "l_suppkey", late_flag.alias("is_late")).distinct()
    per_order = pairs.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_sup"),
        F.countDistinct(F.when(F.col("is_late"), F.col("l_suppkey"))).alias("n_late_sup"),
    )
    waiting = (
        pairs.where(F.col("is_late"))
        .select("l_orderkey", "l_suppkey")
        .distinct()
        .join(
            per_order.where((F.col("n_sup") > 1) & (F.col("n_late_sup") == 1)),
            "l_orderkey",
        )
    )
    s = F.broadcast(t(spark, sf_dir, "supplier").select("s_suppkey", "s_name"))
    return (
        waiting.join(s, waiting.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


@query(
    "window_first_last_nth",
    oracle="""
    SELECT c_custkey,
           first_value(c_name) OVER w AS seg_poorest,
           last_value(c_name) OVER (PARTITION BY c_mktsegment
                ORDER BY c_acctbal, c_custkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS seg_richest,
           nth_value(c_name, 2) OVER (PARTITION BY c_mktsegment
                ORDER BY c_acctbal, c_custkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS seg_second
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    ORDER BY c_custkey
    """,
)
def window_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last/nth_value window functions (completing §2.8's navigation
    surface beyond lag/lead): per-segment poorest, richest, and
    second-poorest customer attached to every row. last_value/nth_value
    REQUIRE the unbounded-following frame — the default frame ends at the
    current row, which silently yields the running last/nth instead (the
    classic last_value trap; first_value is frame-insensitive here).
    Ordering tie-broken by key so both engines pick identical rows."""
    c = t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return c.select(
        "c_custkey",
        F.first("c_name").over(w).alias("seg_poorest"),
        F.last("c_name").over(w_full).alias("seg_richest"),
        F.nth_value("c_name", 2).over(w_full).alias("seg_second"),
    ).orderBy("c_custkey")


@query(
    "join_q9_profit_by_nation",
    oracle="""
    SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
           (round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                        * (100 - CAST(round(l_discount * 100) AS BIGINT))
                      - 60 * CAST(round(p_retailprice * 100) AS BIGINT)
                        * CAST(l_quantity AS BIGINT))
                  / 10000.0 + 1e-6, 2) + 0.0)
             AS sum_profit
    FROM lineitem
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN orders   ON o_orderkey = l_orderkey
    WHERE p_name LIKE '%gear%'
    GROUP BY n_name, year(o_orderdate)
    ORDER BY n_name, o_year DESC
    """,
)
def join_q9_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 product-line profit by supplier nation and year (the
    fixtures carry no partsupp.ps_supplycost, so cost is modeled as 60%
    of the part's retail price per unit): a five-way join where part
    (pre-filtered by the name pattern), supplier, and nation broadcast,
    lineitem-orders shuffle on the order key, and the LIKE predicate
    prunes the broadcast BEFORE the join builds.

    Profit accumulates by the INTEGER-MOMENT convention: every input has
    2-decimal granularity (quantity integral), so the per-row term
    ep_c*(100−disc_c) − 60*rp_c*qty is an exact BIGINT in 1e-4-dollar
    units, summed exactly and divided once at output. The original
    double-sum form was the catalog's last sf1 casualty of this class:
    at 6M rows a ~2.4e8-dollar group accumulates enough summation-order
    error to cross a cent rounding boundary against the oracle
    (236361283.59 vs .60) — the 1e-6 nudge can't absorb order-dependent
    error at that magnitude. Headroom: |term| ≤ ~1.1e9 per row, so the
    int64 group sum is safe past sf1000."""
    li = t(spark, sf_dir, "lineitem")
    p = F.broadcast(
        t(spark, sf_dir, "part")
        .where(F.col("p_name").like("%gear%"))
        .select("p_partkey", "p_retailprice")
    )
    s = F.broadcast(t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey"))
    n = F.broadcast(t(spark, sf_dir, "nation"))
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    ep_c = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_c = F.round(F.col("l_discount") * 100).cast("long")
    rp_c = F.round(F.col("p_retailprice") * 100).cast("long")
    qty = F.col("l_quantity").cast("long")
    profit_u = ep_c * (F.lit(100) - disc_c) - F.lit(60) * rp_c * qty
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(
            (
                F.round(
                    F.sum(profit_u).cast("double") / F.lit(10000.0) + F.lit(1e-6), 2
                )
                + F.lit(0.0)
            ).alias("sum_profit")
        )
        .orderBy("nation", F.col("o_year").desc())
    )


@query(
    "join_q2_min_cost_supplier",
    oracle="""
    WITH unit AS (
      SELECT l_partkey, l_suppkey,
             (round(avg(l_extendedprice / l_quantity) + 1e-9, 4) + 0.0) AS unit_price
      FROM lineitem GROUP BY l_partkey, l_suppkey),
    ranked AS (
      SELECT p_partkey, p_name, s_name, unit_price,
             row_number() OVER (PARTITION BY p_partkey
                                ORDER BY unit_price, l_suppkey) AS rn
      FROM unit
      JOIN part ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      WHERE p_size = 25)
    SELECT p_partkey, p_name, s_name, unit_price
    FROM ranked WHERE rn = 1
    ORDER BY unit_price, p_partkey LIMIT 20
    """,
)
def join_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 minimum-cost supplier per part (lineitem history stands in
    for the absent partsupp: a part's cost from a supplier is the average
    observed unit price): the correlated min-subquery decorrelates into
    one (part, supplier) aggregate and a per-part argmin window, supplier
    and the size-filtered part dim broadcast onto the aggregate. Unit
    price is ROUNDED before the argmin on both engines so the winning
    supplier is identical; suppkey breaks exact ties."""
    li = t(spark, sf_dir, "lineitem")
    unit = li.groupBy("l_partkey", "l_suppkey").agg(
        (
            F.round(F.avg(F.col("l_extendedprice") / F.col("l_quantity")) + F.lit(1e-9), 4)
            + F.lit(0.0)
        ).alias("unit_price")
    )
    p = F.broadcast(
        t(spark, sf_dir, "part").where(F.col("p_size") == 25).select("p_partkey", "p_name")
    )
    s = F.broadcast(t(spark, sf_dir, "supplier").select("s_suppkey", "s_name"))
    w = Window.partitionBy("p_partkey").orderBy("unit_price", "l_suppkey")
    return (
        unit.join(p, unit.l_partkey == p.p_partkey)
        .join(s, unit.l_suppkey == s.s_suppkey)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("p_partkey", "p_name", "s_name", "unit_price")
        .orderBy("unit_price", "p_partkey")
        .limit(20)
    )


@query(
    "dq_violation_report",
    oracle="""
    SELECT rule, violations FROM (
      SELECT 'not_null(l_orderkey)' AS rule,
             CAST(count(CASE WHEN l_orderkey IS NULL THEN 1 END) AS BIGINT) AS violations
      FROM lineitem
      UNION ALL
      SELECT 'in_range(l_quantity,1,25)',
             CAST(count(CASE WHEN l_quantity IS NOT NULL
                              AND l_quantity NOT BETWEEN 1 AND 25 THEN 1 END) AS BIGINT)
      FROM lineitem
      UNION ALL
      SELECT 'in_set(l_returnflag)',
             CAST(count(CASE WHEN l_returnflag IS NOT NULL
                              AND l_returnflag NOT IN ('A', 'N') THEN 1 END) AS BIGINT)
      FROM lineitem
      UNION ALL
      SELECT 'satisfies(discount_cap)',
             CAST(count(CASE WHEN NOT (l_discount <= 0.1) THEN 1 END) AS BIGINT)
      FROM lineitem
      UNION ALL
      SELECT 'unique(l_orderkey,l_linenumber)',
             CAST(coalesce(sum(c - 1), 0) AS BIGINT)
      FROM (SELECT count(*) AS c FROM lineitem
            GROUP BY l_orderkey, l_linenumber HAVING count(*) > 1)
      UNION ALL
      SELECT 'references(l_suppkey->s_suppkey)',
             CAST(count(*) AS BIGINT)
      FROM lineitem
      WHERE l_suppkey IS NOT NULL
        AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal >= 0))
    ORDER BY rule
    """,
)
def dq_violation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality audit (operators/quality.py — the
    dbt-tests/expectations layer the reference's warehouse lacks): six
    named rules over lineitem evaluated in ONE conditional-count
    aggregate (row rules) plus the two cheapest-form dataset jobs —
    duplicate (orderkey, linenumber) pairs as a key-partitioned count
    (the fixtures genuinely violate this one), and solvent-supplier
    referential integrity as a broadcast anti join. The report is one
    row per rule; a pipeline gate consumes it (quality.gate raises on
    budget overrun)."""
    from sec_dl_spark.operators import quality as Q

    li = t(spark, sf_dir, "lineitem")
    solvent = t(spark, sf_dir, "supplier").where(F.col("s_acctbal") >= 0)
    rules = [
        Q.not_null("l_orderkey"),
        Q.in_range("l_quantity", 1, 25),
        Q.in_set("l_returnflag", ["A", "N"]),
        Q.satisfies("discount_cap", F.col("l_discount") <= 0.1),
        Q.unique("l_orderkey", "l_linenumber"),
        Q.references("l_suppkey", solvent, "s_suppkey"),
    ]
    return Q.check(li, rules).orderBy("rule")


@query(
    "rollup_incremental_merge",
    oracle="""
    SELECT l_returnflag,
           CAST(count(l_quantity) AS BIGINT) AS cnt_l_quantity,
           (round(sum(l_quantity) + 1e-6, 2) + 0.0) AS sum_q,
           round(min(l_quantity), 2) AS min_l_quantity,
           round(max(l_quantity), 2) AS max_l_quantity,
           (round(avg(l_quantity) + 1e-8, 4) + 0.0) AS avg_q
    FROM lineitem
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def rollup_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-rollup maintenance (operators/rollup.py):
    the fact table arrives as two batches (split by l_orderkey parity
    here); batch 1 builds the partial rollup, batch 2 folds in as a
    delta MERGE over rollup-sized data — never a recompute of history —
    and avg derives from the partials at read time. The ORACLE is the
    full-recompute groupBy, so any merge bug (double count, lost key,
    min/max regression) fails the compare. count/min/max merge exactly;
    the summed double takes the rounding nudge (summation order differs
    from the one-pass sum by design)."""
    from sec_dl_spark.operators.rollup import (
        Measure,
        build_rollup,
        finalize,
        merge_rollups,
    )

    li = t(spark, sf_dir, "lineitem")
    ms = [Measure("l_quantity")]
    batch1 = build_rollup(li.where(F.col("l_orderkey") % 2 == 0), ["l_returnflag"], ms)
    delta = build_rollup(li.where(F.col("l_orderkey") % 2 == 1), ["l_returnflag"], ms)
    merged = finalize(merge_rollups(batch1, delta, ["l_returnflag"], ms), ms)
    return merged.select(
        "l_returnflag",
        "cnt_l_quantity",
        (F.round(F.col("sum_l_quantity") + F.lit(1e-6), 2) + F.lit(0.0)).alias("sum_q"),
        F.round("min_l_quantity", 2).alias("min_l_quantity"),
        F.round("max_l_quantity", 2).alias("max_l_quantity"),
        (F.round(F.col("avg_l_quantity") + F.lit(1e-8), 4) + F.lit(0.0)).alias("avg_q"),
    ).orderBy("l_returnflag")


@query(
    "snapshot_diff_orders",
    oracle="""
    WITH old AS (SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders),
    new AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 10.0
                  ELSE o_totalprice END AS o_totalprice,
             o_orderstatus
      FROM orders WHERE o_orderkey % 13 <> 0
      UNION ALL
      SELECT o_orderkey + 100000000, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 17 = 0)
    SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'added'
                WHEN n.o_orderkey IS NULL THEN 'removed'
                WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice
                  OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus THEN 'changed'
                ELSE 'unchanged' END AS change_type,
           o.o_totalprice AS old_o_totalprice,
           n.o_totalprice AS new_o_totalprice,
           o.o_orderstatus AS old_o_orderstatus,
           n.o_orderstatus AS new_o_orderstatus
    FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
    WHERE (o.o_orderkey IS NULL) OR (n.o_orderkey IS NULL)
       OR (o.o_totalprice IS DISTINCT FROM n.o_totalprice)
       OR (o.o_orderstatus IS DISTINCT FROM n.o_orderstatus)
    ORDER BY o_orderkey
    """,
)
def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (operators/cdc.py:snapshot_diff — the inverse of CDC
    apply: recover the minimal change set between two materialized table
    states). The 'new' snapshot is a deterministic mutation of orders —
    every 13th key dropped (removed), every 7th repriced by +10.0
    (changed; IEEE double add, bit-identical cross-engine), every 17th
    re-keyed past the keyspace (added). One full-outer join on the key;
    unchanged keys (the overwhelming majority — the point of diffing at
    100 TB) never leave the join."""
    from sec_dl_spark.operators.cdc import snapshot_diff

    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    new = o.where(F.col("o_orderkey") % 13 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + F.lit(10.0)
        ).otherwise(F.col("o_totalprice")),
    )
    added = o.where(F.col("o_orderkey") % 17 == 0).select(
        (F.col("o_orderkey") + F.lit(100000000)).alias("o_orderkey"),
        "o_totalprice",
        "o_orderstatus",
    )
    diff = snapshot_diff(
        o, new.unionByName(added), key_cols=["o_orderkey"],
        compare_cols=["o_totalprice", "o_orderstatus"],
    )
    return diff.select(
        "o_orderkey",
        "change_type",
        "old_o_totalprice",
        "new_o_totalprice",
        "old_o_orderstatus",
        "new_o_orderstatus",
    ).orderBy("o_orderkey")


@query(
    "dq_profile_orders",
    oracle="""
    SELECT 'o_orderkey' AS col_name,
           CAST(count(o_orderkey) AS BIGINT) AS n,
           CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
           CAST(min(o_orderkey) AS DOUBLE) AS min_v,
           CAST(max(o_orderkey) AS DOUBLE) AS max_v,
           (round(avg(CAST(o_orderkey AS DOUBLE)) + 1e-9, 4) + 0.0) AS avg_v
    FROM orders
    UNION ALL
    SELECT 'o_custkey',
           CAST(count(o_custkey) AS BIGINT),
           CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT o_custkey) AS BIGINT),
           CAST(min(o_custkey) AS DOUBLE),
           CAST(max(o_custkey) AS DOUBLE),
           (round(avg(CAST(o_custkey AS DOUBLE)) + 1e-9, 4) + 0.0)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice',
           CAST(count(o_totalprice) AS BIGINT),
           CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT o_totalprice) AS BIGINT),
           CAST(min(o_totalprice) AS DOUBLE),
           CAST(max(o_totalprice) AS DOUBLE),
           (round(avg(o_totalprice) + 1e-9, 4) + 0.0)
    FROM orders
    ORDER BY col_name
    """,
)
def dq_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass table profiler (operators/quality.py:profile): per-column
    non-null/null/exact-distinct counts + min/max/mean from a SINGLE
    aggregate over one scan (the stack() pivot is free — profiling k
    columns never costs k passes; the oracle's k-subquery UNION is the
    naive form this replaces). Exact distincts ride Catalyst's Expand;
    the report is the standard pre-ingest data-contract check."""
    from sec_dl_spark.operators.quality import profile

    p = profile(
        t(spark, sf_dir, "orders"), ["o_orderkey", "o_custkey", "o_totalprice"]
    )
    return p.select(
        "col_name",
        "n",
        "n_null",
        "n_distinct",
        "min_v",
        "max_v",
        (F.round(F.col("avg_v") + F.lit(1e-9), 4) + F.lit(0.0)).alias("avg_v"),
    ).orderBy("col_name")


@query(
    "join_q4_order_priority",
    oracle="""
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND date_diff('day', o_orderdate, l_shipdate) > 60)
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def join_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-style order-priority checking (the fixtures carry no
    commitdate/receiptdate, so 'late' adapts to a line shipped > 60 days
    after the order date): one quarter of orders, EXISTS against their
    lineitems, counts per priority. The correlated EXISTS decorrelates to
    a left-semi join with the date gap as a residual condition — orders
    scan prunes on the quarter predicate (pushed filter), lineitem only
    shuffles its join key + shipdate."""
    o = t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    li = t(spark, sf_dir, "lineitem")
    late = (F.col("o_orderkey") == F.col("l_orderkey")) & (
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 60
    )
    return (
        o.join(li, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query(
    "agg_q6_forecast_revenue",
    oracle="""
    SELECT (round((sum(CAST(round((l_extendedprice) * 100) AS BIGINT) * CAST(round((l_discount) * 100) AS BIGINT))) / 10000.0 + 1e-6, 2) + 0.0) AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def agg_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 forecasting revenue change: pure scan-filter-aggregate —
    the query whose entire cost is how much of the fact table the scan
    can SKIP. All three predicates push into the parquet reader
    (PushedFilters), no shuffle beyond the final 1-row reduce; at 100 TB
    this is the poster child for partition pruning + min/max row-group
    skipping on a shipdate-sorted layout (operators/layout.py)."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            money(F.sum(cents(F.col("l_extendedprice")) * cents(F.col("l_discount"))), 10000).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "scalar_array_fns",
    oracle="""
    WITH tk AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS toks
      FROM documents WHERE doc_id < 50)
    SELECT doc_id,
           CAST(len(list_filter(toks, x -> length(x) > 4)) AS BIGINT) AS n_long,
           list_contains(toks, 'spark') AS has_spark,
           CAST(len(list_filter(toks, x -> length(x) >= 20)) = 0 AS BOOLEAN) AS all_short,
           CAST(list_max(list_transform(toks, x -> length(x))) AS BIGINT) AS longest_len,
           CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS total_chars,
           array_to_string(list_sort(list_distinct(toks))[1:3], ',') AS top3,
           toks[1] || '-' || toks[len(toks)] AS first_last
    FROM tk ORDER BY doc_id
    """,
)
def scalar_array_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array function breadth (§2.7): filter / exists /
    forall / transform+array_max / aggregate (fold) / sort+distinct+slice
    / zip_with — every one a codegen-or-interpreted JVM expression, zero
    Python. zip_with pairs each token with the reversed list; its first
    element (first-last pairing) is the checked value. The fold's oracle
    twin is list_sum over the same transform."""
    from sec_dl_spark.functions.text import tokenize

    d = t(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    toks = tokenize(F.col("text"))
    tk = d.select("doc_id", toks.alias("toks"))
    zipped = F.zip_with(
        F.col("toks"), F.reverse(F.col("toks")), lambda a, b: F.concat(a, F.lit("-"), b)
    )
    return (
        tk.select(
            "doc_id",
            F.size(F.filter("toks", lambda x: F.length(x) > 4)).cast("long").alias("n_long"),
            F.exists("toks", lambda x: x == F.lit("spark")).alias("has_spark"),
            F.forall("toks", lambda x: F.length(x) < 20).alias("all_short"),
            F.array_max(F.transform("toks", F.length)).cast("long").alias("longest_len"),
            F.aggregate(
                "toks", F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
            ).alias("total_chars"),
            F.array_join(
                F.slice(F.sort_array(F.array_distinct("toks")), 1, 3), ","
            ).alias("top3"),
            F.element_at(zipped, 1).alias("first_last"),
        )
        .orderBy("doc_id")
    )


@query(
    "join_bloom_prefilter",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_items,
           (round((sum(CAST(round((l_extendedprice) * 100) AS BIGINT) * (100 - CAST(round((l_discount) * 100) AS BIGINT)))) / 10000.0 + 1e-6, 2) + 0.0)
             AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-value-urgent-order revenue by return flag through an explicit
    bloom-filter semi-join reduction (operators/relational.py:
    bloom_prefilter_join): the selective orders predicate builds a 2^17-bit
    bloom over the surviving order keys, shipped to the lineitem scan as a
    literal-array codegen test that drops ~86% of fact rows BEFORE the join
    exchange. At 100 TB this is the regime where the dim side is too big to
    broadcast but still selective — the bloom costs m/8 bytes per task and
    cuts the fact shuffle to rows that might match; false positives die in
    the exact join, so the result is identical to the plain join (the
    oracle IS the plain join)."""
    from sec_dl_spark.operators.relational import bloom_prefilter_join

    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice", "l_discount"
    )
    dim = (
        t(spark, sf_dir, "orders")
        .where((F.col("o_orderpriority") == "1-URGENT") & (F.col("o_totalprice") > 150000))
        .select("o_orderkey")
    )
    return (
        bloom_prefilter_join(li, dim, "l_orderkey", "o_orderkey")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            money(F.sum(cents(F.col("l_extendedprice")) * (F.lit(100) - cents(F.col("l_discount")))), 10000).alias("revenue"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "agg_boolean_fns",
    oracle="""
    SELECT l_returnflag,
           CAST(count_if(l_discount > 0.05) AS BIGINT) AS n_deep_discount,
           bool_and(l_quantity <= 50) AS all_small,
           bool_or(l_tax > 0.07) AS any_high_tax,
           CAST(count_if(l_shipdate >= TIMESTAMP '1997-01-01') AS BIGINT) AS n_recent
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def agg_boolean_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean-aggregate breadth in one pass: count_if / bool_and (every) /
    bool_or (any) — predicate aggregates that fold map-side like any
    conditional count, no distinct or window machinery."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count_if(F.col("l_discount") > 0.05).alias("n_deep_discount"),
            F.bool_and(F.col("l_quantity") <= 50).alias("all_small"),
            F.bool_or(F.col("l_tax") > 0.07).alias("any_high_tax"),
            F.count_if(
                F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp")
            ).alias("n_recent"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "scalar_bitwise_fns",
    oracle="""
    SELECT o_orderkey,
           CAST(bit_count(o_orderkey) AS BIGINT) AS popcount,
           CAST(xor(o_orderkey, o_custkey) AS BIGINT) AS key_xor,
           CAST(o_orderkey & 255 AS BIGINT) AS low_byte,
           CAST(o_orderkey | 1 AS BIGINT) AS set_lsb,
           CAST(o_orderkey << 2 AS BIGINT) AS shl2,
           CAST(o_orderkey >> 3 AS BIGINT) AS shr3
    FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey
    """,
)
def scalar_bitwise_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise scalar breadth — popcount, xor, and/or masks, shifts: the
    primitives the engine's own hash/bloom/simhash operators lean on,
    exposed as one oracled projection (pure codegen, no exchange beyond
    the pushed-filter scan)."""
    o = t(spark, sf_dir, "orders").where(F.col("o_orderkey") < 500)
    k = F.col("o_orderkey")
    return o.select(
        "o_orderkey",
        F.bit_count(k).cast("long").alias("popcount"),
        k.bitwiseXOR(F.col("o_custkey")).cast("long").alias("key_xor"),
        k.bitwiseAND(F.lit(255)).cast("long").alias("low_byte"),
        k.bitwiseOR(F.lit(1)).cast("long").alias("set_lsb"),
        F.shiftleft(k.cast("int"), 2).cast("long").alias("shl2"),
        F.shiftright(k.cast("int"), 3).cast("long").alias("shr3"),
    ).orderBy("o_orderkey")


@query(
    "dq_range_checksums",
    oracle="""
    WITH h AS (
      SELECT o_orderkey // 1000 AS bucket,
             CAST(md5_number_lower(
               CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR)
               || '|' || o_orderstatus || '|' || o_orderpriority
             ) % 1099511627776 AS BIGINT) AS hv
      FROM orders)
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(hv) AS BIGINT) AS checksum
    FROM h GROUP BY bucket ORDER BY bucket
    """,
)
def dq_range_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-entropy range digests of the orders table
    (operators/quality.py:range_checksums): each 1000-key bucket reduces
    to a count + order-free 40-bit-digest SUM, so two replicas (a
    warehouse copy and its serving mirror, a table before and after a
    migration) can be reconciled by joining digest tables the size of
    |key range|/1000 — the repair scan then touches only diverging
    buckets. Comparing two digest tables bucket by bucket localizes a
    divergence; a planted one is pytest-pinned."""
    from sec_dl_spark.operators.quality import range_checksums

    o = t(spark, sf_dir, "orders")
    return range_checksums(
        o, "o_orderkey",
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"],
        bucket_width=1000,
    ).orderBy("bucket")


@query(
    "join_lateral_topk",
    oracle="""
    SELECT n.n_name, t.c_name,
           CAST(t.c_acctbal AS DOUBLE) AS c_acctbal
    FROM nation n JOIN LATERAL (
      SELECT c_name, c_acctbal FROM customer
      WHERE c_nationkey = n.n_nationkey
      ORDER BY c_acctbal DESC, c_name LIMIT 2
    ) t ON true
    ORDER BY n.n_name, t.c_acctbal DESC, t.c_name
    """,
)
def join_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery — top-2 customers by balance per nation
    written as the correlated per-row subquery a SQL user reaches for,
    exercising Catalyst's DECORRELATION: the optimizer rewrites the
    correlated LIMIT into the same window/aggregate shape the DataFrame
    formulation (topk_per_group) builds by hand, so the per-nation
    lookup never executes row-at-a-time."""
    from sec_dl_spark.sources.fixtures import register_fixtures

    register_fixtures(spark, sf_dir)
    return spark.sql("""
        SELECT n.n_name, t.c_name, t.c_acctbal
        FROM nation n JOIN LATERAL (
          SELECT c_name, c_acctbal FROM customer
          WHERE c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_name LIMIT 2
        ) t
        ORDER BY n.n_name, t.c_acctbal DESC, t.c_name
    """)


@query(
    "sql_pipe_syntax",
    oracle="""
    SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
           round(avg(c_acctbal) + 1e-8, 4) AS avg_bal
    FROM customer WHERE c_acctbal > 5000
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL pipe syntax (`|>`): the same filtered segment rollup as
    ANSI GROUP BY, expressed as a linear operator chain — the front-door
    surface added in Spark 4.0 for composable ad-hoc analysis. The plan
    is identical to the ANSI form (the pipe parser lowers to the same
    logical operators), which is exactly what the oracle checks."""
    from sec_dl_spark.sources.fixtures import register_fixtures

    register_fixtures(spark, sf_dir)
    return spark.sql("""
        FROM customer
        |> WHERE c_acctbal > 5000
        |> AGGREGATE count(*) AS n, round(avg(c_acctbal) + 1e-8, 4) AS avg_bal
           GROUP BY c_mktsegment
        |> ORDER BY c_mktsegment
    """)


@query(
    "cdc_join_delta",
    oracle="""
    WITH full_j AS (
      SELECT o_orderkey, l_linenumber, l_returnflag
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    old_j AS (
      SELECT o_orderkey, l_linenumber, l_returnflag
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE o_orderdate < TIMESTAMP '1997-07-01'
        AND l_shipdate < TIMESTAMP '1997-07-01'),
    delta AS (SELECT * FROM full_j EXCEPT ALL SELECT * FROM old_j)
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_delta_rows,
           CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_delta_orders
    FROM delta GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def cdc_join_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a join view (operators/cdc.py:join_delta,
    the delta rule Δ(A⋈B) = ΔA⋈B_old ∪ A_old⋈ΔB ∪ ΔA⋈ΔB): orders and
    lineitem each split at 1997-07-01 into an already-materialized OLD
    part and a newly-arrived DELTA, and the view's increment is computed
    joining only the deltas against the other side — never re-running
    A_old⋈B_old. The oracle is deliberately INDEPENDENT of the rule: it
    computes full join EXCEPT ALL old join, so the query proves the
    algebra, not just repeats it."""
    from sec_dl_spark.operators.cdc import join_delta

    cut = F.lit("1997-07-01").cast("timestamp")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_shipdate"
    )
    delta = join_delta(
        o.where(F.col("o_orderdate") < cut),
        o.where(F.col("o_orderdate") >= cut),
        li.where(F.col("l_shipdate") < cut),
        li.where(F.col("l_shipdate") >= cut),
        F.col("o_orderkey") == F.col("l_orderkey"),
    )
    return (
        delta.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_delta_rows"),
            F.count_distinct("o_orderkey").alias("n_delta_orders"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "join_q11_important_stock",
    oracle="""
    WITH sup AS (
      SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name IN ('NATION_3', 'NATION_8')),
    val AS (
      SELECT l_partkey,
             CAST(round(round(sum(l_extendedprice * (1 - l_discount)), 2) * 100)
                  AS BIGINT) AS value_cents
      FROM lineitem JOIN sup ON l_suppkey = sup.s_suppkey
      GROUP BY l_partkey)
    SELECT l_partkey AS p_key, value_cents
    FROM val, (SELECT sum(value_cents) AS total FROM val) t
    WHERE value_cents * 1000 > total
    ORDER BY value_cents DESC, p_key
    """,
)
def join_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 analog (important stock identification) over the lineitem
    supply fact (the fixtures carry no partsupp): per-part supply value
    from the target nations' suppliers, keeping parts above 0.1% of the
    national total. The threshold compare runs on integer CENTS (the
    2-decimal rounded value ×100 as BIGINT, total as an exact integer
    sum), so the above-threshold set is byte-identical cross-engine — a
    float `value > sum(value)*frac` compare would hinge on summation
    order at the boundary. Plan shape: broadcast nation→supplier semi
    join, one part-keyed aggregate, 1-row total broadcast back — the
    group-then-global-threshold pattern of Q11 with zero extra
    shuffles."""
    n = t(spark, sf_dir, "nation").where(
        F.col("n_name").isin("NATION_3", "NATION_8")
    )
    s = t(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"), "left_semi"
    )
    li = t(spark, sf_dir, "lineitem").join(
        F.broadcast(s.select("s_suppkey")),
        F.col("l_suppkey") == F.col("s_suppkey"),
        "left_semi",
    )
    # ONE materialization of the float-sum-derived aggregate: the output
    # branch and the broadcast total otherwise re-execute it from source,
    # and a part whose true sum sits at a .005 rounding boundary could
    # round differently per execution (shuffle-fetch summation order),
    # making the threshold self-inconsistent. session.pin pins the cents
    # exactly once (group-cardinality-sized; no CacheManager entry).
    val = (
        li.groupBy(F.col("l_partkey").alias("p_key"))
        .agg(
            F.round(
                F.round(
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
                )
                * 100
            )
            .cast("long")
            .alias("value_cents")
        )
    )
    val = pin(val)
    total = val.agg(F.sum("value_cents").alias("total"))
    return (
        val.crossJoin(F.broadcast(total))
        .where(F.col("value_cents") * 1000 > F.col("total"))
        .select("p_key", "value_cents")
        .orderBy(F.desc("value_cents"), "p_key")
    )


@query(
    "join_q20_potential_promo",
    oracle="""
    WITH qty AS (
      SELECT l_suppkey, CAST(sum(l_quantity) AS BIGINT) AS promo_qty
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_type = 'PROMO'
        AND l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1998-01-01'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, promo_qty
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    JOIN qty ON s_suppkey = l_suppkey
    WHERE n_name = 'NATION_3' AND promo_qty > 100
    ORDER BY s_suppkey
    """,
)
def join_q20_potential_promo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 analog (potential part promotion): suppliers in the
    target nation whose 1997 shipped quantity of PROMO-type parts exceeds
    the excess threshold — the supplier shortlist Q20 feeds to Q21.
    Quantities are integral doubles, so the BIGINT cast of their sum is
    exact and order-independent. Plan shape: broadcast part filter prunes
    lineitem BEFORE its supplier-keyed aggregate; the nation filter is a
    broadcast semi join against the tiny supplier dim — the fact shuffles
    once, on the aggregate key."""
    p = F.broadcast(
        t(spark, sf_dir, "part").where(F.col("p_type") == "PROMO").select("p_partkey")
    )
    li = t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    qty = (
        li.join(p, li.l_partkey == p.p_partkey, "left_semi")
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").cast("long").alias("promo_qty"))
        .where(F.col("promo_qty") > 100)
    )
    n = t(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_3")
    s = t(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"), "left_semi"
    )
    return (
        s.join(qty, s.s_suppkey == qty.l_suppkey)
        .select("s_suppkey", "s_name", "promo_qty")
        .orderBy("s_suppkey")
    )


@query(
    "sql_recursive_cte",
    oracle="""
    WITH RECURSIVE months(m) AS (
      SELECT TIMESTAMP '1995-01-01'
      UNION ALL
      SELECT m + INTERVAL 1 MONTH FROM months
      WHERE m < TIMESTAMP '1998-12-01')
    SELECT m AS month_start,
           CAST(coalesce(n, 0) AS BIGINT) AS n_orders
    FROM months LEFT JOIN (
      SELECT date_trunc('month', o_orderdate) AS mo, count(*) AS n
      FROM orders GROUP BY mo) agg ON months.m = agg.mo
    ORDER BY month_start
    """,
)
def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL front-door breadth: WITH RECURSIVE (Spark 4's recursive CTE
    support) generating a dense month calendar that gap-fills the monthly
    order series — months with zero orders surface as explicit rows, the
    report shape BI layers expect. The recursion is driver-bounded (one
    row per month, 48 iterations) and the fact side is one grouped
    aggregate left-joined against the generated spine — the recursive
    branch never touches the fact table. Complements events_gap_filled
    (sequence()-based): same semantics, exercised through the declarative
    recursive-SQL surface a reference user would reach for first."""
    from sec_dl_spark.sources.fixtures import register_fixtures

    register_fixtures(spark, sf_dir)
    return spark.sql("""
        WITH RECURSIVE months(m) AS (
          SELECT TIMESTAMP '1995-01-01'
          UNION ALL
          SELECT m + INTERVAL '1' MONTH FROM months
          WHERE m < TIMESTAMP '1998-12-01')
        SELECT m AS month_start,
               CAST(coalesce(n, 0) AS BIGINT) AS n_orders
        FROM months LEFT JOIN (
          SELECT date_trunc('month', o_orderdate) AS mo, count(*) AS n
          FROM orders GROUP BY mo) agg ON months.m = agg.mo
        ORDER BY month_start
    """)


@query(
    "dq_k_anonymity",
    oracle="""
    WITH g AS (
      SELECT c_mktsegment, c_nationkey, CAST(count(*) AS BIGINT) AS n
      FROM customer GROUP BY c_mktsegment, c_nationkey)
    SELECT c_mktsegment,
           CASE WHEN n >= 5 THEN CAST(c_nationkey AS VARCHAR) ELSE '*' END AS nation_key,
           CAST(sum(n) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_cells,
           (min(n) < 5) AS suppressed
    FROM g
    GROUP BY c_mktsegment, CASE WHEN n >= 5 THEN CAST(c_nationkey AS VARCHAR) ELSE '*' END
    ORDER BY c_mktsegment, nation_key
    """,
)
def dq_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity suppression report (k=5) over the quasi-identifier pair
    (market segment, nation): equivalence classes smaller than k are
    generalized into a per-segment '*' bucket — the standard small-cell
    suppression a governed release of grouped statistics applies so no
    published cell isolates fewer than k individuals. Two grouped
    aggregates on the same leading key (AQE coalesces); output is
    cell-bounded, never row-bounded."""
    g = (
        t(spark, sf_dir, "customer")
        .groupBy("c_mktsegment", "c_nationkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    masked = g.withColumn(
        "nation_key",
        F.when(F.col("n") >= 5, F.col("c_nationkey").cast("string")).otherwise(
            F.lit("*")
        ),
    )
    return (
        masked.groupBy("c_mktsegment", "nation_key")
        .agg(
            F.sum("n").alias("n_rows"),
            F.count(F.lit(1)).alias("n_cells"),
            (F.min("n") < 5).alias("suppressed"),
        )
        .orderBy("c_mktsegment", "nation_key")
    )


@query(
    "dq_freshness_lag",
    oracle="""
    WITH w AS (SELECT max(ts) AS watermark FROM events)
    SELECT event_type,
           max(ts) AS latest_ts,
           CAST(date_diff('second', max(ts), (SELECT watermark FROM w)) AS BIGINT)
             AS lag_seconds,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def dq_freshness_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source freshness monitor: each event type's newest timestamp
    against the table watermark (the global max), the lag every ingestion
    SLA dashboard starts from — a stalled upstream shows up as one type's
    lag growing while the watermark advances. One grouped max plus a
    1-row broadcast; integer-second lags compare exactly cross-engine."""
    e = t(spark, sf_dir, "events").select("event_type", "ts")
    per = e.groupBy("event_type").agg(
        F.max("ts").alias("latest_ts"), F.count(F.lit(1)).alias("n_events")
    )
    # the table watermark IS max over the per-type maxima — derive it from
    # the group-cardinality frame instead of a second full-table scan
    wm = per.agg(F.max("latest_ts").alias("watermark"))
    return (
        per.crossJoin(F.broadcast(wm))
        .select(
            "event_type",
            "latest_ts",
            (
                F.unix_timestamp("watermark") - F.unix_timestamp("latest_ts")
            ).cast("long").alias("lag_seconds"),
            "n_events",
        )
        .orderBy("event_type")
    )


@query(
    "agg_mode_exact",
    oracle="""
    WITH c AS (
      SELECT c_mktsegment, c_nationkey, CAST(count(*) AS BIGINT) AS n
      FROM customer GROUP BY c_mktsegment, c_nationkey),
    r AS (
      SELECT *, row_number() OVER (
        PARTITION BY c_mktsegment ORDER BY n DESC, c_nationkey) AS rn
      FROM c)
    SELECT c_mktsegment, CAST(c_nationkey AS BIGINT) AS mode_nation, n AS mode_n
    FROM r WHERE rn = 1 ORDER BY c_mktsegment
    """,
)
def agg_mode_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group mode (most frequent value) with a DETERMINISTIC
    tie-break — the statistic `mode()`/`max_by` gives you
    nondeterministically under ties (SURVEY §5.1's cross-engine hazard:
    bare max_by picks an arbitrary tied row per engine). Formulated as
    count + top-1: the count is one grouped aggregate, the top-1 a
    window over the GROUP-CARDINALITY-sized count frame (never the raw
    rows), ordered by (n desc, value) so the smallest tied value always
    wins on both engines."""
    c = (
        t(spark, sf_dir, "customer")
        .groupBy("c_mktsegment", "c_nationkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("n"), F.asc("c_nationkey"))
    return (
        c.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "c_mktsegment",
            F.col("c_nationkey").cast("long").alias("mode_nation"),
            F.col("n").alias("mode_n"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "dq_referential_integrity",
    oracle="""
    WITH
    o AS (SELECT count(*) AS n_child,
                 count(*) FILTER (WHERE p.k IS NULL) AS n_orphans
          FROM orders c LEFT JOIN (SELECT DISTINCT c_custkey AS k FROM customer) p
            ON c.o_custkey = p.k),
    l1 AS (SELECT count(*) AS n_child,
                  count(*) FILTER (WHERE p.k IS NULL) AS n_orphans
           FROM lineitem c LEFT JOIN (SELECT DISTINCT o_orderkey AS k FROM orders) p
             ON c.l_orderkey = p.k),
    l2 AS (SELECT count(*) AS n_child,
                  count(*) FILTER (WHERE p.k IS NULL) AS n_orphans
           FROM lineitem c LEFT JOIN (SELECT DISTINCT p_partkey AS k FROM part) p
             ON c.l_partkey = p.k),
    l3 AS (SELECT count(*) AS n_child,
                  count(*) FILTER (WHERE p.k IS NULL) AS n_orphans
           FROM lineitem c LEFT JOIN (SELECT DISTINCT s_suppkey AS k FROM supplier) p
             ON c.l_suppkey = p.k)
    SELECT * FROM (
      SELECT 'orders.o_custkey->customer.c_custkey' AS fk, CAST(n_child AS BIGINT) AS n_child,
             CAST(n_orphans AS BIGINT) AS n_orphans,
             round(CAST(n_orphans AS DOUBLE) / n_child, 6) AS orphan_rate FROM o
      UNION ALL
      SELECT 'lineitem.l_orderkey->orders.o_orderkey', CAST(n_child AS BIGINT),
             CAST(n_orphans AS BIGINT), round(CAST(n_orphans AS DOUBLE) / n_child, 6) FROM l1
      UNION ALL
      SELECT 'lineitem.l_partkey->part.p_partkey', CAST(n_child AS BIGINT),
             CAST(n_orphans AS BIGINT), round(CAST(n_orphans AS DOUBLE) / n_child, 6) FROM l2
      UNION ALL
      SELECT 'lineitem.l_suppkey->supplier.s_suppkey', CAST(n_child AS BIGINT),
             CAST(n_orphans AS BIGINT), round(CAST(n_orphans AS DOUBLE) / n_child, 6) FROM l3
    ) ORDER BY fk
    """,
)
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: one row per foreign-key edge of the
    star schema with (child rows, orphan rows, orphan rate) — the check a
    warehouse runs after every load, and the first thing a training-data
    registry audits after a backfill (a dangling doc_id in a derived
    table means silent row loss downstream). All three lineitem edges
    fold into ONE fact scan (VERDICT r9 #5): the key-only projection
    left-joins each parent's DISTINCT key once (small dims broadcast;
    the 1:at-most-1 join never duplicates child rows), and a single
    aggregate counts the NULL membership flags — the same one-aggregate
    fold operators/quality.py uses for row rules. The 1-row aggregate
    then unpivots to one output row per edge. The orders edge is the
    same fold over its own scan. Zero orphans here is the fixture's
    happy path; the violation path is pinned by a pytest on a
    synthesized broken fixture, and a plan test pins the single
    lineitem scan."""
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")

    def rate(n_orphans, n_child):
        return F.round(n_orphans.cast("double") / n_child, 6)

    ck = t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("_ck")).distinct()
    o_edge = (
        orders.select("o_custkey")
        .join(ck, F.col("o_custkey") == F.col("_ck"), "left")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.count(F.when(F.col("_ck").isNull(), 1)).alias("_orph"),
        )
        .select(
            F.lit("orders.o_custkey->customer.c_custkey").alias("fk"),
            F.col("_n").cast("long").alias("n_child"),
            F.col("_orph").cast("long").alias("n_orphans"),
            rate(F.col("_orph"), F.col("_n")).alias("orphan_rate"),
        )
    )

    ok = orders.select(F.col("o_orderkey").alias("_ok")).distinct()
    pk = t(spark, sf_dir, "part").select(F.col("p_partkey").alias("_pk")).distinct()
    sk = (
        t(spark, sf_dir, "supplier").select(F.col("s_suppkey").alias("_sk")).distinct()
    )
    li_agg = (
        li.select("l_orderkey", "l_partkey", "l_suppkey")
        .join(ok, F.col("l_orderkey") == F.col("_ok"), "left")
        .join(F.broadcast(pk), F.col("l_partkey") == F.col("_pk"), "left")
        .join(F.broadcast(sk), F.col("l_suppkey") == F.col("_sk"), "left")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.count(F.when(F.col("_ok").isNull(), 1)).alias("_orph_o"),
            F.count(F.when(F.col("_pk").isNull(), 1)).alias("_orph_p"),
            F.count(F.when(F.col("_sk").isNull(), 1)).alias("_orph_s"),
        )
    )
    edge = lambda name, c: F.struct(  # noqa: E731
        F.lit(name).alias("fk"), F.col(c).alias("orph")
    )
    li_edges = (
        li_agg.select(
            "_n",
            F.explode(
                F.array(
                    edge("lineitem.l_orderkey->orders.o_orderkey", "_orph_o"),
                    edge("lineitem.l_partkey->part.p_partkey", "_orph_p"),
                    edge("lineitem.l_suppkey->supplier.s_suppkey", "_orph_s"),
                )
            ).alias("e"),
        )
        .select(
            F.col("e.fk").alias("fk"),
            F.col("_n").cast("long").alias("n_child"),
            F.col("e.orph").cast("long").alias("n_orphans"),
            rate(F.col("e.orph"), F.col("_n")).alias("orphan_rate"),
        )
    )
    return o_edge.unionByName(li_edges).orderBy("fk")


@query(
    "dq_uniqueness_keys",
    oracle="""
    SELECT * FROM (
      SELECT 'orders.o_orderkey' AS key_name,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
             CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS n_dup_rows,
             (count(*) = count(DISTINCT o_orderkey)) AS is_unique
      FROM orders
      UNION ALL
      SELECT 'lineitem.(l_orderkey,l_linenumber)', CAST(count(*) AS BIGINT),
             CAST(count(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT),
             CAST(count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT),
             (count(*) = count(DISTINCT (l_orderkey, l_linenumber)))
      FROM lineitem
      UNION ALL
      SELECT 'events.event_id', CAST(count(*) AS BIGINT),
             CAST(count(DISTINCT event_id) AS BIGINT),
             CAST(count(*) - count(DISTINCT event_id) AS BIGINT),
             (count(*) = count(DISTINCT event_id))
      FROM events
      UNION ALL
      SELECT 'documents.doc_id', CAST(count(*) AS BIGINT),
             CAST(count(DISTINCT doc_id) AS BIGINT),
             CAST(count(*) - count(DISTINCT doc_id) AS BIGINT),
             (count(*) = count(DISTINCT doc_id))
      FROM documents
    ) ORDER BY key_name
    """,
)
def dq_uniqueness_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-key uniqueness audit: for every declared primary /
    composite key, (rows, distinct keys, duplicate rows, unique?) — the
    constraint check a schemaless lake can't enforce at write time, so it
    is asserted per load instead. Each row is one exact count-distinct:
    a two-stage partial aggregate over the key columns only (column
    pruning keeps the scan narrow; the shuffle carries distinct keys,
    never rows). Composite keys aggregate the column PAIR, the case
    uniqueness bugs actually hide in (l_orderkey alone is legitimately
    duplicated). Composite keys count distinct over a STRUCT of the
    columns, not the bare column list: count_distinct(c1, c2) silently
    DROPS rows where any key column is NULL (inflating n_dup_rows on
    exactly the dirty data the audit exists to catch), while DuckDB's
    count(DISTINCT (a,b)) row-value counts NULL-bearing tuples — the
    struct is never NULL even when its fields are, so both engines
    agree (ADVICE r9)."""
    def audit(df: DataFrame, cols: list, name: str) -> DataFrame:
        key = F.col(cols[0]) if len(cols) == 1 else F.struct(*[F.col(c) for c in cols])
        return df.agg(
            F.count(F.lit(1)).alias("_n"),
            F.count_distinct(key).alias("_d"),
        ).select(
            F.lit(name).alias("key_name"),
            F.col("_n").cast("long").alias("n_rows"),
            F.col("_d").cast("long").alias("n_distinct"),
            (F.col("_n") - F.col("_d")).cast("long").alias("n_dup_rows"),
            (F.col("_n") == F.col("_d")).alias("is_unique"),
        )

    rows = [
        audit(t(spark, sf_dir, "orders"), ["o_orderkey"], "orders.o_orderkey"),
        audit(t(spark, sf_dir, "lineitem"), ["l_orderkey", "l_linenumber"],
              "lineitem.(l_orderkey,l_linenumber)"),
        audit(t(spark, sf_dir, "events"), ["event_id"], "events.event_id"),
        audit(t(spark, sf_dir, "documents"), ["doc_id"], "documents.doc_id"),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("key_name")


@query(
    "dq_benford_first_digit",
    oracle="""
    WITH cents AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders),
    c AS (
      SELECT substr(CAST(cents AS VARCHAR), 1, 1) AS digit
      FROM cents WHERE cents > 0),
    agg AS (SELECT digit, count(*) AS n FROM c GROUP BY digit),
    tot AS (SELECT sum(n) AS total FROM agg)
    SELECT CAST(digit AS BIGINT) AS digit,
           CAST(n AS BIGINT) AS n,
           round(CAST(n AS DOUBLE) / total + 1e-9, 6) AS observed_p,
           round(log10(1.0 + 1.0 / CAST(digit AS BIGINT)) + 1e-9, 6) AS benford_p,
           round(pow(CAST(n AS DOUBLE) / total - log10(1.0 + 1.0 / CAST(digit AS BIGINT)), 2)
                 / log10(1.0 + 1.0 / CAST(digit AS BIGINT)) + 1e-9, 6) AS chi2_term
    FROM agg, tot ORDER BY digit
    """,
)
def dq_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit over order totals: observed first-digit
    distribution vs the Benford expectation log10(1 + 1/d), with the
    per-digit chi-square contribution — the classic screen for fabricated
    or truncated numeric columns (synthetic uniform data fails it loudly,
    which is exactly the point of recording it). The first digit is taken
    from the INTEGER cents string (integer-to-string is exact on both
    engines; a log10-based digit extraction can flip at power-of-ten
    boundaries where libm differs). The positivity filter is on the
    ROUNDED cents, not the raw price: 0 < price < 0.005 rounds to
    cents=0, whose "first digit" is '0' and whose benford_p divides by
    zero — inf/NULL on Spark vs an error in DuckDB (ADVICE r9). One
    9-group aggregate + a 1-row total broadcast back — output is
    digit-bounded at any scale."""
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    c = (
        t(spark, sf_dir, "orders")
        .select(cents.alias("cents"))
        .where(F.col("cents") > 0)
        .select(F.substring(F.col("cents").cast("string"), 1, 1).alias("digit"))
    )
    agg = c.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    tot = agg.agg(F.sum("n").alias("total"))
    d_long = F.col("digit").cast("long")
    benford = F.log10(1.0 + 1.0 / d_long)
    obs = F.col("n").cast("double") / F.col("total")
    return (
        agg.crossJoin(F.broadcast(tot))
        .select(
            d_long.alias("digit"),
            F.col("n").cast("long").alias("n"),
            (F.round(obs + F.lit(1e-9), 6)).alias("observed_p"),
            (F.round(benford + F.lit(1e-9), 6)).alias("benford_p"),
            (F.round(F.pow(obs - benford, 2) / benford + F.lit(1e-9), 6)).alias(
                "chi2_term"
            ),
        )
        .orderBy("digit")
    )


from sec_dl_spark.operators.relational import global_rank  # noqa: E402


@query(
    "dq_join_key_skew",
    oracle="""
    WITH kv AS (
      SELECT 'l_suppkey' AS key_name, l_suppkey AS key_val FROM lineitem
      UNION ALL
      SELECT 'l_orderkey', l_orderkey FROM lineitem
      UNION ALL
      SELECT 'o_custkey', o_custkey FROM orders),
    c AS (
      SELECT key_name, key_val, count(*) AS cnt
      FROM kv GROUP BY key_name, key_val),
    r AS (
      SELECT key_name, cnt,
             row_number() OVER (
               PARTITION BY key_name ORDER BY cnt, key_val) AS r_asc,
             row_number() OVER (
               PARTITION BY key_name ORDER BY cnt DESC, key_val DESC) AS r_desc
      FROM c),
    g AS (
      SELECT key_name,
             sum(cnt) AS n_rows, count(*) AS n_keys, max(cnt) AS max_cnt,
             sum(CAST(r_asc AS DOUBLE) * cnt) AS sw,
             sum(CAST(cnt AS DOUBLE) * cnt) AS sq,
             sum(cnt) FILTER (r_desc <= 10) AS top10_cnt
      FROM r GROUP BY key_name)
    SELECT key_name,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_keys AS BIGINT) AS n_keys,
           CAST(max_cnt AS BIGINT) AS max_cnt,
           (round(CAST(max_cnt AS DOUBLE) / n_rows + 1e-9, 6) + 0.0) AS top1_share,
           (round(CAST(top10_cnt AS DOUBLE) / n_rows + 1e-9, 6) + 0.0)
             AS top10_share,
           (round((2.0 * sw - (CAST(n_keys AS DOUBLE) + 1) * n_rows)
                  / (CAST(n_keys AS DOUBLE) * n_rows) + 1e-9, 6) + 0.0) AS gini,
           (round(sqrt(CAST(n_keys AS DOUBLE) * sq
                       - CAST(n_rows AS DOUBLE) * n_rows)
                  / n_rows + 1e-9, 4) + 0.0) AS cv
    FROM g ORDER BY key_name
    """,
)
def dq_join_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew audit over the three hot shuffle keys (l_suppkey,
    l_orderkey, o_custkey): per key, the distinct-key count, the max/top-1/
    top-10 frequency shares, the Gini coefficient of the key-frequency
    distribution, and the coefficient of variation — the ONE readout that
    decides, before launching a 100 TB join, whether a key needs salting
    (operators/skew.py), AQE skew splitting, or nothing. A Gini near 0
    with top1_share ≈ 1/n_keys is hash-friendly; a top-10 share carrying
    half the rows means ten keys will own the stage.

    Plan shape at scale: lineitem is scanned ONCE — both its keys leave
    the scan as one exploded (key_name, key_val) stream (the same
    single-fact-scan fold as dq_referential_integrity) — then ONE grouped
    count reduces to key-space-sized triples with map-side partial
    aggregation. The Gini rank is the ONLY subtle part: row_number over
    (key_name) would collapse each key's whole frequency table into one
    window partition (3 partitions total — the single-partition collapse
    this repo bans), so ranks come from operators/relational.py:
    global_rank — ONE range exchange over (key_name, cnt, key_val) total
    order, per-partition local ranks + broadcast offsets — and are
    rebased per key_name by broadcasting each audit's min-rank offset.
    Every metric is a deterministic expression of exact moments (sw =
    Σ rank·cnt, sq = Σ cnt², shares from max/top-10 integer sums); the
    two QUADRATIC moments (sw, sq) are accumulated in DOUBLE in BOTH
    engines — cnt² wraps int64 once one hot key passes ~3.04e9 rows
    (DuckDB silently promotes to HUGEINT, so the engines would diverge
    exactly where the audit matters most) — with every term
    integer-valued and exact below 2^53, so the audit cannot
    int64-overflow at petabyte row counts."""
    li = t(spark, sf_dir, "lineitem").select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("l_suppkey").alias("key_name"),
                    F.col("l_suppkey").alias("key_val"),
                ),
                F.struct(
                    F.lit("l_orderkey").alias("key_name"),
                    F.col("l_orderkey").alias("key_val"),
                ),
            )
        ).alias("kv")
    ).select("kv.key_name", "kv.key_val")
    ok = t(spark, sf_dir, "orders").select(
        F.lit("o_custkey").alias("key_name"), F.col("o_custkey").alias("key_val")
    )
    c = (
        li.unionByName(ok)
        .groupBy("key_name", "key_val")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    ranked = global_rank(c, order=["key_name", "cnt", "key_val"], rank_col="gr")
    per_key = ranked.groupBy(F.col("key_name").alias("kn")).agg(
        F.min("gr").alias("off"), F.count(F.lit(1)).alias("nk")
    )
    r = (
        ranked.join(F.broadcast(per_key), ranked.key_name == per_key.kn)
        .withColumn("r_asc", F.col("gr") - F.col("off") + 1)
        .withColumn("r_desc", F.col("nk") - (F.col("gr") - F.col("off")))
    )
    g = r.groupBy("key_name").agg(
        F.sum("cnt").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("cnt").alias("max_cnt"),
        # cnt^2 wraps int64 once a single hot key passes ~3.04e9 rows
        # (and r_asc*cnt sums past 2^63 at petabyte key counts) while
        # DuckDB promotes to HUGEINT; accumulate both quadratic moments
        # in double — each term is integer-valued and exact below 2^53,
        # so both engines sum identical values at any tested scale.
        F.sum(F.col("r_asc").cast("double") * F.col("cnt")).alias("sw"),
        F.sum(F.col("cnt").cast("double") * F.col("cnt")).alias("sq"),
        F.sum(F.when(F.col("r_desc") <= 10, F.col("cnt"))).alias("top10_cnt"),
    )
    nd = lambda name: F.col(name).cast("double")  # noqa: E731
    return g.select(
        "key_name",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_keys").cast("long").alias("n_keys"),
        F.col("max_cnt").cast("long").alias("max_cnt"),
        rz6(nd("max_cnt") / F.col("n_rows")).alias("top1_share"),
        rz6(nd("top10_cnt") / F.col("n_rows")).alias("top10_share"),
        rz6(
            (2.0 * F.col("sw") - (nd("n_keys") + 1) * F.col("n_rows"))
            / (nd("n_keys") * F.col("n_rows"))
        ).alias("gini"),
        (
            F.round(
                F.sqrt(nd("n_keys") * F.col("sq") - nd("n_rows") * F.col("n_rows"))
                / F.col("n_rows")
                + F.lit(1e-9),
                4,
            )
            + F.lit(0.0)
        ).alias("cv"),
    ).orderBy("key_name")


@query(
    "join_basket_lift",
    oracle="""
    WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM d),
    pc AS (SELECT l_partkey, count(*) AS n_p FROM d GROUP BY l_partkey),
    pr AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS n_ab
      FROM d a JOIN d b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2),
    sc AS (
      SELECT p1, p2, n_ab, ca.n_p AS n_a, cb.n_p AS n_b,
             (round(CAST(n_ab AS DOUBLE) * n_orders / (ca.n_p * cb.n_p)
                    + 1e-9, 6) + 0.0) AS lift,
             (round(CAST(n_ab AS DOUBLE) / ca.n_p + 1e-9, 6) + 0.0)
               AS confidence
      FROM pr JOIN pc ca ON pr.p1 = ca.l_partkey
              JOIN pc cb ON pr.p2 = cb.l_partkey, n)
    SELECT CAST(p1 AS BIGINT) AS p1, CAST(p2 AS BIGINT) AS p2,
           CAST(n_ab AS BIGINT) AS n_both,
           CAST(n_a AS BIGINT) AS n_p1, CAST(n_b AS BIGINT) AS n_p2,
           lift, confidence
    FROM sc ORDER BY n_both DESC, lift DESC, p1, p2 LIMIT 20
    """,
)
def join_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association mining over order lines: the top-20
    co-purchased part pairs by support, scored with lift
    (P(a,b)/(P(a)P(b)) over orders) and confidence (P(b|a)) — the
    classic affinity table behind "frequently bought together". The
    pair space is generated by a SELF-JOIN CO-LOCATED ON l_orderkey
    (both sides shuffle on the same key, so every pair materializes
    inside one partition) and is quadratic only in ORDER WIDTH (<= 13
    lines here, bounded by basket size however large the fact table
    grows), never in corpus size. Part supports ride a second
    part-keyed aggregate joined back by key; the order total is a
    1-row broadcast. Exact integer counts in, deterministic divisions
    out; ties break on (support desc, lift desc, p1, p2)."""
    d = (
        t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n = d.agg(F.count_distinct("l_orderkey").alias("n_orders"))
    pc = d.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_p"))
    a, b = d.alias("a"), d.alias("b")
    pr = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("p1"),
            F.col("b.l_partkey").alias("p2"),
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= 2)
    )
    sc = (
        pr.join(
            pc.select(
                F.col("l_partkey").alias("p1"), F.col("n_p").alias("n_a")
            ),
            "p1",
        )
        .join(
            pc.select(
                F.col("l_partkey").alias("p2"), F.col("n_p").alias("n_b")
            ),
            "p2",
        )
        .crossJoin(F.broadcast(n))
    )
    return (
        sc.select(
            F.col("p1").cast("long").alias("p1"),
            F.col("p2").cast("long").alias("p2"),
            F.col("n_ab").cast("long").alias("n_both"),
            F.col("n_a").cast("long").alias("n_p1"),
            F.col("n_b").cast("long").alias("n_p2"),
            rz6(
                F.col("n_ab").cast("double")
                * F.col("n_orders")
                / (F.col("n_a") * F.col("n_b"))
            ).alias("lift"),
            rz6(F.col("n_ab").cast("double") / F.col("n_a")).alias(
                "confidence"
            ),
        )
        .orderBy(
            F.col("n_both").desc(), F.col("lift").desc(), "p1", "p2"
        )
        .limit(20)
    )


_DRIFT_COLS = (
    "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority",
)

_drift_branches = "\n      UNION ALL\n".join(
    f"""      SELECT '{c}' AS col, o_orderkey % 2 AS snap,
             CAST(count(*) FILTER ({c} IS NULL) AS BIGINT) AS n_null,
             CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct
      FROM orders GROUP BY 2"""
    for c in _DRIFT_COLS
)


@query(
    "dq_schema_drift",
    oracle=f"""
    WITH prof AS (
{_drift_branches}),
    piv AS (
      SELECT col,
             CAST(sum(CASE WHEN snap = 0 THEN n_null END) AS BIGINT)
               AS null_a,
             CAST(sum(CASE WHEN snap = 1 THEN n_null END) AS BIGINT)
               AS null_b,
             CAST(sum(CASE WHEN snap = 0 THEN n_distinct END) AS BIGINT)
               AS distinct_a,
             CAST(sum(CASE WHEN snap = 1 THEN n_distinct END) AS BIGINT)
               AS distinct_b
      FROM prof GROUP BY col)
    SELECT col, null_a, null_b, distinct_a, distinct_b,
           (round(CAST(distinct_b AS DOUBLE) / nullif(distinct_a, 0)
                  + 1e-9, 6) + 0.0) AS distinct_ratio
    FROM piv ORDER BY col
    """,
)
def dq_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-profile drift between two table snapshots (orderkey parity
    stands in for yesterday/today): per column, null counts and distinct
    cardinalities on each side plus their ratio — the audit that catches
    an upstream schema or encoding change (a column going NULL-heavy, an
    enum collapsing, an id column deduplicating) before it poisons
    downstream joins. Scale shape: ONE fact scan computes every
    column's per-snapshot profile in a single 2-row grouped aggregate
    (count + count_distinct per column, all map-side partial), then a
    bounded (n_cols-row) unpivot/pivot — the same one-aggregate fold
    dq_profile_orders uses, never one scan per column."""
    o = t(spark, sf_dir, "orders").withColumn(
        "snap", F.col("o_orderkey") % 2
    )
    aggs = []
    for c in _DRIFT_COLS:
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("long")
            .alias(f"null__{c}")
        )
        aggs.append(F.count_distinct(F.col(c)).cast("long").alias(f"nd__{c}"))
    prof = o.groupBy("snap").agg(*aggs)
    stack_expr = ", ".join(
        f"'{c}', null__{c}, nd__{c}" for c in _DRIFT_COLS
    )
    melted = prof.select(
        "snap",
        F.expr(
            f"stack({len(_DRIFT_COLS)}, {stack_expr}) "
            "AS (col, n_null, n_distinct)"
        ),
    )
    piv = melted.groupBy("col").agg(
        F.sum(F.when(F.col("snap") == 0, F.col("n_null"))).cast("long").alias("null_a"),
        F.sum(F.when(F.col("snap") == 1, F.col("n_null"))).cast("long").alias("null_b"),
        F.sum(F.when(F.col("snap") == 0, F.col("n_distinct")))
        .cast("long")
        .alias("distinct_a"),
        F.sum(F.when(F.col("snap") == 1, F.col("n_distinct")))
        .cast("long")
        .alias("distinct_b"),
    )
    return piv.select(
        "col",
        "null_a",
        "null_b",
        "distinct_a",
        "distinct_b",
        rz(
            F.col("distinct_b").cast("double")
            / F.nullif(F.col("distinct_a"), F.lit(0)),
            6,
        ).alias("distinct_ratio"),
    ).orderBy("col")


@query(
    "dq_lead_time_audit",
    oracle="""
    WITH j AS (
      SELECT CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
                            CAST(l.l_shipdate AS DATE)) AS BIGINT) AS lead
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    vc AS (SELECT lead, count(*) AS cnt FROM j GROUP BY lead),
    cum AS (SELECT lead, sum(cnt) OVER (ORDER BY lead) AS cum FROM vc),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_lineitems,
             CAST(count(*) FILTER (lead < 0) AS BIGINT) AS n_ship_before_order,
             CAST(sum(lead) AS BIGINT) AS sum_lead
      FROM j)
    SELECT n_lineitems, n_ship_before_order,
           (round(CAST(n_ship_before_order AS DOUBLE)
                  / nullif(n_lineitems, 0) + 1e-9, 6) + 0.0) AS violation_rate,
           (round(CAST(sum_lead AS DOUBLE) / nullif(n_lineitems, 0)
                  + 1e-9, 6) + 0.0) AS mean_lead_days,
           (SELECT min(lead) FROM cum, tot
             WHERE cum >= (n_lineitems + 1) // 2) AS median_lead_days,
           (SELECT min(lead) FROM cum, tot
             WHERE cum >= (9 * n_lineitems + 9) // 10) AS p90_lead_days
    FROM tot
    """,
)
def dq_lead_time_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-field consistency audit between the fact table and its
    parent: order-to-ship lead time in days, with the count of
    impossible rows (shipment BEFORE the order date — the classic
    upstream clock/join bug this audit exists to catch), the exact mean
    (integer day-diffs divided once), and exact nearest-rank
    median/p90 off the DISTINCT-LEAD-DAY cumulative frame. Scale
    shape: one fact-parent key join (orders side is keys+date only),
    then every statistic comes off the value-space frame — the
    cumulative window orders distinct day values, never lineitems."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    j = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        )
        .cast("long")
        .alias("lead")
    )
    j = pin(j)
    vc = j.groupBy("lead").agg(F.count(F.lit(1)).alias("cnt"))
    cum = vc.withColumn(
        "cum",
        F.sum("cnt").over(
            Window.orderBy("lead").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    tot = j.agg(
        F.count(F.lit(1)).cast("long").alias("n_lineitems"),
        F.sum(F.when(F.col("lead") < 0, 1).otherwise(0))
        .cast("long")
        .alias("n_ship_before_order"),
        F.sum("lead").cast("long").alias("sum_lead"),
    )
    ranks = cum.crossJoin(F.broadcast(tot)).agg(
        F.min(
            F.when(F.col("cum") >= F.expr("(n_lineitems + 1) div 2"), F.col("lead"))
        ).alias("median_lead_days"),
        F.min(
            F.when(
                F.col("cum") >= F.expr("(9 * n_lineitems + 9) div 10"),
                F.col("lead"),
            )
        ).alias("p90_lead_days"),
    )
    return tot.crossJoin(F.broadcast(ranks)).select(
        "n_lineitems",
        "n_ship_before_order",
        rz(
            F.col("n_ship_before_order").cast("double")
            / F.nullif(F.col("n_lineitems"), F.lit(0)),
            6,
        ).alias("violation_rate"),
        rz(
            F.col("sum_lead").cast("double")
            / F.nullif(F.col("n_lineitems"), F.lit(0)),
            6,
        ).alias("mean_lead_days"),
        "median_lead_days",
        "p90_lead_days",
    )


@query(
    "agg_yoy_growth",
    oracle="""
    WITH m AS (
      SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_cents,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY 1),
    g AS (
      -- CALENDAR joins, not row lags: a month with zero orders has no
      -- row, and lag(12) over the row frame would silently compare
      -- every later month against the wrong year
      SELECT m.month AS month, m.rev_cents, m.n_orders,
             pm.rev_cents AS prev_m, py.rev_cents AS prev_y
      FROM m
      LEFT JOIN m pm ON pm.month = m.month - INTERVAL 1 MONTH
      LEFT JOIN m py ON py.month = m.month - INTERVAL 12 MONTH)
    SELECT CAST(month AS DATE) AS month, rev_cents, n_orders,
           (round(CAST(rev_cents - prev_m AS DOUBLE) / nullif(prev_m, 0)
                  + 1e-9, 6) + 0.0) AS mom_growth,
           (round(CAST(rev_cents - prev_y AS DOUBLE) / nullif(prev_y, 0)
                  + 1e-9, 6) + 0.0) AS yoy_growth
    FROM g ORDER BY month
    """,
)
def agg_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month and year-over-year revenue growth — the classic
    finance trend table (lag 1 and lag 12 over the monthly frame).
    Revenue crosses engines as exact integer cents; the comparisons are
    CALENDAR self-joins on month − 1/12 months over the pinned MONTH
    frame (months-in-history rows, never order rows) — a row-lag would
    silently misalign every month after a gap month — so the only
    fact-sized work is one scan + one month-keyed aggregate with
    map-side partials. First month / first year / post-gap rows carry
    NULL growth (no fabricated zeros), identical both engines."""
    m = (
        t(spark, sf_dir, "orders")
        .groupBy(
            F.date_trunc("month", F.col("o_orderdate").cast("date")).cast(
                "date"
            ).alias("month")
        )
        .agg(
            F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
            .cast("long")
            .alias("rev_cents"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
        )
    )
    # calendar self-joins, not row lags: a month with zero orders has
    # no row, and lag(12) over the row frame would silently compare
    # every later month against the wrong year
    m = pin(m)
    pm = m.select(
        F.add_months(F.col("month"), 1).alias("month"),
        F.col("rev_cents").alias("prev_m"),
    )
    py = m.select(
        F.add_months(F.col("month"), 12).alias("month"),
        F.col("rev_cents").alias("prev_y"),
    )
    g = m.join(pm, "month", "left").join(py, "month", "left")
    return g.select(
        "month",
        "rev_cents",
        "n_orders",
        rz(
            (F.col("rev_cents") - F.col("prev_m")).cast("double")
            / F.nullif(F.col("prev_m"), F.lit(0)),
            6,
        ).alias("mom_growth"),
        rz(
            (F.col("rev_cents") - F.col("prev_y")).cast("double")
            / F.nullif(F.col("prev_y"), F.lit(0)),
            6,
        ).alias("yoy_growth"),
    ).orderBy("month")


@query(
    "join_customer_rfm",
    oracle="""
    WITH mx AS (SELECT max(CAST(o_orderdate AS DATE)) AS asof FROM orders),
    rfm AS (
      SELECT o_custkey,
             CAST(date_diff('day', max(CAST(o_orderdate AS DATE)),
                            max(mx.asof)) AS BIGINT) AS recency,
             CAST(count(*) AS BIGINT) AS frequency,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS monetary
      FROM orders, mx GROUP BY o_custkey),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM rfm),
    med AS (
      SELECT
        (SELECT min(v) FROM (
           SELECT recency AS v,
                  sum(count(*)) OVER (ORDER BY recency) AS cum
           FROM rfm GROUP BY recency) rc, n
         WHERE cum >= (n + 1) // 2) AS r_med,
        (SELECT min(v) FROM (
           SELECT frequency AS v,
                  sum(count(*)) OVER (ORDER BY frequency) AS cum
           FROM rfm GROUP BY frequency) fc, n
         WHERE cum >= (n + 1) // 2) AS f_med,
        (SELECT min(v) FROM (
           SELECT monetary AS v,
                  sum(count(*)) OVER (ORDER BY monetary) AS cum
           FROM rfm GROUP BY monetary) mc, n
         WHERE cum >= (n + 1) // 2) AS m_med),
    seg AS (
      SELECT CASE WHEN recency <= r_med THEN 'recent' ELSE 'lapsed' END AS r_seg,
             CASE WHEN frequency > f_med THEN 'frequent' ELSE 'occasional' END AS f_seg,
             CASE WHEN monetary > m_med THEN 'high_value' ELSE 'low_value' END AS m_seg,
             monetary
      FROM rfm, med)
    SELECT r_seg, f_seg, m_seg,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(monetary) AS BIGINT) AS total_cents
    FROM seg GROUP BY r_seg, f_seg, m_seg
    ORDER BY r_seg, f_seg, m_seg
    """,
)
def join_customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: recency / frequency / monetary per customer,
    split at the EXACT nearest-rank median of each axis (value-space
    cumulative counts — deterministic where ntile() would tie-break by
    engine-internal row order), then the 8-cell segment census with
    total value per cell — the standard lifecycle-marketing table.
    Scale shape: one customer-keyed aggregate off the fact scan, three
    DISTINCT-VALUE median frames (bounded by value cardinality, never
    customer count), one broadcast of three medians, one 8-row census
    aggregate."""
    o = t(spark, sf_dir, "orders")
    asof = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("asof"))
    rfm = pin(
        o.groupBy("o_custkey")
        .agg(
            F.max(F.col("o_orderdate").cast("date")).alias("last_day"),
            F.count(F.lit(1)).cast("long").alias("frequency"),
            F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
            .cast("long")
            .alias("monetary"),
        )
        .crossJoin(F.broadcast(asof))
        .select(
            F.datediff(F.col("asof"), F.col("last_day"))
            .cast("long")
            .alias("recency"),
            "frequency",
            "monetary",
        )
    )
    n = rfm.agg(F.count(F.lit(1)).cast("long").alias("n"))

    def med_of(col: str, alias: str):
        vc = rfm.groupBy(col).agg(F.count(F.lit(1)).alias("cnt"))
        cum = vc.withColumn(
            "cum",
            F.sum("cnt").over(
                Window.orderBy(col).rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        return cum.crossJoin(F.broadcast(n)).agg(
            F.min(
                F.when(F.col("cum") >= F.expr("(n + 1) div 2"), F.col(col))
            ).alias(alias)
        )

    med = (
        med_of("recency", "r_med")
        .crossJoin(F.broadcast(med_of("frequency", "f_med")))
        .crossJoin(F.broadcast(med_of("monetary", "m_med")))
    )
    seg = rfm.crossJoin(F.broadcast(med)).select(
        F.when(F.col("recency") <= F.col("r_med"), F.lit("recent"))
        .otherwise(F.lit("lapsed"))
        .alias("r_seg"),
        F.when(F.col("frequency") > F.col("f_med"), F.lit("frequent"))
        .otherwise(F.lit("occasional"))
        .alias("f_seg"),
        F.when(F.col("monetary") > F.col("m_med"), F.lit("high_value"))
        .otherwise(F.lit("low_value"))
        .alias("m_seg"),
        "monetary",
    )
    return (
        seg.groupBy("r_seg", "f_seg", "m_seg")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("monetary").cast("long").alias("total_cents"),
        )
        .orderBy("r_seg", "f_seg", "m_seg")
    )


@query(
    "join_supplier_scorecard",
    oracle="""
    WITH j AS (
      SELECT l.l_suppkey AS suppkey,
             CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                  AS BIGINT) AS net_cents,
             CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
                            CAST(l.l_shipdate AS DATE)) AS BIGINT) AS lead
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    sc AS (
      SELECT suppkey,
             CAST(count(*) AS BIGINT) AS n_lineitems,
             CAST(sum(net_cents) AS BIGINT) AS revenue_cents,
             CAST(count(*) FILTER (lead < 0) AS BIGINT) AS n_impossible,
             CAST(count(*) FILTER (lead > 60) AS BIGINT) AS n_late,
             CAST(sum(lead) AS BIGINT) AS sum_lead
      FROM j GROUP BY suppkey),
    top AS (
      SELECT *, row_number() OVER (
               ORDER BY revenue_cents DESC, suppkey) AS rk
      FROM sc QUALIFY rk <= 20)
    SELECT s.s_name AS supplier, n_lineitems, revenue_cents,
           CAST(rk AS BIGINT) AS rank,
           (round(CAST(n_late AS DOUBLE) / n_lineitems + 1e-9, 6) + 0.0)
             AS late_share,
           (round(CAST(n_impossible AS DOUBLE) / n_lineitems + 1e-9, 6)
             + 0.0) AS impossible_share,
           (round(CAST(sum_lead AS DOUBLE) / n_lineitems + 1e-9, 6) + 0.0)
             AS mean_lead_days
    FROM top JOIN supplier s ON top.suppkey = s.s_suppkey
    ORDER BY rank
    """,
)
def join_supplier_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier delivery scorecard: top-20 suppliers by net revenue with
    their late-shipment share (lead > 60 days), impossible-row share
    (ship before order — the dq_lead_time_audit signal attributed to
    its source), and exact mean lead — the vendor-management mart that
    turns the corpus-level lead audit into per-supplier accountability.
    Revenue is exact integer cents; the ranking is a TakeOrdered top-20
    with a deterministic (revenue, suppkey) tie-break; the supplier
    dimension joins AFTER the top-20 cut, so only 20 rows ever touch
    the dim. Scale shape: one fact-parent key join, one supplier-keyed
    aggregate (map-side partials), a 20-row global TakeOrdered — no
    supplier-count window anywhere."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        F.expr(
            "CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"
        ).alias("net_cents"),
        "l_shipdate",
    )
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    j = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("l_suppkey").alias("suppkey"),
        "net_cents",
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        )
        .cast("long")
        .alias("lead"),
    )
    sc = j.groupBy("suppkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_lineitems"),
        F.sum("net_cents").cast("long").alias("revenue_cents"),
        F.sum(F.when(F.col("lead") < 0, 1).otherwise(0))
        .cast("long")
        .alias("n_impossible"),
        F.sum(F.when(F.col("lead") > 60, 1).otherwise(0))
        .cast("long")
        .alias("n_late"),
        F.sum("lead").cast("long").alias("sum_lead"),
    )
    top = (
        sc.orderBy(F.col("revenue_cents").desc(), "suppkey")
        .limit(20)
        .withColumn(
            "rank",
            F.row_number()
            .over(Window.orderBy(F.col("revenue_cents").desc(), "suppkey"))
            .cast("long"),
        )
    )
    sup = t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("suppkey"), F.col("s_name").alias("supplier")
    )
    return (
        top.join(sup, "suppkey")
        .select(
            "supplier",
            "n_lineitems",
            "revenue_cents",
            "rank",
            rz(
                F.col("n_late").cast("double") / F.col("n_lineitems"), 6
            ).alias("late_share"),
            rz(
                F.col("n_impossible").cast("double") / F.col("n_lineitems"),
                6,
            ).alias("impossible_share"),
            rz(
                F.col("sum_lead").cast("double") / F.col("n_lineitems"), 6
            ).alias("mean_lead_days"),
        )
        .orderBy("rank")
    )


@query(
    "agg_revenue_concentration",
    oracle="""
    WITH c AS (
      SELECT o_custkey,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY o_custkey),
    r AS (
      SELECT cents,
             row_number() OVER (ORDER BY cents DESC, o_custkey) AS rk,
             sum(cents) OVER (ORDER BY cents DESC, o_custkey) AS cum
      FROM c),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_customers,
             CAST(sum(cents) AS BIGINT) AS total_cents
      FROM c),
    p80 AS (
      SELECT CAST(min(rk) AS BIGINT) AS n80
      FROM r, tot WHERE cum * 5 >= total_cents * 4),
    gini AS (
      -- G = (n + 1 - 2 * sum(cum_asc)/total) / n over the ASCENDING
      -- order; with descending cum: sum(cum_desc) = (n+1)*total -
      -- sum(cum_asc), so sum(cum_asc) derives from the same frame.
      -- Summed as DOUBLE: the int64 sum is ~n*total (quadratic in SF)
      -- and wraps around sf3 in Spark while DuckDB would promote to
      -- HUGEINT — the double sum is exact to 1e-16 relative, far
      -- inside the 1e-6 gini round
      SELECT sum(CAST(cum AS DOUBLE)) AS sum_cum_desc FROM r),
    top1 AS (
      SELECT CAST(sum(cents) AS BIGINT) AS top1_cents
      FROM r, tot WHERE rk * 100 <= n_customers)
    SELECT n_customers, total_cents, n80,
           (round(CAST(n80 AS DOUBLE) / n_customers + 1e-9, 6) + 0.0)
             AS share_customers_for_80pct,
           (round(CAST(coalesce(top1_cents, 0) AS DOUBLE)
                  / total_cents + 1e-9, 6) + 0.0) AS top1pct_revenue_share,
           (round((n_customers + 1
                   - 2.0 * ((n_customers + 1) * CAST(total_cents AS DOUBLE)
                            - sum_cum_desc) / total_cents)
                  / n_customers + 1e-9, 6) + 0.0) AS gini
    FROM tot, p80, gini, top1
    """,
)
def agg_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration report: how many customers produce 80% of
    revenue (the Pareto point), the top-1%'s revenue share, and the
    Gini coefficient — the account-concentration risk readout. The
    ranked cumulative frame comes from `global_rank` + `global_cumsum`
    (range exchange + per-partition fold + broadcast offsets — never a
    customer-count single-partition window), revenue is exact integer
    cents, the 80% crossing compares integers (cum·5 ≥ total·4), and
    the Gini folds Σcum through the descending-order identity
    Σcum_asc = (n+1)·total − Σcum_desc so one frame serves every
    statistic."""
    from sec_dl_spark.operators.relational import global_cumsum, global_rank

    c = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
            .cast("long")
            .alias("cents")
        )
    )
    order = [F.desc("cents"), F.asc("o_custkey")]
    r = global_cumsum(
        global_rank(c, order, rank_col="rk0"), order, "cents", out_col="cum"
    ).withColumn("rk", F.col("rk0") + 1)
    tot = c.agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("cents").cast("long").alias("total_cents"),
    )
    j = r.crossJoin(F.broadcast(tot))
    stats = j.agg(
        F.min(
            F.when(
                F.col("cum") * 5 >= F.col("total_cents") * 4, F.col("rk")
            )
        )
        .cast("long")
        .alias("n80"),
        F.sum(
            F.when(F.col("rk") * 100 <= F.col("n_customers"), F.col("cents"))
        )
        .cast("long")
        .alias("top1_cents"),
        # double BEFORE the sum: the int64 sum is ~n*total and wraps
        # around sf3; see the oracle's gini CTE comment
        F.sum(F.col("cum").cast("double")).alias("sum_cum_desc"),
    )
    out = tot.crossJoin(F.broadcast(stats))
    n = F.col("n_customers")
    totc = F.col("total_cents").cast("double")
    sum_cum_asc = (n + 1) * totc - F.col("sum_cum_desc")
    return out.select(
        "n_customers",
        "total_cents",
        F.col("n80"),
        rz(F.col("n80").cast("double") / n, 6).alias(
            "share_customers_for_80pct"
        ),
        rz(
            F.coalesce(F.col("top1_cents"), F.lit(0)).cast("double") / totc, 6
        ).alias("top1pct_revenue_share"),
        rz((n + 1 - 2.0 * sum_cum_asc / totc) / n, 6).alias("gini"),
    )


@query(
    "agg_price_volume_mix",
    oracle="""
    WITH f AS (
      SELECT p.p_brand, year(l.l_shipdate) AS yr,
             CAST(round(l.l_quantity) AS BIGINT) AS qty,
             CAST(round(l.l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE year(l.l_shipdate) IN (1999, 2000)),
    g AS (
      SELECT p_brand,
             sum(CASE WHEN yr = 1999 THEN qty ELSE 0 END) AS q0,
             sum(CASE WHEN yr = 2000 THEN qty ELSE 0 END) AS q1,
             sum(CASE WHEN yr = 1999 THEN cents ELSE 0 END) AS r0,
             sum(CASE WHEN yr = 2000 THEN cents ELSE 0 END) AS r1
      FROM f GROUP BY p_brand
      HAVING q0 > 0 AND q1 > 0),
    s AS (
      SELECT p_brand, q0, q1, r0, r1,
             CAST(r0 AS DOUBLE) / 100.0 / q0 AS p0,
             CAST(r1 AS DOUBLE) / 100.0 / q1 AS p1
      FROM g)
    SELECT p_brand,
           CAST(q0 AS BIGINT) AS qty_base, CAST(q1 AS BIGINT) AS qty_curr,
           (round(CAST(r1 - r0 AS DOUBLE) / 100.0 + 1e-9, 2) + 0.0)
             AS delta_revenue,
           (round((q1 - q0) * p0 + 1e-9, 2) + 0.0) AS volume_effect,
           (round((p1 - p0) * q0 + 1e-9, 2) + 0.0) AS price_effect,
           (round((p1 - p0) * (q1 - q0) + 1e-9, 2) + 0.0) AS mix_effect
    FROM s ORDER BY p_brand
    """,
)
def agg_price_volume_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-volume-mix decomposition of the 1999→2000 revenue change per
    brand — the FP&A waterfall that answers "did revenue move because we
    sold MORE units, charged MORE per unit, or both": with base/current
    quantities q0,q1 and unit prices p0,p1 (revenue/quantity),
    ΔR = (q1−q0)·p0  [volume]  +  (p1−p0)·q0  [price]
         + (p1−p0)(q1−q0)  [mix/cross]
    and the three effects sum to ΔR exactly by algebra. Scale shape: ONE
    lineitem scan with the part dim BROADCAST for the brand key, both
    years folded as conditional sums in a single brand-keyed aggregate
    (no self-join of year slices — the year pivot rides map-side partial
    aggregation). Quantities and revenue cents are exact integers; unit
    prices and effects are then deterministic double expressions of
    those integer moments, rounded with the shared nudge convention."""
    li = t(spark, sf_dir, "lineitem").withColumn(
        "yr", F.year("l_shipdate")
    ).where(F.col("yr").isin(1999, 2000))
    pt = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    f = li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey).select(
        "p_brand",
        "yr",
        F.round(F.col("l_quantity")).cast("long").alias("qty"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    y0, y1 = F.col("yr") == 1999, F.col("yr") == 2000
    g = (
        f.groupBy("p_brand")
        .agg(
            F.sum(F.when(y0, F.col("qty")).otherwise(0)).alias("q0"),
            F.sum(F.when(y1, F.col("qty")).otherwise(0)).alias("q1"),
            F.sum(F.when(y0, F.col("cents")).otherwise(0)).alias("r0"),
            F.sum(F.when(y1, F.col("cents")).otherwise(0)).alias("r1"),
        )
        .where((F.col("q0") > 0) & (F.col("q1") > 0))
    )
    p0 = F.col("r0").cast("double") / 100.0 / F.col("q0")
    p1 = F.col("r1").cast("double") / 100.0 / F.col("q1")
    dq = F.col("q1") - F.col("q0")
    return g.select(
        "p_brand",
        F.col("q0").cast("long").alias("qty_base"),
        F.col("q1").cast("long").alias("qty_curr"),
        rz((F.col("r1") - F.col("r0")).cast("double") / 100.0, 2).alias(
            "delta_revenue"
        ),
        rz(dq * p0, 2).alias("volume_effect"),
        rz((p1 - p0) * F.col("q0"), 2).alias("price_effect"),
        rz((p1 - p0) * dq, 2).alias("mix_effect"),
    ).orderBy("p_brand")


@query(
    "dq_order_total_reconciliation",
    oracle="""
    WITH lc AS (
      SELECT l_orderkey,
             sum(CAST(round(l_extendedprice * (1 - l_discount)
                            * (1 + l_tax) * 100) AS BIGINT)) AS rec
      FROM lineitem GROUP BY l_orderkey),
    oc AS (
      SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS tot
      FROM orders),
    j AS (
      SELECT oc.tot, lc.rec,
             CASE
               WHEN lc.rec IS NULL THEN 5
               WHEN lc.rec = oc.tot THEN 0
               WHEN oc.tot = 0 THEN 4
               WHEN abs(lc.rec - oc.tot) < 0.001 * oc.tot THEN 1
               WHEN abs(lc.rec - oc.tot) < 0.01 * oc.tot THEN 2
               WHEN abs(lc.rec - oc.tot) < 0.1 * oc.tot THEN 3
               ELSE 4
             END AS ord_bucket
      FROM oc LEFT JOIN lc ON oc.o_orderkey = lc.l_orderkey),
    n AS (SELECT count(*) AS n_orders FROM j),
    buckets AS (
      SELECT ord_bucket, count(*) AS n FROM j GROUP BY ord_bucket),
    lab AS (
      SELECT * FROM (VALUES
        (0, 'exact'), (1, 'lt_0.1pct'), (2, 'lt_1pct'), (3, 'lt_10pct'),
        (4, 'gte_10pct'), (5, 'orders_without_lines')) v(ordinal, bucket)),
    orders_side AS (
      SELECT lab.ordinal, lab.bucket,
             CAST(coalesce(b.n, 0) AS BIGINT) AS n,
             (round(CAST(coalesce(b.n, 0) AS DOUBLE) / n.n_orders
                    + 1e-9, 6) + 0.0) AS share
      FROM lab LEFT JOIN buckets b ON lab.ordinal = b.ord_bucket, n),
    orphans AS (
      SELECT 6 AS ordinal, 'lines_without_order' AS bucket,
             CAST(count(*) AS BIGINT) AS n,
             (round(CAST(count(*) AS DOUBLE)
                    / (SELECT count(*) FROM lineitem) + 1e-9, 6) + 0.0)
               AS share
      FROM lineitem l WHERE NOT EXISTS (
        SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
    SELECT CAST(ordinal AS BIGINT) AS ordinal, bucket, n, share
    FROM (SELECT * FROM orders_side UNION ALL SELECT * FROM orphans)
    ORDER BY ordinal
    """,
)
def dq_order_total_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table reconciliation audit: every order's header total
    (o_totalprice) re-derived from its lines as
    Σ round(extendedprice·(1−discount)·(1+tax)·100) cents, then a
    7-bucket census — exact match, relative gap under 0.1%/1%/10%,
    ≥10%, orders with no lines, and lines pointing at no order — the
    first report a data-platform team runs when two upstream systems
    disagree about money (and on these fixtures it FINDS the planted
    inconsistency: header totals are synthetic noise, so the mass sits
    in gte_10pct — the audit's job is to say so, loudly).

    Scale shape: one lineitem scan folded to order grain with map-side
    partial sums (per-line cents rounded to exact integers BEFORE the
    sum, so the reconciled figure is summation-order-free in both
    engines), one order-keyed left join (co-partitioned on the join key
    at scale), bucket assignment as a codegen CASE over exact integers,
    and a 7-row output. The orphan-line arm is a key-only anti-join —
    same plan as the referential-integrity audit. Share denominators:
    order buckets over total orders, the orphan-line row over total
    lines."""
    li = t(spark, sf_dir, "lineitem")
    lc = (
        li.select(
            "l_orderkey",
            F.round(
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax"))
                * 100
            )
            .cast("long")
            .alias("line_cents"),
        )
        .groupBy("l_orderkey")
        .agg(F.sum("line_cents").alias("rec"))
    )
    oc = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("tot"),
    )
    j = oc.join(lc, oc.o_orderkey == lc.l_orderkey, "left")
    gap = F.abs(F.col("rec") - F.col("tot"))
    bucket = (
        F.when(F.col("rec").isNull(), 5)
        .when(F.col("rec") == F.col("tot"), 0)
        .when(F.col("tot") == 0, 4)
        .when(gap < 0.001 * F.col("tot"), 1)
        .when(gap < 0.01 * F.col("tot"), 2)
        .when(gap < 0.1 * F.col("tot"), 3)
        .otherwise(4)
    )
    counts = j.select(bucket.alias("ordinal")).groupBy("ordinal").agg(
        F.count(F.lit(1)).alias("n")
    )
    n_orders = oc.agg(F.count(F.lit(1)).alias("n_orders"))
    labels = t(spark, sf_dir, "orders").sparkSession.createDataFrame(
        [
            (0, "exact"),
            (1, "lt_0.1pct"),
            (2, "lt_1pct"),
            (3, "lt_10pct"),
            (4, "gte_10pct"),
            (5, "orders_without_lines"),
        ],
        "ordinal int, bucket string",
    )
    orders_side = (
        labels.join(counts, "ordinal", "left")
        .crossJoin(F.broadcast(n_orders))
        .select(
            F.col("ordinal").cast("long").alias("ordinal"),
            "bucket",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
            rz6(
                F.coalesce(F.col("n"), F.lit(0)).cast("double")
                / F.col("n_orders")
            ).alias("share"),
        )
    )
    n_lines = li.agg(F.count(F.lit(1)).alias("n_lines"))
    orphans = (
        li.select("l_orderkey")
        .join(
            oc.select("o_orderkey"),
            li.l_orderkey == oc.o_orderkey,
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(n_lines))
        .select(
            F.lit(6).cast("long").alias("ordinal"),
            F.lit("lines_without_order").alias("bucket"),
            F.col("n").cast("long").alias("n"),
            rz6(F.col("n").cast("double") / F.col("n_lines")).alias("share"),
        )
    )
    return orders_side.unionByName(orphans).orderBy("ordinal")


@query(
    "join_negative_sampling",
    oracle="""
    WITH pos AS (
      SELECT DISTINCT o.o_custkey AS custkey, l.l_partkey AS partkey
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
    cust AS (SELECT DISTINCT custkey FROM pos),
    pidx AS (
      SELECT p_partkey, row_number() OVER (ORDER BY p_partkey) - 1 AS idx
      FROM part),
    np AS (SELECT count(*) AS n_parts FROM part),
    slots AS (SELECT unnest(generate_series(0, 7)) AS slot),
    cand AS (
      SELECT c.custkey, s.slot,
             ((c.custkey % 2147483647) * 2654435761 + s.slot * 40503)
               % 2147483647 % np.n_parts AS idx
      FROM cust c CROSS JOIN slots s, np),
    cand_p AS (
      SELECT cand.custkey, cand.slot, pidx.p_partkey AS partkey
      FROM cand JOIN pidx ON cand.idx = pidx.idx),
    dedup AS (
      SELECT custkey, partkey, min(slot) AS slot
      FROM cand_p GROUP BY custkey, partkey),
    neg AS (
      SELECT d.custkey, d.partkey, d.slot
      FROM dedup d LEFT JOIN pos
        ON d.custkey = pos.custkey AND d.partkey = pos.partkey
      WHERE pos.custkey IS NULL),
    ranked AS (
      SELECT custkey, partkey,
             row_number() OVER (
               PARTITION BY custkey ORDER BY slot, partkey) AS neg_rank
      FROM neg)
    SELECT CAST(custkey AS BIGINT) AS custkey,
           CAST(neg_rank AS BIGINT) AS neg_rank,
           CAST(partkey AS BIGINT) AS partkey
    FROM ranked WHERE neg_rank <= 3
    ORDER BY custkey, neg_rank
    """,
)
def join_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for a recommender / contrastive
    training set: for every customer with at least one purchased part,
    3 parts they did NOT buy, drawn pseudo-randomly but REPRODUCIBLY —
    candidate part indices come from a Knuth multiplicative hash of
    (custkey, slot) over 8 slots (custkey pre-clamped mod 2^31 so the
    product stays far from int64, the corpus_group_kfold discipline),
    mapped to real part keys through a dense 0-based part index,
    anti-joined against the positive (customer, part) set, deduped to
    the smallest slot, and cut to the first 3 surviving slots per
    customer. Hash-based negatives are the standard scale trick: no RNG
    state, no rejection loop, identical output on every engine and
    every rerun — the property a training-data pipeline needs when a
    shard is regenerated months later.

    Scale shape: the positive set is one order-keyed join folded to
    DISTINCT (custkey, partkey); the part index is a global_rank range
    exchange (never a single-partition window over the item catalog);
    candidate generation is 8 codegen rows per customer; the anti-join
    is key-partitioned; the final rank is a customer-partitioned window
    over <= 8 rows per customer. Output is 3 rows per active customer.
    Survival is overwhelmingly likely (8 draws against a catalog vastly
    larger than any one customer's basket) and both engines drop the
    same rare shortfalls identically."""
    from sec_dl_spark.operators.relational import global_rank as _grank

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pos = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("l_partkey").alias("partkey"),
        )
        .distinct()
    )
    pos = pin(pos)
    cust = pos.select("custkey").distinct()
    pt = t(spark, sf_dir, "part").select("p_partkey")
    pidx = _grank(pt, order=["p_partkey"], rank_col="idx")
    np_ = pt.agg(F.count(F.lit(1)).alias("n_parts"))
    cand = (
        cust.select(
            "custkey",
            F.explode(F.sequence(F.lit(0), F.lit(7))).alias("slot"),
        )
        .crossJoin(F.broadcast(np_))
        .select(
            "custkey",
            "slot",
            (
                (
                    (F.col("custkey") % 2147483647) * 2654435761
                    + F.col("slot") * 40503
                )
                % 2147483647
                % F.col("n_parts")
            ).alias("idx"),
        )
    )
    cand_p = cand.join(pidx, "idx").select(
        "custkey", "slot", F.col("p_partkey").alias("partkey")
    )
    dedup = cand_p.groupBy("custkey", "partkey").agg(F.min("slot").alias("slot"))
    neg = dedup.join(pos, ["custkey", "partkey"], "left_anti")
    w = Window.partitionBy("custkey").orderBy("slot", "partkey")
    return (
        neg.withColumn("neg_rank", F.row_number().over(w))
        .where(F.col("neg_rank") <= 3)
        .select(
            F.col("custkey").cast("long").alias("custkey"),
            F.col("neg_rank").cast("long").alias("neg_rank"),
            F.col("partkey").cast("long").alias("partkey"),
        )
        .orderBy("custkey", "neg_rank")
    )


@query(
    "dq_categorical_entropy",
    oracle="""
    WITH kv AS (
      SELECT 'o_orderstatus' AS col_name, o_orderstatus AS val FROM orders
      UNION ALL
      SELECT 'o_orderpriority', o_orderpriority FROM orders),
    c AS (
      SELECT col_name, val, count(*) AS cnt
      FROM kv GROUP BY col_name, val),
    tot AS (SELECT col_name, sum(cnt) AS n FROM c GROUP BY col_name),
    g AS (
      SELECT c.col_name,
             count(*) AS k,
             max(tot.n) AS n,
             max(cnt) AS top_cnt,
             sum(CAST(round(
               -(CAST(cnt AS DOUBLE) / tot.n)
               * ln(CAST(cnt AS DOUBLE) / tot.n)
               * 1000000000) AS BIGINT)) AS h_u,
             sum(CAST(cnt AS DOUBLE) * cnt) AS sq
      FROM c JOIN tot ON c.col_name = tot.col_name
      GROUP BY c.col_name)
    SELECT col_name,
           CAST(n AS BIGINT) AS n_rows,
           CAST(k AS BIGINT) AS n_distinct,
           (round(h_u / 1000000000.0 + 1e-9, 6) + 0.0) AS entropy_nats,
           (round(CASE WHEN k = 1 THEN 0.0
                       ELSE h_u / 1000000000.0 / ln(CAST(k AS DOUBLE)) END
                  + 1e-9, 6) + 0.0) AS entropy_norm,
           (round(1.0 - sq / (CAST(n AS DOUBLE) * n) + 1e-9, 6) + 0.0)
             AS gini_impurity,
           (round(CAST(top_cnt AS DOUBLE) / n + 1e-9, 6) + 0.0) AS top_share
    FROM g ORDER BY col_name
    """,
)
def dq_categorical_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical-column distribution profile of the order header's two
    enum columns in ONE fact scan: distinct-value count, Shannon
    entropy (nats) with its normalized form H/ln k, Gini impurity
    1 − Σp², and the top-value share — the drift-baseline card a data
    platform keeps per categorical column (an enum whose entropy
    collapses or whose top_share spikes is the classic silent-upstream
    -bug signature, cheaper to watch than full histograms).

    Scale shape: both columns leave one orders scan as an exploded
    (col_name, val) stream (the dq_join_key_skew fold), ONE grouped
    count reduces to value-space triples, and the per-column profile is
    a col-keyed fold over those triples. Entropy terms are per-value
    doubles of exact integer counts rounded to 1e-9 integer units
    BEFORE the fold (summation-order-free in both engines); the
    quadratic moment Σcnt² accumulates in double (the int64-wrap
    class); single-valued columns define entropy_norm = 0 identically
    both sides."""
    o = t(spark, sf_dir, "orders").select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("o_orderstatus").alias("col_name"),
                    F.col("o_orderstatus").alias("val"),
                ),
                F.struct(
                    F.lit("o_orderpriority").alias("col_name"),
                    F.col("o_orderpriority").alias("val"),
                ),
            )
        ).alias("kv")
    ).select("kv.col_name", "kv.val")
    c = o.groupBy("col_name", "val").agg(F.count(F.lit(1)).alias("cnt"))
    wn = Window.partitionBy("col_name")
    c = c.withColumn("n", F.sum("cnt").over(wn))
    p = F.col("cnt").cast("double") / F.col("n")
    h_term = F.round(-p * F.log(p) * 1e9).cast("long")
    g = c.groupBy("col_name").agg(
        F.count(F.lit(1)).alias("k"),
        F.max("n").alias("n"),
        F.max("cnt").alias("top_cnt"),
        F.sum(h_term).alias("h_u"),
        F.sum(F.col("cnt").cast("double") * F.col("cnt")).alias("sq"),
    )
    nd = F.col("n").cast("double")
    return g.select(
        "col_name",
        F.col("n").cast("long").alias("n_rows"),
        F.col("k").cast("long").alias("n_distinct"),
        rz6(F.col("h_u") / 1e9).alias("entropy_nats"),
        rz6(
            F.when(F.col("k") == 1, F.lit(0.0)).otherwise(
                F.col("h_u") / 1e9 / F.log(F.col("k").cast("double"))
            )
        ).alias("entropy_norm"),
        rz6(1.0 - F.col("sq") / (nd * nd)).alias("gini_impurity"),
        rz6(F.col("top_cnt").cast("double") / nd).alias("top_share"),
    ).orderBy("col_name")


@query(
    "agg_pareto_skyline",
    oracle="""
    WITH p AS (
      SELECT p_partkey, p_brand, p_size,
             CAST(round(p_retailprice * 100) AS BIGINT) AS cents
      FROM part),
    w AS (
      SELECT p_partkey, p_brand, p_size, cents,
             max(p_size) OVER (
               PARTITION BY p_brand ORDER BY cents
               RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS best_cheaper,
             max(p_size) OVER (PARTITION BY p_brand, cents)
               AS best_same_price
      FROM p),
    sky AS (
      SELECT * FROM w
      WHERE (best_cheaper IS NULL OR best_cheaper < p_size)
        AND best_same_price = p_size)
    SELECT p_brand,
           CAST(p_partkey AS BIGINT) AS p_partkey,
           (round(cents / 100.0 + 1e-9, 2) + 0.0) AS price,
           CAST(p_size AS BIGINT) AS size
    FROM sky ORDER BY p_brand, price, p_partkey
    """,
)
def agg_pareto_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand Pareto frontier (skyline) of parts under (minimize
    price, maximize size): the parts for which no same-brand part is
    both cheaper-or-equal AND bigger-or-equal with one strict — the
    classic SKYLINE operator (Börzsönyi et al.), the
    options-worth-considering shortlist behind best-value product
    pages, vendor negotiations, and multi-objective configuration
    search. Ties: equal (price, size) rows are mutually non-dominating
    and all kept.

    Scale shape: the textbook skyline is an O(n²) dominance anti-join;
    this plan is the sort-based O(n log n) form using TWO windows per
    brand over integer CENTS — a RANGE frame ending 1 cent before the
    current row gives max(size) among STRICTLY cheaper parts (integer
    keys make 'strictly' a frame bound, no self-join), and a
    same-price partition max handles price ties. Both windows
    partition by brand, so parallelism is brand-count wide and no
    global sort exists. A row survives iff it beats every strictly
    cheaper part's size and is its price point's best size."""
    p = t(spark, sf_dir, "part").select(
        "p_partkey",
        "p_brand",
        "p_size",
        F.round(F.col("p_retailprice") * 100).cast("long").alias("cents"),
    )
    w_cheaper = (
        Window.partitionBy("p_brand")
        .orderBy("cents")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_same = Window.partitionBy("p_brand", "cents")
    w = p.withColumn("best_cheaper", F.max("p_size").over(w_cheaper)).withColumn(
        "best_same_price", F.max("p_size").over(w_same)
    )
    sky = w.where(
        (F.col("best_cheaper").isNull() | (F.col("best_cheaper") < F.col("p_size")))
        & (F.col("best_same_price") == F.col("p_size"))
    )
    return sky.select(
        "p_brand",
        F.col("p_partkey").cast("long").alias("p_partkey"),
        rz(F.col("cents") / 100.0, 2).alias("price"),
        F.col("p_size").cast("long").alias("size"),
    ).orderBy("p_brand", "price", "p_partkey")


@query(
    "agg_discount_elasticity",
    oracle="""
    WITH f AS (
      SELECT p.p_brand,
             CAST(round(l.l_discount * 10000) AS BIGINT) AS bps,
             CAST(round(l.l_quantity) AS BIGINT) AS qty
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
    m AS (
      SELECT p_brand,
             count(*) AS n,
             sum(CAST(bps AS DOUBLE)) AS sx,
             sum(CAST(qty AS DOUBLE)) AS sy,
             sum(CAST(bps AS DOUBLE) * qty) AS sxy,
             sum(CAST(bps AS DOUBLE) * bps) AS sxx,
             sum(CAST(qty AS DOUBLE) * qty) AS syy
      FROM f GROUP BY p_brand HAVING count(*) >= 10),
    s AS (
      SELECT p_brand, n, sy / n AS mean_qty,
             (n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0.0) AS slope_bps,
             (n * sxy - sx * sy) * (n * sxy - sx * sy)
             / nullif((n * sxx - sx * sx) * (n * syy - sy * sy), 0.0) AS r2
      FROM m)
    SELECT p_brand,
           CAST(n AS BIGINT) AS n_lines,
           (round(mean_qty + 1e-9, 4) + 0.0) AS mean_qty,
           (round(slope_bps * 100 + 1e-9, 6) + 0.0) AS qty_per_pct_discount,
           (round(r2 + 1e-9, 6) + 0.0) AS r_squared
    FROM s ORDER BY p_brand
    """,
)
def agg_discount_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discount elasticity per brand: the OLS slope of order quantity on
    discount (reported as quantity change per +1 percentage point of
    discount) with fit quality r² — the cross-sectional pricing
    regression that answers "do discounts actually move volume for
    this brand, or just give margin away" (the complement of the
    TIME-series regression in events_trend_slope). A near-zero slope
    with low r² on randomized synthetic data is itself the correct
    finding: no detectable elasticity.

    Scale shape: ONE fact scan with the part dim broadcast; all five
    regression moments fold in a single brand-keyed aggregate
    (map-side partial combine), accumulated in DOUBLE over
    integer-valued terms (discount in exact basis points, quantity in
    exact units — bps·qty products stay far below 2^53, and the
    double form survives petabyte row counts where int64 Σx² wraps).
    Slope and r² are deterministic expressions of those moments with
    identical zero-variance guards both engines; brands under 10
    lines are dropped identically."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.round(F.col("l_discount") * 10000).cast("long").alias("bps"),
        F.round(F.col("l_quantity")).cast("long").alias("qty"),
    )
    pt = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    f = li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
    xd, yd = F.col("bps").cast("double"), F.col("qty").cast("double")
    m = (
        f.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(xd).alias("sx"),
            F.sum(yd).alias("sy"),
            F.sum(xd * F.col("qty")).alias("sxy"),
            F.sum(xd * F.col("bps")).alias("sxx"),
            F.sum(yd * F.col("qty")).alias("syy"),
        )
        .where(F.col("n") >= 10)
    )
    n = F.col("n")
    cov_n = n * F.col("sxy") - F.col("sx") * F.col("sy")
    varx_n = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vary_n = n * F.col("syy") - F.col("sy") * F.col("sy")
    return m.select(
        "p_brand",
        n.cast("long").alias("n_lines"),
        rz(F.col("sy") / n, 4).alias("mean_qty"),
        rz6(cov_n / F.nullif(varx_n, F.lit(0.0)) * 100).alias(
            "qty_per_pct_discount"
        ),
        rz6(cov_n * cov_n / F.nullif(varx_n * vary_n, F.lit(0.0))).alias(
            "r_squared"
        ),
    ).orderBy("p_brand")


@query(
    "dq_sequence_gap_audit",
    oracle="""
    WITH k AS (SELECT DISTINCT o_orderkey AS k FROM orders),
    g AS (SELECT k - lag(k) OVER (ORDER BY k) - 1 AS gap FROM k),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n_keys,
             CAST(min(k) AS BIGINT) AS key_min,
             CAST(max(k) AS BIGINT) AS key_max
      FROM k),
    ga AS (
      SELECT CAST(count(*) FILTER (gap > 0) AS BIGINT) AS n_gap_runs,
             CAST(coalesce(max(gap), 0) AS BIGINT) AS max_gap_run
      FROM g)
    SELECT n_keys, key_min, key_max,
           key_max - key_min + 1 AS span,
           key_max - key_min + 1 - n_keys AS missing_keys,
           n_gap_runs, max_gap_run,
           (round(CAST(n_keys AS DOUBLE) / (key_max - key_min + 1)
                  + 1e-9, 6) + 0.0) AS coverage
    FROM s, ga
    """,
)
def dq_sequence_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyspace-completeness audit of a supposedly sequential surrogate
    key (o_orderkey): how much of the min..max span is actually
    populated, how many contiguous gap runs interrupt it, and the
    largest single hole — the "did the extractor drop a range?" check
    every CDC/batch-ingest pipeline runs on its watermark column. TPC-H
    orderkeys are deliberately sparse (only 1/4 of the keyspace is
    assigned), so the fixture exercises the many-gaps regime rather
    than a trivial all-covered one.

    Scale shape: the classic formulation is ``lag() OVER (ORDER BY
    key)`` — a single-partition global window, the textbook scale-
    killer. Here consecutive keys are paired by a RANK EQUI-JOIN
    instead: `global_rank` (range exchange + per-partition row_number +
    broadcast offsets, operators/relational.py:431) assigns each
    distinct key its 0-based global position, and a self-join on
    ``rank+1 = rank`` lines up neighbors as a plain distributed hash
    join — the adjacent-difference stays key-partitioned at any scale.
    Totals (count/min/max) are one scalar fold; missing_keys derives
    from span - n_keys (and equals Σgap by construction). All integer
    arithmetic; the one float (coverage) is a deterministic division of
    two exact integers."""
    from sec_dl_spark.operators.relational import global_rank

    k = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k")
    ).distinct()
    r = global_rank(k, order=[F.asc("k")], rank_col="gr")
    a = r.select(F.col("k").alias("ka"), F.col("gr").alias("ga"))
    b = r.select(F.col("k").alias("kb"), F.col("gr").alias("gb"))
    gaps = a.join(b, a.ga + 1 == b.gb).select(
        (F.col("kb") - F.col("ka") - 1).alias("gap")
    )
    ga = gaps.agg(
        F.count(F.when(F.col("gap") > 0, 1)).cast("long").alias("n_gap_runs"),
        F.coalesce(F.max("gap"), F.lit(0)).cast("long").alias("max_gap_run"),
    )
    s = k.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.min("k").cast("long").alias("key_min"),
        F.max("k").cast("long").alias("key_max"),
    )
    span = F.col("key_max") - F.col("key_min") + 1
    return s.crossJoin(F.broadcast(ga)).select(
        "n_keys",
        "key_min",
        "key_max",
        span.alias("span"),
        (span - F.col("n_keys")).alias("missing_keys"),
        "n_gap_runs",
        "max_gap_run",
        rz6(F.col("n_keys").cast("double") / span).alias("coverage"),
    )


@query(
    "cdc_agg_incremental",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM orders
    WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 10 = 3)
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def cdc_agg_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate view maintenance under RETRACTIONS (operators/
    cdc.py:agg_delta — the signed-delta counting rule): the per-priority
    (order count, revenue) rollup is first materialized over the full
    orders table, then a deterministic cancellation stream arrives (every
    finalized order whose key ends in 3 is retracted — the
    "chargeback/void" feed) and the view advances by folding the SIGNED
    deltas and merging at view grain — never re-scanning order history.
    The ORACLE is deliberately independent of the rule: it recomputes the
    aggregate from scratch over the surviving rows, so a lost retraction,
    a double-applied delete, or a zero-count key left behind all fail the
    compare. Complements rollup_incremental_merge, which proves the
    insert-only merge; THIS query proves the delete path — the half of
    IVM that `sum(sign)` gets wrong if the merge drops the n=0 guard.

    Scale shape: the change stream folds map-side to key grain before
    touching the view (|Δ| in, |touched keys| out), the merge is a
    view-grain union + re-aggregate; revenue is exact integer cents
    (per-order rounding BEFORE any sum, both engines)."""
    from sec_dl_spark.operators.cdc import agg_delta

    cents = F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority", cents.alias("cents")
    )
    base = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").alias("revenue_cents"),
    )
    deletes = o.where(
        (F.col("o_orderstatus") == "F") & (F.col("o_orderkey") % 10 == 3)
    ).select("o_orderpriority", F.lit("D").alias("op"), "cents")
    maintained = agg_delta(
        base,
        deletes,
        keys=["o_orderpriority"],
        measures={"revenue_cents": "cents"},
    )
    return maintained.select(
        "o_orderpriority",
        F.col("n").alias("n_orders"),
        F.col("revenue_cents").cast("long").alias("revenue_cents"),
    ).orderBy("o_orderpriority")


@query(
    "agg_abc_classification",
    oracle="""
    WITH p AS (
      SELECT l_partkey,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                           AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem GROUP BY l_partkey),
    r AS (
      SELECT cents,
             sum(cents) OVER (ORDER BY cents DESC, l_partkey) AS cum
      FROM p),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_parts,
             CAST(sum(cents) AS BIGINT) AS total_cents
      FROM p),
    cls AS (
      SELECT CASE WHEN cum * 10 <= total_cents * 7 THEN 'A'
                  WHEN cum * 10 <= total_cents * 9 THEN 'B'
                  ELSE 'C' END AS abc_class,
             cents
      FROM r, tot)
    SELECT abc_class,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(cents) AS BIGINT) AS class_cents,
           (round(CAST(sum(cents) AS DOUBLE) / total_cents + 1e-9, 6) + 0.0)
             AS revenue_share,
           (round(CAST(count(*) AS DOUBLE) / n_parts + 1e-9, 6) + 0.0)
             AS part_share
    FROM cls, tot
    GROUP BY abc_class, total_cents, n_parts
    ORDER BY abc_class
    """,
)
def agg_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification of parts by lineitem revenue — the
    standard Pareto partitioning a supply-chain team keys its stocking
    policy on: class A carries the first 70% of cumulative revenue,
    B the next 20%, C the tail; the report shows how FEW parts carry A
    (count share vs revenue share per class). Complements
    agg_revenue_concentration (which reads the same curve at the
    customer grain as scalar crossings): this query materializes the
    full class partition and its census.

    Scale shape: part revenue is exact integer cents (per-line rounding
    before the sum), the descending cumulative comes from
    `global_cumsum` (range exchange + partition fold + broadcast
    offsets — never a parts-count single-partition window), class
    assignment compares integers (cum·10 vs total·7|9 — products stay
    below 2^63 up to ~9·10^17 total cents, i.e. ~10 PB of order flow,
    documented headroom), and the census is a 3-group fold."""
    from sec_dl_spark.operators.relational import global_cumsum

    cents = F.expr(
        "CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"
    )
    p = (
        t(spark, sf_dir, "lineitem")
        .select("l_partkey", cents.alias("c0"))
        .groupBy("l_partkey")
        .agg(F.sum("c0").cast("long").alias("cents"))
    )
    order = [F.desc("cents"), F.asc("l_partkey")]
    r = global_cumsum(p, order, "cents", out_col="cum")
    tot = p.agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum("cents").cast("long").alias("total_cents"),
    )
    j = r.crossJoin(F.broadcast(tot))
    cls = j.select(
        F.when(F.col("cum") * 10 <= F.col("total_cents") * 7, "A")
        .when(F.col("cum") * 10 <= F.col("total_cents") * 9, "B")
        .otherwise("C")
        .alias("abc_class"),
        "cents",
        "total_cents",
        "n_parts",
    )
    return (
        cls.groupBy("abc_class", "total_cents", "n_parts")
        .agg(
            F.count(F.lit(1)).cast("long").alias("np"),
            F.sum("cents").cast("long").alias("class_cents"),
        )
        .select(
            "abc_class",
            F.col("np").alias("n_parts"),
            "class_cents",
            rz6(
                F.col("class_cents").cast("double") / F.col("total_cents")
            ).alias("revenue_share"),
            rz6(F.col("np").cast("double") / F.col("n_parts")).alias(
                "part_share"
            ),
        )
        .orderBy("abc_class")
    )


@query(
    "dq_functional_dependency",
    oracle="""
    WITH kv AS (
      SELECT 'p_brand->p_type' AS fd, CAST(p_brand AS VARCHAR) AS lhs,
             CAST(p_type AS VARCHAR) AS rhs FROM part
      UNION ALL
      SELECT 'p_type->p_brand', CAST(p_type AS VARCHAR),
             CAST(p_brand AS VARCHAR) FROM part
      UNION ALL
      SELECT 'p_name->p_partkey', CAST(p_name AS VARCHAR),
             CAST(p_partkey AS VARCHAR) FROM part
      UNION ALL
      SELECT 'p_size->p_brand', CAST(p_size AS VARCHAR),
             CAST(p_brand AS VARCHAR) FROM part),
    g AS (
      SELECT fd, lhs, CAST(count(DISTINCT rhs) AS BIGINT) AS nd
      FROM kv GROUP BY fd, lhs)
    SELECT fd,
           CAST(count(*) AS BIGINT) AS n_lhs,
           CAST(count(*) FILTER (nd > 1) AS BIGINT) AS n_violating,
           CAST(max(nd) AS BIGINT) AS max_variants,
           (round(CAST(count(*) FILTER (nd > 1) AS DOUBLE) / count(*)
                  + 1e-9, 6) + 0.0) AS violation_share,
           (count(*) FILTER (nd > 1)) = 0 AS holds
    FROM g GROUP BY fd ORDER BY fd
    """,
)
def dq_functional_dependency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit over candidate column dependencies of
    the part dimension (lhs → rhs holds iff every lhs value maps to ONE
    rhs value): the schema-inference / normalization primitive a
    profiler runs before declaring a column derivable — and the drift
    alarm that fires when an upstream denormalization breaks (a brand
    suddenly spanning two types). Four candidates are audited at once,
    from the key-like (p_name → p_partkey) to the deliberately false
    (p_size → p_brand), each reporting its violating-lhs count, worst
    fan-out, and a holds verdict.

    Scale shape: the Spark side streams ONE dimension scan through an
    exploded (fd, lhs, rhs) triple per candidate (the
    dq_categorical_entropy single-scan pattern — the oracle's UNION
    ALL re-scan is DuckDB-side only), then two integer folds:
    (fd, lhs)-grain distinct-rhs counts, fd-grain census. Cardinality
    after the first fold is Σ|distinct lhs| — dimension-sized. All
    integer counting; the one float is a ratio of exact integers."""
    fds = [
        ("p_brand->p_type", "p_brand", "p_type"),
        ("p_type->p_brand", "p_type", "p_brand"),
        ("p_name->p_partkey", "p_name", "p_partkey"),
        ("p_size->p_brand", "p_size", "p_brand"),
    ]
    arr = F.array(
        *[
            F.struct(
                F.lit(fd).alias("fd"),
                F.col(l).cast("string").alias("lhs"),
                F.col(r).cast("string").alias("rhs"),
            )
            for fd, l, r in fds
        ]
    )
    kv = (
        t(spark, sf_dir, "part")
        .select(F.explode(arr).alias("x"))
        .select("x.fd", "x.lhs", "x.rhs")
    )
    g = kv.groupBy("fd", "lhs").agg(F.count_distinct("rhs").alias("nd"))
    viol = F.count(F.when(F.col("nd") > 1, 1))
    return (
        g.groupBy("fd")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lhs"),
            viol.cast("long").alias("n_violating"),
            F.max("nd").cast("long").alias("max_variants"),
            rz6(viol.cast("double") / F.count(F.lit(1))).alias(
                "violation_share"
            ),
            (viol == 0).alias("holds"),
        )
        .orderBy("fd")
    )


@query(
    "dq_numeric_correlation_matrix",
    oracle="""
    WITH c AS (
      SELECT CAST(round(l_quantity * 100) AS BIGINT) AS q,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS p,
             CAST(round(l_discount * 10000) AS BIGINT) AS d,
             CAST(round(l_tax * 10000) AS BIGINT) AS t
      FROM lineitem),
    mo AS (
      SELECT count(*) AS n,
             sum(CAST(q AS DOUBLE)) AS sq, sum(CAST(p AS DOUBLE)) AS sp,
             sum(CAST(d AS DOUBLE)) AS sd, sum(CAST(t AS DOUBLE)) AS st,
             sum(CAST(q AS DOUBLE) * q) AS sqq, sum(CAST(p AS DOUBLE) * p) AS spp,
             sum(CAST(d AS DOUBLE) * d) AS sdd, sum(CAST(t AS DOUBLE) * t) AS stt,
             sum(CAST(q AS DOUBLE) * p) AS sqp, sum(CAST(q AS DOUBLE) * d) AS sqd,
             sum(CAST(q AS DOUBLE) * t) AS sqt, sum(CAST(p AS DOUBLE) * d) AS spd,
             sum(CAST(p AS DOUBLE) * t) AS spt, sum(CAST(d AS DOUBLE) * t) AS sdt
      FROM c),
    pairs AS (
      SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
             n * sqp - sq * sp AS cov_n,
             (n * sqq - sq * sq) * (n * spp - sp * sp) AS var_prod FROM mo
      UNION ALL SELECT 'l_quantity', 'l_discount',
             n * sqd - sq * sd, (n * sqq - sq * sq) * (n * sdd - sd * sd) FROM mo
      UNION ALL SELECT 'l_quantity', 'l_tax',
             n * sqt - sq * st, (n * sqq - sq * sq) * (n * stt - st * st) FROM mo
      UNION ALL SELECT 'l_extendedprice', 'l_discount',
             n * spd - sp * sd, (n * spp - sp * sp) * (n * sdd - sd * sd) FROM mo
      UNION ALL SELECT 'l_extendedprice', 'l_tax',
             n * spt - sp * st, (n * spp - sp * sp) * (n * stt - st * st) FROM mo
      UNION ALL SELECT 'l_discount', 'l_tax',
             n * sdt - sd * st, (n * sdd - sd * sd) * (n * stt - st * st) FROM mo)
    SELECT col_a, col_b,
           (round(cov_n / nullif(sqrt(var_prod), 0.0) + 1e-9, 6) + 0.0)
             AS pearson_r
    FROM pairs ORDER BY col_a, col_b
    """,
)
def dq_numeric_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over the four numeric
    lineitem measures — the profiler readout that catches derived or
    leaking columns before feature selection does (a |r| ≈ 1 pair means
    one column is an affine ghost of the other; an unexpected sign
    flags a broken upstream transform). All six pairs come from ONE
    fact scan: fourteen moments (4 sums, 4 squares, 6 cross-products)
    fold in a single aggregate and the matrix is a constant 6-row
    expansion of that one-row frame.

    Scale shape: the single-scan / single-fold discipline of
    operators/quality.py's rules engine; values are exact integer
    cents/bps before any product, quadratic and cross moments
    accumulate in DOUBLE in both engines (the int64 square-wrap
    class — each term integer-exact below 2^53), and every correlation
    is a deterministic expression of the folded moments."""
    c = t(spark, sf_dir, "lineitem").select(
        F.expr("CAST(round(l_quantity * 100) AS BIGINT)").alias("q"),
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("p"),
        F.expr("CAST(round(l_discount * 10000) AS BIGINT)").alias("d"),
        F.expr("CAST(round(l_tax * 10000) AS BIGINT)").alias("t"),
    )
    cols = ["q", "p", "d", "t"]
    names = {
        "q": "l_quantity",
        "p": "l_extendedprice",
        "d": "l_discount",
        "t": "l_tax",
    }
    aggs = [F.count(F.lit(1)).alias("n")]
    for a in cols:
        aggs.append(F.sum(F.col(a).cast("double")).alias(f"s{a}"))
        aggs.append(
            F.sum(F.col(a).cast("double") * F.col(a)).alias(f"s{a}{a}")
        )
    for i, a in enumerate(cols):
        for b in cols[i + 1:]:
            aggs.append(
                F.sum(F.col(a).cast("double") * F.col(b)).alias(f"s{a}{b}")
            )
    mo = c.agg(*aggs)
    n = F.col("n")

    def var_n(a):
        return n * F.col(f"s{a}{a}") - F.col(f"s{a}") * F.col(f"s{a}")

    rows = []
    for i, a in enumerate(cols):
        for b in cols[i + 1:]:
            cov_n = n * F.col(f"s{a}{b}") - F.col(f"s{a}") * F.col(f"s{b}")
            rows.append(
                F.struct(
                    F.lit(names[a]).alias("col_a"),
                    F.lit(names[b]).alias("col_b"),
                    rz6(
                        cov_n
                        / F.nullif(F.sqrt(var_n(a) * var_n(b)), F.lit(0.0))
                    ).alias("pearson_r"),
                )
            )
    return (
        mo.select(F.explode(F.array(*rows)).alias("x"))
        .select("x.col_a", "x.col_b", "x.pearson_r")
        .orderBy("col_a", "col_b")
    )


@query(
    "corpus_temperature_sweep",
    oracle="""
    WITH s AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source),
    w AS (
      SELECT source, n_docs,
             pow(n_docs, 0.3) AS w03, pow(n_docs, 0.5) AS w05,
             pow(n_docs, 0.7) AS w07, CAST(n_docs AS DOUBLE) AS w10
      FROM s),
    tot AS (
      SELECT sum(w03) AS t03, sum(w05) AS t05, sum(w07) AS t07,
             sum(w10) AS t10
      FROM w)
    SELECT source, n_docs,
           (round(w03 / t03 + 1e-9, 6) + 0.0) AS share_t03,
           (round(w05 / t05 + 1e-9, 6) + 0.0) AS share_t05,
           (round(w07 / t07 + 1e-9, 6) + 0.0) AS share_t07,
           (round(w10 / t10 + 1e-9, 6) + 0.0) AS share_t10
    FROM w, tot ORDER BY source
    """,
)
def corpus_temperature_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-sampling sweep for the mixture designer: each
    source's sampling share under w = n^τ at τ ∈ {0.3, 0.5, 0.7, 1.0}
    side by side — the table a pre-training team reads to CHOOSE the
    temperature (corpus_temperature_mixture then applies the chosen
    one). τ=1 is proportional sampling; lowering τ compresses the
    head-source dominance toward uniform, and the sweep shows exactly
    how much each step of τ moves each source.

    Scale shape: one corpus scan folds to source grain (a handful of
    rows); the four weight totals come off that frame in one 1-row
    aggregate. The pow() weights are per-source scalars (never summed
    across engines at float precision — the totals sum ≤ |sources|
    values and land inside the 6-digit round; the λ-bracket integer
    discipline corpus_budget_waterfill needs does not apply because no
    ORDERING decision reads these floats)."""
    s = t(spark, sf_dir, "documents").groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    w = s.select(
        "source",
        "n_docs",
        F.pow("n_docs", F.lit(0.3)).alias("w03"),
        F.pow("n_docs", F.lit(0.5)).alias("w05"),
        F.pow("n_docs", F.lit(0.7)).alias("w07"),
        F.col("n_docs").cast("double").alias("w10"),
    )
    tot = w.agg(
        F.sum("w03").alias("t03"),
        F.sum("w05").alias("t05"),
        F.sum("w07").alias("t07"),
        F.sum("w10").alias("t10"),
    )
    return (
        w.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            rz6(F.col("w03") / F.col("t03")).alias("share_t03"),
            rz6(F.col("w05") / F.col("t05")).alias("share_t05"),
            rz6(F.col("w07") / F.col("t07")).alias("share_t07"),
            rz6(F.col("w10") / F.col("t10")).alias("share_t10"),
        )
        .orderBy("source")
    )


@query(
    "dq_string_format_profile",
    oracle="""
    WITH kv AS (
      SELECT 'c_name' AS col_name, CAST(c_name AS VARCHAR) AS val
      FROM customer
      UNION ALL
      SELECT 'o_orderpriority', CAST(o_orderpriority AS VARCHAR) FROM orders
      UNION ALL
      SELECT 'p_type', CAST(p_type AS VARCHAR) FROM part)
    SELECT col_name,
           CAST(count(*) AS BIGINT) AS n_values,
           CAST(count(DISTINCT val) AS BIGINT) AS n_distinct,
           CAST(min(length(val)) AS BIGINT) AS min_len,
           CAST(max(length(val)) AS BIGINT) AS max_len,
           (round(CAST(count(*) FILTER (regexp_matches(val, '^[A-Za-z]+#[0-9]+$'))
                       AS DOUBLE) / count(*) + 1e-9, 6) + 0.0)
             AS share_tagged_id,
           (round(CAST(count(*) FILTER (regexp_matches(val, '^[0-9]+-'))
                       AS DOUBLE) / count(*) + 1e-9, 6) + 0.0)
             AS share_rank_prefixed,
           (round(CAST(count(*) FILTER (regexp_matches(val, ' '))
                       AS DOUBLE) / count(*) + 1e-9, 6) + 0.0)
             AS share_multiword
    FROM kv GROUP BY col_name ORDER BY col_name
    """,
)
def dq_string_format_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-format census over three identifier-ish columns: length
    envelope, distinct count, and the share matching each of three
    format signatures (word#digits tagged ids, digit-dash rank
    prefixes, embedded whitespace) — the profiling pass that catches a
    format drift (an upstream that stops zero-padding, a locale that
    sneaks spaces into keys) before downstream parsers do. The three
    regexes use only character classes and anchors, the dialect
    subset Java and RE2 evaluate identically.

    Scale shape: the Spark side streams ONE exploded (col, val) pass
    per table scan (the dq_categorical_entropy pattern — the oracle's
    UNION ALL is DuckDB-side only) into a single 3-group fold; all
    counting is exact integers, shares are ratios of exact counts."""
    frames = [
        t(spark, sf_dir, "customer").select(
            F.lit("c_name").alias("col_name"),
            F.col("c_name").cast("string").alias("val"),
        ),
        t(spark, sf_dir, "orders").select(
            F.lit("o_orderpriority").alias("col_name"),
            F.col("o_orderpriority").cast("string").alias("val"),
        ),
        t(spark, sf_dir, "part").select(
            F.lit("p_type").alias("col_name"),
            F.col("p_type").cast("string").alias("val"),
        ),
    ]
    kv = frames[0].unionByName(frames[1]).unionByName(frames[2])
    n = F.count(F.lit(1))

    def share(pat):
        return rz6(
            F.count(F.when(F.col("val").rlike(pat), 1)).cast("double") / n
        )

    return (
        kv.groupBy("col_name")
        .agg(
            n.cast("long").alias("n_values"),
            F.count_distinct("val").cast("long").alias("n_distinct"),
            F.min(F.length("val")).cast("long").alias("min_len"),
            F.max(F.length("val")).cast("long").alias("max_len"),
            share("^[A-Za-z]+#[0-9]+$").alias("share_tagged_id"),
            share("^[0-9]+-").alias("share_rank_prefixed"),
            share(" ").alias("share_multiword"),
        )
        .orderBy("col_name")
    )


@query(
    "dq_feature_cross_cardinality",
    oracle="""
    WITH e AS (
      SELECT event_type AS ty,
             CAST(epoch_us(ts) // 86400000000 % 7 AS BIGINT) AS dow,
             CAST(epoch_us(ts) // 3600000000 % 24 AS BIGINT) AS hr,
             CAST(round(value * 100) AS BIGINT) // 10000 AS vb
      FROM events),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(count(DISTINCT ty) AS BIGINT) AS d_ty,
             CAST(count(DISTINCT dow) AS BIGINT) AS d_dow,
             CAST(count(DISTINCT hr) AS BIGINT) AS d_hr,
             CAST(count(DISTINCT vb) AS BIGINT) AS d_vb,
             CAST(count(DISTINCT (ty, dow)) AS BIGINT) AS d_ty_dow,
             CAST(count(DISTINCT (ty, vb)) AS BIGINT) AS d_ty_vb,
             CAST(count(DISTINCT (ty, dow, hr)) AS BIGINT) AS d_ty_dow_hr
      FROM e)
    SELECT cross_name, actual, marginal_product,
           (round(CAST(actual AS DOUBLE) / marginal_product + 1e-9, 6) + 0.0)
             AS fill_ratio,
           (round(CAST(n AS DOUBLE) / actual + 1e-8, 4) + 0.0)
             AS rows_per_combo
    FROM (
      SELECT 'type x dow' AS cross_name, d_ty_dow AS actual,
             d_ty * d_dow AS marginal_product, n FROM m
      UNION ALL
      SELECT 'type x value_bucket', d_ty_vb, d_ty * d_vb, n FROM m
      UNION ALL
      SELECT 'type x dow x hour', d_ty_dow_hr, d_ty * d_dow * d_hr, n FROM m)
    ORDER BY cross_name
    """,
)
def dq_feature_cross_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-cross cardinality audit: for three candidate interaction
    features (type×dow, type×value-bucket, type×dow×hour), the ACTUAL
    distinct combination count against the product of the marginals —
    fill_ratio near 1 means the cross is dense (safe to one-hot /
    target-encode), a tiny ratio means most combinations never occur
    (the cross would be a sparse, overfit-prone feature), and
    rows_per_combo is the support a learner would see per cell. This is
    the pre-flight check a feature platform runs before materializing
    an interaction column at 100 TB.

    Scale shape: ONE fact scan folds every marginal and cross distinct
    count in a single aggregate (count_distinct over composite structs —
    each is its own hash exchange but all map-side partial); the report
    is a constant 3-row expansion. All exact integer counting; derived
    columns are ratios of exact integers."""
    us = F.unix_micros(F.col("ts"))
    e = t(spark, sf_dir, "events").select(
        F.col("event_type").alias("ty"),
        (us / F.lit(86400000000)).cast("long").__mod__(7).alias("dow"),
        (us / F.lit(3600000000)).cast("long").__mod__(24).alias("hr"),
        (F.expr("CAST(round(value * 100) AS BIGINT)") / 10000)
        .cast("long")
        .alias("vb"),
    )
    m = e.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count_distinct("ty").cast("long").alias("d_ty"),
        F.count_distinct("dow").cast("long").alias("d_dow"),
        F.count_distinct("hr").cast("long").alias("d_hr"),
        F.count_distinct("vb").cast("long").alias("d_vb"),
        F.count_distinct("ty", "dow").cast("long").alias("d_ty_dow"),
        F.count_distinct("ty", "vb").cast("long").alias("d_ty_vb"),
        F.count_distinct("ty", "dow", "hr").cast("long").alias("d_ty_dow_hr"),
    )
    rows = [
        ("type x dow", F.col("d_ty_dow"), F.col("d_ty") * F.col("d_dow")),
        ("type x value_bucket", F.col("d_ty_vb"), F.col("d_ty") * F.col("d_vb")),
        (
            "type x dow x hour",
            F.col("d_ty_dow_hr"),
            F.col("d_ty") * F.col("d_dow") * F.col("d_hr"),
        ),
    ]
    arr = F.array(
        *[
            F.struct(
                F.lit(name).alias("cross_name"),
                actual.alias("actual"),
                prod.cast("long").alias("marginal_product"),
                rz6(actual.cast("double") / prod).alias("fill_ratio"),
                rz(F.col("n").cast("double") / actual, 4, 1e-8).alias(
                    "rows_per_combo"
                ),
            )
            for name, actual, prod in rows
        ]
    )
    return (
        m.select(F.explode(arr).alias("x"))
        .select(
            "x.cross_name", "x.actual", "x.marginal_product",
            "x.fill_ratio", "x.rows_per_combo",
        )
        .orderBy("cross_name")
    )


@query(
    "agg_simpsons_paradox_screen",
    oracle="""
    WITH c AS (
      SELECT p.p_brand AS brand,
             CAST(round(l.l_discount * 10000) AS BIGINT) AS bps,
             CAST(round(l.l_quantity * 100) AS BIGINT) AS qty
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
    g AS (
      SELECT brand, count(*) AS n,
             sum(CAST(bps AS DOUBLE)) AS sx, sum(CAST(qty AS DOUBLE)) AS sy,
             sum(CAST(bps AS DOUBLE) * qty) AS sxy,
             sum(CAST(bps AS DOUBLE) * bps) AS sxx
      FROM c GROUP BY brand HAVING count(*) >= 10),
    sl AS (
      SELECT brand,
             (n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0.0) AS slope
      FROM g),
    pooled AS (
      SELECT count(*) AS n,
             sum(CAST(bps AS DOUBLE)) AS sx, sum(CAST(qty AS DOUBLE)) AS sy,
             sum(CAST(bps AS DOUBLE) * qty) AS sxy,
             sum(CAST(bps AS DOUBLE) * bps) AS sxx
      FROM c),
    ps AS (
      SELECT (n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0.0)
               AS pooled_slope
      FROM pooled)
    SELECT (round(pooled_slope + 1e-9, 6) + 0.0) AS pooled_slope,
           CAST((SELECT count(*) FROM sl WHERE slope IS NOT NULL) AS BIGINT)
             AS n_groups,
           CAST((SELECT count(*) FROM sl, ps
                 WHERE sign(slope) <> sign(pooled_slope)
                   AND slope IS NOT NULL) AS BIGINT) AS n_opposite,
           (round(CAST((SELECT count(*) FROM sl, ps
                        WHERE sign(slope) <> sign(pooled_slope)
                          AND slope IS NOT NULL) AS DOUBLE)
                  / (SELECT count(*) FROM sl WHERE slope IS NOT NULL)
                  + 1e-9, 6) + 0.0) AS share_opposite
    FROM ps
    """,
)
def agg_simpsons_paradox_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox screen on the discount→quantity relationship:
    the POOLED regression slope across all line items vs the per-brand
    slopes (the same exact-moment OLS agg_discount_elasticity reports),
    counting how many brands' slopes point the OPPOSITE way from the
    pooled one. A large opposite share is the classic aggregation trap —
    the pooled number answers a question nobody asked, and any dashboard
    quoting it needs the per-segment view instead. This is the automated
    screen an experimentation/BI platform runs before publishing a
    pooled effect.

    Scale shape: one fact-dim broadcast join feeds BOTH the pooled
    1-row moment fold and the brand-grain moment fold (moments in
    double — the int64 square-wrap class); slopes are deterministic
    expressions of the folded moments, and the verdict row is
    brand-count-sized work. Brands with <10 lines or zero discount
    variance are excluded identically in both engines (their slope is
    NULL noise, and NULL sign comparisons diverge cross-engine)."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.expr("CAST(round(l_discount * 10000) AS BIGINT)").alias("bps"),
        F.expr("CAST(round(l_quantity * 100) AS BIGINT)").alias("qty"),
    )
    pt = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    c = li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey).select(
        F.col("p_brand").alias("brand"), "bps", "qty"
    )
    c = pin(c)
    xd, yd = F.col("bps").cast("double"), F.col("qty").cast("double")
    moments = [
        F.count(F.lit(1)).alias("n"),
        F.sum(xd).alias("sx"),
        F.sum(yd).alias("sy"),
        F.sum(xd * F.col("qty")).alias("sxy"),
        F.sum(xd * F.col("bps")).alias("sxx"),
    ]
    slope = lambda: (  # noqa: E731
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        / F.nullif(
            F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"), F.lit(0.0)
        )
    )
    g = c.groupBy("brand").agg(*moments).where(F.col("n") >= 10)
    sl = g.select("brand", slope().alias("slope")).where(
        F.col("slope").isNotNull()
    )
    ps = c.agg(*moments).select(slope().alias("pooled_slope"))
    verdict = sl.crossJoin(F.broadcast(ps)).agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.count(
            F.when(F.signum("slope") != F.signum("pooled_slope"), 1)
        )
        .cast("long")
        .alias("n_opposite"),
    )
    return ps.crossJoin(F.broadcast(verdict)).select(
        rz6(F.col("pooled_slope")).alias("pooled_slope"),
        "n_groups",
        "n_opposite",
        rz6(
            F.col("n_opposite").cast("double") / F.col("n_groups")
        ).alias("share_opposite"),
    )


@query(
    "dq_partition_balance",
    oracle="""
    WITH kv AS (
      SELECT 'by_day' AS scheme,
             CAST(epoch_us(ts) // 86400000000 AS VARCHAR) AS pk
      FROM events
      UNION ALL
      SELECT 'by_user_bucket', CAST(user_id % 32 AS VARCHAR) FROM events
      UNION ALL
      SELECT 'by_event_type', event_type FROM events),
    c AS (
      SELECT scheme, pk, CAST(count(*) AS BIGINT) AS n
      FROM kv GROUP BY scheme, pk),
    m AS (
      SELECT scheme,
             CAST(count(*) AS BIGINT) AS n_partitions,
             CAST(sum(n) AS BIGINT) AS total_rows,
             CAST(max(n) AS BIGINT) AS max_rows,
             sum(CAST(n AS DOUBLE) * n) AS sq
      FROM c GROUP BY scheme)
    SELECT scheme, n_partitions, max_rows,
           (round(CAST(max_rows AS DOUBLE) * n_partitions / total_rows
                  + 1e-9, 6) + 0.0) AS max_skew,
           (round(sqrt(greatest(sq / n_partitions
                                - (CAST(total_rows AS DOUBLE) / n_partitions)
                                  * (CAST(total_rows AS DOUBLE) / n_partitions),
                                0.0))
                  / (CAST(total_rows AS DOUBLE) / n_partitions)
                  + 1e-9, 6) + 0.0) AS cv,
           (round(CAST(max_rows AS DOUBLE) / total_rows + 1e-9, 6) + 0.0)
             AS top1_share
    FROM m ORDER BY scheme
    """,
)
def dq_partition_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-design advisor: for three candidate partitioning
    schemes of the event stream (calendar day, 32-way user-hash bucket,
    event type), the balance metrics that predict shuffle behavior at
    100 TB — max-partition skew (max/mean ratio: the straggler
    multiplier AQE's skew-join would have to split), the coefficient of
    variation, and the largest partition's share of all rows. Choosing
    the write/bucket key is THE first physical-design decision for a
    big fact table; this query is the measurement that decision should
    read (a scheme with max_skew ≈ 1 parallelizes perfectly; type-
    partitioning's handful of giant cells is the anti-pattern).

    Scale shape: one exploded (scheme, key) pass over the fact scan
    (the dq_categorical_entropy pattern), one (scheme, key)-grain
    count fold, one scheme-grain moment fold — output is 3 rows.
    Counts are exact integers; the quadratic moment accumulates in
    DOUBLE in both engines (int64 square-wrap class); skew/cv are
    deterministic expressions of the folded moments."""
    us = F.unix_micros(F.col("ts"))
    arr = F.array(
        F.struct(
            F.lit("by_day").alias("scheme"),
            (us / F.lit(86400000000)).cast("long").cast("string").alias("pk"),
        ),
        F.struct(
            F.lit("by_user_bucket").alias("scheme"),
            (F.col("user_id") % 32).cast("string").alias("pk"),
        ),
        F.struct(
            F.lit("by_event_type").alias("scheme"),
            F.col("event_type").alias("pk"),
        ),
    )
    kv = (
        t(spark, sf_dir, "events")
        .select(F.explode(arr).alias("x"))
        .select("x.scheme", "x.pk")
    )
    c = kv.groupBy("scheme", "pk").agg(F.count(F.lit(1)).cast("long").alias("n"))
    m = c.groupBy("scheme").agg(
        F.count(F.lit(1)).cast("long").alias("n_partitions"),
        F.sum("n").cast("long").alias("total_rows"),
        F.max("n").cast("long").alias("max_rows"),
        F.sum(F.col("n").cast("double") * F.col("n")).alias("sq"),
    )
    mean = F.col("total_rows").cast("double") / F.col("n_partitions")
    return m.select(
        "scheme",
        "n_partitions",
        "max_rows",
        rz6(
            F.col("max_rows").cast("double")
            * F.col("n_partitions")
            / F.col("total_rows")
        ).alias("max_skew"),
        rz6(
            F.sqrt(
                F.greatest(
                    F.col("sq") / F.col("n_partitions") - mean * mean,
                    F.lit(0.0),
                )
            )
            / mean
        ).alias("cv"),
        rz6(F.col("max_rows").cast("double") / F.col("total_rows")).alias(
            "top1_share"
        ),
    ).orderBy("scheme")


@query(
    "dq_inclusion_dependency",
    oracle="""
    WITH cands AS (
      SELECT 'lineitem.l_orderkey < orders.o_orderkey' AS candidate,
             (SELECT count(DISTINCT l_orderkey) FROM lineitem) AS n_child,
             (SELECT count(DISTINCT l.l_orderkey) FROM lineitem l
              WHERE l.l_orderkey IN (SELECT o_orderkey FROM orders))
               AS n_matched
      UNION ALL
      SELECT 'orders.o_orderkey < lineitem.l_orderkey',
             (SELECT count(DISTINCT o_orderkey) FROM orders),
             (SELECT count(DISTINCT o.o_orderkey) FROM orders o
              WHERE o.o_orderkey IN (SELECT l_orderkey FROM lineitem))
      UNION ALL
      SELECT 'orders.o_custkey < customer.c_custkey',
             (SELECT count(DISTINCT o_custkey) FROM orders),
             (SELECT count(DISTINCT o.o_custkey) FROM orders o
              WHERE o.o_custkey IN (SELECT c_custkey FROM customer))
      UNION ALL
      SELECT 'customer.c_custkey < orders.o_custkey',
             (SELECT count(DISTINCT c_custkey) FROM customer),
             (SELECT count(DISTINCT c.c_custkey) FROM customer c
              WHERE c.c_custkey IN (SELECT o_custkey FROM orders))
      UNION ALL
      SELECT 'lineitem.l_partkey < part.p_partkey',
             (SELECT count(DISTINCT l_partkey) FROM lineitem),
             (SELECT count(DISTINCT l.l_partkey) FROM lineitem l
              WHERE l.l_partkey IN (SELECT p_partkey FROM part))
      UNION ALL
      SELECT 'customer.c_nationkey < nation.n_nationkey',
             (SELECT count(DISTINCT c_nationkey) FROM customer),
             (SELECT count(DISTINCT c.c_nationkey) FROM customer c
              WHERE c.c_nationkey IN (SELECT n_nationkey FROM nation)))
    SELECT candidate,
           CAST(n_child AS BIGINT) AS n_child_distinct,
           CAST(n_matched AS BIGINT) AS n_matched,
           (round(CAST(n_matched AS DOUBLE) / nullif(n_child, 0) + 1e-9, 6)
            + 0.0) AS inclusion_share,
           n_matched = n_child AS holds
    FROM cands ORDER BY candidate
    """,
)
def dq_inclusion_dependency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inclusion-dependency (foreign-key) discovery: for six candidate
    child⊆parent column pairs — the true FK edges of the star schema
    plus both reverse directions, which fail whenever a parent has no
    children — the share of distinct child values present in the
    parent, with a holds verdict. This is the profiling pass that
    recovers an undocumented schema's join graph, and the drift alarm
    when an ingest starts minting orphan keys (its findings feed
    dq_referential_integrity, which counts ROW-level damage on the
    known edges).

    Scale shape: every candidate is distinct-key work only — a
    distinct fold on the child column and a key-only LEFT SEMI join
    against the parent's distinct keys (never a row-level join, never
    a payload column read; Catalyst prunes each scan to the one key
    column). Output is candidate-count-sized. All exact integer
    counting."""
    tables = {
        "lineitem": ("l_orderkey", "l_partkey"),
        "orders": ("o_orderkey", "o_custkey"),
        "customer": ("c_custkey", "c_nationkey"),
        "part": ("p_partkey",),
        "nation": ("n_nationkey",),
    }
    # pinned: several frames serve as child in one candidate and parent
    # in another, and each candidate reads its child frame twice
    # (matched + total) — unpinned, the lineitem distinct fold would
    # re-run per branch
    frames = {
        (tb, col): pin(t(spark, sf_dir, tb).select(col).distinct())
        for tb, cols in tables.items()
        for col in cols
    }
    cands = [
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("orders", "o_orderkey", "lineitem", "l_orderkey"),
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("customer", "c_custkey", "orders", "o_custkey"),
        ("lineitem", "l_partkey", "part", "p_partkey"),
        ("customer", "c_nationkey", "nation", "n_nationkey"),
    ]
    out = None
    for ct, cc, pt_, pc in cands:
        child = frames[(ct, cc)]
        parent = frames[(pt_, pc)]
        matched = child.join(
            parent, child[cc] == parent[pc], "left_semi"
        ).agg(F.count(F.lit(1)).cast("long").alias("n_matched"))
        total = child.agg(F.count(F.lit(1)).cast("long").alias("n_child"))
        row = total.crossJoin(F.broadcast(matched)).select(
            F.lit(f"{ct}.{cc} < {pt_}.{pc}").alias("candidate"),
            F.col("n_child").alias("n_child_distinct"),
            "n_matched",
            rz6(
                F.col("n_matched").cast("double")
                / F.nullif(F.col("n_child"), F.lit(0))
            ).alias("inclusion_share"),
            (F.col("n_matched") == F.col("n_child")).alias("holds"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("candidate")


@query(
    "agg_weighted_median",
    oracle="""
    WITH v AS (
      SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
             CAST(round(l_quantity * 100) AS BIGINT) AS w
      FROM lineitem),
    g AS (SELECT cents, CAST(sum(w) AS BIGINT) AS w,
                 CAST(count(*) AS BIGINT) AS c
          FROM v GROUP BY cents),
    r AS MATERIALIZED (
      SELECT cents,
             sum(w) OVER (ORDER BY cents) AS cw,
             sum(c) OVER (ORDER BY cents) AS cc
      FROM g),
    tot AS MATERIALIZED (
      SELECT CAST(sum(w) AS BIGINT) AS tw,
             CAST(count(*) AS BIGINT) AS n_rows FROM v)
    SELECT tot.n_rows, tot.tw AS total_weight,
           (SELECT CAST(min(cents) AS BIGINT) FROM r, tot
            WHERE cw * 2 >= tw) AS weighted_median_cents,
           (SELECT CAST(min(cents) AS BIGINT) FROM r, tot
            WHERE cc * 2 >= n_rows) AS unweighted_median_cents
    FROM tot
    """,
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median line price vs the unweighted one — the
    'typical traded price' a pricing desk quotes (each line votes with
    its volume, so a thousand 1-unit accessory lines can't drown the
    bulk flows). The weighted form is the nearest-rank selection in
    WEIGHT space: smallest value whose cumulative weight reaches half
    the total — the same integer crossing discipline as the exact
    percentiles, with weights instead of counts.

    Scale shape: values fold to value grain first (distinct cents, each
    with its total weight — the exact_percentiles reduction), the
    cumulative weight AND cumulative count ride ONE `global_cumsum`-
    shaped ranged pass (range exchange + per-partition fold + broadcast
    offsets, never a value-count single-partition window — and never
    two back-to-back exchanges for the two running sums), and both
    medians are integer crossings (cw·2 ≥ total) — no float enters
    anywhere."""
    v = t(spark, sf_dir, "lineitem").select(
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("cents"),
        F.expr("CAST(round(l_quantity * 100) AS BIGINT)").alias("w"),
    )
    g = v.groupBy("cents").agg(
        F.sum("w").cast("long").alias("w"),
        F.count(F.lit(1)).cast("long").alias("c"),
    )
    # ONE ranged pass carries both running sums: a second global_cumsum
    # call would range-exchange and pin the identical cents-ordered
    # frame twice back to back
    ranged = pin(
        g.repartitionByRange(F.asc("cents")).withColumn(
            "_pid", F.spark_partition_id()
        )
    )
    wloc = Window.partitionBy("_pid").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, 0
    )
    totals = ranged.groupBy("_pid").agg(
        F.sum("w").alias("_tw"), F.sum("c").alias("_tc")
    )
    woff = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "_pid",
        F.coalesce(F.sum("_tw").over(woff), F.lit(0)).alias("_ow"),
        F.coalesce(F.sum("_tc").over(woff), F.lit(0)).alias("_oc"),
    )
    r = (
        ranged.withColumn("_lw", F.sum("w").over(wloc))
        .withColumn("_lc", F.sum("c").over(wloc))
        .join(F.broadcast(offsets), "_pid")
        .select(
            "cents",
            (F.col("_ow") + F.col("_lw")).cast("long").alias("cw"),
            (F.col("_oc") + F.col("_lc")).cast("long").alias("cc"),
        )
    )
    tot = v.agg(
        F.sum("w").cast("long").alias("tw"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )
    j = r.crossJoin(F.broadcast(tot))
    return j.agg(
        F.max("n_rows").alias("n_rows"),
        F.max("tw").alias("total_weight"),
        F.min(F.when(F.col("cw") * 2 >= F.col("tw"), F.col("cents")))
        .cast("long")
        .alias("weighted_median_cents"),
        F.min(F.when(F.col("cc") * 2 >= F.col("n_rows"), F.col("cents")))
        .cast("long")
        .alias("unweighted_median_cents"),
    )


@query(
    "join_supplier_hhi_by_nation",
    oracle="""
    WITH sr AS (
      SELECT l_suppkey,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                           AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem GROUP BY l_suppkey),
    j AS (
      SELECT n.n_name, sr.l_suppkey, sr.cents
      FROM sr JOIN supplier s ON sr.l_suppkey = s.s_suppkey
              JOIN nation n ON s.s_nationkey = n.n_nationkey),
    g AS (
      SELECT n_name,
             CAST(count(*) AS BIGINT) AS n_suppliers,
             CAST(sum(cents) AS BIGINT) AS total_cents,
             CAST(max(cents) AS BIGINT) AS top_cents,
             sum(CAST(cents AS DOUBLE) * cents) AS sq
      FROM j GROUP BY n_name)
    SELECT n_name, n_suppliers, total_cents,
           (round(sq / (CAST(total_cents AS DOUBLE) * total_cents)
                  + 1e-9, 6) + 0.0) AS hhi,
           (round(CAST(top_cents AS DOUBLE) / total_cents + 1e-9, 6) + 0.0)
             AS top_supplier_share,
           sq / (CAST(total_cents AS DOUBLE) * total_cents)
             > 0.25 AS concentrated
    FROM g ORDER BY n_name
    """,
)
def join_supplier_hhi_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-concentration risk per nation: the Herfindahl–Hirschman
    index of supplier revenue shares (Σ share² — the antitrust
    screen's statistic), the top supplier's share, and a flag at the
    standard 0.25 'highly concentrated' threshold. A procurement team
    reads this to find nations where one supplier failing would take
    the category down — the same census a dedup pipeline runs over
    SOURCES before trusting a corpus mix.

    Scale shape: supplier revenue folds from the fact scan first
    (exact per-line integer cents), the two dims broadcast-join onto
    the supplier-grain frame, and the nation fold computes HHI from
    the moment identity Σshare² = Σcents² / total² — the quadratic
    accumulates in DOUBLE in both engines (int64 square-wrap class),
    every term integer-exact below 2^53. The threshold compares the
    same unrounded expression in both engines."""
    sr = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(
            F.sum(
                F.expr(
                    "CAST(round(l_extendedprice * (1 - l_discount) * 100) "
                    "AS BIGINT)"
                )
            )
            .cast("long")
            .alias("cents")
        )
    )
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    j = sr.join(F.broadcast(s), sr.l_suppkey == s.s_suppkey).join(
        F.broadcast(n), s.s_nationkey == n.n_nationkey
    )
    g = j.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
        F.sum("cents").cast("long").alias("total_cents"),
        F.max("cents").cast("long").alias("top_cents"),
        F.sum(F.col("cents").cast("double") * F.col("cents")).alias("sq"),
    )
    hhi = F.col("sq") / (
        F.col("total_cents").cast("double") * F.col("total_cents")
    )
    return g.select(
        "n_name",
        "n_suppliers",
        "total_cents",
        rz6(hhi).alias("hhi"),
        rz6(
            F.col("top_cents").cast("double") / F.col("total_cents")
        ).alias("top_supplier_share"),
        (hhi > 0.25).alias("concentrated"),
    ).orderBy("n_name")


@query(
    "agg_theil_index",
    oracle="""
    WITH cr AS (
      SELECT o_custkey, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
      FROM orders GROUP BY o_custkey),
    cn AS MATERIALIZED (
      SELECT cr.x, n.n_name
      FROM cr JOIN customer c ON cr.o_custkey = c.c_custkey
              JOIN nation n ON c.c_nationkey = n.n_nationkey),
    g AS MATERIALIZED (
      SELECT n_name, CAST(count(*) AS BIGINT) AS n_g,
             CAST(sum(x) AS BIGINT) AS t_g
      FROM cn GROUP BY n_name),
    tot AS MATERIALIZED (
      SELECT CAST(sum(n_g) AS BIGINT) AS n, CAST(sum(t_g) AS BIGINT) AS t
      FROM g),
    terms AS (
      SELECT cn.n_name,
             CAST(round(((CAST(cn.x AS DOUBLE) * g.n_g) / g.t_g)
                  * ln((CAST(cn.x AS DOUBLE) * g.n_g) / g.t_g) * 1e9)
                  AS BIGINT) AS w_nano
      FROM cn JOIN g USING (n_name)),
    wg AS (SELECT n_name, sum(w_nano) AS units FROM terms GROUP BY n_name)
    SELECT g.n_name AS nation, g.n_g AS n_cust,
           (round(CAST(g.t_g AS DOUBLE) / tot.t + 1e-9, 6) + 0.0) AS rev_share,
           (round(CAST(wg.units AS DOUBLE) / 1e9 / g.n_g + 1e-9, 6) + 0.0)
             AS theil_within,
           (round((CAST(g.t_g AS DOUBLE) / tot.t)
                  * ln((CAST(g.t_g AS DOUBLE) * tot.n)
                       / (CAST(tot.t AS DOUBLE) * g.n_g)) + 1e-9, 6) + 0.0)
             AS between_term
    FROM g JOIN wg USING (n_name), tot ORDER BY nation
    """,
)
def agg_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-T inequality decomposition of customer revenue by nation:
    per nation its revenue share, its WITHIN-group Theil index
    (1/n_g · Σ (x/μ_g)·ln(x/μ_g) over its customers), and its
    BETWEEN-group term (s_g · ln(μ_g/μ)) — total inequality re-assembles
    as Σ s_g·within_g + Σ between_g, which is what makes Theil (unlike
    Gini) the decomposable inequality measure: it answers "is revenue
    concentration a within-market or an across-market phenomenon?",
    the complement to join_supplier_hhi_by_nation's supplier-side HHI.

    Scale shape: one custkey groupBy over orders (partial-aggregated),
    a key-aligned join to customer, a broadcast nation join; the 25-row
    group-stats frame broadcasts back onto the customer rows, so the
    per-row ratio terms are a map — no second wide shuffle. Cross-engine:
    revenue accumulates in exact integer cents; each x·ln(x)-style term
    is rounded to 1e-9 integer units BEFORE its sum (the
    events_session_entropy convention) and the per-nation fold runs in
    DECIMAL/HUGEINT (an int64 nano-unit sum wraps around 1e9 rows);
    every float output divides exact integers once."""
    o = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cr = o.groupBy("o_custkey").agg(
        F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")).cast("long").alias("x")
    )
    cn = pin(
        cr.join(cust, cr.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("x", "n_name")
    )
    g = pin(
        cn.groupBy("n_name").agg(
            F.count(F.lit(1)).cast("long").alias("n_g"),
            F.sum("x").cast("long").alias("t_g"),
        )
    )
    tot = g.agg(
        F.sum("n_g").cast("long").alias("n"), F.sum("t_g").cast("long").alias("t")
    )
    r = (F.col("x").cast("double") * F.col("n_g")) / F.col("t_g")
    terms = cn.join(F.broadcast(g), "n_name").select(
        "n_name",
        F.round(r * F.log(r) * F.lit(1e9)).cast("long").alias("w_nano"),
    )
    wg = terms.groupBy("n_name").agg(
        F.sum(F.col("w_nano").cast("decimal(19,0)")).alias("units")
    )
    mu_ratio = (F.col("t_g").cast("double") * F.col("n")) / (
        F.col("t").cast("double") * F.col("n_g")
    )
    return (
        g.join(wg, "n_name")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("n_name").alias("nation"),
            F.col("n_g").alias("n_cust"),
            rz6(F.col("t_g").cast("double") / F.col("t")).alias("rev_share"),
            rz6(F.col("units").cast("double") / F.lit(1e9) / F.col("n_g")).alias(
                "theil_within"
            ),
            rz6((F.col("t_g").cast("double") / F.col("t")) * F.log(mu_ratio)).alias(
                "between_term"
            ),
        )
        .orderBy("nation")
    )


@query(
    "agg_percentile_bands_by_nation",
    oracle="""
    WITH cr AS (
      SELECT c.c_nationkey,
             CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
               AS rev
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY o.o_custkey, c.c_nationkey),
    b AS (
      SELECT n.n_name AS nation,
             CAST(count(*) AS BIGINT) AS n_cust,
             quantile_cont(rev, 0.10) AS p10,
             quantile_cont(rev, 0.50) AS p50,
             quantile_cont(rev, 0.90) AS p90
      FROM cr JOIN nation n ON cr.c_nationkey = n.n_nationkey
      GROUP BY n.n_name)
    SELECT nation, n_cust,
           (round(p10 + 1e-8, 2) + 0.0) AS p10,
           (round(p50 + 1e-8, 2) + 0.0) AS p50,
           (round(p90 + 1e-8, 2) + 0.0) AS p90,
           (round((p90 - p10) / p50 + 1e-9, 6) + 0.0) AS band_spread
    FROM b ORDER BY nation
    """,
)
def agg_percentile_bands_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p10/p50/p90 customer-revenue bands per nation plus the
    normalized inter-decile spread — the per-market "typical customer"
    envelope a pricing or sampling pass consults (and the grouped twin
    of agg_percentiles): median says where the mass sits, the band says
    how stretched it is, and cross-nation comparison of band_spread
    flags markets whose revenue distribution shape differs, not just
    its level.

    Scale shape: revenue folds to customer grain (one partial-agg
    groupBy + key-aligned dim join), then
    operators/relational.py:exact_percentiles computes interpolated
    type-7 quantiles over DISTINCT VALUES + multiplicities — one
    map-combinable shuffle and a per-(nation) cumulative window over
    value-grain rows, never Spark's buffer-every-value percentile
    aggregate; the bucketed strategy swaps in when distinct values per
    group reach 1e8 (the 100 TB regime). Revenue is folded in exact
    integer cents and divided once, so both engines interpolate over
    IDENTICAL doubles."""
    from sec_dl_spark.operators.relational import exact_percentiles

    o = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cr = (
        o.groupBy("o_custkey")
        .agg(F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")).alias("cents"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_nationkey", (F.col("cents").cast("double") / 100.0).alias("rev")
        )
    )
    bands = exact_percentiles(
        cr, "c_nationkey", {"rev": [(0.10, "p10"), (0.50, "p50"), (0.90, "p90")]}
    )
    n_cust = cr.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_cust")
    )
    return (
        bands.join(n_cust, "c_nationkey")
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            "n_cust",
            (F.round(F.col("p10") + 1e-8, 2) + F.lit(0.0)).alias("p10"),
            (F.round(F.col("p50") + 1e-8, 2) + F.lit(0.0)).alias("p50"),
            (F.round(F.col("p90") + 1e-8, 2) + F.lit(0.0)).alias("p90"),
            rz6((F.col("p90") - F.col("p10")) / F.col("p50")).alias("band_spread"),
        )
        .orderBy("nation")
    )


@query(
    "join_order_backlog_monthly",
    oracle="""
    WITH op AS MATERIALIZED (
      SELECT o_orderkey,
             date_trunc('month', CAST(o_orderdate AS DATE)) AS open_m
      FROM orders),
    cl AS MATERIALIZED (
      SELECT op.open_m,
             date_trunc('month', CAST(max(l.l_shipdate) AS DATE)) AS close_m
      FROM op LEFT JOIN lineitem l ON op.o_orderkey = l.l_orderkey
      GROUP BY op.o_orderkey, op.open_m),
    span AS (SELECT min(open_m) AS lo, max(open_m) AS hi FROM cl),
    spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 MONTH))::DATE AS month
      FROM span),
    opened AS (SELECT open_m AS month, CAST(count(*) AS BIGINT) AS n_opened
               FROM cl GROUP BY open_m),
    closed AS (SELECT close_m AS month, CAST(count(*) AS BIGINT) AS n_closed
               FROM cl WHERE close_m IS NOT NULL GROUP BY close_m)
    SELECT s.month,
           CAST(coalesce(o.n_opened, 0) AS BIGINT) AS n_opened,
           CAST(coalesce(c.n_closed, 0) AS BIGINT) AS n_closed,
           CAST(sum(coalesce(o.n_opened, 0) - coalesce(c.n_closed, 0))
                OVER (ORDER BY s.month) AS BIGINT) AS backlog
    FROM spine s LEFT JOIN opened o ON s.month = o.month
                 LEFT JOIN closed c ON s.month = c.month
    ORDER BY s.month
    """,
)
def join_order_backlog_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog by month: each order OPENS at its order month
    and CLOSES at the month of its last shipped line (orders with no
    lines stay open), and the backlog is the running balance of opens
    minus closes over the densified month spine — the interval-sweep
    census behind WIP/fulfillment dashboards ("how much in-flight work
    does each period carry"), the order-lifecycle twin of
    events_concurrent_sessions' sweep.

    Scale shape: close months come from ONE order-keyed fold over the
    fact join (never an interval × calendar explode — an order open for
    30 months would cost 30 rows in the naive layout); opens/closes
    collapse to month grain before the spine join, and the running
    balance is a window over the ~month-count frame only. Counts are
    exact integers end to end."""
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    month = lambda c: F.date_trunc("month", F.col(c).cast("date")).cast("date")  # noqa: E731
    cl = (
        o.select("o_orderkey", month("o_orderdate").alias("open_m"))
        .join(li, F.col("o_orderkey") == li.l_orderkey, "left")
        .groupBy("o_orderkey", "open_m")
        .agg(
            F.date_trunc("month", F.max("l_shipdate").cast("date"))
            .cast("date")
            .alias("close_m")
        )
    )
    span = cl.agg(F.min("open_m").alias("lo"), F.max("open_m").alias("hi"))
    spine = span.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 month)")).alias("month")
    )
    opened = cl.groupBy(F.col("open_m").alias("month")).agg(
        F.count(F.lit(1)).cast("long").alias("n_opened")
    )
    closed = (
        cl.where(F.col("close_m").isNotNull())
        .groupBy(F.col("close_m").alias("month"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_closed"))
    )
    w = Window.orderBy("month").rowsBetween(Window.unboundedPreceding, 0)
    return (
        spine.join(opened, "month", "left")
        .join(closed, "month", "left")
        .select(
            "month",
            F.coalesce("n_opened", F.lit(0)).cast("long").alias("n_opened"),
            F.coalesce("n_closed", F.lit(0)).cast("long").alias("n_closed"),
        )
        .withColumn(
            "backlog",
            F.sum(F.col("n_opened") - F.col("n_closed")).over(w).cast("long"),
        )
        .orderBy("month")
    )


@query(
    "dq_spearman_correlation",
    oracle="""
    WITH c AS (
      SELECT CAST(round(l_quantity * 100) AS BIGINT) AS q,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS p,
             CAST(round(l_discount * 10000) AS BIGINT) AS d,
             CAST(round(l_tax * 10000) AS BIGINT) AS t
      FROM lineitem),
    jg AS MATERIALIZED (
      SELECT q, d, t, count(*) AS cnt FROM c GROUP BY q, d, t),
    m AS (
      SELECT 0 AS cid, q AS val, CAST(sum(cnt) AS BIGINT) AS cnt
      FROM jg GROUP BY q
      UNION ALL
      SELECT 1, d, CAST(sum(cnt) AS BIGINT) FROM jg GROUP BY d
      UNION ALL
      SELECT 2, t, CAST(sum(cnt) AS BIGINT) FROM jg GROUP BY t),
    r3 AS MATERIALIZED (
      SELECT cid, val,
             2 * coalesce(sum(cnt) OVER (PARTITION BY cid ORDER BY val
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + cnt + 1 AS dr
      FROM m),
    j2 AS (
      SELECT jg.cnt, rq.dr AS xq, rd.dr AS xd, rt.dr AS xt
      FROM jg
      JOIN r3 rq ON rq.cid = 0 AND jg.q = rq.val
      JOIN r3 rd ON rd.cid = 1 AND jg.d = rd.val
      JOIN r3 rt ON rt.cid = 2 AND jg.t = rt.val),
    mo1 AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS n,
             sum(CAST(xq AS DOUBLE) * cnt) AS sq,
             sum(CAST(xq AS DOUBLE) * xq * cnt) AS sqq,
             sum(CAST(xd AS DOUBLE) * cnt) AS sd,
             sum(CAST(xd AS DOUBLE) * xd * cnt) AS sdd,
             sum(CAST(xt AS DOUBLE) * cnt) AS st,
             sum(CAST(xt AS DOUBLE) * xt * cnt) AS stt,
             sum(CAST(xq AS DOUBLE) * xd * cnt) AS sqd,
             sum(CAST(xq AS DOUBLE) * xt * cnt) AS sqt,
             sum(CAST(xd AS DOUBLE) * xt * cnt) AS sdt
      FROM j2),
    gp AS (
      SELECT c.p, count(*) AS cnt,
             sum(rq.dr) AS gq, sum(rd.dr) AS gd, sum(rt.dr) AS gt
      FROM c
      JOIN r3 rq ON rq.cid = 0 AND c.q = rq.val
      JOIN r3 rd ON rd.cid = 1 AND c.d = rd.val
      JOIN r3 rt ON rt.cid = 2 AND c.t = rt.val
      GROUP BY c.p),
    rp AS MATERIALIZED (
      SELECT cnt, gq, gd, gt,
             2 * coalesce(sum(cnt) OVER (ORDER BY p
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + cnt + 1 AS xp
      FROM gp),
    mo2 AS (
      SELECT sum(CAST(xp AS DOUBLE) * cnt) AS sp,
             sum(CAST(xp AS DOUBLE) * xp * cnt) AS spp,
             sum(CAST(xp AS DOUBLE) * gq) AS sqp,
             sum(CAST(xp AS DOUBLE) * gd) AS spd,
             sum(CAST(xp AS DOUBLE) * gt) AS spt
      FROM rp),
    mo AS (SELECT * FROM mo1, mo2)
    SELECT col_a, col_b,
           (round((n * sxy - sx * sy)
                  / nullif(sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 0.0)
                  + 1e-9, 6) + 0.0) AS spearman_r
    FROM (
      SELECT 'l_discount' AS col_a, 'l_extendedprice' AS col_b,
             n, spd AS sxy, sd AS sx, sp AS sy, sdd AS sxx, spp AS syy FROM mo
      UNION ALL SELECT 'l_discount', 'l_quantity',
             n, sqd, sd, sq, sdd, sqq FROM mo
      UNION ALL SELECT 'l_discount', 'l_tax',
             n, sdt, sd, st, sdd, stt FROM mo
      UNION ALL SELECT 'l_extendedprice', 'l_quantity',
             n, sqp, sp, sq, spp, sqq FROM mo
      UNION ALL SELECT 'l_extendedprice', 'l_tax',
             n, spt, sp, st, spp, stt FROM mo
      UNION ALL SELECT 'l_quantity', 'l_tax',
             n, sqt, sq, st, sqq, stt FROM mo)
    ORDER BY col_a, col_b
    """,
)
def dq_spearman_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation over the four numeric lineitem measures —
    the rank-based twin of dq_numeric_correlation_matrix: Pearson on the
    columns answers "is the relationship LINEAR"; Spearman on their
    midranks answers "is it MONOTONE", robust to the whale rows and
    heavy tails that fake or mask a Pearson r (a profiler reads the
    PAIR: Pearson low + Spearman high = nonlinear-but-monotone,
    Pearson high + Spearman low = a few outliers own the fit).

    Exactness discipline (the mannwhitney midrank machinery, column-
    wise): per column, values collapse to the VALUE GRAIN first, the
    tie-averaged midrank comes from the exclusive prefix count —
    doubled, so 2*cless + cnt + 1 is an exact INTEGER — and Spearman-
    with-ties is exactly Pearson on the (doubled) midranks (affine
    invariance eats the 2x).

    Moment algebra (the r15 rework — VERDICT r14 ask #4, second cut
    after profiling showed per-call global-machinery overhead, not the
    rank join, owned the time): the three LOW-CARDINALITY columns
    (quantity 50 distinct cents values, discount 11, tax 9) reduce to
    ONE joint grain (q,d,t,cnt — ≤ 50·11·9 rows, map-side combined),
    which carries their marginals, all their midranks (one cumulative
    window over the 3-way UNION of marginal grains, partitioned by
    column id — value-space-bounded partitions, never row-sized), and
    every moment not involving p as tiny broadcast-joined folds
    (Σ cnt·xq·xd over ≤5k grain rows replaces the N-row scan). The
    near-row-cardinality l_extendedprice keeps the distributed-exact
    path: ONE N-row group-by-p (carrying Σxq/Σxd/Σxt per p-value as
    exact order-free BIGINTs), p's midrank off global_cumsum over that
    grain (range exchange, never a single-partition window), and a
    grain-sized fold for the five p-moments. Row-sized work is now two
    scans + one exchange (joint-grain combine, group-by-p) — the old
    formulation's four grain passes, four global prefix machines, the
    N×N rank hash join, and the N-row wide moment scan are gone
    (driver median 4.75 s → ~2.4 s at sf0.1).

    Cross-engine float discipline: quadratic/cross moments accumulate
    in DOUBLE in both engines (int64 silent-wrap class — xp²·cnt wraps
    past sf≈1); every term is integer-valued, inner group sums are
    exact BIGINTs, and both engines share the identical regrouped
    algebra, so residual divergence stays at accumulation-ulp scale,
    absorbed by the round(+1e-9, 6) convention."""
    from sec_dl_spark.operators.relational import global_cumsum

    c = t(spark, sf_dir, "lineitem").select(
        F.expr("CAST(round(l_quantity * 100) AS BIGINT)").alias("q"),
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("p"),
        F.expr("CAST(round(l_discount * 10000) AS BIGINT)").alias("d"),
        F.expr("CAST(round(l_tax * 10000) AS BIGINT)").alias("t"),
    )
    names = {
        "q": "l_quantity",
        "p": "l_extendedprice",
        "d": "l_discount",
        "t": "l_tax",
    }
    jg = pin(
        c.groupBy("q", "d", "t").agg(F.count(F.lit(1)).alias("cnt"))
    )
    m = (
        jg.groupBy(F.lit(0).alias("cid"), F.col("q").alias("val"))
        .agg(F.sum("cnt").cast("long").alias("cnt"))
        .unionByName(
            jg.groupBy(F.lit(1).alias("cid"), F.col("d").alias("val"))
            .agg(F.sum("cnt").cast("long").alias("cnt"))
        )
        .unionByName(
            jg.groupBy(F.lit(2).alias("cid"), F.col("t").alias("val"))
            .agg(F.sum("cnt").cast("long").alias("cnt"))
        )
    )
    # cumulative window per column id: partitions are value-space-bounded
    # (50/11/9 grain rows), never row-sized — the single-partition hazard
    # does not apply inside a bounded grain
    wm = (
        Window.partitionBy("cid")
        .orderBy("val")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    r3 = m.select(
        "cid",
        "val",
        (2 * F.coalesce(F.sum("cnt").over(wm), F.lit(0)) + F.col("cnt") + 1)
        .cast("long")
        .alias("dr"),
    )
    ranks = {
        a: F.broadcast(
            r3.where(F.col("cid") == i).select(
                F.col("val").alias(a), F.col("dr").alias(f"x{a}")
            )
        )
        for i, a in enumerate(("q", "d", "t"))
    }
    j2 = jg
    for a in ("q", "d", "t"):
        j2 = j2.join(ranks[a], a)
    mo1_aggs = [F.sum("cnt").cast("long").alias("n")]
    for a in ("q", "d", "t"):
        xa = F.col(f"x{a}").cast("double")
        mo1_aggs.append(F.sum(xa * F.col("cnt")).alias(f"s{a}"))
        mo1_aggs.append(F.sum(xa * F.col(f"x{a}") * F.col("cnt")).alias(f"s{a}{a}"))
    for a, b in (("q", "d"), ("q", "t"), ("d", "t")):
        mo1_aggs.append(
            F.sum(
                F.col(f"x{a}").cast("double") * F.col(f"x{b}") * F.col("cnt")
            ).alias(f"s{a}{b}")
        )
    mo1 = j2.agg(*mo1_aggs)
    c2 = c
    for a in ("q", "d", "t"):
        c2 = c2.join(ranks[a], a)
    gp = c2.groupBy("p").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("xq").alias("gq"),
        F.sum("xd").alias("gd"),
        F.sum("xt").alias("gt"),
    )
    rp = global_cumsum(gp, [F.asc("p")], "cnt", out_col="cum").select(
        "cnt",
        "gq",
        "gd",
        "gt",
        (2 * (F.col("cum") - F.col("cnt")) + F.col("cnt") + 1)
        .cast("long")
        .alias("xp"),
    )
    xp = F.col("xp").cast("double")
    mo2 = rp.agg(
        F.sum(xp * F.col("cnt")).alias("sp"),
        F.sum(xp * F.col("xp") * F.col("cnt")).alias("spp"),
        F.sum(xp * F.col("gq")).alias("sqp"),
        F.sum(xp * F.col("gd")).alias("spd"),
        F.sum(xp * F.col("gt")).alias("spt"),
    )
    mo = mo1.crossJoin(mo2)
    n = F.col("n")
    rows = []
    for a, b in (
        ("q", "p"),
        ("q", "d"),
        ("q", "t"),
        ("p", "d"),
        ("p", "t"),
        ("d", "t"),
    ):
        sxy = f"s{a}{b}" if a != "p" and b != "p" else (
            "sqp" if "q" in (a, b) else f"sp{b}" if a == "p" else f"sp{a}"
        )
        cov_n = n * F.col(sxy) - F.col(f"s{a}") * F.col(f"s{b}")
        var_a = n * F.col(f"s{a}{a}") - F.col(f"s{a}") * F.col(f"s{a}")
        var_b = n * F.col(f"s{b}{b}") - F.col(f"s{b}") * F.col(f"s{b}")
        ca, cb = sorted([names[a], names[b]])
        # keep the r expression oriented (a,b) — correlation is
        # symmetric, only the LABELS sort
        rows.append(
            F.struct(
                F.lit(ca).alias("col_a"),
                F.lit(cb).alias("col_b"),
                rz6(
                    cov_n / F.nullif(F.sqrt(var_a * var_b), F.lit(0.0))
                ).alias("spearman_r"),
            )
        )
    return (
        mo.select(F.explode(F.array(*rows)).alias("x"))
        .select("x.col_a", "x.col_b", "x.spearman_r")
        .orderBy("col_a", "col_b")
    )


@query(
    "dq_kendall_tau",
    oracle="""
    WITH c AS (
      SELECT CAST(round(l_quantity * 100) AS BIGINT) AS q,
             CAST(round(l_discount * 10000) AS BIGINT) AS d,
             CAST(round(l_tax * 10000) AS BIGINT) AS t
      FROM lineitem),
    jg AS MATERIALIZED (
      SELECT q, d, t, count(*) AS cnt FROM c GROUP BY q, d, t),
    pc AS MATERIALIZED (
      SELECT 0 AS pid, q AS va, d AS vb, CAST(sum(cnt) AS BIGINT) AS n
      FROM jg GROUP BY q, d
      UNION ALL
      SELECT 1, q, t, CAST(sum(cnt) AS BIGINT) FROM jg GROUP BY q, t
      UNION ALL
      SELECT 2, d, t, CAST(sum(cnt) AS BIGINT) FROM jg GROUP BY d, t),
    cd AS (
      SELECT a.pid,
             sum(CASE WHEN b.vb > a.vb
                 THEN CAST(a.n AS DOUBLE) * b.n ELSE 0.0 END) AS conc,
             sum(CASE WHEN b.vb < a.vb
                 THEN CAST(a.n AS DOUBLE) * b.n ELSE 0.0 END) AS disc
      FROM pc a JOIN pc b ON a.pid = b.pid AND a.va < b.va
      GROUP BY a.pid),
    ta AS (
      SELECT pid, sum(CAST(tn AS DOUBLE) * (tn - 1) / 2) AS n1
      FROM (SELECT pid, va, sum(n) AS tn FROM pc GROUP BY pid, va)
      GROUP BY pid),
    tb AS (
      SELECT pid, sum(CAST(tn AS DOUBLE) * (tn - 1) / 2) AS n2
      FROM (SELECT pid, vb, sum(n) AS tn FROM pc GROUP BY pid, vb)
      GROUP BY pid),
    tot AS (
      SELECT pid, CAST(sum(n) AS DOUBLE) * (sum(n) - 1) / 2 AS n0
      FROM pc GROUP BY pid)
    SELECT
      CASE pid WHEN 0 THEN 'l_discount'
               WHEN 1 THEN 'l_quantity' ELSE 'l_discount' END AS col_a,
      CASE pid WHEN 0 THEN 'l_quantity'
               WHEN 1 THEN 'l_tax' ELSE 'l_tax' END AS col_b,
      CAST(coalesce(conc, 0.0) AS BIGINT) AS concordant,
      CAST(coalesce(disc, 0.0) AS BIGINT) AS discordant,
      (round((coalesce(conc, 0.0) - coalesce(disc, 0.0))
             / nullif(sqrt((n0 - n1) * (n0 - n2)), 0.0)
             + 1e-9, 6) + 0.0) AS tau_b
    FROM tot
    JOIN ta USING (pid) JOIN tb USING (pid)
    LEFT JOIN cd USING (pid)
    ORDER BY col_a, col_b
    """,
)
def dq_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's tau-b over the three BOUNDED-GRAIN lineitem measures
    (quantity x discount, quantity x tax, discount x tax) — the third
    member of the correlation-profiler family: Pearson
    (dq_numeric_correlation_matrix) asks "linear?", Spearman
    (dq_spearman_correlation) asks "monotone?", and tau-b asks the
    PAIRWISE version of monotone — what fraction of row pairs order the
    same way in both columns — with an explicit tie correction, which
    matters here because these measures are massively tied (50/11/9
    distinct values; tau-a would be crushed toward 0 by tie mass).

    Exactness: everything folds from the joint value grain (q,d,t,cnt —
    <= 50*11*9 cells, one map-side-combined pass over lineitem; the
    dq_spearman_correlation grain trick). Per pair, concordant /
    discordant pair-counts come from a grain SELF-JOIN on strictly-
    ordered cell values (<= 550^2 cell pairs, broadcast — never a
    row-level O(N^2)), each term n_i*n_j an exact integer formed in
    DOUBLE (quadratic-moment class: BIGINT sums would wrap past ~4e9
    rows; DOUBLE terms are integer-exact below 2^53 and both engines
    share the identical grain-pair algebra). Tie terms t(t-1)/2 fold
    from the grain marginals the same way. tau_b =
    (C - D)/sqrt((n0-n1)(n0-n2)) with the engine-identical
    round(+1e-9, 6)+0.0 readout; a constant column makes the
    denominator 0 -> NULL identically via nullif (cross-engine
    divide-by-zero discipline).

    l_extendedprice is EXCLUDED by design: its value grain is
    ~row-cardinality, so exact tau needs an O(N log N) global inversion
    count (a merge-sort operator, not a grain fold) — documented
    boundary, same reasoning that keeps the Spearman p-column on the
    distributed global_cumsum path.

    Scale shape: one N-row scan with map-side combine to the bounded
    grain; every downstream stage is value-space-sized (cells and cell
    pairs), independent of row count."""
    c = t(spark, sf_dir, "lineitem").select(
        F.expr("CAST(round(l_quantity * 100) AS BIGINT)").alias("q"),
        F.expr("CAST(round(l_discount * 10000) AS BIGINT)").alias("d"),
        F.expr("CAST(round(l_tax * 10000) AS BIGINT)").alias("t"),
    )
    jg = pin(c.groupBy("q", "d", "t").agg(F.count(F.lit(1)).alias("cnt")))
    pc = (
        jg.groupBy(F.lit(0).alias("pid"), F.col("q").alias("va"), F.col("d").alias("vb"))
        .agg(F.sum("cnt").cast("long").alias("n"))
        .unionByName(
            jg.groupBy(F.lit(1).alias("pid"), F.col("q").alias("va"), F.col("t").alias("vb"))
            .agg(F.sum("cnt").cast("long").alias("n"))
        )
        .unionByName(
            jg.groupBy(F.lit(2).alias("pid"), F.col("d").alias("va"), F.col("t").alias("vb"))
            .agg(F.sum("cnt").cast("long").alias("n"))
        )
    )
    pc = pin(pc)
    a = pc.alias("a")
    b = pc.alias("b")
    nd = F.col("a.n").cast("double") * F.col("b.n")
    cd = (
        a.join(
            F.broadcast(b),
            (F.col("a.pid") == F.col("b.pid")) & (F.col("a.va") < F.col("b.va")),
        )
        .groupBy(F.col("a.pid").alias("pid"))
        .agg(
            F.sum(F.when(F.col("b.vb") > F.col("a.vb"), nd).otherwise(0.0)).alias("conc"),
            F.sum(F.when(F.col("b.vb") < F.col("a.vb"), nd).otherwise(0.0)).alias("disc"),
        )
    )
    tn = F.col("tn").cast("double")
    ta = (
        pc.groupBy("pid", "va").agg(F.sum("n").alias("tn"))
        .groupBy("pid").agg(F.sum(tn * (F.col("tn") - 1) / 2).alias("n1"))
    )
    tb = (
        pc.groupBy("pid", "vb").agg(F.sum("n").alias("tn"))
        .groupBy("pid").agg(F.sum(tn * (F.col("tn") - 1) / 2).alias("n2"))
    )
    tot = pc.groupBy("pid").agg(
        (F.sum("n").cast("double") * (F.sum("n") - 1) / 2).alias("n0")
    )
    conc = F.coalesce(F.col("conc"), F.lit(0.0))
    disc = F.coalesce(F.col("disc"), F.lit(0.0))
    col_a = (
        F.when(F.col("pid") == 0, "l_discount")
        .when(F.col("pid") == 1, "l_quantity")
        .otherwise("l_discount")
    )
    col_b = (
        F.when(F.col("pid") == 0, "l_quantity")
        .when(F.col("pid") == 1, "l_tax")
        .otherwise("l_tax")
    )
    return (
        tot.join(F.broadcast(ta), "pid")
        .join(F.broadcast(tb), "pid")
        .join(F.broadcast(cd), "pid", "left")
        .select(
            col_a.alias("col_a"),
            col_b.alias("col_b"),
            conc.cast("long").alias("concordant"),
            disc.cast("long").alias("discordant"),
            rz6(
                (conc - disc)
                / F.nullif(
                    F.sqrt((F.col("n0") - F.col("n1")) * (F.col("n0") - F.col("n2"))),
                    F.lit(0.0),
                )
            ).alias("tau_b"),
        )
        .orderBy("col_a", "col_b")
    )


@query(
    "dq_kendall_tau_price",
    oracle="""
    WITH c AS (
      SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS p,
             CAST(round(l_quantity * 100) AS BIGINT) AS q,
             CAST(round(l_discount * 10000) AS BIGINT) AS d,
             CAST(round(l_tax * 10000) AS BIGINT) AS t
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
        AND l_discount IS NOT NULL AND l_tax IS NOT NULL),
    pg AS MATERIALIZED (SELECT DISTINCT p FROM c),
    xq AS (SELECT DISTINCT q AS v FROM c),
    xd AS (SELECT DISTINCT d AS v FROM c),
    xt AS (SELECT DISTINCT t AS v FROM c),
    cellq AS (SELECT p, q AS v, count(*) AS cnt FROM c GROUP BY p, q),
    celld AS (SELECT p, d AS v, count(*) AS cnt FROM c GROUP BY p, d),
    cellt AS (SELECT p, t AS v, count(*) AS cnt FROM c GROUP BY p, t),
    filq AS (SELECT l.p, l.v, coalesce(cnt, 0) AS cnt
             FROM (SELECT pg.p, xq.v FROM pg CROSS JOIN xq) l
             LEFT JOIN cellq ON l.p = cellq.p AND l.v = cellq.v),
    fild AS (SELECT l.p, l.v, coalesce(cnt, 0) AS cnt
             FROM (SELECT pg.p, xd.v FROM pg CROSS JOIN xd) l
             LEFT JOIN celld ON l.p = celld.p AND l.v = celld.v),
    filt AS (SELECT l.p, l.v, coalesce(cnt, 0) AS cnt
             FROM (SELECT pg.p, xt.v FROM pg CROSS JOIN xt) l
             LEFT JOIN cellt ON l.p = cellt.p AND l.v = cellt.v),
    sfxq AS (SELECT p, v, cnt,
             sum(cnt) OVER (PARTITION BY v) -
             sum(cnt) OVER (PARTITION BY v ORDER BY p) AS suf FROM filq),
    sfxd AS (SELECT p, v, cnt,
             sum(cnt) OVER (PARTITION BY v) -
             sum(cnt) OVER (PARTITION BY v ORDER BY p) AS suf FROM fild),
    sfxt AS (SELECT p, v, cnt,
             sum(cnt) OVER (PARTITION BY v) -
             sum(cnt) OVER (PARTITION BY v ORDER BY p) AS suf FROM filt),
    gq AS (SELECT p, cnt,
           coalesce(sum(suf) OVER (PARTITION BY p ORDER BY v DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS suf_gt,
           coalesce(sum(suf) OVER (PARTITION BY p ORDER BY v ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS suf_lt
           FROM sfxq),
    gd AS (SELECT p, cnt,
           coalesce(sum(suf) OVER (PARTITION BY p ORDER BY v DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS suf_gt,
           coalesce(sum(suf) OVER (PARTITION BY p ORDER BY v ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS suf_lt
           FROM sfxd),
    gt AS (SELECT p, cnt,
           coalesce(sum(suf) OVER (PARTITION BY p ORDER BY v DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS suf_gt,
           coalesce(sum(suf) OVER (PARTITION BY p ORDER BY v ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS suf_lt
           FROM sfxt),
    cdq AS (SELECT coalesce(sum(CAST(cnt AS DOUBLE) * suf_gt), 0.0) AS conc,
                   coalesce(sum(CAST(cnt AS DOUBLE) * suf_lt), 0.0) AS disc
            FROM gq WHERE cnt > 0),
    cdd AS (SELECT coalesce(sum(CAST(cnt AS DOUBLE) * suf_gt), 0.0) AS conc,
                   coalesce(sum(CAST(cnt AS DOUBLE) * suf_lt), 0.0) AS disc
            FROM gd WHERE cnt > 0),
    cdt AS (SELECT coalesce(sum(CAST(cnt AS DOUBLE) * suf_gt), 0.0) AS conc,
                   coalesce(sum(CAST(cnt AS DOUBLE) * suf_lt), 0.0) AS disc
            FROM gt WHERE cnt > 0),
    n1p AS (SELECT sum(CAST(cnt AS DOUBLE) * (cnt - 1) / 2) AS n1
            FROM (SELECT count(*) AS cnt FROM c GROUP BY p)),
    n2q AS (SELECT sum(CAST(cnt AS DOUBLE) * (cnt - 1) / 2) AS n2
            FROM (SELECT count(*) AS cnt FROM c GROUP BY q)),
    n2d AS (SELECT sum(CAST(cnt AS DOUBLE) * (cnt - 1) / 2) AS n2
            FROM (SELECT count(*) AS cnt FROM c GROUP BY d)),
    n2t AS (SELECT sum(CAST(cnt AS DOUBLE) * (cnt - 1) / 2) AS n2
            FROM (SELECT count(*) AS cnt FROM c GROUP BY t)),
    tot AS (SELECT count(*) AS n,
                   CAST(count(*) AS DOUBLE) * (count(*) - 1) / 2 AS n0
            FROM c)
    SELECT col_a, col_b,
           CAST(conc AS BIGINT) AS concordant,
           CAST(disc AS BIGINT) AS discordant,
           (round((conc - disc)
                  / nullif(sqrt((n0 - n1) * (n0 - n2)), 0.0)
                  + 1e-9, 6) + 0.0) AS tau_b
    FROM (
      SELECT 'l_extendedprice' AS col_a, 'l_quantity' AS col_b,
             conc, disc, n0, n1, n2, n
      FROM cdq, n1p, n2q, tot
      UNION ALL
      SELECT 'l_discount', 'l_extendedprice', conc, disc, n0, n1, n2, n
      FROM cdd, n1p, n2d, tot
      UNION ALL
      SELECT 'l_extendedprice', 'l_tax', conc, disc, n0, n1, n2, n
      FROM cdt, n1p, n2t, tot)
    WHERE n >= 2
    ORDER BY col_a, col_b
    """,
)
def dq_kendall_tau_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's tau-b for the three l_extendedprice pairs — closing the
    boundary dq_kendall_tau documents: price's value grain is
    ~row-cardinality, so its concordance counts cannot come from a
    bounded cell-pair self-join. The distributed-exact identity: fixing
    the bounded column x (quantity 50 / discount 11 / tax 9 distinct
    values), conc = Σ over price groups g, slots i of
    cnt_g[i] · (# rows with p' > p_g AND x in a greater slot) — a
    dominance count off ONE global sort by price.

    Physical shape (third cut — the first two are recorded losses: an
    unrolled O(k²) column fold compiled a 4 MiB task binary and ran
    25.8 s at sf0.1; a 71-column grain + multi-column window prefix ran
    ~9 s, dominated by materializing and windowing the wide frame):
    rows range-exchange + sort by price ONCE (4 narrow long columns,
    explicit-N partitions — AQE sizes by bytes and would serialize the
    compute), equal prices land in one partition by range-partitioner
    contract, and an Arrow kernel does everything per partition in
    numpy: p-group boundaries via np.unique on the sorted key, the
    group × slot count matrix via np.add.at, the global inclusive
    cumsum via per-partition offset vectors (a tiny exploded
    (pid, col, value)-count job collected driver-side — bounded by
    partitions × slots, the zonemap bounds convention), suffix mass =
    totals − cumulative, and the greater/lesser-slot rollups as
    reversed-axis cumsums. Pairs tied in price never pair (strictly-
    greater suffix); pairs tied only in x count for neither — textbook
    tau-b.

    Exactness: every intermediate is an integer (one-hot counts,
    cumulative counts, suffix masses); conc/disc partials accumulate in
    float64 — integer-exact below 2^53, and the DuckDB oracle is the
    value-agnostic lattice+window formulation of the identical term
    set. Ties terms t(t−1)/2 in DOUBLE both engines off the same
    marginals; nullif divide-by-zero symmetry; n < 2 emits zero rows
    identically. The final tau arithmetic runs IN-PLAN off the partials
    and the totals frame so both engines share one float expression
    shape.

    Scale: one range exchange of 4 long columns + one Arrow pass; per-
    task memory is rows_per_partition × max_slots one-hot floats
    (bounded by the partition sizing confs, ~tens of MB), slot width is
    value-space-bounded (≤1024 guard on the slot-discovery collect)."""
    import numpy as np
    import pandas as pd

    from sec_dl_spark.session import spread

    # complete-case filter, identical in BOTH engines: a NULL price row
    # would otherwise sit at opposite ends of the two engines' prefix
    # orders (Spark sorts NULLS FIRST, DuckDB windows NULLS LAST) — the
    # nullable-ordered-grain class closed this round
    c = spread(
        t(spark, sf_dir, "lineitem")
        .where(
            F.col("l_extendedprice").isNotNull()
            & F.col("l_quantity").isNotNull()
            & F.col("l_discount").isNotNull()
            & F.col("l_tax").isNotNull()
        )
        .select(
            F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("p"),
            F.expr("CAST(round(l_quantity * 100) AS BIGINT)").alias("q"),
            F.expr("CAST(round(l_discount * 10000) AS BIGINT)").alias("d"),
            F.expr("CAST(round(l_tax * 10000) AS BIGINT)").alias("t"),
        )
    )
    out_schema = (
        "col_a string, col_b string, concordant long, discordant long, "
        "tau_b double"
    )
    n_parts = spark.sparkContext.defaultParallelism
    # ONE pin: c feeds nothing but this frame, so pinning it separately
    # was a second full materialization competing for executor storage —
    # r16 bench forensics measured the query ~2x slower when it ran
    # right after a full suite pass (storage crowded by the fts/tok/
    # serving caches) and the redundant pin was the amplifier. The
    # branch-consistency argument needs only THIS pinned frame: pv and
    # the dominance kernel both read `ranged`.
    ranged = pin(
        c.repartitionByRange(n_parts, F.asc("p"))
        .sortWithinPartitions(F.asc("p"))
        .withColumn("_pid", F.spark_partition_id())
    )
    # ONE tiny job: per-partition, per-column, per-value counts. Feeds the
    # slot lists (≤1024 guard), the per-partition offset vectors, the
    # column totals/tie terms, and n — bounded by partitions × slots.
    pv = (
        ranged.select(
            "_pid",
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(a).alias("a"), F.col(a).alias("v"))
                        for a in ("q", "d", "t")
                    ]
                )
            ).alias("x"),
        )
        .groupBy("_pid", "x.a", "x.v")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    vals: dict[str, list[int]] = {a: [] for a in ("q", "d", "t")}
    seen: dict[str, set] = {a: set() for a in ("q", "d", "t")}
    for r in pv:
        if r["v"] is not None and r["v"] not in seen[r["a"]]:
            seen[r["a"]].add(r["v"])
            vals[r["a"]].append(r["v"])
    for a in ("q", "d", "t"):
        vals[a].sort()
        if len(vals[a]) > 1024:
            raise ValueError(
                f"dq_kendall_tau_price: column {a} has {len(vals[a])} "
                "distinct values — the slot-vector kernel is for value-"
                "space-bounded columns (<=1024); use an inversion-count "
                "operator for high-cardinality pairs"
            )
    if not any(vals.values()):
        return spark.createDataFrame([], out_schema)
    idx = {a: {v: i for i, v in enumerate(vals[a])} for a in ("q", "d", "t")}
    pids = sorted({r["_pid"] for r in pv})
    per_pid = {
        pid: {a: np.zeros(len(vals[a]), dtype=np.int64) for a in ("q", "d", "t")}
        for pid in pids
    }
    for r in pv:
        if r["v"] is not None:
            per_pid[r["_pid"]][r["a"]][idx[r["a"]][r["v"]]] += int(r["cnt"])
    tots = {
        a: sum(
            (per_pid[pid][a] for pid in pids),
            np.zeros(len(vals[a]), dtype=np.int64),
        )
        for a in ("q", "d", "t")
    }
    # exclusive offsets: slot mass in partitions strictly before pid
    # (range partitions are price-ordered by construction)
    offsets = {}
    run = {a: np.zeros(len(vals[a]), dtype=np.int64) for a in ("q", "d", "t")}
    for pid in pids:
        offsets[pid] = {a: run[a].copy() for a in ("q", "d", "t")}
        for a in ("q", "d", "t"):
            run[a] = run[a] + per_pid[pid][a]
    # post-filter every row carries all three x values, so any non-empty
    # marginal sums to the row count
    n_total = int(
        tots["q"].sum() if len(vals["q"]) else
        tots["d"].sum() if len(vals["d"]) else tots["t"].sum()
    )

    out_fields = [f"{k}_{a}" for a in ("q", "d", "t") for k in ("conc", "disc")]
    part_schema = ", ".join(f"{f} double" for f in out_fields) + ", n1 double"
    bc_off = spark.sparkContext.broadcast(
        {pid: {a: off[a] for a in ("q", "d", "t")} for pid, off in offsets.items()}
    )
    bc_tot = spark.sparkContext.broadcast(tots)
    vals_bc = spark.sparkContext.broadcast(vals)
    idx_bc = spark.sparkContext.broadcast(idx)

    def fold_partials(batches):
        chunks = [b for b in batches if len(b)]
        acc = {f: 0.0 for f in out_fields}
        n1 = 0.0
        if chunks:
            df = pd.concat(chunks, ignore_index=True)
            pid = int(df["_pid"].iloc[0])
            pvals = df["p"].to_numpy()
            # The p-group derivation below (np.unique + np.repeat) is
            # only correct when rows arrive sorted by p. That order is
            # the sortWithinPartitions contract of the pinned frame,
            # but a contract violation (projection reorder, a future
            # Spark change perturbing scan order) would corrupt the
            # concordance counts SILENTLY — fail loudly instead
            # (ADVICE r15). O(n) compare, negligible next to the
            # dominance cumsums.
            if len(pvals) > 1 and not (np.diff(pvals) >= 0).all():
                raise ValueError(
                    "dq_kendall_tau_price: partition rows are not "
                    "price-sorted — the pinned sortWithinPartitions "
                    "order contract was violated; refusing to fold"
                )
            # sorted within partition (asserted above); p-groups =
            # maximal runs of equal price
            _, starts, gcnt = np.unique(
                pvals, return_index=True, return_counts=True
            )
            n_groups = len(starts)
            gidx = np.repeat(np.arange(n_groups), gcnt)
            n1 = float((gcnt.astype(np.float64) * (gcnt - 1) / 2).sum())
            for a in ("q", "d", "t"):
                k = len(vals_bc.value[a])
                if not k:
                    continue
                xi = (
                    pd.Series(df[a])
                    .map(idx_bc.value[a])
                    .to_numpy(dtype=np.int64)
                )
                G = np.zeros((n_groups, k), dtype=np.float64)
                np.add.at(G, (gidx, xi), 1.0)
                cum = G.cumsum(axis=0) + bc_off.value[pid][a][None, :].astype(
                    np.float64
                )
                suf = bc_tot.value[a][None, :].astype(np.float64) - cum
                sgt = suf[:, ::-1].cumsum(axis=1)[:, ::-1] - suf
                slt = suf.cumsum(axis=1) - suf
                acc[f"conc_{a}"] += float((G * sgt).sum())
                acc[f"disc_{a}"] += float((G * slt).sum())
        row = dict(acc)
        row["n1"] = n1
        yield pd.DataFrame([row], columns=out_fields + ["n1"])

    partials = ranged.select("_pid", "p", "q", "d", "t").mapInPandas(
        fold_partials, part_schema
    )
    # totals frame: n / ties as exact driver-side ints -> IN-PLAN float
    # expressions identical to the oracle's (python floats never touch tau)
    tf = F.broadcast(
        spark.createDataFrame(
            [
                (
                    n_total,
                    # tie terms in PYTHON ints, not numpy int64: a slot
                    # holding > ~4.3e9 rows would silently wrap the
                    # c*(c-1) product in int64 — the same quadratic-
                    # moment wrap class the sibling query routes through
                    # DOUBLE (ADVICE r15). Python ints are unbounded;
                    # the long column they feed is exact far past any
                    # real slot count.
                    *[
                        sum(int(cnt) * (int(cnt) - 1) // 2 for cnt in tots[a])
                        if len(vals[a])
                        else 0
                        for a in ("q", "d", "t")
                    ],
                )
            ],
            "n long, t2_q long, t2_d long, t2_t long",
        )
    )
    mo = partials.agg(
        *[F.coalesce(F.sum(f), F.lit(0.0)).alias(f) for f in out_fields],
        F.coalesce(F.sum("n1"), F.lit(0.0)).alias("n1"),
    ).crossJoin(tf)
    labels = {
        "q": ("l_extendedprice", "l_quantity"),
        "d": ("l_discount", "l_extendedprice"),
        "t": ("l_extendedprice", "l_tax"),
    }
    nd = F.col("n").cast("double")
    n0 = nd * (nd - 1) / 2
    rows = []
    for a in ("q", "d", "t"):
        n2 = F.col(f"t2_{a}").cast("double")
        ca, cb = labels[a]
        conc, disc = F.col(f"conc_{a}"), F.col(f"disc_{a}")
        rows.append(
            F.struct(
                F.lit(ca).alias("col_a"),
                F.lit(cb).alias("col_b"),
                conc.cast("long").alias("concordant"),
                disc.cast("long").alias("discordant"),
                rz6(
                    (conc - disc)
                    / F.nullif(
                        F.sqrt((n0 - F.col("n1")) * (n0 - n2)), F.lit(0.0)
                    )
                ).alias("tau_b"),
            )
        )
    return (
        mo.where(F.col("n") >= 2)
        .select(F.explode(F.array(*rows)).alias("x"))
        .select("x.col_a", "x.col_b", "x.concordant", "x.discordant", "x.tau_b")
        .orderBy("col_a", "col_b")
    )


_ZONE_SD = "epoch_us(l_shipdate) // 86400000000"


@query(
    "layout_zonemap_pruning_audit",
    oracle=f"""
    WITH base AS MATERIALIZED (
      SELECT l_orderkey, l_linenumber, l_partkey,
             CAST({_ZONE_SD} AS BIGINT) AS sd,
             CAST({{zsql}} AS BIGINT) AS zkey
      FROM lineitem),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(min(sd) AS BIGINT) AS min_sd,
                   CAST(max(sd) AS BIGINT) AS max_sd,
                   CAST(min(l_partkey) AS BIGINT) AS min_pk,
                   CAST(max(l_partkey) AS BIGINT) AS max_pk
            FROM base),
    ranked AS MATERIALIZED (
      SELECT 'natural' AS layout, sd, l_partkey AS pk,
             row_number() OVER (ORDER BY l_orderkey, l_linenumber) AS rk
      FROM base
      UNION ALL
      SELECT 'shipdate', sd, l_partkey,
             row_number() OVER (ORDER BY sd, l_orderkey, l_linenumber)
      FROM base
      UNION ALL
      SELECT 'zorder', sd, l_partkey,
             row_number() OVER (ORDER BY zkey, l_orderkey, l_linenumber)
      FROM base),
    zones AS MATERIALIZED (
      SELECT layout, ((rk - 1) * 64) // n_rows AS file_id,
             min(sd) AS f_min_sd, max(sd) AS f_max_sd,
             min(pk) AS f_min_pk, max(pk) AS f_max_pk
      FROM ranked, tot GROUP BY layout, file_id, n_rows),
    probes AS (
      SELECT min_sd + ((max_sd - min_sd + 1) * si.i) // 8 AS p_sd_lo,
             min_sd + ((max_sd - min_sd + 1) * (si.i + 1)) // 8 - 1 AS p_sd_hi,
             min_pk + ((max_pk - min_pk + 1) * pj.j) // 8 AS p_pk_lo,
             min_pk + ((max_pk - min_pk + 1) * (pj.j + 1)) // 8 - 1 AS p_pk_hi
      FROM tot, (VALUES (1), (4), (6)) si(i), (VALUES (0), (3), (6)) pj(j)),
    reads AS (
      SELECT z.layout, p.p_sd_lo, p.p_pk_lo,
             CAST(count(*) FILTER (z.f_min_sd <= p.p_sd_hi
                                   AND p.p_sd_lo <= z.f_max_sd
                                   AND z.f_min_pk <= p.p_pk_hi
                                   AND p.p_pk_lo <= z.f_max_pk)
                  AS BIGINT) AS n_read
      FROM zones z CROSS JOIN probes p
      GROUP BY z.layout, p.p_sd_lo, p.p_pk_lo)
    SELECT layout,
           CAST(count(*) AS BIGINT) AS n_probes,
           (round(CAST(sum(n_read) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                  + 1e-9, 4) + 0.0) AS avg_files_read,
           CAST(min(n_read) AS BIGINT) AS min_files_read,
           CAST(max(n_read) AS BIGINT) AS max_files_read
    FROM reads GROUP BY layout ORDER BY layout
    """.replace("{zsql}", zorder_sql([f"({_ZONE_SD})", "l_partkey"], bits=16)),
)
def layout_zonemap_pruning_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (per-file min/max) pruning audit: how many of 64
    simulated files must a 2-D range probe read under three layouts of
    the same lineitem rows — 'natural' (insert order: orderkey,
    linenumber), 'shipdate' (1-D sort), 'zorder' (Morton interleave of
    epoch-day × partkey, the layout_zorder_key primitive)? Files are
    assigned by balanced rank slicing (file = (rank−1)·64 DIV N over the
    layout's total order — global_rank's range exchange Spark-side,
    never a single-partition window; the oracle's row_number computes
    the identical order), zone maps are per-file min/max of both probe
    columns, and the 3×3 probe grid (eighth-of-domain ranges at
    staggered offsets, integer DIV arithmetic so both engines derive
    identical bounds) reads a file iff its bounding box overlaps the
    probe in BOTH dimensions — exactly the skipping decision a
    parquet/Delta reader makes from footer statistics. The readout
    quantifies the 100 TB layout story the z-order operator exists for:
    1-D sort prunes shipdate probes but reads ~every file for partkey
    bands; the Morton layout bounds both dimensions at once (16-bit
    masks cover both domains through sf≈3; larger domains fold, which
    WIDENS boxes — re-mask via rank-normalization before relying on the
    audit there). All-integer counting; the only float is the final
    probe average, formed identically on both engines."""
    from sec_dl_spark.session import spread

    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        # l_shipdate loads as TIMESTAMP_NTZ (unix_micros rejects it);
        # naive-wall-clock date diff == the oracle's epoch_us DIV day
        # for these positive midnight-anchored stamps, and both are
        # timezone-free
        F.datediff(
            F.col("l_shipdate").cast("date"), F.lit("1970-01-01").cast("date")
        ).cast("long").alias("sd"),
    )
    # spread: the fixture scan is one split; the zkey projection and the
    # pin write would otherwise run on one core (no-op on a real cluster)
    base = pin(
        spread(li).withColumn(
            "zkey", zorder_key(["sd", "l_partkey"], bits=16).cast("long")
        )
    )
    # The bounds aggregate is O(1) output — read it driver-side ONCE and
    # bake the file-count divisor, layout offsets, and probe bounds in as
    # literals (the bounded-collect convention: one row, never data-sized).
    # The lazy alternative (a broadcast 1-row frame cross-joined into both
    # the zones and probes branches) re-executed the whole ranked lineage
    # per referencing action under AQE — measured 12s where this is ~4.
    b = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.min("sd").cast("long").alias("min_sd"),
        F.max("sd").cast("long").alias("max_sd"),
        F.min("l_partkey").cast("long").alias("min_pk"),
        F.max("l_partkey").cast("long").alias("max_pk"),
    ).collect()[0]
    n_rows = int(b["n_rows"])
    if n_rows == 0:
        return spark.createDataFrame(
            [],
            "layout string, n_probes long, avg_files_read double, "
            "min_files_read long, max_files_read long",
        )
    min_sd, max_sd = int(b["min_sd"]), int(b["max_sd"])
    min_pk, max_pk = int(b["min_pk"]), int(b["max_pk"])
    # ONE range exchange ranks all three layouts: the union's total order
    # leads with the layout name, so each layout occupies a contiguous
    # rank block of exactly n_rows ('natural' < 'shipdate' < 'zorder'
    # alphabetically == union order) and the per-layout 0-based rank is
    # grk minus the block offset — one global_rank pin/window/offsets
    # pass instead of three (measured ~2x on the 600k-row fixture; at
    # scale it is one boundary-sampling job and one shuffle, not three).
    keys = {
        "natural": ("l_orderkey", "l_linenumber", F.lit(0).cast("long")),
        "shipdate": ("sd", "l_orderkey", "l_linenumber"),
        "zorder": ("zkey", "l_orderkey", "l_linenumber"),
    }
    parts = [
        base.select(
            F.lit(layout).alias("layout"),
            F.col(k1).alias("k1") if isinstance(k1, str) else k1.alias("k1"),
            F.col(k2).cast("long").alias("k2"),
            F.col(k3).cast("long").alias("k3") if isinstance(k3, str) else k3.alias("k3"),
            "sd",
            F.col("l_partkey").alias("pk"),
        )
        for layout, (k1, k2, k3) in keys.items()
    ]
    u = parts[0].unionByName(parts[1]).unionByName(parts[2])
    ranked = global_rank(u, order=["layout", "k1", "k2", "k3"], rank_col="grk")
    zones = (
        ranked.select(
            "layout",
            # global_rank is 0-BASED (the oracle's row_number is 1-based
            # with an explicit -1): file = (rank_within_layout * 64) DIV N
            F.expr(
                f"((grk - (CASE layout WHEN 'natural' THEN 0 "
                f"WHEN 'shipdate' THEN {n_rows} ELSE {2 * n_rows} END)) * 64) "
                f"div {n_rows}"
            ).alias("file_id"),
            "sd",
            "pk",
        )
        .groupBy("layout", "file_id")
        .agg(
            F.min("sd").alias("f_min_sd"),
            F.max("sd").alias("f_max_sd"),
            F.min("pk").alias("f_min_pk"),
            F.max("pk").alias("f_max_pk"),
        )
    )
    span_sd, span_pk = max_sd - min_sd + 1, max_pk - min_pk + 1
    probes = spark.createDataFrame(
        [
            (
                min_sd + (span_sd * i) // 8,
                min_sd + (span_sd * (i + 1)) // 8 - 1,
                min_pk + (span_pk * j) // 8,
                min_pk + (span_pk * (j + 1)) // 8 - 1,
            )
            for i in (1, 4, 6)
            for j in (0, 3, 6)
        ],
        "p_sd_lo long, p_sd_hi long, p_pk_lo long, p_pk_hi long",
    )
    overlap = (
        (F.col("f_min_sd") <= F.col("p_sd_hi"))
        & (F.col("p_sd_lo") <= F.col("f_max_sd"))
        & (F.col("f_min_pk") <= F.col("p_pk_hi"))
        & (F.col("p_pk_lo") <= F.col("f_max_pk"))
    )
    reads = (
        zones.crossJoin(F.broadcast(probes))
        .groupBy("layout", "p_sd_lo", "p_pk_lo")
        .agg(F.sum(F.when(overlap, 1).otherwise(0)).cast("long").alias("n_read"))
    )
    return (
        reads.groupBy("layout")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_probes"),
            rz(
                F.sum("n_read").cast("double") / F.count(F.lit(1)).cast("double")
            ).alias("avg_files_read"),
            F.min("n_read").cast("long").alias("min_files_read"),
            F.max("n_read").cast("long").alias("max_files_read"),
        )
        .orderBy("layout")
    )
