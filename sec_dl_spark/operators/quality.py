"""Declarative data-quality rules over DataFrames (expectations-style).

The reference's warehouse has no validation layer — malformed rows are
dropped ad hoc at load time (/root/reference/sec_dl/utils/
load_filings_idx.py:33-48). A 100 TB pipeline needs the opposite: named,
composable rules evaluated in ONE pass, producing a violation report a
gate can act on (fail the batch, quarantine, alert) — the shape of
dbt tests / Great Expectations, re-expressed as Spark aggregates.

Scale design:
- Row-level rules (not_null, in_range, in_set, custom predicate)
  compile to conditional-count expressions evaluated in a SINGLE
  aggregate over one scan — adding a rule adds a column to the agg, not a
  job.
- Dataset-level rules go through their cheapest distributed form:
  ``unique`` is a groupBy-count-filter (one shuffle on the key),
  ``references`` is a left-anti join against the parent keys (broadcast
  when the parent is a dim).
- Nothing collects except the final per-rule counters (one row per rule).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Rule:
    """One named expectation. ``kind`` picks the evaluation strategy:
    'row' rules carry a violation predicate Column; 'unique' and
    'references' carry the data they need for their own jobs."""

    name: str
    kind: str
    violation: Column | None = None
    cols: tuple[str, ...] = ()
    parent: DataFrame | None = None
    parent_key: str | None = None


def not_null(col: str) -> Rule:
    return Rule(f"not_null({col})", "row", F.col(col).isNull())


def in_range(col: str, lo, hi) -> Rule:
    """NULL passes (pair with not_null to also reject nulls) — a range rule
    should not double-report missingness."""
    c = F.col(col)
    return Rule(f"in_range({col},{lo},{hi})", "row", c.isNotNull() & ~c.between(lo, hi))


def in_set(col: str, values) -> Rule:
    c = F.col(col)
    return Rule(
        f"in_set({col})", "row", c.isNotNull() & ~c.isin(*list(values))
    )


def satisfies(name: str, predicate: Column) -> Rule:
    """Custom row rule: ``predicate`` is the PASS condition."""
    return Rule(f"satisfies({name})", "row", ~predicate)


def unique(*cols: str) -> Rule:
    return Rule(f"unique({','.join(cols)})", "unique", cols=tuple(cols))


def references(col: str, parent: DataFrame, parent_key: str) -> Rule:
    """Referential integrity: every non-null ``col`` exists in
    ``parent[parent_key]`` (foreign-key check as a left-anti join)."""
    return Rule(
        f"references({col}->{parent_key})",
        "references",
        cols=(col,),
        parent=parent,
        parent_key=parent_key,
    )


def check(df: DataFrame, rules: list[Rule]) -> DataFrame:
    """Evaluate all rules; returns (rule STRING, violations BIGINT) with
    one row per rule, in rule order.

    All 'row' rules share ONE aggregate job; each dataset rule adds its
    own cheapest-form job, unioned into the report lazily (the union is
    of 1-row frames — driver-light, executor-cheap)."""
    parts: list[DataFrame] = []
    row_rules = [r for r in rules if r.kind == "row"]
    if row_rules:
        agg = df.agg(
            *[
                F.sum(F.when(r.violation, 1).otherwise(0)).cast("long").alias(str(i))
                for i, r in enumerate(row_rules)
            ]
        )
        stacked = agg.selectExpr(
            "stack({n}, {pairs}) as (rule, violations)".format(
                n=len(row_rules),
                pairs=", ".join(
                    "'{}', `{}`".format(
                        r.name.replace("\\", "\\\\").replace("'", "\\'"), i
                    )
                    for i, r in enumerate(row_rules)
                ),
            )
        )
        parts.append(stacked)
    for r in rules:
        if r.kind == "unique":
            dup_rows = (
                df.groupBy(*r.cols)
                .agg(F.count(F.lit(1)).alias("c"))
                .where(F.col("c") > 1)
                .agg(F.coalesce(F.sum(F.col("c") - 1), F.lit(0)).cast("long").alias("violations"))
                .select(F.lit(r.name).alias("rule"), "violations")
            )
            parts.append(dup_rows)
        elif r.kind == "references":
            orphans = (
                df.where(F.col(r.cols[0]).isNotNull())
                .join(
                    F.broadcast(
                        r.parent.select(F.col(r.parent_key).alias(r.cols[0])).distinct()
                    ),
                    r.cols[0],
                    "left_anti",
                )
                .agg(F.count(F.lit(1)).cast("long").alias("violations"))
                .select(F.lit(r.name).alias("rule"), "violations")
            )
            parts.append(orphans)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def profile(df: DataFrame, cols: list[str]) -> DataFrame:
    """One-pass numeric column profiler: per column, non-null count, null
    count, exact distinct count, min/max/mean (all as DOUBLE so mixed
    integer/double columns stack into one report). Returns one row per
    column: (col_name, n, n_null, n_distinct, min_v, max_v, avg_v).

    All statistics come from a SINGLE aggregate over one scan — the stack()
    at the end is a zero-cost pivot of the 1-row aggregate, so profiling k
    columns costs one pass, not k. The exact distinct counts compile to
    Catalyst's Expand (one shuffle carrying (column-id, value) pairs);
    swap in approx_count_distinct when estimates suffice at the extreme
    end — the report schema is unchanged."""
    aggs = []
    for i, c in enumerate(cols):
        aggs += [
            F.count(F.col(c)).cast("long").alias(f"n_{i}"),
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).cast("long").alias(f"nn_{i}"),
            F.count_distinct(F.col(c)).cast("long").alias(f"nd_{i}"),
            F.min(F.col(c)).cast("double").alias(f"mn_{i}"),
            F.max(F.col(c)).cast("double").alias(f"mx_{i}"),
            F.avg(F.col(c).cast("double")).alias(f"av_{i}"),
        ]
    agg = df.agg(*aggs)

    def lit_str(s: str) -> str:
        # backslash-escape so a column name with a quote/backslash cannot
        # break (or mis-parse) the stack() expression
        return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

    pairs = ", ".join(
        f"{lit_str(c)}, n_{i}, nn_{i}, nd_{i}, mn_{i}, mx_{i}, av_{i}"
        for i, c in enumerate(cols)
    )
    return agg.selectExpr(
        f"stack({len(cols)}, {pairs}) as "
        "(col_name, n, n_null, n_distinct, min_v, max_v, avg_v)"
    )


def gate(df: DataFrame, rules: list[Rule], max_violations: int = 0) -> DataFrame:
    """Hard quality gate: raise if total violations exceed the budget,
    else return ``df`` unchanged (for pipeline composition)."""
    report = check(df, rules).collect()
    bad = {r["rule"]: r["violations"] for r in report if r["violations"] > max_violations}
    if bad:
        raise ValueError(f"quality gate failed: {bad}")
    return df


def with_observed_metrics(df: DataFrame, name: str, metrics: dict):
    """Attach zero-cost pipeline telemetry via Spark's Observation API:
    the metric expressions (aggregates over the FULL frame) are computed
    as a side-effect of whatever action next runs the plan — no second
    scan, no extra job — and land on the returned Observation's ``get``.

    This is how a 100 TB ingest reports row counts, null rates, and
    bounds without paying for a telemetry pass: ``check()`` runs the
    rules as their own job; this rides along with the job you already
    run. Works on streaming frames too (metrics per micro-batch via
    QueryProgress.observedMetrics).

    Returns (observed_df, observation); call an action on observed_df
    (or anything built on it) before reading ``observation.get``."""
    from pyspark.sql import Observation

    obs = Observation(name)
    cols = [expr.alias(alias) for alias, expr in metrics.items()]
    return df.observe(obs, *cols), obs


def range_checksums(
    df: DataFrame,
    key_col: str,
    cols: list[str],
    bucket_width: int = 1000,
) -> DataFrame:
    """Anti-entropy range digests: bucket rows by ``key div bucket_width``
    and reduce each bucket to (n_rows, checksum) where the checksum is the
    SUM of a 40-bit per-row md5 digest over the pipe-joined columns. Sum
    is the merge operator on purpose — order-free, partition-independent,
    map-side combinable — so two replicas of a table can each compute
    digests locally and a join over the tiny digest tables localizes any
    divergence to key ranges WITHOUT moving row data. The repair scan then
    reads only the diverging buckets. (The 40-bit row digest makes a
    colliding *pair of differences within one bucket* ~2^-40 per bucket —
    a diagnostic bound, not a cryptographic one.)"""
    joined = F.concat_ws("|", *[F.col(c).cast("string") for c in cols])
    h = F.md5(joined)
    hv = None
    for i in range(5):  # bytes 8..12 of the digest, little-endian (40 bits)
        b = F.conv(F.substring(h, 17 + 2 * i, 2), 16, 10).cast("long")
        hv = b if hv is None else hv + b * F.lit(1 << (8 * i))
    return (
        df.select(
            F.expr(f"{key_col} div {bucket_width}").cast("long").alias("bucket"),
            hv.alias("_hv"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("_hv").alias("checksum"),
        )
    )
