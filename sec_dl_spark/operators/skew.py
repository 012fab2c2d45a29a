"""Skew mitigation for hot keys (SURVEY.md §2.11 100 TB design rules).

The EDGAR workload is naturally skewed: a handful of big filers dominate
filing counts (hot CIKs), so a shuffle keyed by cik concentrates those
rows in few tasks. Two standing mitigations, both result-identical to
their unsalted forms:

- AQE skew-join splitting (spark.sql.adaptive.skewJoin.enabled, on in
  session.RUNTIME_CONFS) handles sort-merge joins automatically;
- explicit salting below for the cases AQE does not cover: shuffle
  aggregations with expensive per-key state (collect_list/distinct), and
  hash joins where the build side is small enough to replicate but the
  probe side has hot keys and broadcast is not possible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    facts: DataFrame,
    dim: DataFrame,
    key: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Inner/left join with the dim side replicated ``n_salts`` times and the
    fact side salted pseudo-randomly but deterministically (hash of the whole
    fact row, not rand() — reproducible across retries).

    Each hot fact key now spreads over n_salts shuffle partitions instead of
    one. Cost: dim is shipped n_salts times — use only when dim is small-ish
    but above the broadcast threshold, or when one fact key dominates.
    Result is identical to facts.join(dim, key, how)."""
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner/left joins")
    salt_values = F.array(*[F.lit(i) for i in range(n_salts)])
    dim_rep = dim.withColumn("_salt", F.explode(salt_values))
    fact_cols = [F.col(c) for c in facts.columns]
    salted = facts.withColumn("_salt", F.pmod(F.xxhash64(*fact_cols), F.lit(n_salts)).cast("int"))
    out = salted.join(dim_rep, [key, "_salt"], how)
    return out.drop("_salt")


def salted_distinct_count(
    df: DataFrame, keys: list[str], value: str, n_salts: int = 8
) -> DataFrame:
    """count(DISTINCT value) per keys with the distinct de-dup spread over
    (keys, salt) partitions first: Phase 1 dedups (keys, salt, value) —
    each hot key's values split across n_salts tasks — Phase 2 sums the
    per-salt distinct counts. Salting BY THE VALUE keeps each distinct value
    in exactly one salt bucket, so the per-salt counts add up exactly."""
    phase1 = (
        df.withColumn("_salt", F.pmod(F.xxhash64(F.col(value)), F.lit(n_salts)).cast("int"))
        .select(*keys, "_salt", value)
        .distinct()
        .groupBy(*keys, "_salt")
        .agg(F.count(F.lit(1)).alias("_partial"))
    )
    return phase1.groupBy(*keys).agg(F.sum("_partial").cast("long").alias(f"n_distinct_{value}"))
