"""Probabilistic sketch operators (SURVEY §2.11 "novel sketch" row).

Three sketch families cover the approximate-counting needs of a 100 TB
pipeline, each with a different query it answers:

- HyperLogLog — "how many DISTINCT?" → `approx_count_distinct`
  (agg_approx_distinct_hll, error-bound pytest).
- Bloom filter — "is this key PRESENT?" → Spark's runtime bloom-filter
  join reduction (plan-pinned in tests/test_plans.py).
- Count-min — "how OFTEN does this key occur?" → `cms_build` /
  `cms_estimate` here: one pass builds a fixed-size sketch (width ~
  e/eps, depth ~ ln(1/δ)) as a (row, slot, cnt) DataFrame; any key's
  count is then answerable from KBs of state with a one-sided error
  bound (never under, over by ≤ eps·N with probability ≥ confidence).

The operator layer adds the contract: bounds stated, determinism pinned,
and tests that actually check the guarantees.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# --- portable count-min sketch (DataFrame-native, engine-reproducible) ---

_CMS_P = 2_147_483_647  # 2^31 - 1 (Mersenne): a*(x mod p) stays under 2^63


def _cms_hash_params(depth: int) -> list[tuple[int, int]]:
    """The deterministic fixed hash family h_j(x) =
    ((a_j·pmod(x, p) + b_j) mod p) mod width with p = 2³¹−1,
    a_j = 1000003^(j+1) mod p, b_j = 999983·(j+1) mod p — a CLOSED FORM
    with no binary state, so any engine whose floored/truncated modulo
    is mirrored in the rebuild SQL reproduces the sketch bit-for-bit
    (the registered oracle normalizes with ((x % p) + p) % p, matching
    Spark's pmod for every sign). Reducing x into [0, p) first bounds
    a·x below 2^62 AND keeps every downstream remainder non-negative:
    slots land in [0, width) even for negative keys. The fixed
    constants are NOT a random pairwise-independent draw, so the
    textbook ≤ true + (e/width)·N w.p. 1−2^−depth bound is heuristic
    here (empirically pinned by the bound audit in
    events_cms_frequency), not a theorem."""
    return [
        (pow(1000003, j + 1, _CMS_P), (999983 * (j + 1)) % _CMS_P)
        for j in range(depth)
    ]


def cms_build(
    df: DataFrame, col: str, width: int = 256, depth: int = 4
) -> DataFrame:
    """Count-min sketch as a (row, slot, cnt) DataFrame — MERGEABLE and
    engine-portable, unlike Spark's built-in countMinSketch (an opaque
    JVM blob probed on the driver). Each input key
    increments one counter per hash row; the table is ≤ depth·width rows
    no matter the input size, unions of per-batch sketches sum by
    (row, slot) — the same merge-on-read algebra the HLL rollup sink
    uses — and any key's estimate is min_j of its depth counters,
    guaranteed ≥ the true count always; the classic ≤ true +
    (e/width)·N w.p. 1 − 2^−depth overcount bound is heuristic under
    this deterministic fixed family (see _cms_hash_params) and is
    pinned empirically by the events_cms_frequency bound audit.

    One narrow projection → a depth-way generated explode → one
    (row, slot) groupBy: the shuffle carries at most depth·width groups
    (partial aggregation collapses the fan-out map-side), so the build
    is a scan-bound single pass at any N. Integer column required
    (hash the key to int64 upstream for strings); negative keys are
    fine — pmod keeps every slot in [0, width)."""
    from pyspark.sql import functions as F

    params = _cms_hash_params(depth)
    xm = F.pmod(F.col(col).cast("long"), F.lit(_CMS_P))
    rows = F.array(
        *[
            F.struct(
                F.lit(j).cast("int").alias("row"),
                F.pmod(F.pmod(F.lit(a) * xm + F.lit(b), F.lit(_CMS_P)), F.lit(width))
                .cast("int")
                .alias("slot"),
            )
            for j, (a, b) in enumerate(params)
        ]
    )
    return (
        df.select(F.explode(rows).alias("h"))
        .groupBy(F.col("h.row").alias("row"), F.col("h.slot").alias("slot"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame, probes: DataFrame, col: str, width: int = 256, depth: int = 4
) -> DataFrame:
    """Point-frequency estimates from a cms_build table for the keys in
    ``probes[col]``: min over the key's depth counters (a missing
    (row, slot) group means 0 — the key was never seen). The sketch is
    depth·width rows → broadcast; probing is a map-side join however
    many keys ask."""
    from pyspark.sql import functions as F

    params = _cms_hash_params(depth)
    xm = F.pmod(F.col(col).cast("long"), F.lit(_CMS_P))
    rows = F.array(
        *[
            F.struct(
                F.lit(j).cast("int").alias("row"),
                F.pmod(F.pmod(F.lit(a) * xm + F.lit(b), F.lit(_CMS_P)), F.lit(width))
                .cast("int")
                .alias("slot"),
            )
            for j, (a, b) in enumerate(params)
        ]
    )
    keyed = probes.select(F.col(col), F.explode(rows).alias("h")).select(
        col, F.col("h.row").alias("row"), F.col("h.slot").alias("slot")
    )
    return (
        keyed.join(F.broadcast(sketch), ["row", "slot"], "left")
        .groupBy(col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("long").alias("cms_est"))
    )
