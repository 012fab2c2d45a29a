"""Relational operators Spark lacks as single primitives (SURVEY.md §2.4
"not present in the reference" list): as-of join and gap-based
sessionization. Both are single-shuffle compositions of existing DataFrame
ops — no UDFs, no driver-side loops.
"""

from __future__ import annotations

import operator
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sec_dl_spark.session import pin


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: list[str] | None = None,
    suffix: str = "_asof",
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """Backward as-of join: for each left row, the most recent right row with
    ``right.ts <= left.ts`` sharing the join key (DuckDB `ASOF LEFT JOIN` /
    pandas `merge_asof` semantics). ``tolerance_seconds`` bounds the
    lookback (pandas merge_asof tolerance; the batch twin of the
    stream-stream interval join's horizon): matches older than the
    tolerance yield NULLs. Timestamp ts columns only when tolerance is set.

    Implementation is the scalable union-sort-carry pattern, NOT a per-row
    lookup: tag both sides, union, and carry the latest right payload
    forward with last(ignorenulls) over an ordered window. Cost = one
    shuffle + sort on (key, ts) — identical shape to a sort-merge join, so
    it survives arbitrary scale; skewed keys split via AQE like any sort.

    Right rows sort before left rows at equal timestamps, so ties match
    (the <= in the contract). When several right rows share (key, ts), the
    window order tie-breaks on the payload struct itself, so the carried
    row is the maximum payload — deterministic run to run (last(ignorenulls)
    over an underspecified order would pick an arbitrary one).
    """
    right_cols = right_cols or [c for c in right.columns if c not in (on, right_ts)]
    payload_fields = [F.col(c) for c in right_cols]
    if tolerance_seconds is not None:
        payload_fields.append(F.col(right_ts).alias("__rts"))
    payload = F.struct(*payload_fields)

    l_tag = left.select(
        F.col(on).alias("_k"),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_tag"),
        F.struct(*[F.col(c) for c in left.columns]).alias("_left"),
        F.lit(None).cast(
            right.select(payload.alias("p")).schema["p"].dataType.simpleString()
        ).alias("_right"),
    )
    r_tag = right.select(
        F.col(on).alias("_k"),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_tag"),
        F.lit(None).cast(
            left.select(F.struct(*[F.col(c) for c in left.columns]).alias("p")).schema["p"].dataType.simpleString()
        ).alias("_left"),
        payload.alias("_right"),
    )

    w = (
        Window.partitionBy("_k")
        .orderBy("_ts", "_tag", F.col("_right").asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = (
        l_tag.unionByName(r_tag)
        .withColumn("_carried", F.last("_right", ignorenulls=True).over(w))
        .where(F.col("_tag") == 1)
    )
    if tolerance_seconds is not None:
        in_window = F.col("_carried.__rts").isNotNull() & (
            F.unix_micros(F.col("_ts")) - F.unix_micros(F.col("_carried.__rts"))
            <= int(tolerance_seconds * 1_000_000)
        )
        carried = carried.withColumn(
            "_carried", F.when(in_window, F.col("_carried"))
        )
    out = carried.select(
        *[F.col(f"_left.{c}").alias(c) for c in left.columns],
        *[F.col(f"_carried.{c}").alias(c + suffix if c in left.columns else c) for c in right_cols],
    )
    return out


def sessionize(
    df: DataFrame,
    key: str,
    ts_col: str = "ts",
    gap_seconds: int = 1800,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Assign gap-based session ids per key: a new session starts when the
    time since the previous event exceeds ``gap_seconds``. Classic
    lag + cumulative-sum sessionization — one shuffle on the key.

    Adds ``session_id`` (1-based per key). Integer microsecond arithmetic so
    batch and oracle agree bit-for-bit.
    """
    us = F.unix_micros(F.col(ts_col))
    extra = [F.col(c) for c in (order_cols or [])]
    w = Window.partitionBy(key).orderBy(us, *extra)
    gap_us = gap_seconds * 1_000_000
    new_session = F.when(
        F.lag(us).over(w).isNull() | ((us - F.lag(us).over(w)) > gap_us), 1
    ).otherwise(0)
    w_acc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.withColumn("session_id", F.sum(new_session).over(w_acc).cast("long"))


def exact_percentiles(
    df: DataFrame,
    group_col: str,
    specs: dict[str, list[tuple[float, str]]],
    buckets: int = 1024,
    strategy: str = "sort",
) -> DataFrame:
    """Exact interpolated (quantile_cont / type-7) percentiles per group,
    over distinct values + multiplicities instead of Spark's `percentile`
    TypedImperativeAggregate (which buffers every value per group and
    merges per-group in one task).

    Two physical strategies, identical results:

    - ``strategy="sort"`` (default): one map-combinable distinct-value
      shuffle, then a cumulative-count window ordered by value. The sort
      parallelism caps at |groups| × |value cols| partitions — measured
      FASTER up to millions of distinct values per group (the sort is
      cheap; fewer stage barriers win).
    - ``strategy="bucketed"``: the two-level quantized plan below —
      per-task sort input drops by the bucket factor. Use when distinct
      values per (group, col) reach the hundreds of millions and the
      single-partition sort becomes the critical path (100 TB regime).

    Bucketed plan: stack every value column into (group, which, value)
    rows, then

      1. aggregate to (group, which, distinct value, multiplicity) — the
         ONLY pass over the data, map-side combinable; min/max/n derive
         from this frame and its shuffle exchange is reused by every
         branch below;
      2. quantize each distinct value into ``buckets`` equi-width range
         buckets (the bucket id is monotone in the value, so bucket
         counts are a coarse CDF); cumulate the per-bucket counts — the
         window sees at most ``buckets`` rows per (group, which);
      3. locate the buckets whose rank range contains a target rank
         k = floor((n-1)·p) or its interpolation partner k+1 — a handful
         of directories of the value space;
      4. sort distinct values WITHIN needed buckets only (parallel across
         buckets, pruned to the ~distinct/buckets rows that matter),
         reconstruct global ranks as bucket_base + rank-in-bucket, and
         emit x_k + frac·(x_{k+1} − x_k).

    Every shuffle is map-side combinable and codegen; the only sorts left
    touch the needed buckets (the per-(group, which) GLOBAL value sort —
    whose parallelism caps at |groups|·|cols| tasks and whose per-task
    input grows with distinct values — is gone). NULL values are
    excluded, matching the builtin's semantics.

    ``specs``: {value_col: [(p, out_name), ...]}. Returns one row per
    group with every out_name column (double).
    """
    from functools import reduce
    from operator import or_

    cols = list(specs)
    stack_args = ", ".join(f"'{c}', cast({c} as double)" for c in cols)
    stacked = df.selectExpr(
        group_col, f"stack({len(cols)}, {stack_args}) as (which, val)"
    ).where(F.col("val").isNotNull())

    # The ONLY full-data pass: distinct values + multiplicities, map-side
    # combinable. Everything below works on this frame; Spark reuses its
    # shuffle exchange across the branches (identical subtree), so the
    # base data is scanned and shuffled exactly once.
    dv = stacked.groupBy(group_col, "which", "val").agg(F.count(F.lit(1)).alias("cnt"))

    if strategy == "sort":
        return _percentiles_from_sorted_dv(dv, group_col, specs)
    if strategy != "bucketed":
        raise ValueError(f"unknown strategy {strategy!r} (sort|bucketed)")

    mm = dv.groupBy(group_col, "which").agg(
        F.min("val").alias("_mn"),
        F.max("val").alias("_mx"),
        F.sum("cnt").alias("n"),
    )
    span = F.col("_mx") - F.col("_mn")
    bucket_id = (
        F.when(span == 0, F.lit(0))
        .otherwise(
            F.least(
                F.floor((F.col("val") - F.col("_mn")) / span * buckets),
                F.lit(buckets - 1),
            )
        )
        .cast("long")
    )
    dvb = (
        dv.join(F.broadcast(mm), [group_col, "which"])
        .withColumn("_b", bucket_id)
        .drop("_mn", "_mx")
    )

    bc = dvb.groupBy(group_col, "which", "_b", "n").agg(F.sum("cnt").alias("bcnt"))
    wb = Window.partitionBy(group_col, "which").orderBy("_b")
    bc = bc.withColumn("b_hi", F.sum("bcnt").over(wb) - 1).withColumn(
        "b_lo", F.col("b_hi") - F.col("bcnt") + 1
    )

    needed_conds = []
    for value_col, ps in specs.items():
        for p, _name in ps:
            h = (F.col("n") - 1) * F.lit(float(p))
            k = F.floor(h)
            in_range = (k >= F.col("b_lo")) & (k <= F.col("b_hi"))
            partner = (h > k) & (k + 1 >= F.col("b_lo")) & (k + 1 <= F.col("b_hi"))
            needed_conds.append((F.col("which") == value_col) & (in_range | partner))
    needed = bc.where(reduce(or_, needed_conds)).select(
        group_col, "which", "_b", "b_lo"
    )

    lvl2 = dvb.join(F.broadcast(needed), [group_col, "which", "_b"])
    w2 = Window.partitionBy(group_col, "which", "_b").orderBy("val")
    lvl2 = lvl2.withColumn("g_hi", F.col("b_lo") + F.sum("cnt").over(w2) - 1)
    g_lo = F.col("g_hi") - F.col("cnt") + 1

    aggs = []
    for value_col, ps in specs.items():
        for p, name in ps:
            h = (F.col("n") - 1) * F.lit(float(p))
            k = F.floor(h)
            is_col = F.col("which") == value_col
            at_k = F.when(is_col & (k >= g_lo) & (k <= F.col("g_hi")), F.col("val"))
            at_k1 = F.when(
                is_col & (k + 1 >= g_lo) & (k + 1 <= F.col("g_hi")), F.col("val")
            )
            aggs += [
                F.max(at_k).alias(f"_vk_{name}"),
                F.max(at_k1).alias(f"_vk1_{name}"),
                F.max(F.when(is_col, F.col("n"))).alias(f"_n_{name}"),
            ]
    agg_df = lvl2.groupBy(group_col).agg(*aggs)

    finals = [F.col(group_col)]
    for value_col, ps in specs.items():
        for p, name in ps:
            h = (F.col(f"_n_{name}") - 1) * F.lit(float(p))
            frac = h - F.floor(h)
            vk, vk1 = F.col(f"_vk_{name}"), F.col(f"_vk1_{name}")
            finals.append(
                F.when(frac > 0, vk + frac * (vk1 - vk)).otherwise(vk).alias(name)
            )
    return agg_df.select(*finals)


def _percentiles_from_sorted_dv(
    dv: DataFrame, group_col: str, specs: dict[str, list[tuple[float, str]]]
) -> DataFrame:
    """The sort strategy: cumulative counts over a per-(group, which)
    value-ordered window. Each distinct value's rank range [lo, hi] plus
    lead(val) gives the interpolation pair; the row containing rank
    k = floor((n-1)·p) emits x_k + frac·(x_{k+1} − x_k)."""
    w = Window.partitionBy(group_col, "which").orderBy("val")
    wp = Window.partitionBy(group_col, "which")
    c = (
        dv.withColumn("hi", F.sum("cnt").over(w) - 1)
        .withColumn("n", F.sum("cnt").over(wp))
        .withColumn("nxt", F.lead("val").over(w))
    )
    lo = F.col("hi") - F.col("cnt") + 1
    aggs = []
    for value_col, ps in specs.items():
        for p, name in ps:
            h = (F.col("n") - 1) * F.lit(float(p))
            k = F.floor(h)
            frac = h - k
            px = F.when(
                (F.col("which") == value_col) & (k >= lo) & (k <= F.col("hi")),
                F.when(
                    (k == F.col("hi")) & (frac > 0),
                    F.col("val") + frac * (F.col("nxt") - F.col("val")),
                ).otherwise(F.col("val")),
            )
            aggs.append(F.max(px).alias(name))
    return c.groupBy(group_col).agg(*aggs)


def deterministic_mixture_sample(
    df: DataFrame,
    rates: dict[str, float],
    group_col: str = "lang",
    key_col: str = "doc_id",
    default_rate: float = 0.0,
    salt: int = 0,
) -> DataFrame:
    """Reproducible per-group downsampling to target mixture rates — the
    training-data step that rebalances a corpus (e.g. cap web text, keep
    all code). A row survives iff hash(key) lands under its group's rate
    threshold, so the SAME rows are kept on every run, on any cluster, at
    any parallelism — unlike df.sample/sampleBy, whose output depends on
    partitioning. Keeps ≈ rate·|group| rows without any shuffle: the
    filter is a pure row-local codegen predicate.

    The hash is Knuth's multiplicative scheme over the integer key —
    deliberately portable integer arithmetic (the DuckDB oracle evaluates
    the identical expression); swap in xxhash64 when oracle parity is not
    needed. ``salt`` decorrelates successive sampling passes.
    """
    return df.where(
        mixture_keep_expr(rates, group_col, key_col, default_rate, salt)
    )


def mixture_keep_expr(
    rates: dict[str, float],
    group_col: str = "lang",
    key_col: str = "doc_id",
    default_rate: float = 0.0,
    salt: int = 0,
):
    """The row-local keep predicate behind deterministic_mixture_sample,
    exposed so audits can aggregate it (count kept per group in ONE pass)
    instead of filtering and re-joining."""
    mod = 1 << 20
    # Two multiply-xorshift rounds (murmur-style finalizer) in portable
    # 63-bit-safe integer arithmetic:
    #   - every operand is pre-reduced below 2^31 so multiplies never
    #     overflow BIGINT (ANSI-safe; identical in the DuckDB oracle);
    #   - the output takes the HIGH bits of each product — the low bits of
    #     (x*C) mod 2^20 are a bijection of x mod 2^20, which would keep
    #     0% or 100% of any id family sharing low bits (shard-packed ids);
    #   - the xor of high and low product halves between rounds breaks
    #     linearity, so different salts give genuinely decorrelated
    #     passes (an additive salt in a linear hash is just a constant
    #     offset of the keep set).
    x = (F.col(key_col) + F.lit(1_000_003) * F.lit(salt)) % F.lit(1 << 31)
    p1 = x * F.lit(2654435761)
    x2 = F.shiftrightunsigned(p1, 31).bitwiseXOR(p1) % F.lit(1 << 31)
    p2 = x2 * F.lit(2246822519)
    h = F.shiftrightunsigned(p2, 31) % F.lit(mod)
    if not rates:
        thresh = F.lit(int(default_rate * mod))
    else:
        expr = None
        for g, r in rates.items():
            cond = F.col(group_col) == g
            t_val = F.lit(int(r * mod))
            expr = F.when(cond, t_val) if expr is None else expr.when(cond, t_val)
        thresh = expr.otherwise(F.lit(int(default_rate * mod)))
    return h < thresh


def interval_overlap_pairs(
    intervals: DataFrame,
    key_cols: list[str],
    start_col: str = "s_us",
    end_col: str = "e_us",
    bucket_seconds: int | str = "auto",
) -> DataFrame:
    """Self-join of an interval table on time overlap, without the
    quadratic cross product: the bucketed interval-join pattern.

    Each interval explodes into the fixed-width time buckets it covers
    (integer ``DIV`` on the microsecond bounds — no float rounding at
    bucket edges), candidates come from a bucket equi-join, the exact
    overlap predicate ``a.start <= b.end AND b.start <= a.end`` (closed
    intervals: touching endpoints count, so single-point sessions still
    pair) filters them, and multi-bucket co-occurrence dedups for FREE:
    a pair is emitted only from the single bucket containing its overlap
    start (``greatest(a_s, b_s) DIV W == bucket`` — both intervals cover
    that instant, so both explode into that bucket), which replaces the
    former pair-key ``.distinct()`` — an output-sized extra shuffle —
    with a predicate evaluated inside the join stage.
    Returns one row per unordered pair —
    ``a_*`` strictly before ``b_*`` by the key tuple — with both bounds
    and ``overlap_us``.

    Scale shape: shuffle is keyed by bucket; per-bucket work is
    |bucket|², so ``bucket_seconds`` trades explode factor against bucket
    fan-in — set it near the typical interval length (long-interval skew
    is bounded because an interval of length L lands in L/bucket buckets,
    linearly).  At 100 TB this is the standard replacement for an
    unbounded range-condition join, which Spark would otherwise plan as a
    broadcast nested loop.

    ``bucket_seconds="auto"`` (default, VERDICT r13 ask #5) sizes the
    bucket from observed density with one interval-grain aggregate:
    W = clamp(mean interval length, 30s, 1d). Candidate volume under
    uniform mixing is ~N²·(E[L]+W)²/(T·W), minimized at W = E[L]; a
    fixed wide bucket on short-interval data densifies co-occupancy
    quadratically instead (the 10× probe charged 3600s buckets ~84× the
    43s mean session — ~1.3B candidates where ~60M suffice). The floor
    bounds the explode factor (rows ≈ N·(1 + E[L]/W) ≤ 2N at W ≥ E[L];
    near-zero-length intervals would otherwise push W → 0), the cap
    keeps day-plus intervals from degenerating to one global bucket.
    Bucketing only GENERATES candidates — the exact predicate and the
    pair-key dedup make the result invariant to W (property-tested
    across widths), so auto-sizing is a pure cost decision.
    """
    if bucket_seconds == "auto":
        import math

        stats = intervals.agg(
            F.count(F.lit(1)).alias("n"),
            F.avg(F.col(end_col) - F.col(start_col)).alias("avg_len_us"),
        ).collect()[0]
        if not stats["n"]:
            bucket_seconds = 3600
        else:
            bucket_seconds = int(
                min(86_400, max(30, math.ceil((stats["avg_len_us"] or 0) / 1e6)))
            )
    b_us = bucket_seconds * 1_000_000
    bucket = F.explode(
        F.expr(f"sequence({start_col} DIV {b_us}, {end_col} DIV {b_us})")
    ).alias("_bucket")
    iv = intervals.select(*key_cols, start_col, end_col, bucket)
    a = iv.select(
        F.col("_bucket"),
        F.struct(*key_cols).alias("a_key"),
        F.col(start_col).alias("a_s"),
        F.col(end_col).alias("a_e"),
    )
    b = iv.select(
        F.col("_bucket"),
        F.struct(*key_cols).alias("b_key"),
        F.col(start_col).alias("b_s"),
        F.col(end_col).alias("b_e"),
    )
    pairs = (
        a.join(b, "_bucket")
        .where(F.col("a_key") < F.col("b_key"))
        .where((F.col("a_s") <= F.col("b_e")) & (F.col("b_s") <= F.col("a_e")))
        .where(
            F.expr(f"greatest(a_s, b_s) DIV {b_us}") == F.col("_bucket")
        )
        .select(
            *[F.col(f"a_key.{k}").alias(f"a_{k}") for k in key_cols],
            *[F.col(f"b_key.{k}").alias(f"b_{k}") for k in key_cols],
            "a_s",
            "a_e",
            "b_s",
            "b_e",
            (
                F.least(F.col("a_e"), F.col("b_e"))
                - F.greatest(F.col("a_s"), F.col("b_s"))
            ).alias("overlap_us"),
        )
    )
    return pairs


def global_rank(
    df: DataFrame,
    order: list,
    rank_col: str = "rank",
) -> DataFrame:
    """0-based global dense row rank WITHOUT the single-partition collapse
    of ``row_number() OVER (ORDER BY ...)`` (a global window moves every
    row into one partition — the textbook 100 TB scale-killer).

    Three-step distributed formulation, all JVM-side:

    1. ``repartitionByRange`` on the full order key (a range exchange —
       partition i holds keys strictly before partition i+1's) followed
       by ``sortWithinPartitions`` — the sort is paid ONCE, inside the
       pinned materialization;
    2. per-partition local index from ``monotonically_increasing_id``
       over the pinned sorted partitions: ``mid`` increments in row
       order within each partition, so ``mid − min(mid) over the
       partition`` is the 0-based local rank — NO window and NO second
       exchange of the data (the previous formulation's
       ``row_number() OVER (PARTITION BY _pid)`` hash-exchanged every
       row a second time and re-sorted per action; r15 measured the
       rework at ~2x on the 18M-row zonemap ranking pass). No
       assumption is made about mid's CROSS-partition bit layout (the
       per-partition ``min(mid)`` rides the same tiny counts aggregate
       as the offsets), but ``mid − min(mid)`` DOES assume mid is
       CONSECUTIVE within a partition — Spark's documented contract is
       only monotonic+unique; consecutiveness is an implementation
       detail of the current generator (partition_id << 33 + row index).
       That assumption is enforced, not trusted: the counts aggregate
       also carries ``max(mid)``, and the rank expression raises
       (``raise_error`` inside the codegen'd projection, so column
       pruning cannot drop the check) on any partition where
       ``max(mid) − min(mid) + 1 != count`` — a future Spark that gaps
       the sequence fails loudly instead of silently skewing every
       rank. ``tests/test_operators.py::
       test_global_rank_matches_row_number_and_stays_distributed`` is
       the upgrade tripwire;
    3. partition row-counts (a tiny O(num_partitions) aggregate) become
       cumulative offsets, broadcast-joined back; global rank =
       offset + (mid − partition base).

    Determinism: ``mid`` is evaluated over a *pinned* (checkpointed)
    frame, so every job that reads it sees the same partition contents
    in the same order — the usual monotonically_increasing_id hazard
    (re-evaluation over a re-shuffled input) cannot occur by
    construction, the same argument that makes the counts/ranked branch
    pair safe.

    ``order`` must be a TOTAL order (break ties) — then the result equals
    the global ``row_number`` regardless of where the sampled range
    boundaries land, so it is deterministic and oracle-checkable even
    though the partitioning itself is not.

    The ranked rows and the counts/offsets aggregate both read the ranged
    frame, and the range exchange samples its boundaries — if the two plan
    branches ever compiled to SEPARATE exchanges, their partition
    boundaries could diverge and ranks would silently skew.
    :func:`sec_dl_spark.session.pin` pins ONE materialization both
    branches read (an RDD scan — divergence is impossible by construction)
    without registering anything in the CacheManager: a ``persist`` here
    would leak one pinned copy of the input per call for the life of the
    session (CacheManager holds persisted frames regardless of
    references; checkpointed RDD blocks are released by the
    ContextCleaner once the result frame is garbage collected).

    Pinning semantics callers inherit: this function is EAGER (building
    the result runs a Spark job), and the default pinned blocks are
    executor-local — not recomputable under executor loss / preemption.
    Preemptible fleets: set ``spark.sec_dl_spark.reliableCheckpoint=true``
    plus ``setCheckpointDir`` to pin to reliable storage (see ``pin``)."""
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    # explicit-N range exchange: AQE coalesces post-exchange partitions on
    # BYTES and cannot see the compute the window/fold stage carries (the
    # r14 semantic-dedup lesson) — a 25 MB grain would otherwise collapse
    # to a handful of partitions and serialize the downstream stage
    ranged = pin(
        df.repartitionByRange(n_parts, *order).sortWithinPartitions(*order)
    )
    w = ranged.withColumn("_pid", F.spark_partition_id()).withColumn(
        "_mid", F.monotonically_increasing_id()
    )
    counts = w.groupBy("_pid").agg(
        F.count(F.lit(1)).alias("_n"),
        F.min("_mid").alias("_base"),
        F.max("_mid").alias("_maxmid"),
    )
    offsets = counts.select(
        "_pid",
        "_base",
        # within-partition consecutiveness tripwire (ADVICE r15): the
        # local rank below is only correct if mid is gap-free inside
        # each partition. O(num_partitions) check, evaluated per
        # broadcast row.
        ((F.col("_maxmid") - F.col("_base") + 1) == F.col("_n")).alias("_ok"),
        F.coalesce(
            F.sum("_n").over(
                Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("_off"),
    )
    return (
        w.join(F.broadcast(offsets), "_pid")
        .withColumn(
            rank_col,
            # the guard lives INSIDE the rank expression so Catalyst
            # column pruning cannot elide it; the happy path is one
            # boolean test on a broadcast column per row
            F.when(
                F.col("_ok"),
                (F.col("_off") + F.col("_mid") - F.col("_base")).cast("long"),
            ).otherwise(
                F.raise_error(
                    F.lit(
                        "global_rank: monotonically_increasing_id is no "
                        "longer consecutive within a partition — the "
                        "local-rank formulation is invalid on this "
                        "Spark version"
                    )
                ).cast("long")
            ),
        )
        .drop("_pid", "_mid", "_base", "_off", "_ok")
    )


@dataclass(frozen=True)
class BloomFilter:
    """A built bloom filter, held driver-side as ``m_bits/64`` long words.

    Small by construction (1 MiB of words covers 8M bits — good for ~500k
    keys at ~1% fpp with 7 hashes), so it ships to executors as a literal
    array inside a codegen'd projection: the membership test costs zero
    extra shuffles and zero Python, exactly like Spark's own runtime
    bloom-filter row pruning (`spark.sql.optimizer.runtime.bloomFilter.*`),
    but usable cross-stage and cross-job (build once, prune many scans).
    """

    words: tuple
    m_bits: int
    k_hashes: int


def _bloom_positions(key, m_bits: int, k_hashes: int) -> list:
    """k bit positions for a key: pmod(xxhash64(i, key), m) — the i literal
    varies the seed, everything stays inside whole-stage codegen."""
    return [
        F.pmod(F.xxhash64(F.lit(i), key), F.lit(m_bits)) for i in range(k_hashes)
    ]


def bloom_build(
    keys: DataFrame, key_col: str, m_bits: int = 1 << 17, k_hashes: int = 5
) -> BloomFilter:
    """Build a bloom filter over the distinct values of ``keys[key_col]``.

    Distributed build: each key explodes to its k bit positions, positions
    group to 64-bit words via ``bit_or(shiftleft(1, bit))`` (map-side
    partial agg does most of the work), and only the ≤ ``m_bits/64``
    non-zero words are collected — the collect is bounded by the filter
    size, never by the key count. ``m_bits`` must be a multiple of 64;
    size it at ~16-20 bits/key for ~1% false positives with 5 hashes.
    """
    if m_bits % 64:
        raise ValueError(f"m_bits must be a multiple of 64, got {m_bits}")
    pos = (
        keys.select(F.col(key_col).alias("_k"))
        .where(F.col("_k").isNotNull())
        .select(F.explode(F.array(*_bloom_positions(F.col("_k"), m_bits, k_hashes))).alias("_pos"))
    )
    rows = (
        pos.select(
            F.floor(F.col("_pos") / 64).alias("_w"),
            F.pmod(F.col("_pos"), 64).cast("int").alias("_b"),
        )
        .groupBy("_w")
        .agg(F.bit_or(F.call_function("shiftleft", F.lit(1).cast("long"), F.col("_b"))).alias("_word"))
        .collect()
    )
    words = [0] * (m_bits // 64)
    for r in rows:
        words[r._w] = r._word
    return BloomFilter(tuple(words), m_bits, k_hashes)


def bloom_might_contain(bloom: BloomFilter, key) -> "F.Column":
    """Membership-test column: true iff all k bits for ``key`` are set.

    No false negatives (every built key passes), tunable false positives
    (removed by the exact join that follows in bloom_prefilter_join). The
    word array is a literal, so the whole test is one codegen expression.

    The literal is built server-side in ONE ``F.expr`` parse:
    ``F.lit(list)`` expands to one py4j ``lit`` round-trip per element plus
    a 2048-argument ``array`` call, which measured 2-5 s of pure driver
    Python per call at the default m_bits (r17 isolation: the whole
    join_bloom_prefilter timed region was ~3.4 s, most of it this one
    expression build). A single SQL string parses in milliseconds and
    folds to the identical array literal.
    """
    min_long = -(1 << 63)
    lits = []
    for w in bloom.words:
        # only a signed 64-bit integer may reach the SQL text: index()
        # rejects str/float words, the range check rejects overflow
        w = operator.index(w)
        if not min_long <= w < -min_long:
            raise ValueError(f"bloom word {w} is outside the signed 64-bit range")
        # -2^63 cannot be written as a bare negative literal (the parser
        # reads it as unary minus over an overflowing positive)
        lits.append(f"{w}L" if w != min_long else "(-9223372036854775807L - 1L)")
    words = F.expr("array(" + ",".join(lits) + ")")
    conds = []
    for pos in _bloom_positions(key, bloom.m_bits, bloom.k_hashes):
        word = F.element_at(words, F.floor(pos / 64).cast("int") + 1)
        bit = F.call_function(
            "shiftleft", F.lit(1).cast("long"), F.pmod(pos, 64).cast("int")
        )
        conds.append(word.bitwiseAND(bit) != 0)
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


def bloom_prefilter_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    m_bits: int = 1 << 17,
    k_hashes: int = 5,
    how: str = "inner",
) -> DataFrame:
    """Exact equi-join with a bloom-filter semi-join reduction on the fact
    side — the classic 100 TB shuffle cut: when ``dim`` is too big to
    broadcast but selective against the fact, the bloom (built over dim's
    keys, shipped as a literal) drops most non-matching fact rows BEFORE
    the join exchange, so the shuffle moves only rows that might match.
    False positives survive the prefilter but die in the exact join, so
    the result is byte-identical to ``fact.join(dim, ...)``.

    Only ``inner`` and ``left_semi`` are accepted: the prefilter drops
    non-matching fact rows BEFORE the join, which is exactly the set of
    rows a left/full/anti join must keep, so any other mode would be
    silently wrong rather than merely slow.
    """
    if how not in ("inner", "left_semi", "semi", "leftsemi"):
        raise ValueError(
            f"bloom_prefilter_join supports inner/left_semi only, got {how!r}: "
            "the prefilter removes unmatched fact rows, which outer/anti "
            "joins must retain"
        )
    bf = bloom_build(dim, dim_key, m_bits=m_bits, k_hashes=k_hashes)
    pre = fact.where(bloom_might_contain(bf, F.col(fact_key)))
    return pre.join(dim, pre[fact_key] == dim[dim_key], how)


def global_cumsum(
    df: DataFrame,
    order: list,
    value_col: str,
    out_col: str = "cumsum",
) -> DataFrame:
    """Global inclusive running sum of ``value_col`` in ``order`` WITHOUT a
    single-partition window — the prefix-sum twin of :func:`global_rank`
    (same three-step shape): range-exchange on the order key, per-partition
    local running sum, then each partition's total becomes a broadcast
    cumulative offset. ``order`` must be a total order for a deterministic,
    oracle-checkable result (== ``sum(v) OVER (ORDER BY ...)``).

    Pinned via :func:`sec_dl_spark.session.pin` for the same reason as
    :func:`global_rank`: the local-sum and totals/offsets branches must
    observe ONE range materialization, without a CacheManager entry
    leaking per call. Same inherited semantics as global_rank — EAGER,
    executor-local blocks by default, reliable-checkpoint mode via the
    ``spark.sec_dl_spark.reliableCheckpoint`` conf for preemptible
    fleets."""
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    ranged = pin(
        df.repartitionByRange(n_parts, *order).withColumn(
            "_pid", F.spark_partition_id()
        )
    )
    local = F.sum(value_col).over(
        Window.partitionBy("_pid").orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    )
    totals = ranged.groupBy("_pid").agg(F.sum(value_col).alias("_t"))
    offsets = totals.select(
        "_pid",
        F.coalesce(
            F.sum("_t").over(
                Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("_off"),
    )
    return (
        ranged.withColumn("_local", local)
        .join(F.broadcast(offsets), "_pid")
        .withColumn(out_col, (F.col("_off") + F.col("_local")).cast("long"))
        .drop("_pid", "_local", "_off")
    )


def concat_chunk_sequences(
    docs: DataFrame,
    order: list,
    n_tokens_col: str,
    seq_len: int,
) -> DataFrame:
    """Concat-and-chunk sequence packing — the standard LLM pre-training
    layout: documents are concatenated in a fixed total order and the
    token stream is cut into fixed-``seq_len`` sequences, so a document
    may span sequences and a sequence may hold many documents (zero
    padding waste — the complement of grouped.pack_sequences' no-split
    greedy packing, which keeps documents whole at the cost of padding). Emits per document:
    ``start_off`` (global token offset), ``seq_first``/``seq_last`` (the
    sequence ids the doc lands in), ``off_in_seq`` (offset inside the
    first sequence) and ``n_seqs`` — everything a sharded tokenizer job
    needs to materialize its sequences without re-scanning neighbors.

    The only global coordination is the prefix sum, and that is the
    distributed :func:`global_cumsum` (range exchange + broadcast
    offsets), so the operator scales with the corpus, not with a
    single-partition window."""
    if seq_len <= 0:
        raise ValueError(f"seq_len must be positive, got {seq_len}")
    nonempty = docs.where(F.col(n_tokens_col) > 0)
    cum = global_cumsum(nonempty, order, n_tokens_col, "_cum")
    start = F.col("_cum") - F.col(n_tokens_col)
    return (
        cum.withColumn("start_off", start.cast("long"))
        .withColumn("seq_first", F.floor(F.col("start_off") / seq_len).cast("long"))
        .withColumn("seq_last", F.floor((F.col("_cum") - 1) / seq_len).cast("long"))
        .withColumn("off_in_seq", F.pmod(F.col("start_off"), seq_len).cast("long"))
        .withColumn("n_seqs", (F.col("seq_last") - F.col("seq_first") + 1).cast("long"))
        .drop("_cum")
    )
