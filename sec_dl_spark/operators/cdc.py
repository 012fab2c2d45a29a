"""Change-data-capture application: latest-snapshot and SCD2 history.

The reference maintains its warehouse by full DELETE+reinsert per ticker
(/root/reference/sec_dl/utils/load_filings_idx.py:51-56); at 100 TB the
warehouse consumes a CHANGE STREAM instead — (key, sequence, operation,
payload) rows — and needs exactly two materializations:

- ``apply_changes``: the current snapshot — per key, the payload of the
  highest-sequence change, dropped if that change is a delete. One
  window (or argmax) per key partition; the change log shuffles once on
  the key, history length only widens the partition, never the plan.
- ``scd2_history``: the full slowly-changing-dimension type-2 table —
  every change becomes a validity interval [valid_from, valid_to), open
  intervals (valid_to NULL) for keys whose latest change is live. One
  ``lead`` window per key, same single shuffle.

Sequence ties are the caller's contract to break (pass a composite
``seq_cols``); both functions require a total order per key and are
deterministic given one.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def apply_changes(
    changes: DataFrame,
    key_cols: list[str],
    seq_cols: list[str],
    op_col: str = "op",
    delete_op: str = "D",
) -> DataFrame:
    """Current snapshot from a change log: latest change per key wins;
    keys whose latest change is a delete vanish. Returns the winning rows
    minus the ordering helper — all payload columns ride along."""
    w = Window.partitionBy(*key_cols).orderBy(*[F.col(c).desc() for c in seq_cols])
    return (
        changes.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .where(F.col(op_col) != delete_op)
        .drop("_rn")
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
    change_col: str = "change_type",
    include_unchanged: bool = False,
) -> DataFrame:
    """Row-level diff of two table snapshots (the inverse of
    ``apply_changes``: given two materialized states, recover the change
    set). Full outer join on the key; each key classifies as ``added``
    (key only in ``new``), ``removed`` (only in ``old``) or ``changed``
    (present in both with any compared column differing — null-safe
    comparison, so NULL→value and value→NULL both count as changes).

    Returns the key columns, ``change_type``, and ``old_<c>`` / ``new_<c>``
    for every compared column. ``compare_cols`` defaults to all shared
    non-key columns. One shuffle per side on the key; at 100 TB both
    snapshots are typically bucketed/partitioned by the same key so the
    exchange is avoidable — and AQE handles the skewed-key case. The
    reference's DELETE+reinsert maintenance
    (sec_dl/utils/load_filings_idx.py:51-56) is the degenerate form where
    every key is treated as changed; this computes the minimal set."""
    if compare_cols is None:
        shared = [c for c in old.columns if c in set(new.columns)]
        compare_cols = [c for c in shared if c not in set(key_cols)]
    o = old.select(
        *key_cols, *[F.col(c).alias(f"old_{c}") for c in compare_cols]
    ).withColumn("_in_old", F.lit(True))
    n = new.select(
        *key_cols, *[F.col(c).alias(f"new_{c}") for c in compare_cols]
    ).withColumn("_in_new", F.lit(True))
    joined = o.join(n, on=key_cols, how="full_outer")
    any_diff = F.lit(False)
    for c in compare_cols:
        any_diff = any_diff | ~F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
    change = (
        F.when(F.col("_in_old").isNull(), "added")
        .when(F.col("_in_new").isNull(), "removed")
        .when(any_diff, "changed")
        .otherwise("unchanged")
    )
    out = joined.withColumn(change_col, change).drop("_in_old", "_in_new")
    if not include_unchanged:
        out = out.where(F.col(change_col) != "unchanged")
    return out


def scd2_history(
    changes: DataFrame,
    key_cols: list[str],
    seq_cols: list[str],
    op_col: str = "op",
    delete_op: str = "D",
    valid_from_col: str = "valid_from",
    valid_to_col: str = "valid_to",
) -> DataFrame:
    """SCD type-2 validity table: each non-delete change opens an interval
    at its own sequence position and closes at the NEXT change's (delete
    changes close the previous interval but contribute no row of their
    own). ``valid_from``/``valid_to`` take the FIRST seq column's value;
    open intervals carry NULL ``valid_to``."""
    w = Window.partitionBy(*key_cols).orderBy(*[F.col(c).asc() for c in seq_cols])
    nxt: Column = F.lead(F.col(seq_cols[0])).over(w)
    return (
        changes.withColumn(valid_from_col, F.col(seq_cols[0]))
        .withColumn(valid_to_col, nxt)
        .where(F.col(op_col) != delete_op)
    )


def join_delta(
    a_old: DataFrame,
    a_delta: DataFrame,
    b_old: DataFrame,
    b_delta: DataFrame,
    on,
) -> DataFrame:
    """Incremental view maintenance for an inner equi-join — the delta
    rule: with A = A_old ∪ ΔA and B = B_old ∪ ΔB (disjoint unions),

        Δ(A ⋈ B) = (ΔA ⋈ B_old) ∪ (A_old ⋈ ΔB) ∪ (ΔA ⋈ ΔB)

    so a materialized join view advances by joining only the DELTAS
    against the other side — cost O(|Δ| · matchrate), never a rescan of
    A_old ⋈ B_old, which is the whole point when the view is 100 TB and
    the delta is a day's partition. The three terms are row-disjoint by
    construction, so plain unionByName is exact (no dedup step to pay).
    Complements operators/rollup.py's aggregate IVM: together they
    maintain join+aggregate views end-to-end.
    """
    return (
        a_delta.join(b_old, on)
        .unionByName(a_old.join(b_delta, on))
        .unionByName(a_delta.join(b_delta, on))
    )


def agg_delta(
    base: DataFrame,
    changes: DataFrame,
    keys: list,
    measures: dict,
    op_col: str = "op",
    n_col: str = "n",
) -> DataFrame:
    """Incremental view maintenance for a group-by COUNT/SUM aggregate
    under a change stream WITH RETRACTIONS — the signed-delta rule
    (Gupta/Mumick counting algorithm): every change row carries
    ``op_col`` ∈ {'I','D'}; an insert contributes (+1, +value), a delete
    (-1, -value); the maintained view is

        merge(base, fold(changes))   grouped on ``keys``,

    with keys whose maintained count reaches 0 DROPPED (the group no
    longer exists in the recomputed view — leaving a (key, 0, 0) row
    would diverge from recompute). ``measures`` maps output sum-column
    name -> source value column in ``changes``; ``base`` must already
    carry ``n_col`` + the measure columns at the same grain (e.g. from
    the previous maintenance cycle, or ``build`` below).

    Only COUNT and SUM are retraction-maintainable from partials alone;
    MIN/MAX under deletes need a recompute of the affected keys (a
    targeted semi-join rescan, never the full history) — callers needing
    them pair this with operators/rollup.py on the touched-key subset.

    Scale shape: the change stream folds map-side to key grain BEFORE
    touching the view (|Δ| rows in, |touched keys| out), the merge is a
    key-grain union + re-aggregate — cost O(|view| + |Δkeys|), never a
    rescan of the fact history. A negative maintained count means the
    stream retracted rows the view never held — a corrupt stream; such
    keys are dropped like zeros (recompute would not hold them either
    way) and surfacing them is the DQ layer's job, not the merge's.
    """
    folded = fold_changes(changes, keys, measures, op_col=op_col, n_col=n_col)
    merged = (
        base.select(*keys, n_col, *measures)
        .unionByName(folded)
        .groupBy(*keys)
        .agg(
            F.sum(n_col).cast("long").alias(n_col),
            *[F.sum(out).alias(out) for out in measures],
        )
    )
    return merged.where(F.col(n_col) > 0)


def fold_changes(
    changes: DataFrame,
    keys: list,
    measures: dict,
    op_col: str = "op",
    n_col: str = "n",
) -> DataFrame:
    """The signed key-grain fold under :func:`agg_delta`, exposed for
    incremental maintenance (one folded partial per micro-batch, merged
    on read): inserts contribute (+1, +value), deletes
    (-1, -value), summed to key grain. Partials are a plain sum monoid
    — any grouping of the change stream folds to the same view, which
    is what makes the merge-on-read maintenance batching-invariant."""
    sign = F.when(F.col(op_col) == "D", F.lit(-1)).otherwise(F.lit(1))
    return changes.groupBy(*keys).agg(
        F.sum(sign).cast("long").alias(n_col),
        *[
            F.sum(sign * F.col(src)).alias(out)
            for out, src in measures.items()
        ],
    )
