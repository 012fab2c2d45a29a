"""Shared cross-engine numeric conventions for the query catalog.

Zero-normalizing rounded float aggregate, both engines. IEEE round()
keeps the sign bit, so a tiny NEGATIVE average rounds to -0.0 in DuckDB
but +0.0 in Spark — same magnitude, different serialized hash (this
exact class failed corpus_dsir_weights' driver hash in round 6).
Appending ``+ 0.0`` AFTER the round normalizes: IEEE defines
``-0.0 + 0.0 = +0.0``, and every nonzero value is unchanged. Use these
for ANY float aggregate whose rounded value can straddle zero — and use
them from here: the plan modules used to each carry their own
``rz6 = lambda ...`` copy of the 6-digit form, which made the nudge
policy unchangeable in one place.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def rz(col, digits: int = 4, nudge: float = 1e-9):
    """Spark side: round(col + nudge, digits) with -0.0 normalized to +0.0."""
    return F.round(col + F.lit(nudge), digits) + F.lit(0.0)


def rz_sql(expr: str, digits: int = 4, nudge: str = "1e-9") -> str:
    """DuckDB oracle twin of :func:`rz` (identical nudge + normalization)."""
    return f"(round(({expr}) + {nudge}, {digits}) + 0.0)"


def rz6(col):
    """:func:`rz` at 6 digits — the precision most count-ratio outputs
    use; a named helper (not a per-module lambda) so call sites read
    the same everywhere."""
    return rz(col, 6)


def cents(col):
    """Exact BIGINT hundredths of a 2-decimal column (money cents,
    discount/tax percents). ``round`` first kills the double
    representation error (104997.88 * 100 = 10499787.999...), and the
    long cast of the then-integral double is exact. Negative values
    (acctbal) round half-away-from-zero identically in both engines."""
    return F.round(col * 100).cast("long")


def cents_sql(expr: str) -> str:
    """DuckDB twin of :func:`cents`."""
    return f"CAST(round(({expr}) * 100) AS BIGINT)"


def money(sum_col, unit_scale: int, digits: int = 2):
    """Integer-moment money output: ``sum_col`` is an exact BIGINT sum in
    1/unit_scale-dollar units; ONE cast+divide at output, then the
    nudged zero-normalized round. Use for any money aggregate whose
    group sum GROWS with the data (global/nation/year/priority rollups):
    a double sum at ≥1e8 dollars accumulates enough summation-order
    error at sf1 to cross a cent boundary between engines
    (join_q9_profit_by_nation read .59 vs .60 — the class this closes).
    Per-entity sums with SF-constant group sizes (per order/customer/
    supplier/session/window frame) don't need it: their error doesn't
    grow. Headroom: unit terms ≤ ~1.1e9/row keep int64 safe past
    sf1000 for cents·percent products."""
    return rz(sum_col.cast("double") / F.lit(float(unit_scale)), digits, 1e-6)


def money_sql(sum_expr: str, unit_scale: int, digits: int = 2) -> str:
    """DuckDB twin of :func:`money` (identical divide + nudge)."""
    return rz_sql(f"({sum_expr}) / {unit_scale}.0", digits, "1e-6")
