"""Numeric helpers (reference backend/app/utils/numeric.py:9-50).

## Cross-engine float determinism (the project's numeric discipline)

Plain ``SUM(double)`` is order-dependent: Spark's partial/final aggregation
and DuckDB's scan order accumulate rounding differently, so two correct
engines produce last-ulp-different results — and ``ROUND(x, n)`` does NOT
fix that (a true value sitting exactly on a rounding boundary, e.g.
3609.66 / 64 = 56.4009375, splits under round-half-up).

The discipline used throughout this repo:

1. aggregate in DECIMAL — exact, order-independent, and faithful to the
   reference's ``Numeric(18,4)`` storage (models/metric_daily.py:10-16);
2. cast the exact decimal to double once at the end (deterministic per
   value);
3. derive ratios/means as double division of those deterministic doubles —
   IEEE ops on identical operands are bit-identical everywhere.

This also scales: decimal hash-aggregation stays in Tungsten/WSCG and
costs ~nothing versus double sums, while making results reproducible
run-to-run on a 1000-executor cluster (no more nondeterministic last
digits between retries).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dsum(col: Column | str, precision: int = 28, scale: int = 4) -> Column:
    """Exact decimal sum of a double column, returned as double.

    Use when the underlying data is exact at ``scale`` decimal digits
    (money, quantities); the per-row cast rounds the double's ~1e-13
    representation error back to the exact decimal.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal({precision},{scale})")).cast("double")


def davg(col: Column | str, precision: int = 28, scale: int = 4) -> Column:
    """Deterministic mean: exact decimal sum / count, in double."""
    c = F.col(col) if isinstance(col, str) else col
    return dsum(c, precision, scale) / F.count(F.lit(1))


def clamp(col: Column, lo: float, hi: float) -> Column:
    """clamp(x, lo, hi) — reference utils/numeric.py clamp semantics."""
    return F.least(F.greatest(col, F.lit(lo)), F.lit(hi))
