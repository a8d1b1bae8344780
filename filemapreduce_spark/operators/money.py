"""Exact money arithmetic for cross-engine-deterministic aggregation.

The test data's money columns are exact 2-decimal values stored as
doubles. Summing doubles is order-dependent (Spark's partial
aggregation and DuckDB's scan order differ), so value-hash parity
requires order-INDEPENDENT arithmetic: convert to integer cents
(``round(x*100)`` — never a tie because the underlying values are
integer cents), aggregate as 64-bit integers (exact, associative,
commutative), and convert to double only at the very end (one
deterministic IEEE conversion).

Scale note (made real in round 10): PER-ROW products stay BIGINT —
exact through |money| ≤ ~9·10^13 (cents 9·10^15, e4 9·10^17, e6 with
the rate factors ≤ 4·10^18 — inside 2^63) — but ACCUMULATION widens
to DECIMAL(38,0) via :func:`dsum`. SUM of BIGINT overflows int64 at
real scale regardless of value magnitude (normal-domain e6 terms are
~10^11/row; 10^12 rows → 10^23 ≫ 2^63), and Spark's ANSI SUM aborts
where DuckDB silently widens to HUGEINT. DECIMAL(38,0) sums are
exact, associative, and engine-portable; the single final conversion
to DOUBLE (or division) is identical from DECIMAL(38) and HUGEINT.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def cents(col: Column | str) -> Column:
    """price → exact integer cents (BIGINT)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * 100).cast("long")


def dsum(expr: Column) -> Column:
    """Overflow-proof exact SUM: widen each BIGINT term to
    DECIMAL(38,0) so the accumulator never leaves the exact domain.
    The DuckDB twin needs no change — its SUM(BIGINT) already widens
    to HUGEINT — but output casts must target DECIMAL(38,0)/DOUBLE,
    never BIGINT, wherever the true sum can exceed 2^63."""
    return F.sum(expr.cast("decimal(38,0)"))


def as_money(cents_sum: Column) -> Column:
    """integer-cents aggregate → DOUBLE currency value."""
    return (cents_sum / F.lit(100.0)).cast("double")


def disc_price_e4(price: Column | str, discount: Column | str) -> Column:
    """price*(1-discount) scaled by 10^4, exact BIGINT."""
    return cents(price) * (100 - cents(discount))


def charge_e6(
    price: Column | str, discount: Column | str, tax: Column | str
) -> Column:
    """price*(1-discount)*(1+tax) scaled by 10^6, exact BIGINT."""
    return cents(price) * (100 - cents(discount)) * (100 + cents(tax))


# ``cents`` as SQL for the DuckDB oracle twins (same arithmetic, so
# generated plans stay visibly parallel).
SQL_CENTS = "CAST(round({col} * 100) AS BIGINT)"
