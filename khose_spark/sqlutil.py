"""Cross-engine determinism helpers (SURVEY.md §4.2.5, extended).

Empirical law discovered against DuckDB v1.0.0: ``round(double, k)``
DIVERGES between Spark and DuckDB whenever the value is structurally an
exact decimal ending in a half digit (e.g. money products like
``37704.575``): Spark rounds the shortest decimal repr (HALF_UP ->
.58) while DuckDB scales the raw binary value (-> .57).

Fix: route fixed-decimal ("money") arithmetic through DECIMAL casts on
BOTH engines before rounding — the cast recovers the exact decimal
value (input data has <=2 decimals, so products have <=4/6 decimals and
the double error ~1e-9 is far below the cast's 0.5*10^-scale grid), and
decimal rounding is HALF_UP in both engines. Decimal SUMs are exact
(int128 accumulators) and therefore order-insensitive — immune to the
partial-aggregation float-ordering trap as well.

``round()`` on genuinely continuous values (averages over large groups,
quotients, cosines) stays safe: such doubles are never within 1e-9 of a
(k+1)-decimal half value, so both engines agree.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dec_round(col: Column, dec_in: int = 4, dec_out: int = 2) -> Column:
    """Exact money rounding: double -> decimal(18,dec_in) -> round -> double."""
    return F.round(col.cast(f"decimal(18,{dec_in})"), dec_out).cast("double")


def dec_sum(col: Column, dec_in: int = 4, dec_out: int = 2) -> Column:
    """Exact, order-insensitive money sum: sum(decimal) -> round -> double."""
    return F.round(F.sum(col.cast(f"decimal(28,{dec_in})")), dec_out).cast("double")


def cents(col: Column) -> Column:
    """Exact money to integer cents: decimal(18,2) * 100 -> long."""
    return (col.cast("decimal(18,2)") * 100).cast("long")


def sql_dec_round(expr: str, dec_in: int = 4, dec_out: int = 2) -> str:
    """DuckDB twin of :func:`dec_round`."""
    return f"CAST(round(CAST({expr} AS DECIMAL(18,{dec_in})), {dec_out}) AS DOUBLE)"


def sql_dec_sum(expr: str, dec_in: int = 4, dec_out: int = 2) -> str:
    """DuckDB twin of :func:`dec_sum`."""
    return f"CAST(round(sum(CAST({expr} AS DECIMAL(28,{dec_in}))), {dec_out}) AS DOUBLE)"


def sql_cents(expr: str) -> str:
    """DuckDB/Spark SQL twin of :func:`cents`."""
    return f"CAST(CAST({expr} AS DECIMAL(18,2)) * 100 AS BIGINT)"
