"""Deterministic float-aggregation helpers shared by operator modules.

Kept in a registration-free module so importing a helper never pulls in
another module's @query registrations (registry insertion order is the
driver's correctness-gate order — see __spark_entry__.py).

Pattern: exact decimal accumulation, then ONE cast to double, so the
result does not depend on partition/addition order and bit-matches the
DuckDB oracle's CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE).

``to_decimal`` and ``round_half_up`` are the driver-side mirrors of
Spark's double → decimal cast and ``round(double, scale)``, for
operators that finish a small computation in Python.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(18,6)"


def dsum(col: Column | str) -> Column:
    """Order-independent SUM over doubles: exact decimal accumulation,
    then one cast to the nearest double. Matches the oracle pattern
    CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double")


def davg(col: Column | str) -> Column:
    """avg = decimal-sum / count, evaluated in double (deterministic)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double") / F.count(c)


def DSUM(expr: str) -> str:
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(18,6))) AS DOUBLE)"


def DAVG(expr: str) -> str:
    return f"(CAST(SUM(CAST(({expr}) AS DECIMAL(18,6))) AS DOUBLE) / COUNT({expr}))"


def to_decimal(x: float, scale: int) -> Decimal:
    """CAST(x AS DECIMAL(p, scale)) of a finite double, as Spark does
    it: Catalyst takes ``BigDecimal.valueOf(x)``, the double's shortest
    decimal repr (Python's ``repr``), and rounds it HALF_UP."""
    return Decimal(repr(x)).quantize(Decimal(1).scaleb(-scale), rounding=ROUND_HALF_UP)


def round_half_up(x: float, scale: int) -> float:
    """Spark's ``round(x, scale)`` of a finite double, which rounds the
    same decimal HALF_UP (Python's ``round`` rounds half to even). A
    BigDecimal has no negative zero, so ``+ 0.0`` turns -0.0 into 0.0."""
    return float(to_decimal(x, scale)) + 0.0
