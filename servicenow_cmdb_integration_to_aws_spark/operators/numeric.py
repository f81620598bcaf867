"""Shared exact-decimal helpers (float-parity policy, SURVEY §7 #1).

Money columns carry exactly-2-decimal values, so sums/products are
computed over DECIMAL casts — exact, order-independent — and only the
final value is cast to DOUBLE, identically in Spark and the DuckDB
oracle. Lives in its own module so importing it registers no query;
the order ``queries()`` lists ids in comes from ``driver_order.json``,
not from import order (see ``load_all``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dec(c: str, p: int = 18, s: int = 2) -> Column:
    """Exact-decimal view of a 2dp money column (parity policy)."""
    return F.col(c).cast(f"decimal({p},{s})")


def dsum(col: Column) -> Column:
    """Exact decimal sum emitted as DOUBLE (bit-identical both engines)."""
    return F.sum(col).cast("double")


#: Metric-domain bound for the generic events.value column: values with
#: |v| above this are garbage (the column's real domain is O(1e3)), and
#: admitting them would overflow the int64 integer-cents sum policy
#: (Spark SUM(LONG) overflows where DuckDB's HUGEINT silently widens —
#: an engine-asymmetric job-killer found by the r8 --extremes sweep).
METRIC_BOUND = 1e12

#: DuckDB fragment of :func:`finite_metric` — BUILT from METRIC_BOUND
#: (r9, ADVICE) so the two engines' rule cannot desynchronize: change
#: the bound in one place and every oracle CASE string (interpolated
#: via :func:`sql_finite` / ``FIN``) and the Spark gate move together.
SQL_FINITE = (
    f"CASE WHEN isnan({{c}}) OR isinf({{c}}) OR abs({{c}}) > "
    f"{METRIC_BOUND:.0f} THEN NULL ELSE {{c}} END"
)


def sql_finite(c: str = "value") -> str:
    """The oracle twin of :func:`finite_metric`, for f-string
    interpolation into @query oracle SQL (the CASE fragment used to be
    duplicated as a literal in ~20 oracles — one bound edit would have
    silently split the engines)."""
    return SQL_FINITE.format(c=c)


#: The common `events.value` form, ready to drop into an oracle.
FIN = sql_finite()


def finite_metric(c: str) -> Column:
    """events.value quality gate, identical in both engines: NaN, ±Inf
    and out-of-domain magnitudes carry no metric — they become NULL
    (excluded from sums/means like SQL NULLs everywhere) instead of
    poisoning an aggregate with NaN, killing an ANSI cast, or
    overflowing the integer-cents sum. At 100 TB a handful of sensor
    glitches must never abort or corrupt a rollup."""
    col = F.col(c)
    return F.when(
        ~F.isnan(col) & (F.abs(col) <= F.lit(METRIC_BOUND)), col
    )


#: finite-gated exact-decimal view of the metric column (SQL twin below)
def fdec(c: str, p: int = 18, s: int = 2) -> Column:
    return finite_metric(c).cast(f"decimal({p},{s})")


SQL_FDEC = "CAST(" + SQL_FINITE + " AS DECIMAL(18,2))"
