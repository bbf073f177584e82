"""Aggregation helpers (SURVEY.md §2.5, A1-A7).

Scale notes: all of these are partial-aggregatable (map-side combine) —
Catalyst plans HashAggregate(partial) -> shuffle -> HashAggregate(final).
``pivot_sum`` takes an explicit value list so the pivot never collects
unbounded distinct values at 100 TB; ``exact_sum``
aggregates in DECIMAL so results are order-independent bitwise — a
requirement for distributed reproducibility of financial control sums
(double summation is order-dependent; shuffle order is not deterministic).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def exact_sum(col: Column | str, scale: int = 2) -> Column:
    """Order-independent money sum: sum(decimal) then cast back to double.

    Reference sums float64 then rounds (DOR VP Compare.ipynb:655); decimal
    aggregation gives the same value deterministically under any partition
    order.

    Contract: values are money at ``scale`` decimal places — each value is
    HALF_UP-rounded to ``scale`` BEFORE summing (the paired SQL oracles do
    the same per-value CAST, so both engines agree bit-for-bit). For
    sub-scale quantities (micropayments, rates) raise ``scale``; values at
    or beyond 10^(18-scale) overflow and raise under ANSI."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(18,{scale})")).cast("double")


def collect_set_joined(col: Column | str) -> Column:
    """A2: sorted-distinct string collect — pandas
    ``lambda s: "; ".join(sorted(set(s)))`` (DOP VP Compare.py:125-135) as a
    built-in (no UDAF): array_join(array_sort(collect_set(c)))."""
    c = F.col(col) if isinstance(col, str) else col
    return F.array_join(F.array_sort(F.collect_set(c)), "; ")


def pivot_sum(
    df: DataFrame,
    key: str,
    pivot_col: str,
    value_col: str,
    values: Sequence[str],
) -> DataFrame:
    """A7: SUM-PIVOT (Study Startup Data Extract.sql:14-32).

    The T-SQL builds its column list with STRING_AGG(DISTINCT); here the
    caller passes the explicit list, which keeps the pivot single-pass and
    bounded at scale. Sums run in DECIMAL(18,2) and cast back to double."""
    vc = F.col(value_col).cast("decimal(18,2)")
    out = df.groupBy(key).pivot(pivot_col, list(values)).agg(F.sum(vc))
    # Spark names a NULL pivot value's column "null" (not str(None))
    names = ["null" if v is None else str(v) for v in values]
    return out.withColumns({n: F.col(f"`{n}`").cast("double") for n in names})


def control_sum(df: DataFrame, *amounts: str) -> dict[str, float]:
    """A3: grand-total validation sums (Saoirse Automation.ipynb:563,860).
    Driver-side by design — this is a guard, not a pipeline stage."""
    row = df.agg(*[exact_sum(a).alias(a) for a in amounts]).collect()[0]
    return {a: row[a] for a in amounts}
