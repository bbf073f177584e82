"""Null/sentinel/cast cleaning kit.

Reference behaviors re-expressed (citations into /root/reference):
- C1  ``pd.to_numeric(errors="coerce")``      (Saoirse Automation.ipynb:560)
- C7  ``replace(["", "0", 0], pd.NA)``        (Saoirse Automation.ipynb:438,587)
- C8  ``fillna(other_col)`` / ``combine_first`` (Saoirse Automation.ipynb:594-597)
- C9  ``fillna(constant)``                    (DOP VP Compare.py:145-147)
- C10 ``df.loc[mask, col] = value``           (Saoirse Automation.ipynb:608-611)
- C18 strict int cast post-fill               (Saoirse Automation.ipynb:879)
- A5  ``isna().sum()``                        (Saoirse Automation.ipynb:599)

Everything is a built-in expression: invalid input -> NULL matches pandas'
``errors="coerce"`` because Spark ANSI-off casts yield NULL on failure (we
use try_* to stay correct under ANSI mode too).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def coerce_numeric(col: Column | str) -> Column:
    """C1: cast to double, invalid -> NULL (pandas ``to_numeric(coerce)``)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.try_cast("double")


def coerce_long(col: Column | str) -> Column:
    """C18: cast to long, invalid -> NULL. Direct long cast first so big
    integers (> 2^53) keep exact values; the double fallback only handles
    pandas float-formatted ints like ``"47205.0"`` that the direct cast
    rejects."""
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(c.try_cast("long"), c.try_cast("double").try_cast("long"))


def sentinel_to_null(col: Column | str, sentinels: Sequence) -> Column:
    """C7: map sentinel values (the reference's empty string, "0", 0) to NULL.

    String sentinels compare in string domain (ANSI-safe for mixed-type
    lists); NUMERIC sentinels additionally compare numerically, because a
    double 0.0 casts to the string "0.0" and would never match "0" — the
    reference's ``replace(["", "0", 0], pd.NA)`` nulls numeric zeros too."""
    c = F.col(col) if isinstance(col, str) else col
    wanted = {str(s) for s in sentinels}
    cond = c.cast("string").isin(*wanted)
    numeric = [s for s in sentinels if isinstance(s, (int, float)) and not isinstance(s, bool)]
    for s in numeric:
        cond = cond | (c.try_cast("double") == F.lit(float(s)))
    return F.when(cond, F.lit(None)).otherwise(c)


def fill_from(primary: Column | str, *fallbacks: Column | str) -> Column:
    """C8/C9: ``fillna(other)`` / ``combine_first`` == coalesce cascade."""
    cols = [F.col(c) if isinstance(c, str) else c for c in (primary, *fallbacks)]
    return F.coalesce(*cols)


def conditional_update(col: Column | str, mask: Column, value: Column) -> Column:
    """C10: ``df.loc[mask, col] = value`` — update where mask, else keep."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(mask, value).otherwise(c)


def null_count(df: DataFrame, *cols: str) -> dict[str, int]:
    """A5 diagnostic: per-column null counts (one job, map-side combine)."""
    aggs = [F.sum(F.col(c).isNull().cast("long")).alias(c) for c in cols]
    row = df.agg(*aggs).collect()[0]
    return {c: row[c] for c in cols}
