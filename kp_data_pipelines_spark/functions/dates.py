"""Date/timestamp kit.

Reference behaviors re-expressed (citations into /root/reference):
- C2 ``pd.to_datetime(errors="coerce")``       (Saoirse Automation.ipynb:166)
- C3 cascading multi-format parse + fillna      (CTP Data Compare.ipynb:82-87,
     Study Startup TRAC Data Merge.ipynb:46-51)
- C4 compact ``%m%y`` -> month-end              (CTP Data Compare.ipynb:56-61)
- C5 month arithmetic / truncation              (Saoirse Automation.ipynb:61-63)
- C6 date formatting to names                   (Saoirse Automation.ipynb:31,65-67)
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

def cascading_to_timestamp(col: Column | str, formats: Sequence[str]) -> Column:
    """C2/C3: try each format in order; first success wins; all-fail -> NULL.

    ``coalesce(try_to_timestamp(c, f1), try_to_timestamp(c, f2), ...,
    try_to_timestamp(c))`` — whole-stage-codegen friendly, no UDF.
    """
    c = F.col(col) if isinstance(col, str) else col
    attempts = [F.try_to_timestamp(c, F.lit(fmt)) for fmt in formats]
    attempts.append(F.try_to_timestamp(c))  # permissive fallback
    return F.coalesce(*attempts)


def compact_month_end(col: Column | str, fmt: str = "MMyy") -> Column:
    """C4: parse compact month tokens like ``0924`` and snap to month end."""
    c = F.col(col) if isinstance(col, str) else col
    return F.last_day(F.try_to_timestamp(c, F.lit(fmt)).cast("date"))


def month_start(col: Column | str) -> Column:
    """C5: ``replace(day=1)`` == truncate to first of month."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trunc(c, "MM")


def months_ago(col: Column | str, n: int) -> Column:
    """C5: ``- pd.DateOffset(months=n)``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.add_months(c, -n)


def month_name(col: Column | str) -> Column:
    """C6: ``strftime("%B")``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c, "MMMM")
