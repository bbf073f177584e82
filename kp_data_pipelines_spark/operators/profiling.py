"""Join-key discovery & column profiling (SURVEY.md §2.4 J7).

The reference brute-forces join-key discovery by attempting a pandas merge
for every column pair whose value sets overlap (Accruals Report.ipynb:
246-290 — a nested loop over the two schemas, then trial merges). Here the
same profiling runs as ONE Spark job per table side:

- per-column distinct samples + approx cardinalities are collected with a
  single pass (`approx_count_distinct` over all candidate columns at once);
- overlap between a column pair is then estimated driver-side from the
  samples (tiny), and only promising pairs get an exact semi-join count.

At 100 TB the first pass is a full scan but aggregates to one row; the
exact verification joins run only on the shortlisted pairs.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class JoinKeyCandidate:
    left_col: str
    right_col: str
    left_distinct: int
    right_distinct: int
    sample_overlap: float  # |sample(L) ∩ sample(R)| / |sample(L)|
    match_count: int | None = None  # exact left-semi row count (verified pairs)


def _profile(df: DataFrame, cols: list[str], sample_size: int) -> dict[str, tuple[int, set]]:
    """One aggregation pass: (approx distinct, value sample) per column.

    Values are compared as strings (the reference's merges coerce dtypes the
    same way). `slice(collect_set(...))` bounds per-column driver transfer.
    """
    aggs = []
    for c in cols:
        aggs.append(F.approx_count_distinct(c).alias(f"__n_{c}"))
        aggs.append(
            F.slice(F.collect_set(F.col(c).cast("string")), 1, sample_size).alias(f"__s_{c}")
        )
    row = df.agg(*aggs).collect()[0]
    return {c: (row[f"__n_{c}"], set(row[f"__s_{c}"])) for c in cols}


def discover_join_keys(
    left: DataFrame,
    right: DataFrame,
    min_overlap: float = 0.1,
    sample_size: int = 1000,
    verify: bool = True,
    max_verify: int = 10,
) -> list[JoinKeyCandidate]:
    """Find candidate equi-join key pairs between two tables.

    Returns candidates sorted by sample overlap (desc), each optionally
    verified with an exact left-semi count. Mirrors the reference's
    column-overlap search without ever materializing a trial join of the
    full tables.
    """
    lcols = [f.name for f in left.schema.fields if not _complex(f)]
    rcols = [f.name for f in right.schema.fields if not _complex(f)]
    lp = _profile(left, lcols, sample_size)
    rp = _profile(right, rcols, sample_size)

    cands: list[JoinKeyCandidate] = []
    for lc in lcols:
        ln, ls = lp[lc]
        if not ls:
            continue
        for rc in rcols:
            rn, rs = rp[rc]
            overlap = len(ls & rs) / len(ls)
            if overlap >= min_overlap:
                cands.append(JoinKeyCandidate(lc, rc, ln, rn, round(overlap, 4)))
    cands.sort(key=lambda c: -c.sample_overlap)

    if verify:
        for cand in cands[:max_verify]:
            rkeys = right.select(F.col(cand.right_col).alias(cand.left_col)).distinct()
            cand.match_count = (
                left.join(rkeys, on=cand.left_col, how="left_semi").count()
            )
    return cands


def _complex(field) -> bool:
    return field.dataType.typeName() in ("array", "map", "struct", "binary")


def profile_table(
    df: DataFrame, numeric_cols: list[str], other_cols: list[str]
) -> DataFrame:
    """One-row-per-column profiling summary (n_rows, nulls, distincts,
    numeric min/max) — the data-quality report the reference prints by
    hand per notebook cell (`df.info()` / value_counts blocks).

    SINGLE pass over the data: every stat is one aggregate in one global
    agg (Catalyst plans the distinct counts as expand+two-stage agg), then
    the 1-row result unpivots driver-free via ``stack``. A naive
    per-column loop would scan the table once per column."""
    aggs: list = [F.count(F.lit(1)).alias("__n")]
    for c in [*numeric_cols, *other_cols]:
        aggs.append(F.count(c).alias(f"__cnt_{c}"))
        aggs.append(F.countDistinct(c).alias(f"__dst_{c}"))
    for c in numeric_cols:
        aggs.append(F.min(c).cast("double").alias(f"__min_{c}"))
        aggs.append(F.max(c).cast("double").alias(f"__max_{c}"))
    row = df.agg(*aggs)
    parts = []
    for c in numeric_cols:
        parts.append(
            f"'{c}', __n, __n - __cnt_{c}, __dst_{c}, __min_{c}, __max_{c}"
        )
    for c in other_cols:
        parts.append(
            f"'{c}', __n, __n - __cnt_{c}, __dst_{c}, "
            "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)"
        )
    n = len(parts)
    return row.select(
        F.expr(
            f"stack({n}, {', '.join(parts)}) AS "
            "(col_name, n_rows, n_nulls, n_distinct, min_val, max_val)"
        )
    )
