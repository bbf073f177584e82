"""Deduplication family (SURVEY.md §2.8 D1-D4, §2.6 W1-W2).

Scale notes: exact dedup is a hash-shuffle on the dedup key — at 100 TB the
key should be a fingerprint (``row_fingerprint``) so the shuffle carries a
64-hex string, not the whole row, when only dup *detection* is needed.
Order-sensitive keep-first semantics (pandas ``drop_duplicates(keep="first")``)
are nondeterministic in distributed Spark; ``dedup_keep_first`` makes the
pick explicit with a priority ordering (W2).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dedup_keep_first(
    df: DataFrame, keys: Sequence[str], order: Sequence[Column | str]
) -> DataFrame:
    """W2/D2: deterministic keep-first — row_number over (keys, order) == 1.

    Reference: priority dedup keeping the ``Non-Industry`` row
    (Saoirse Automation.ipynb:1012-1019,1122-1136), where pandas relies on
    physical row order; here order is explicit and reproducible.
    """
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def with_duplicate_count(df: DataFrame, keys: Sequence[str], out: str = "duplicate_count") -> DataFrame:
    """W1: broadcast group size onto each row (pandas ``transform("count")``,
    Transaction Duplicates.ipynb:44)."""
    w = Window.partitionBy(*keys)
    return df.withColumn(out, F.count(F.lit(1)).over(w))


def row_fingerprint(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """D4: stable row fingerprint ``row_hash`` — ``sha2(concat_ws("|", *cols), 256)``.

    The scalable seed of exact-dup detection: the reference builds
    ``astype(str).agg("|".join)`` keys (Transaction Duplicates.ipynb:36-38);
    sha256 of a separator-joined string shuffles 32 bytes/row at 100 TB
    instead of the full row.

    Injection-safe encoding: each value is length-prefixed (``len:value``)
    before joining, so ('a|b','c') and ('a','b|c') cannot collide — a raw
    '|' join would fingerprint both as 'a|b|c'. NULL encodes as the fixed
    marker '<N>' (can't collide with a real value: those start 'digits:')."""
    cols = list(cols) if cols else list(df.columns)
    parts = [
        F.coalesce(
            F.concat(
                F.length(F.col(c).cast("string")).cast("string"),
                F.lit(":"),
                F.col(c).cast("string"),
            ),
            F.lit("<N>"),
        )
        for c in cols
    ]
    return df.withColumn("row_hash", F.sha2(F.concat_ws("|", *parts), 256))
