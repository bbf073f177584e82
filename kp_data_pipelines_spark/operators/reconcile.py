"""Two-source reconciliation kit (SURVEY.md §3.2 — the reference's core
analytical pattern).

``DOP VP Compare.py`` / ``DOR VP Compare.ipynb``: clean both sides ->
pre-aggregate one side -> full-outer join with indicator -> difference ->
classify (both / left_only / right_only) -> control sums per class.

Spark shape: two shuffles (one per pre-agg) + one sort-merge outer join on
the reconciliation key; summary is a tiny collect. At 100 TB each side
pre-aggregates map-side first, so the join carries one row per key.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kp_data_pipelines_spark.operators.aggregates import exact_sum
from kp_data_pipelines_spark.operators.joins import MERGE_COL, merge_indicator


def reconcile(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_amount: str,
    right_amount: str,
) -> DataFrame:
    """Full reconciliation frame: one row per key with amounts from both
    sides (0-filled, as DOP VP Compare.py:145-147), the ``difference``,
    and the ``_merge`` classification."""
    merged = merge_indicator(left, right, on)
    la = F.coalesce(F.col(left_amount), F.lit(0.0))
    ra = F.coalesce(F.col(right_amount), F.lit(0.0))
    return (
        merged.withColumn(left_amount, la)
        .withColumn(right_amount, ra)
        .withColumn("difference", F.round(la - ra, 2))
    )


def reconcile_summary(
    reconciled: DataFrame, left_amount: str, right_amount: str
) -> DataFrame:
    """Per-class control sums (DOP VP Compare.py:199-229): row counts and
    exact (order-independent) amount totals by match class."""
    return reconciled.groupBy(MERGE_COL).agg(
        F.count(F.lit(1)).alias("n_rows"),
        exact_sum(left_amount).alias(f"total_{left_amount}"),
        exact_sum(right_amount).alias(f"total_{right_amount}"),
    )


def snapshot_upsert(
    current: DataFrame, updates: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """CDC upsert: rows from ``updates`` replace same-key rows in
    ``current``; unmatched rows pass through (the monthly snapshot refresh
    the reference rebuilds by hand each cycle, e.g. `Saoirse
    Automation.ipynb`'s replace-then-append blocks).

    One shuffle total: union both sides with a priority tag and keep the
    highest-priority row per key (W2 keep-first machinery) — cheaper at
    100 TB than the anti-join + union form, which shuffles each side
    separately. Schemas must align by name. Keys must be unique WITHIN
    each input: ties inside ``updates`` (or inside ``current``) are broken
    arbitrarily — pre-dedupe with an order column first
    (``dedup.dedup_keep_first``)."""
    from pyspark.sql import Window

    tagged = updates.withColumn("__prio", F.lit(0)).unionByName(
        current.withColumn("__prio", F.lit(1))
    )
    w = Window.partitionBy(*keys).orderBy("__prio")
    return (
        tagged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__prio", "__rn")
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    compare: Sequence[str],
) -> DataFrame:
    """Row- and column-level snapshot diff (SURVEY.md §3.3 — the
    reference diffs monthly snapshot extracts cell-by-cell in pandas).

    Full-outer join on the business key, then one null-safe equality
    (``eqNullSafe``) per compared column builds ``changed_cols`` — the
    comma-joined list of columns whose values differ. Classes: ``added``
    (key only in new), ``removed`` (key only in old), ``changed`` /
    ``unchanged``. One shuffle per side on the key; the per-column
    comparisons are projection-level expressions, so a 50-column diff at
    100 TB costs the same join as a 2-column one."""
    l = old.alias("l")
    r = new.alias("r")
    cond = [F.col(f"l.{k}").eqNullSafe(F.col(f"r.{k}")) for k in keys]
    j = l.join(r, cond, "full_outer")
    in_old = F.col(f"l.{keys[0]}").isNotNull()
    in_new = F.col(f"r.{keys[0]}").isNotNull()
    changed = F.array_join(
        F.array_compact(
            F.array(
                *[
                    F.when(
                        ~F.col(f"l.{c}").eqNullSafe(F.col(f"r.{c}")), F.lit(c)
                    )
                    for c in compare
                ]
            )
        ),
        ",",
    )
    cls = (
        F.when(~in_old, F.lit("added"))
        .when(~in_new, F.lit("removed"))
        .when(changed != "", F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    key_cols = [
        F.coalesce(F.col(f"l.{k}"), F.col(f"r.{k}")).alias(k) for k in keys
    ]
    return j.select(
        *key_cols,
        cls.alias("diff_class"),
        F.when(cls == "changed", changed).otherwise(F.lit("")).alias(
            "changed_cols"
        ),
    )
