"""Join suite (SURVEY.md §2.4, J1-J9).

Scale notes (100 TB design):
- ``lookup_join`` broadcasts the dimension side explicitly — the reference's
  dims (lookup tables, project lists) are thousands of rows; at cluster
  scale an explicit ``broadcast()`` hint avoids a sort-merge shuffle of the
  fact table when stats are missing/stale.
- ``merge_indicator`` is a single full-outer sort-merge join on the key —
  one shuffle each side, AQE handles skew.
- ``containment_join`` (the reference's substring fallback join,
  Saoirse Automation.ipynb:1034-1049) is two-phase: an equi pass first
  (cheap, shuffled), then a BroadcastNestedLoopJoin ONLY on the unmatched
  remainder against a broadcast lookup — the O(n*m) part is bounded by
  |unmatched| * |lookup| with the lookup in memory.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MERGE_COL = "_merge"


def lookup_join(
    fact: DataFrame, dim: DataFrame, on: str | Sequence[str] | Column
) -> DataFrame:
    """J1: enrich a fact table from a small broadcast dimension (pandas
    ``merge(how="left")``, Saoirse Automation.ipynb:701-707)."""
    return fact.join(F.broadcast(dim), on=on, how="left")


def merge_indicator(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
) -> DataFrame:
    """J2: full-outer equi-join with a pandas-style ``_merge`` indicator
    column (``both`` / ``left_only`` / ``right_only``).

    Reference: ``merge(how="outer", indicator=True)`` — the reconciliation
    core (DOP VP Compare.py:141-149, DOR VP Compare.ipynb:348-356).

    Join keys are coalesced into single output columns; colliding non-key
    column names get ``_left`` / ``_right``.
    """
    lkeys = [f"__lk_{k}" for k in on]
    rkeys = [f"__rk_{k}" for k in on]
    lprobe, rprobe = "__present_l", "__present_r"

    lren = left.withColumns({nk: F.col(k) for k, nk in zip(on, lkeys)}).drop(*on)
    rren = right.withColumns({nk: F.col(k) for k, nk in zip(on, rkeys)}).drop(*on)
    lren = lren.withColumn(lprobe, F.lit(1))
    rren = rren.withColumn(rprobe, F.lit(1))

    overlap = (set(left.columns) & set(right.columns)) - set(on)
    for c in overlap:
        lren = lren.withColumnRenamed(c, c + "_left")
        rren = rren.withColumnRenamed(c, c + "_right")

    cond = None
    for lk, rk in zip(lkeys, rkeys):
        eq = lren[lk].eqNullSafe(rren[rk])
        cond = eq if cond is None else (cond & eq)

    joined = lren.join(rren, cond, "full_outer")
    merge = (
        F.when(F.col(lprobe).isNull(), F.lit("right_only"))
        .when(F.col(rprobe).isNull(), F.lit("left_only"))
        .otherwise(F.lit("both"))
    )
    out = joined.withColumn(MERGE_COL, merge)
    for k, lk, rk in zip(on, lkeys, rkeys):
        out = out.withColumn(k, F.coalesce(F.col(lk), F.col(rk)))
    return out.drop(*lkeys, *rkeys, lprobe, rprobe)


def semi_join(left: DataFrame, right: DataFrame, on: str | Sequence[str] | Column) -> DataFrame:
    """J4: keep left rows with a match in right (pandas ``isin`` pattern,
    Saoirse Automation.ipynb:993-995)."""
    return left.join(right, on=on, how="left_semi")


def anti_join(left: DataFrame, right: DataFrame, on: str | Sequence[str] | Column) -> DataFrame:
    """J5: keep left rows with NO match in right (``~isin`` /
    ``_merge == "left_only"``, DOP VP Compare.py:183-190)."""
    return left.join(right, on=on, how="left_anti")


def containment_join(
    fact: DataFrame,
    lookup: DataFrame,
    fact_key: str,
    lookup_key: str,
    haystack: str,
    needle: str,
    payload: Sequence[str],
    tiebreak: str | None = None,
) -> DataFrame:
    """J6: two-phase fuzzy enrichment (Saoirse Automation.ipynb:1030-1049).

    Phase 1: exact equi-join ``fact[fact_key] == lookup[lookup_key]``.
    Phase 2: for rows still unmatched, substring containment
    ``fact[haystack] LIKE '%' || lookup[needle] || '%'`` against a
    *broadcast* lookup; first match by ``tiebreak`` ordering wins
    (reference keeps the first row-iteration hit; we make that
    deterministic with row_number over an explicit ordering).

    ``payload`` = lookup columns to attach. Returns fact columns + payload.
    """
    from pyspark.sql import Window

    lk = lookup.select(
        lookup_key, needle, *[p for p in payload if p not in (lookup_key, needle)]
    ).withColumn("__hit", F.lit(1))

    # unique row id: match/unmatch routing and the phase-2 first-match
    # window must distinguish identical fact rows (and must not rely on a
    # payload column being non-null — NULL payload values are legitimate)
    tagged = fact.withColumn("__uid", F.monotonically_increasing_id())
    exact = tagged.join(
        F.broadcast(lk.withColumnRenamed(lookup_key, fact_key)), on=fact_key, how="left"
    )
    matched = exact.filter(F.col("__hit").isNotNull())
    unmatched = exact.filter(F.col("__hit").isNull()).select(*tagged.columns)

    fuzzy_cond = F.col(haystack).contains(F.col(needle))
    order = F.col(tiebreak) if tiebreak else F.col(needle)
    w = Window.partitionBy("__uid").orderBy(order)
    fuzzy = (
        unmatched.join(F.broadcast(lk.drop(lookup_key)), fuzzy_cond, "left")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    cols = [*fact.columns, *[p for p in payload if p not in fact.columns]]
    return matched.select(*cols).unionByName(fuzzy.select(*cols))


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    payload: Sequence[str],
) -> DataFrame:
    """Backward as-of join: each left row picks the LATEST right row with
    ``right_ts <= left_ts`` for the same key (point-in-time lookup).

    Spark has no native as-of join; the scalable shape is NOT a range join
    (which planners execute as a nested loop) but union + window:

    1. tag both sides, union on (key, ts) with right rows sorting BEFORE
       left rows at equal timestamps (gives <= semantics);
    2. one window pass per key ordered by (ts, side): ``last(payload_struct,
       ignorenulls=True)`` carries the most recent right ROW forward —
       payload travels as ONE struct, so a NULL field inside the matched
       row stays NULL instead of being back-filled from an older row
       (per-column carry-forward would produce torn composite rows);
    3. keep only left rows.

    Cost: ONE shuffle on the key + a sort within partitions — same cost
    class as a group-by, no matter how wide the time ranges are. Payload
    columns come back as ``<name>_asof``, NULL when no prior right row.
    """
    from pyspark.sql import Window

    l = left.withColumn("__side", F.lit(1))
    r = right.select(
        F.col(key),
        F.col(right_ts).alias(left_ts),
        F.struct(*[F.col(p) for p in payload]).alias("__r_payload"),
    ).withColumn("__side", F.lit(0))
    unioned = l.unionByName(r, allowMissingColumns=True)
    w = (
        Window.partitionBy(key)
        .orderBy(F.col(left_ts), F.col("__side"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.withColumn(
        "__asof", F.last(F.col("__r_payload"), ignorenulls=True).over(w)
    )
    out = carried.filter(F.col("__side") == 1)
    for p in payload:
        out = out.withColumn(f"{p}_asof", F.col("__asof")[p])
    return out.drop("__side", "__r_payload", "__asof")


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_ts: str,
    start_ts: str,
    end_ts: str,
    keys: Sequence[str],
) -> DataFrame:
    """Range (interval-containment) inner join: point rows match interval
    rows with ``start_ts <= point_ts <= end_ts`` and equal ``keys``.

    A raw BETWEEN theta-join plans as a nested loop; here both sides are
    bucketed on an hour grain, so the planner gets an EQUI-join on
    (keys, bucket) with the BETWEEN as a residual filter:

    - each point lands in exactly ONE bucket;
    - each interval explodes into the hours it covers (the blow-up stays
      small while intervals run near an hour).

    Because a point has a single bucket, every (point, interval) pair is
    produced at most once — no dedup needed. One shuffle on (keys, bucket).
    """
    pb = points.withColumn(
        "__bucket", F.floor(F.unix_timestamp(F.col(point_ts)) / 3600)
    )
    ib = intervals.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(F.unix_timestamp(F.col(start_ts)) / 3600),
                F.floor(F.unix_timestamp(F.col(end_ts)) / 3600),
            )
        ),
    )
    residual = (F.col(point_ts) >= F.col(start_ts)) & (
        F.col(point_ts) <= F.col(end_ts)
    )
    return pb.join(ib, on=[*keys, "__bucket"], how="inner").filter(residual).drop("__bucket")


class UnboundedBroadcastError(ValueError):
    """Raised when ``broadcast_scalar`` is given a plan that is not
    provably bounded — the guard against a scalar-broadcast callsite
    silently growing into a real cartesian."""


_BOUNDED_LOGICAL_PASS = (
    "Project",
    "Filter",
    "SubqueryAlias",
    "Sort",
    "Repartition",
    "WithCTE",
    "CTERelationRef",
)


def _logical_bounded(node) -> bool:
    cls = node.getClass().getSimpleName()
    if cls == "Aggregate":
        try:
            if node.groupingExpressions().isEmpty():
                return True
        except Exception:  # noqa: BLE001
            return False
    if cls in ("GlobalLimit", "Limit"):
        try:
            v = int(node.limitExpr().eval(None))
            if v <= 1024:
                return True
        except Exception:  # noqa: BLE001
            return False
    kids = []
    try:
        cs = node.children()
        for i in range(cs.size()):
            kids.append(cs.apply(i))
    except Exception:  # noqa: BLE001
        return False
    if cls == "Aggregate" or any(cls.startswith(p) for p in _BOUNDED_LOGICAL_PASS):
        return bool(kids) and all(_logical_bounded(k) for k in kids)
    return False


def broadcast_scalar(df: DataFrame) -> DataFrame:
    """Broadcast hint that ASSERTS the frame is bounded by construction:
    its analyzed logical plan must bottom out in an ungrouped aggregate
    (<= 1 row) or a limit(k <= 1024) reached through row-preserving
    nodes. Use this instead of a bare ``F.broadcast`` when crossJoining a
    corpus-level scalar (total rows, cap, KS statistic) onto a summary —
    the resulting BroadcastNestedLoopJoin is then *provably* k x n, and
    ``tools/plan_audit.py`` recognizes the same structure in the physical
    plan, so such sites need no allowlist entry. Raises
    ``UnboundedBroadcastError`` for anything else (e.g. a filtered fact
    table someone *believes* is small)."""
    analyzed = df._jdf.queryExecution().analyzed()
    if not _logical_bounded(analyzed):
        raise UnboundedBroadcastError(
            "broadcast_scalar requires an ungrouped aggregate or "
            "limit(k<=1024) lineage; got:\n"
            + analyzed.toString()[:2000]
        )
    return F.broadcast(df)
