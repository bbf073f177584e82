"""Property-based tests (SURVEY.md §5.3) over generated micro-tables.

Each property is one the reference implicitly relied on (and checked by
hand with printed control totals):
- outer-join partition: every key appears exactly once across
  both/left_only/right_only;
- dedup idempotence;
- sum preservation under projection/rename/union;
- pivot row-totals equal pre-pivot group sums.

Hypothesis drives the key/value generation; examples are kept small and
few because each example is a Spark job.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from kp_data_pipelines_spark.operators.aggregates import pivot_sum
from kp_data_pipelines_spark.operators.dedup import dedup_keep_first
from kp_data_pipelines_spark.operators.joins import MERGE_COL, merge_indicator

_settings = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

keys = st.lists(st.integers(min_value=0, max_value=20), min_size=0, max_size=15)
amounts = st.lists(
    st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, width=32),
    min_size=1,
    max_size=12,
)


@given(lk=keys, rk=keys)
@_settings
def test_outer_join_partition_property(spark, lk, rk):
    left = spark.createDataFrame([(k, 1.0) for k in set(lk)] or [(None, None)], "k long, a double")
    right = spark.createDataFrame([(k, 2.0) for k in set(rk)] or [(None, None)], "k long, b double")
    left = left.filter(F.col("k").isNotNull())
    right = right.filter(F.col("k").isNotNull())
    merged = merge_indicator(left, right, ["k"])
    got = {r["k"]: r[MERGE_COL] for r in merged.collect()}
    ls, rs = set(lk), set(rk)
    assert set(got) == ls | rs
    for k, cls in got.items():
        expected = "both" if k in ls and k in rs else ("left_only" if k in ls else "right_only")
        assert cls == expected


@given(vals=st.lists(st.tuples(st.integers(0, 5), st.integers(0, 3)), max_size=20))
@_settings
def test_dedup_idempotent(spark, vals):
    vals = vals or [(0, 0)]
    df = spark.createDataFrame(vals, "a long, b long")
    once = dedup_keep_first(df, ["a"], ["b"])
    twice = dedup_keep_first(once, ["a"], ["b"])
    want = {(a, min(b for k, b in vals if k == a)) for a, _ in vals}
    assert sorted(map(tuple, once.collect())) == sorted(want)
    assert sorted(map(tuple, twice.collect())) == sorted(want)


@given(vals=amounts)
@_settings
def test_sum_preserved_under_projection_rename_union(spark, vals):
    rows = [(i, float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id long, amt double")
    total = df.agg(F.sum(F.col("amt").cast("decimal(28,6)")).alias("s")).collect()[0]["s"]

    renamed = df.withColumnsRenamed({"amt": "amount"}).select("amount")
    t2 = renamed.agg(F.sum(F.col("amount").cast("decimal(28,6)")).alias("s")).collect()[0]["s"]
    assert total == t2

    h1 = df.filter(F.col("id") % 2 == 0)
    h2 = df.filter(F.col("id") % 2 != 0)
    t3 = (
        h1.unionByName(h2)
        .agg(F.sum(F.col("amt").cast("decimal(28,6)")).alias("s"))
        .collect()[0]["s"]
    )
    assert total == t3


@given(
    cells=st.lists(
        st.tuples(st.integers(0, 3), st.sampled_from(["x", "y", "z"]), st.integers(0, 100)),
        min_size=1,
        max_size=20,
    )
)
@_settings
def test_pivot_row_totals_match_group_sums(spark, cells):
    df = spark.createDataFrame([(g, c, float(v)) for g, c, v in cells], "g long, c string, v double")
    pivoted = pivot_sum(df, "g", "c", "v", ["x", "y", "z"])
    val_cols = [c for c in pivoted.columns if c != "g"]
    row_totals = {
        r["g"]: sum(r[c] for c in val_cols if r[c] is not None) for r in pivoted.collect()
    }
    group_sums = {
        r["g"]: r["s"] for r in df.groupBy("g").agg(F.sum("v").alias("s")).collect()
    }
    assert set(row_totals) == set(group_sums)
    for g in group_sums:
        assert abs(row_totals[g] - group_sums[g]) < 1e-6


edges_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=12), st.integers(min_value=0, max_value=12)
    ),
    min_size=0,
    max_size=20,
)


@given(edges=edges_strategy)
@_settings
def test_connected_components_matches_union_find(spark, edges):
    """CC via distributed label propagation == driver-side union-find."""
    from kp_data_pipelines_spark.operators.graph import connected_components

    df = spark.createDataFrame(edges, "src long, dst long") if edges else (
        spark.createDataFrame([], "src long, dst long")
    )
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a != b:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    nodes = {n for a, b in edges if a != b for n in (a, b)}
    want = {n: find(n) for n in nodes}
    # min-label invariant: find() roots are the component minimum because
    # unions always attach the larger root under the smaller
    assert got == want


@given(
    cur=st.lists(st.tuples(st.integers(0, 8), st.floats(-100, 100, allow_nan=False)),
                 max_size=10),
    upd=st.lists(st.tuples(st.integers(0, 8), st.floats(-100, 100, allow_nan=False)),
                 max_size=10),
)
@_settings
def test_snapshot_upsert_partition_property(spark, cur, upd):
    """Upsert output keys == union of input keys; updated keys carry the
    update value, untouched keys the current value."""
    from kp_data_pipelines_spark.operators.reconcile import snapshot_upsert

    cur_d = {k: v for k, v in cur}
    upd_d = {k: v for k, v in upd}
    cur_df = spark.createDataFrame(list(cur_d.items()) or [], "k int, v double") if cur_d else spark.createDataFrame([], "k int, v double")
    upd_df = spark.createDataFrame(list(upd_d.items()) or [], "k int, v double") if upd_d else spark.createDataFrame([], "k int, v double")
    got = {r["k"]: r["v"] for r in snapshot_upsert(cur_df, upd_df, ["k"]).collect()}
    assert got == {**cur_d, **upd_d}


def test_q95_decorrelation_matches_naive_exists(spark):
    """The per-order aggregate decorrelation in q95 equals the textbook
    EXISTS / NOT EXISTS formulation run as Spark SQL."""
    from kp_data_pipelines_spark.catalog import QUERIES
    from kp_data_pipelines_spark.sources.readers import read_table

    sf = "/root/testdata/sf0.001"
    read_table(spark, sf, "lineitem").createOrReplaceTempView("li_p")
    read_table(spark, sf, "orders").createOrReplaceTempView("o_p")
    read_table(spark, sf, "supplier").createOrReplaceTempView("s_p")
    naive = spark.sql(
        """
        WITH pairs AS (
          SELECT l.l_orderkey, l.l_suppkey,
                 MAX(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 30 DAYS
                          THEN 1 ELSE 0 END) AS is_late
          FROM li_p l JOIN o_p o ON l.l_orderkey = o.o_orderkey
          WHERE o.o_orderstatus = 'F'
          GROUP BY l.l_orderkey, l.l_suppkey
        )
        SELECT s.s_name, COUNT(*) AS numwait
        FROM pairs p JOIN s_p s ON p.l_suppkey = s.s_suppkey
        WHERE p.is_late = 1
          AND EXISTS (SELECT 1 FROM pairs x
                      WHERE x.l_orderkey = p.l_orderkey
                        AND x.l_suppkey <> p.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM pairs x
                          WHERE x.l_orderkey = p.l_orderkey
                            AND x.l_suppkey <> p.l_suppkey
                            AND x.is_late = 1)
        GROUP BY s.s_name
        ORDER BY numwait DESC, s_name
        LIMIT 20
        """
    ).collect()
    ours = QUERIES["q95_waiting_suppliers"](spark, sf).collect()
    assert [tuple(r) for r in ours] == [tuple(r) for r in naive]


def test_q112_matches_numpy_percentile(spark):
    """Interpolated quartiles equal numpy's linear-interpolation
    percentile per segment."""
    import numpy as np

    from kp_data_pipelines_spark.catalog import QUERIES
    from kp_data_pipelines_spark.sources.readers import read_table

    sf = "/root/testdata/sf0.001"
    got = {r["seg"]: r for r in QUERIES["q112_interpolated_quantiles"](spark, sf).collect()}
    rows = read_table(spark, sf, "customer").select("c_mktsegment", "c_acctbal").collect()
    by_seg = {}
    for r in rows:
        by_seg.setdefault(r["c_mktsegment"], []).append(r["c_acctbal"])
    for seg, vals in by_seg.items():
        for p, col in ((25, "p25"), (50, "p50"), (75, "p75")):
            expect = np.percentile(np.array(vals), p, method="linear")
            assert abs(got[seg][col] - expect) < 1e-9, (seg, p)


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),   # key
            st.integers(min_value=0, max_value=100), # ts
        ),
        min_size=1,
        max_size=25,
    ),
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),
            st.integers(min_value=0, max_value=100),
            st.integers(min_value=0, max_value=999),  # payload
        ),
        min_size=0,
        max_size=25,
    ),
)
def test_asof_join_matches_naive(spark, lefts, rights):
    """asof_join == the naive per-row argmax: for every left row, the
    right row of the same key with the greatest ts <= left ts (ties on
    ts pre-deduped to the max payload, mirroring the q238 contract)."""
    from kp_data_pipelines_spark.operators.joins import asof_join

    # dedup rights per (key, ts) -> max payload (the operator's contract)
    rmap = {}
    for k, t, v in rights:
        rmap[(k, t)] = max(rmap.get((k, t), -1), v)
    rrows = [(k, t, v) for (k, t), v in sorted(rmap.items())]

    left = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(lefts)],
        "lid long, k long, t long",
    )
    if rrows:
        right = spark.createDataFrame(rrows, "k long, rt long, val long")
    else:
        right = spark.createDataFrame([], "k long, rt long, val long")
    out = asof_join(left, right, "k", "t", "rt", payload=["val"])
    got = {r["lid"]: r["val_asof"] for r in out.collect()}

    for i, (k, t) in enumerate(lefts):
        cands = [(rt, v) for (rk, rt), v in rmap.items() if rk == k and rt <= t]
        want = max(cands)[1] if cands else None
        assert got[i] == want, (i, k, t, got[i], want)


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.integers(min_value=1, max_value=300),  # doc token counts
        min_size=1,
        max_size=60,
    )
)
def test_sequence_packing_invariants(spark, toks):
    """q239's packing arithmetic, property-checked on one shard: pad is
    always < budget, bins*budget covers the stream exactly, and the
    boundary-doc count matches a direct simulation of cutting the
    concatenated stream every `budget` tokens."""
    budget = 128
    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(toks)], "doc_id long, n_tokens long"
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy(F.lit(1))
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = df.withColumn("cum", F.sum("n_tokens").over(w))
    row = (
        c.agg(
            F.max("cum").alias("total"),
            F.expr(f"(max(cum) + {budget} - 1) div {budget}").alias("n_bins"),
            F.sum(
                F.when(
                    F.expr(f"(cum - n_tokens) div {budget}")
                    != F.expr(f"(cum - 1) div {budget}"),
                    1,
                ).otherwise(0)
            ).alias("crossings"),
        )
    ).head()

    total = sum(toks)
    assert row["total"] == total
    assert row["n_bins"] == (total + budget - 1) // budget
    pad = row["n_bins"] * budget - total
    assert 0 <= pad < budget
    # direct simulation: a doc crosses if its span covers a multiple of budget
    pos, crossings = 0, 0
    for n in toks:
        if pos // budget != (pos + n - 1) // budget:
            crossings += 1
        pos += n
    assert row["crossings"] == crossings
