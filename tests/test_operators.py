"""Unit tests for DataFrame-level operators (SURVEY.md §2.4-§2.8)."""

from __future__ import annotations

from pyspark.sql import functions as F

from kp_data_pipelines_spark.operators import (
    anti_join,
    collect_set_joined,
    dedup_keep_first,
    lookup_join,
    merge_indicator,
    pivot_sum,
    row_fingerprint,
    semi_join,
    with_duplicate_count,
)
from kp_data_pipelines_spark.operators.joins import containment_join
from kp_data_pipelines_spark.operators.reconcile import reconcile, reconcile_summary


def _left(spark):
    return spark.createDataFrame(
        [("a", 10.0), ("b", 20.0), ("c", 30.0)], ["k", "amt_l"]
    )


def _right(spark):
    return spark.createDataFrame([("b", 5.0), ("c", 30.0), ("d", 7.0)], ["k", "amt_r"])


def test_merge_indicator_partition_property(spark):
    """Outer-join partition property: every input row appears exactly once
    across both/left_only/right_only."""
    m = merge_indicator(_left(spark), _right(spark), ["k"])
    classes = {r["k"]: r["_merge"] for r in m.collect()}
    assert classes == {"a": "left_only", "b": "both", "c": "both", "d": "right_only"}
    assert m.count() == 4


def test_merge_indicator_null_keys(spark):
    left = spark.createDataFrame([(None, 1.0)], "k string, v_l double")
    right = spark.createDataFrame([(None, 2.0)], "k string, v_r double")
    m = merge_indicator(left, right, ["k"])
    # eqNullSafe: null keys match each other (pandas merges NaN=NaN as no
    # match, but reconciliation wants the null bucket compared once)
    assert m.collect()[0]["_merge"] == "both"


def test_reconcile_difference_and_summary(spark):
    rec = reconcile(_left(spark), _right(spark), ["k"], "amt_l", "amt_r")
    rows = {r["k"]: r for r in rec.collect()}
    assert rows["a"]["difference"] == 10.0
    assert rows["b"]["difference"] == 15.0
    assert rows["c"]["difference"] == 0.0
    assert rows["d"]["difference"] == -7.0
    summ = {r["_merge"]: r for r in reconcile_summary(rec, "amt_l", "amt_r").collect()}
    # balance check from the reference (DOP VP Compare.py:199-229)
    assert summ["both"]["total_amt_l"] + summ["left_only"]["total_amt_l"] == 60.0
    assert summ["both"]["total_amt_r"] + summ["right_only"]["total_amt_r"] == 42.0


def test_semi_anti(spark):
    left, right = _left(spark), _right(spark)
    assert {r["k"] for r in semi_join(left, right, "k").collect()} == {"b", "c"}
    assert {r["k"] for r in anti_join(left, right, "k").collect()} == {"a"}


def test_lookup_join_broadcast(spark):
    fact = _left(spark)
    dim = spark.createDataFrame([("a", "A"), ("b", "B")], ["k", "label"])
    out = lookup_join(fact, dim, "k")
    assert {r["k"]: r["label"] for r in out.collect()} == {"a": "A", "b": "B", "c": None}
    assert "Broadcast" in out._jdf.queryExecution().executedPlan().toString()


def test_dedup_keep_first(spark):
    df = spark.createDataFrame(
        [("a", 1, "x"), ("a", 2, "y"), ("b", 1, "z"), ("a", 1, "x")], ["k", "p", "v"]
    )
    first = dedup_keep_first(df, ["k"], [F.col("p"), F.col("v")])
    assert {(r["k"], r["p"]) for r in first.collect()} == {("a", 1), ("b", 1)}


def test_duplicate_detection(spark):
    df = spark.createDataFrame([("a",), ("a",), ("b",)], ["k"])
    wc = with_duplicate_count(df, ["k"])
    # D3 keep-all-copies, the form q08 runs
    assert wc.filter(F.col("duplicate_count") > 1).count() == 2
    assert {r["k"]: r["duplicate_count"] for r in wc.collect()} == {"a": 2, "b": 1}


def test_row_fingerprint_stable(spark):
    df = spark.createDataFrame([("a", 1), ("a", 1), ("b", 2)], ["x", "y"])
    fp = row_fingerprint(df)
    vals = [r["row_hash"] for r in fp.collect()]
    assert vals[0] == vals[1] != vals[2]
    assert len(vals[0]) == 64


def test_collect_set_joined(spark):
    df = spark.createDataFrame([("k", "b"), ("k", "a"), ("k", "b")], ["g", "v"])
    out = df.groupBy("g").agg(collect_set_joined("v").alias("s")).collect()
    assert out[0]["s"] == "a; b"


def test_pivot_sum_explicit_values(spark):
    df = spark.createDataFrame(
        [("g1", "x", 1.0), ("g1", "y", 2.0), ("g2", "x", 3.0)], ["k", "p", "v"]
    )
    out = pivot_sum(df, "k", "p", "v", ["x", "y", "z"])
    rows = {r["k"]: r for r in out.collect()}
    assert rows["g1"]["x"] == 1.0 and rows["g1"]["y"] == 2.0 and rows["g1"]["z"] is None
    assert rows["g2"]["x"] == 3.0
    assert set(out.columns) == {"k", "x", "y", "z"}


def test_containment_join_two_phase(spark):
    fact = spark.createDataFrame(
        [("f1", "code RNG111222 here"), ("f2", "exact"), ("f3", "nothing")],
        ["fid", "haystack"],
    )
    fact = fact.withColumn("key", F.lit(None).cast("string"))
    fact = fact.withColumn(
        "key", F.when(F.col("fid") == "f2", "exact").otherwise(F.col("key"))
    )
    lookup = spark.createDataFrame(
        [("exact", "exact", "L1"), ("RNG111222", "RNG111222", "L2")],
        ["lk", "needle", "label"],
    )
    out = containment_join(
        fact, lookup, "key", "lk", "haystack", "needle", ["label"], tiebreak="needle"
    )
    got = {r["fid"]: r["label"] for r in out.collect()}
    assert got == {"f1": "L2", "f2": "L1", "f3": None}


def test_discover_join_keys(spark):
    from kp_data_pipelines_spark.operators.profiling import discover_join_keys

    left = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], ["cust_id", "code", "amt"]
    )
    right = spark.createDataFrame(
        [(1, "x"), (2, "y"), (9, "z")], ["customer_key", "name"]
    )
    cands = discover_join_keys(left, right, min_overlap=0.5)
    best = cands[0]
    assert (best.left_col, best.right_col) == ("cust_id", "customer_key")
    assert best.match_count == 2  # cust_ids 1 and 2 exist in right


def test_asof_join_backward(spark):
    from kp_data_pipelines_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, "u", 100), (2, "u", 205), (3, "u", 50), (4, "v", 100)],
        "event_id long, k string, t long",
    ).withColumn("t", F.timestamp_seconds("t"))
    right = spark.createDataFrame(
        [("u", 100, 1.0), ("u", 200, 2.0), ("v", 150, 3.0)], "k string, rt long, val double"
    ).withColumn("rt", F.timestamp_seconds("rt"))
    out = asof_join(left, right, "k", "t", "rt", payload=["val"]).collect()
    got = {r["event_id"]: r["val_asof"] for r in out}
    # event 1 at t=100 matches right at rt=100 (<= semantics);
    # event 2 at t=205 matches rt=200; event 3 at t=50 has no prior row;
    # event 4 at t=100 (key v) precedes v's only right row at 150 -> null
    assert got == {1: 1.0, 2: 2.0, 3: None, 4: None}


def test_interval_join_containment(spark):
    from kp_data_pipelines_spark.operators.joins import interval_join

    points = spark.createDataFrame(
        [(1, "u", 100), (2, "u", 5000), (3, "v", 100)], "pid long, k string, t long"
    ).withColumn("t", F.timestamp_seconds("t"))
    ivals = spark.createDataFrame(
        [(10, "u", 50, 150), (11, "u", 4000, 8000), (12, "v", 200, 300)],
        "iid long, k string, s long, e long",
    ).withColumns({"s": F.timestamp_seconds("s"), "e": F.timestamp_seconds("e")})
    out = interval_join(points, ivals, "t", "s", "e", keys=["k"])
    pairs = {(r["pid"], r["iid"]) for r in out.collect()}
    assert pairs == {(1, 10), (2, 11)}  # (3,12): point before interval


def test_asof_join_null_payload_not_torn(spark):
    """A NULL field inside the matched right row must stay NULL — not be
    back-filled from an older right row (torn-row regression)."""
    from kp_data_pipelines_spark.operators.joins import asof_join

    left = spark.createDataFrame([(1, "u", 300)], "event_id long, k string, t long").withColumn(
        "t", F.timestamp_seconds("t")
    )
    right = spark.createDataFrame(
        [("u", 100, "v1", 5.0), ("u", 200, "v2", None)],
        "k string, rt long, tag string, val double",
    ).withColumn("rt", F.timestamp_seconds("rt"))
    out = asof_join(left, right, "k", "t", "rt", payload=["tag", "val"]).collect()[0]
    assert out["tag_asof"] == "v2"
    assert out["val_asof"] is None  # NOT 5.0 from the older row


def test_containment_join_duplicate_facts_and_null_payload(spark):
    from kp_data_pipelines_spark.operators.joins import containment_join

    fact = spark.createDataFrame(
        [("f", "has RNG1 inside"), ("f", "has RNG1 inside")],  # identical rows
        ["fid", "haystack"],
    ).withColumn("key", F.lit(None).cast("string"))
    lookup = spark.createDataFrame(
        [("RNG1", "RNG1", None, "keep")], "lk string, needle string, p1 string, p2 string"
    )
    out = containment_join(
        fact, lookup, "key", "lk", "haystack", "needle", ["p1", "p2"], tiebreak="needle"
    ).collect()
    # both duplicate fact rows survive, each with the fuzzy match attached
    assert len(out) == 2
    assert all(r["p2"] == "keep" and r["p1"] is None for r in out)

    # null-payload exact match is still treated as matched (no fuzzy misroute)
    fact2 = spark.createDataFrame([("g", "no needle here", "K1")], ["fid", "haystack", "key"])
    lookup2 = spark.createDataFrame(
        [("K1", "ZZZ", None, "exact-hit")], "lk string, needle string, p1 string, p2 string"
    )
    out2 = containment_join(
        fact2, lookup2, "key", "lk", "haystack", "needle", ["p1", "p2"]
    ).collect()
    assert len(out2) == 1 and out2[0]["p2"] == "exact-hit"


def test_connected_components_chain_and_clique(spark):
    from kp_data_pipelines_spark.operators.graph import connected_components

    # chain 1-2-3-4 (diameter > 1 forces multiple rounds), clique {10,11,12},
    # duplicate + reversed + self edges must not matter
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (4, 3), (5, 5)],
        "src long, dst long",
    )
    got = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10}


def test_connected_components_long_chain_converges_fast(spark):
    from kp_data_pipelines_spark.operators.graph import connected_components

    from kp_data_pipelines_spark.operators.graph import _propagate, _symmetrize

    # 64-node path: O(diameter) propagation would need ~63 rounds; pointer
    # jumping must finish well inside 10
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "src long, dst long"
    )
    got = connected_components(edges).collect()
    assert {r["component"] for r in got} == {0} and len(got) == 64
    nodes = spark.range(64).select(F.col("id").alias("node"), F.col("id").alias("component"))
    _, rounds = _propagate(_symmetrize(edges, "src", "dst"), nodes)
    assert rounds <= 10


def test_connected_components_empty(spark):
    from kp_data_pipelines_spark.operators.graph import connected_components

    edges = spark.createDataFrame([], "src long, dst long")
    assert connected_components(edges).count() == 0


def test_snapshot_upsert(spark):
    from kp_data_pipelines_spark.operators.reconcile import snapshot_upsert

    current = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k long, name string, amt double"
    )
    updates = spark.createDataFrame(
        [(2, "b2", 99.0), (4, "d", 40.0)], "k long, name string, amt double"
    )
    got = {r["k"]: (r["name"], r["amt"]) for r in snapshot_upsert(current, updates, ["k"]).collect()}
    assert got == {1: ("a", 10.0), 2: ("b2", 99.0), 3: ("c", 30.0), 4: ("d", 40.0)}


def test_hll_cardinality_close_to_exact(spark):
    from kp_data_pipelines_spark.catalog import QUERIES

    out = QUERIES["q101_source_cardinality"](spark, "/root/testdata/sf0.001")
    from pyspark.sql import functions as F
    from kp_data_pipelines_spark.sources.readers import read_table

    exact = (
        read_table(spark, "/root/testdata/sf0.001", "documents")
        .groupBy("source")
        .agg(F.countDistinct("text").alias("exact_unique"))
    )
    rows = out.join(exact, "source").collect()
    assert rows
    for r in rows:
        rel = abs(r["approx_unique_texts"] - r["exact_unique"]) / max(r["exact_unique"], 1)
        assert rel < 0.10, (r["source"], r["approx_unique_texts"], r["exact_unique"])


def test_quantile_sketch_close_to_exact(spark):
    from pyspark.sql import functions as F

    from kp_data_pipelines_spark.catalog import QUERIES
    from kp_data_pipelines_spark.sources.readers import read_table

    sf = "/root/testdata/sf0.001"
    got = {r["flag"]: r for r in QUERIES["q123_quantile_sketch"](spark, sf).collect()}
    exact = (
        read_table(spark, sf, "lineitem")
        .groupBy(F.col("l_returnflag").alias("flag"))
        .agg(F.expr("percentile(l_extendedprice, array(0.5, 0.9, 0.99))").alias("px"))
        .collect()
    )
    assert got
    for r in exact:
        ps = r["px"]
        for i, col in enumerate(["p50_approx", "p90_approx", "p99_approx"]):
            rel = abs(got[r["flag"]][col] - ps[i]) / max(abs(ps[i]), 1e-9)
            assert rel < 0.05, (r["flag"], col, got[r["flag"]][col], ps[i])


def test_weekly_sketch_union_close_to_exact(spark):
    from pyspark.sql import functions as F

    from kp_data_pipelines_spark.catalog import QUERIES
    from kp_data_pipelines_spark.sources.readers import read_table

    sf = "/root/testdata/sf0.001"
    got = {
        r["iso_week"]: r["approx_users"]
        for r in QUERIES["q131_weekly_user_sketch"](spark, sf).collect()
    }
    exact = (
        read_table(spark, sf, "events")
        .groupBy(F.weekofyear(F.to_date("ts")).alias("iso_week"))
        .agg(F.countDistinct("user_id").alias("exact_users"))
        .collect()
    )
    assert got and len(exact) == len(got)
    for r in exact:
        rel = abs(got[r["iso_week"]] - r["exact_users"]) / max(r["exact_users"], 1)
        assert rel < 0.10, (r["iso_week"], got[r["iso_week"]], r["exact_users"])


def test_snapshot_diff_classes_and_columns(spark):
    from kp_data_pipelines_spark.operators.reconcile import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", None), (4, "d", 40.0)],
        "k int, name string, amt double",
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0), (2, "B", 21.0), (3, "c", None), (5, "e", 50.0)],
        "k int, name string, amt double",
    )
    got = {
        r["k"]: (r["diff_class"], r["changed_cols"])
        for r in snapshot_diff(old, new, ["k"], ["name", "amt"]).collect()
    }
    assert got == {
        1: ("unchanged", ""),
        2: ("changed", "name,amt"),
        3: ("unchanged", ""),  # NULL == NULL under eqNullSafe
        4: ("removed", ""),
        5: ("added", ""),
    }


def test_prefix_sum_matches_global_window(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from kp_data_pipelines_spark.operators.prefix import prefix_sum
    from kp_data_pipelines_spark.sources.readers import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "n_chars"
    )
    got = {
        r["doc_id"]: r["cum"]
        for r in prefix_sum(docs, "doc_id", "n_chars", out_col="cum").collect()
    }
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    want = {
        r["doc_id"]: r["cum"]
        for r in docs.withColumn("cum", F.sum("n_chars").over(w)).collect()
    }
    assert got == want


def test_prefix_sum_null_partitions_and_decimal(spark):
    """ADVICE round 1: a range partition whose values are all NULL must
    contribute offset 0 (not TypeError), and decimal values must keep
    their type/precision instead of being forced through bigint."""
    from decimal import Decimal

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from kp_data_pipelines_spark.operators.prefix import prefix_sum

    # keys 0..59; values NULL for the low third (whole range partitions
    # of the 32), decimal(10,2) elsewhere
    rows = [
        (k, None if k < 20 else Decimal(f"{k}.25")) for k in range(60)
    ]
    df = spark.createDataFrame(rows, "k int, v decimal(10,2)")
    out = prefix_sum(df, "k", "v", out_col="cum")
    got = {r["k"]: r["cum"] for r in out.collect()}
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    want = {
        r["k"]: r["cum"]
        for r in df.withColumn("cum", F.sum("v").over(w)).collect()
    }
    assert got == want
    # decimal in, decimal out (sum widens scale-preserving, not bigint)
    assert dict(out.dtypes)["cum"].startswith("decimal")


def test_engine_native_sketches_close_to_exact(spark):
    """q101/q123/q131 moved to portable oracle-checked sketches; the
    engine-native approx aggregates they replaced stay covered here —
    approx_count_distinct, approx_percentile (KLL accuracy 10000), and
    hll_sketch_agg -> hll_union_agg re-aggregation all bounded against
    exact answers on the same tables."""
    from kp_data_pipelines_spark.sources.readers import read_table

    sf = "/root/testdata/sf0.001"
    docs = read_table(spark, sf, "documents")
    r = docs.agg(
        F.approx_count_distinct("text", 0.02).alias("approx"),
        F.countDistinct("text").alias("exact"),
    ).first()
    assert abs(r["approx"] - r["exact"]) / max(r["exact"], 1) < 0.10

    li = read_table(spark, sf, "lineitem")
    q = li.agg(
        F.approx_percentile("l_extendedprice", 0.5, 10000).alias("approx"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("exact"),
    ).first()
    assert abs(q["approx"] - q["exact"]) / max(abs(q["exact"]), 1e-9) < 0.05

    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    merged = daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx")
    ).first()
    exact_users = ev.select("user_id").distinct().count()
    assert abs(merged["approx"] - exact_users) / max(exact_users, 1) < 0.10


def test_prefix_rownum_matches_window_rownum(spark):
    """q29/q30's global row_number (reference P6 semantics, single-
    partition window) pinned to its 100 TB form: prefix_sum with
    value=1 over the same unique order key produces the identical
    ranks."""
    from pyspark.sql import Window

    from kp_data_pipelines_spark.operators.prefix import prefix_sum
    from kp_data_pipelines_spark.sources.readers import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "n_chars"
    )
    window_rn = {
        r["doc_id"]: r["rn"]
        for r in docs.select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy("n_chars", "doc_id"))
            .alias("rn"),
        ).collect()
    }
    prefix_rn = {
        r["doc_id"]: r["rn"]
        for r in prefix_sum(
            docs, ["n_chars", "doc_id"], F.lit(1).cast("long"),
            out_col="rn",
        ).collect()
    }
    assert prefix_rn == window_rn


def test_decile_scale_path_matches_exact_ntile(spark):
    """q158 (distributed rank + NTILE arithmetic) is exactly q64
    (single-partition NTILE window) on the fixtures — the equivalence
    that licenses swapping in the scale path at 100 TB."""
    from kp_data_pipelines_spark.catalog import QUERIES

    sf = "/root/testdata/sf0.001"
    exact = {
        r["decile"]: (r["n_docs"], r["min_chars"], r["max_chars"], r["avg_chars"])
        for r in QUERIES["q64_decile_stats"](spark, sf).collect()
    }
    scale = {
        r["decile"]: (r["n_docs"], r["min_chars"], r["max_chars"], r["avg_chars"])
        for r in QUERIES["q158_decile_stats_scale"](spark, sf).collect()
    }
    assert scale == exact


def test_trimmed_mean_histogram_matches_grouped_agg_udaf(spark):
    """q247's histogram trimmed mean == the naive grouped-agg pandas
    UDAF (the X2 custom-aggregate surface: sort the group, drop n//10
    from each end, mean the rest). The UDAF materializes whole groups
    per task — correct but not the 100 TB shape — so it lives here as
    the equivalence pin, not in the catalog."""
    import numpy as np
    import pandas as pd

    from kp_data_pipelines_spark.catalog import QUERIES

    sf = "/root/testdata/sf0.001"
    hist_result = {
        r["lang"]: (r["n_kept"], r["trimmed_mean_chars"])
        for r in QUERIES["q247_trimmed_mean"](spark, sf).collect()
    }

    # functionType passed explicitly: this file uses
    # `from __future__ import annotations`, which stringifies the type
    # hints pandas_udf would otherwise infer GROUPED_AGG from
    from pyspark.sql.functions import PandasUDFType

    @F.pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def trimmed_mean(v):
        a = np.sort(v.to_numpy(np.int64))
        k = len(a) // 10
        kept = a[k : len(a) - k]
        return float(int(kept.sum()) / len(kept))

    from kp_data_pipelines_spark.sources import read_table

    docs = read_table(spark, sf, "documents")
    udaf_result = {
        r["lang"]: r["tm"]
        for r in docs.groupBy("lang")
        .agg(trimmed_mean("n_chars").alias("tm"))
        .collect()
    }
    assert set(udaf_result) == set(hist_result)
    for lang, tm in udaf_result.items():
        assert tm == hist_result[lang][1], lang


def test_q248_rf_histogram_cardinality_is_domain_bounded(spark):
    """Guard for q248's single-task cumulative windows: the r (recency
    days) and f (events/user) histograms must be DOMAIN-bounded — their
    distinct-value counts must stay ~flat while user count grows 10x —
    while the monetary histogram is USER-cardinality (grows with users)
    and therefore must keep using the distributed prefix_sum. If the data
    generator ever changes so r/f cardinality scales with users, this
    fails and q248's r/f score_map must switch to user_cardinality=True
    (catalog.py q248 docstring carries the matching claim)."""
    from kp_data_pipelines_spark.sources.readers import read_table

    def rfm_cards(sf):
        ev = read_table(spark, sf, "events")
        u = ev.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("f"),
            F.sum(F.expr("CAST(round(value * 100) AS DECIMAL(38,0))"))
            .cast("bigint")
            .alias("m"),
            F.max(F.unix_micros(F.col("ts"))).alias("last_us"),
        )
        anchor = u.agg(F.max("last_us").alias("a")).collect()[0]["a"]
        ur = u.withColumn(
            "r",
            F.expr(f"CAST(({anchor} - last_us) div 86400000000 AS BIGINT)"),
        )
        row = ur.agg(
            F.countDistinct("r").alias("r"),
            F.countDistinct("f").alias("f"),
            F.countDistinct("m").alias("m"),
            F.count(F.lit(1)).alias("users"),
        ).collect()[0]
        return row["r"], row["f"], row["m"], row["users"]

    r1, f1, m1, u1 = rfm_cards("/root/testdata/sf0.001")
    r2, f2, m2, u2 = rfm_cards("/root/testdata/sf0.01")
    user_ratio = u2 / u1
    assert user_ratio >= 5, "testdata SFs no longer differ in user count"
    # r/f: domain-bounded — cardinality must NOT track user growth
    assert r2 / r1 <= 4 and r2 / max(r1, 1) < user_ratio / 2, (r1, r2, u1, u2)
    assert f2 / f1 <= 4 and f2 / max(f1, 1) < user_ratio / 2, (f1, f2, u1, u2)
    # m: user-cardinality — MUST keep the distributed prefix_sum path
    assert m2 / m1 >= user_ratio * 0.8, (m1, m2, u1, u2)


def test_warm_start_components_matches_cold_with_fewer_rounds(spark):
    """Warm-starting from a prior component table must (a) produce the
    SAME partition as a cold run over the full edge set, and (b)
    converge in fewer propagation rounds when the new wave changes
    little — the telemetry the incremental re-index scheduler keys on
    (q292's operator)."""
    from kp_data_pipelines_spark.operators.graph import (
        _propagate,
        _symmetrize,
        connected_components,
        warm_start_components,
    )
    import pyspark.sql.functions as F

    # prior build: a 32-node path (0-...-31), already closed
    old_edges = spark.createDataFrame(
        [(i, i + 1) for i in range(31)], "id_a long, id_b long"
    )
    prior = connected_components(old_edges, "id_a", "id_b")
    # new wave: two fresh docs — one attaches to the chain's tail, one
    # starts its own pair; full edge set = old + new
    new_edges = spark.createDataFrame(
        [(31, 100), (200, 201)], "id_a long, id_b long"
    )
    full = old_edges.union(new_edges)

    cold = connected_components(full, "id_a", "id_b")
    warm, warm_rounds = warm_start_components(full, prior)
    as_map = lambda df: {r["node"]: r["component"] for r in df.collect()}
    assert as_map(warm) == as_map(cold)
    assert as_map(warm)[100] == 0 and as_map(warm)[201] == 200

    # cold rounds on the same graph, measured through the same loop
    e = _symmetrize(full, "id_a", "id_b")
    singletons = (
        e.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=True)
    )
    _, cold_rounds = _propagate(e, singletons)
    assert warm_rounds < cold_rounds
    assert warm_rounds <= 3  # near-fixpoint start: O(1) rounds


def test_warm_start_components_untouched_prior_passes_through(spark):
    """Prior nodes absent from the current edge set keep their prior
    component — untouched clusters survive an incremental round."""
    from kp_data_pipelines_spark.operators.graph import (
        warm_start_components,
    )

    prior = spark.createDataFrame(
        [(7, 7), (8, 7), (9, 9)], "node long, component long"
    )
    edges = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    labels, _ = warm_start_components(edges, prior)
    got = {r["node"]: r["component"] for r in labels.collect()}
    assert got == {1: 1, 2: 1, 7: 7, 8: 7, 9: 9}


def test_warm_start_components_incremental_only_edges(spark):
    """The contract must hold when the caller passes ONLY the new wave's
    pairs (prior links not re-derivable from the edge set): a prior
    equivalence behaves as an edge, so a new edge touching one member
    of an old component merges the WHOLE old component (round-7 review
    finding: node 5 was silently split off before the fix)."""
    from kp_data_pipelines_spark.operators.graph import (
        warm_start_components,
    )

    # old component {5, 10} known only via prior; new wave links 1-10
    prior = spark.createDataFrame(
        [(5, 5), (10, 5)], "node long, component long"
    )
    new_edges = spark.createDataFrame([(1, 10)], "id_a long, id_b long")
    labels, _ = warm_start_components(new_edges, prior)
    got = {r["node"]: r["component"] for r in labels.collect()}
    assert got == {1: 1, 5: 1, 10: 1}


def test_warm_start_components_duplicate_conflicting_prior(spark):
    """Duplicate/conflicting (node, component) prior rows (an ADVICE
    round-8 finding): label seeding must take ONE deterministic row per
    node — duplicates used to survive every propagation round and the
    output carried duplicate node rows — while BOTH conflicting
    equivalences still act as edges (node 7 linking components 2 and 5
    merges them)."""
    from kp_data_pipelines_spark.operators.graph import (
        warm_start_components,
    )

    prior = spark.createDataFrame(
        [(7, 2), (7, 5), (2, 2), (5, 5), (2, 2)],  # dup row + conflict
        "node long, component long",
    )
    edges = spark.createDataFrame([(9, 7)], "id_a long, id_b long")
    labels, _ = warm_start_components(edges, prior)
    rows = labels.collect()
    nodes = [r["node"] for r in rows]
    assert sorted(nodes) == [2, 5, 7, 9]  # unique node rows
    assert {r["component"] for r in rows} == {2}  # all merged via 7
