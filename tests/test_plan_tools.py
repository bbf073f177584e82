"""Tests for the plan-hygiene tooling: broadcast_scalar's lineage
assertion and plan_audit's structural bounded-build-side detector."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_broadcast_scalar_accepts_bounded(spark):
    """Ungrouped aggregates, small limits, and projections over them are
    provably bounded — broadcast_scalar passes them through."""
    from kp_data_pipelines_spark.operators.joins import broadcast_scalar

    df = spark.range(1000)
    for bounded in (
        df.agg(F.count("*").alias("n")),
        df.orderBy("id").limit(5),
        df.agg(F.sum("id").alias("s")).select((F.col("s") * 2).alias("s2")),
        df.groupBy("id").count().limit(100),
    ):
        out = df.crossJoin(broadcast_scalar(bounded))
        assert out.count() > 0


def test_broadcast_scalar_rejects_unbounded(spark):
    """A filtered fact table is NOT bounded by construction, no matter how
    small it happens to be today — the guard must refuse it."""
    from kp_data_pipelines_spark.operators.joins import (
        UnboundedBroadcastError,
        broadcast_scalar,
    )

    df = spark.range(1000)
    with pytest.raises(UnboundedBroadcastError):
        broadcast_scalar(df.filter("id > 990"))
    with pytest.raises(UnboundedBroadcastError):
        broadcast_scalar(df.groupBy((F.col("id") % 10).alias("k")).count())
    with pytest.raises(UnboundedBroadcastError):
        broadcast_scalar(df.limit(100_000))


def test_plan_audit_structural_bnlj_detection(spark):
    """The audit's physical-plan walker: a crossJoin against a scalar
    aggregate is accepted (bounded build side), a crossJoin against a
    filtered fact is not."""
    from tools.plan_audit import _unbounded_bnlj

    df = spark.range(1000).withColumn("k", F.col("id") % 7)

    scalar = df.crossJoin(F.broadcast(df.agg(F.count("*").alias("n"))))
    root = scalar._jdf.queryExecution().executedPlan()
    assert _unbounded_bnlj(root) == []

    fact = df.crossJoin(F.broadcast(df.filter("id > 5").select("k")))
    root = fact._jdf.queryExecution().executedPlan()
    assert len(_unbounded_bnlj(root)) >= 1


def test_plan_audit_limit_build_side(spark):
    """limit(k) build sides are bounded; the detector sees the
    GlobalLimit/CollectLimit through exchanges and projections."""
    from tools.plan_audit import _unbounded_bnlj

    df = spark.range(1000).withColumn("k", F.col("id") % 7)
    topk = df.crossJoin(
        F.broadcast(df.orderBy(F.desc("id")).limit(10).select("k"))
    )
    root = topk._jdf.queryExecution().executedPlan()
    assert _unbounded_bnlj(root) == []


def test_release_pinned_rdds_frees_localcheckpoint_blocks(spark):
    """Session hygiene (bench.py / session_probe.py): eager
    localCheckpoint pins RDD blocks in the context's persistent map for
    the session's life; release_pinned_rdds must free them all at a
    query boundary so a long multi-query session's storage pool stays
    flat (the round-4 q180 9.0s-in-bench vs 4.8s-isolated regression)."""
    from kp_data_pipelines_spark.session import release_pinned_rdds

    release_pinned_rdds(spark)  # clean slate from earlier tests
    df = spark.range(100).localCheckpoint(eager=True)
    assert df.count() == 100
    assert spark.sparkContext._jsc.getPersistentRDDs().size() >= 1
    assert release_pinned_rdds(spark) >= 1
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0
