"""Session state that outlives a query: the generated-class cache and the
partition-probe cache."""

from __future__ import annotations

import gc
import weakref

from conftest import SF_DIR
from pyspark.sql import SparkSession

from kp_data_pipelines_spark.catalog import QUERIES
from kp_data_pipelines_spark.operators.similarity import ensure_parallelism

# perfbench's etl_sweep workload (perfbench/run.py).
ETL_SWEEP = (
    "q03_join_enrich_agg",
    "q46_regional_revenue",
    "q79_json_extract_agg",
    "q109_share_of_parent",
    "q157_portable_hll",
    "q189_shard_rebalance",
    "q220_half_sample_ci",
)


def test_recurring_sweep_reuses_generated_code(spark):
    """A repeated sweep compiles no new classes: the codegen cache holds
    the sweep's working set (~110 classes, all recompiled on every sweep
    with Spark's 100-entry default). Adaptive execution can re-plan a
    query into a variant it has not generated code for yet, so a warm
    sweep may still compile a few classes; those variants are cached too,
    so the sweeps settle at 0 within a few repeats."""
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = codegen.METRIC_COMPILATION_TIME()
    counts = []
    while len(counts) < 5 and (len(counts) < 2 or counts[-1]):
        c0 = compiles.getCount()
        for name in ETL_SWEEP:
            QUERIES[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
        counts.append(compiles.getCount() - c0)
    assert counts[-1] == 0, f"classes compiled per sweep: {counts}"


def test_partition_probe_cache_releases_sessions(spark):
    """The probe cache keeps no session alive once the caller drops it."""
    sess = spark.newSession()
    ensure_parallelism(sess.range(16, numPartitions=1))
    ref = weakref.ref(sess)
    del sess
    # PySpark's RDD.toDF patch closes over the most recently constructed
    # session; wrapping the fixture's JVM session again moves it back.
    SparkSession(spark.sparkContext, spark._jsparkSession)
    gc.collect()
    assert ref() is None
