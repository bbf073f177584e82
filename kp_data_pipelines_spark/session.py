"""SparkSession factory with scale-appropriate defaults.

The reference executes everything in one eager pandas process; here the
equivalent "runtime" is a SparkSession configured so the same logical
pipelines survive a 1000-executor / 100 TB deployment:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  dynamic broadcast selection),
- Arrow-backed pandas conversion for the few report-layer collects,
- UTC session timezone so timestamp semantics are deployment-independent,
- shuffle partitions sized by env (32 locally; a cluster deployment
  overrides via ``spark.sql.shuffle.partitions`` — AQE coalesces down),
- a generated-class cache large enough that recurring queries reuse
  their compiled code instead of recompiling it every run.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import SparkSession

# Defaults chosen for determinism + scale. Each is overridable by the caller.
_DEFAULTS: dict[str, str] = {
    # local-mode driver == executor: the 1g JVM default OOMs with 32
    # concurrent tasks on corpus-scale shuffles. Only effective when this
    # factory launches the JVM; a cluster deployment sizes executors via
    # spark-submit instead.
    "spark.driver.memory": "16g",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # 10 MB default is conservative; dims in this workload are small.
    "spark.sql.autoBroadcastJoinThreshold": "64MB",
    # Parquet scans: vectorized reader + pushdown are on by default; keep
    # explicit so a misconfigured deployment can't silently disable them.
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.enableVectorizedReader": "true",
    "spark.sql.shuffle.partitions": "32",
    # Generated-class cache. Spark's default of 100 entries (4 LRU
    # segments) is smaller than one pass of a recurring workload, so every
    # pass recompiled every class with Janino (perfbench etl_sweep: ~113
    # per warm pass, ~130 with warm-up; stream_ingest 75, ~105). The whole
    # catalog generates ~4,440 distinct classes per sf0.001 sweep; 8192
    # holds that across the segment split (SCALE.md §24). Static conf:
    # only effective when this factory starts the session.
    "spark.sql.codegen.cache.maxEntries": "8192",
}


def get_spark(
    app_name: str = "kp_data_pipelines_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when the env var is
    set, else whatever the deployment provides (spark-submit / existing
    session). On a real cluster, pass ``master=None`` and configure through
    spark-submit; these conf defaults still apply unless overridden.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and not _has_active_session():
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if master:
        builder = builder.master(master)
    conf = dict(_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def _has_active_session() -> bool:
    return SparkSession.getActiveSession() is not None


def release_pinned_rdds(spark: SparkSession, blocking: bool = True) -> int:
    """Unpersist every RDD the SparkContext still pins; returns the count.

    Eager ``localCheckpoint`` (the graph/prefix/containment operators use
    it to cut iterative lineage) registers its blocks in the context's
    persistent-RDD map for the SESSION's lifetime: Python drops its
    references when the query function returns, but the JVM-side cleanup
    waits on Python GC -> py4j finalizers -> ContextCleaner, which lags
    far behind a tight multi-query loop. In a long-lived session (bench
    runs, a multi-tenant query service) the leftover blocks accumulate in
    the storage pool and steal execution memory from later queries —
    measured as q180 running 9.0 s mid-bench vs 4.8 s isolated (round-4
    verdict). Calling this BETWEEN queries keeps the pool flat.

    Safety: only call at query boundaries. A localCheckpoint'ed frame has
    no lineage to recompute from, so unpersisting it mid-query would lose
    data a still-pending action needs.
    """
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    n = 0
    # py4j surfaces the java.util.Map as a dict-like view; snapshot the
    # values first since unpersist mutates the underlying map.
    for jrdd in list(jmap.values()):
        jrdd.unpersist(blocking)
        n += 1
    return n


def time_noop_run(spark: SparkSession, query, sf_dir: str) -> float:
    """Run one catalog query to the ``noop`` sink (full execution, no
    result transfer) and return its wall seconds. The query's pinned RDDs
    are released, blocking, after the clock stops: an async release
    overlaps the next timed region (+7% over a bench run, SCALE.md §15).
    Every timed loop (bench.py and the tools) runs queries through here."""
    t0 = time.perf_counter()
    query(spark, sf_dir).write.format("noop").mode("overwrite").save()
    seconds = time.perf_counter() - t0
    release_pinned_rdds(spark)
    return seconds


def warm_up(spark: SparkSession, sf_dir: str) -> None:
    """Run the catalog's first query once, untimed, so later timings
    measure plans rather than JVM start-up, file listing and codegen."""
    from kp_data_pipelines_spark.catalog import QUERIES

    time_noop_run(spark, next(iter(QUERIES.values())), sf_dir)
