"""Structured Streaming equivalents of the reference's snapshot-folder
ingestion (SURVEY.md A8/S9), plus the AvailableNow runners that the
catalog's streaming queries execute through.

The reference's ``json_cleaning.ipynb:246-264`` loop — read each new file,
concat, drop_duplicates, bound memory — IS a hand-written micro-batch file
source with per-batch dedup. Here it's the real thing:

- file source (``readStream``) with ``Trigger.AvailableNow`` (process the
  backlog once, checkpoint, stop — the batch-ish drop-folder semantics),
- ``withWatermark`` + ``dropDuplicatesWithinWatermark`` for bounded-state
  dedup (the scale-safe version of "concat then drop_duplicates"),
- ``run_available_now`` (memory sink) and ``run_available_now_foreach_batch``
  (per-batch parquet sink) to execute a stream over its current backlog.
  Event-time window aggregations live inline in their catalog queries
  (q47, q121).

State scale note: watermark bounds the dedup/agg state; at 100 TB/day the
state store holds only the watermark horizon, not history — exactly the
memory bound the reference's loop was hand-approximating.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def stream_files(
    spark: SparkSession,
    path: str,
    schema: StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """S6/S9 streaming twin: watch a drop-folder as an unbounded table."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.format(fmt).load(path)


def dedup_within_watermark(
    df: DataFrame, keys: list[str], ts_col: str, watermark: str = "1 hour"
) -> DataFrame:
    """A8 scale-safe dedup: state bounded by the watermark horizon."""
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def _ephemeral_dir(prefix: str) -> str:
    """A tempdir removed at interpreter exit — streaming checkpoints and
    harness outputs are per-invocation scratch, so repeated bench/parity
    runs must not accumulate directories under /tmp (round-2 ADVICE)."""
    import atexit
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def run_available_now(
    stream_df: DataFrame,
    checkpoint_dir: str | None = None,
    output_mode: str = "append",
) -> DataFrame:
    """Execute a streaming query over the current backlog (AvailableNow),
    collect results via an in-memory sink, and stop. Returns the sink table
    as a batch DataFrame. For production use write to parquet/Delta with the
    same checkpoint; memory sink is for tests/smoke. When ``checkpoint_dir``
    is None an ephemeral one is created and removed at process exit."""
    import shutil
    import uuid

    own_ckpt = checkpoint_dir is None
    if own_ckpt:
        checkpoint_dir = _ephemeral_dir("kp_stream_ckpt_")
    name = f"sink_{uuid.uuid4().hex[:8]}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if own_ckpt:
        # the memory-sink table is fully materialized; the checkpoint is
        # single-use scratch — reclaim it now rather than at exit
        shutil.rmtree(checkpoint_dir, ignore_errors=True)
    return stream_df.sparkSession.table(name)


def run_available_now_foreach_batch(
    stream_df: DataFrame,
    batch_fn,
    result_schema,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Execute a streaming query with ``foreachBatch`` over the current
    backlog (AvailableNow) and return the concatenated per-batch results
    as a batch DataFrame.

    ``foreachBatch`` is the standard deploy shape for pipelines whose
    per-trigger logic is itself a batch job (multi-stage joins, pandas_udf
    signature stages, MERGE writes) — each micro-batch runs the full batch
    plan against static side inputs. Each batch's output is WRITTEN to a
    per-batch parquet path (the production sink shape — no driver-side
    ``collect``; at 100 TB the per-batch result never transits the driver)
    and the union is read back as one batch DataFrame. The parquet scratch
    lives until process exit (the returned plan reads from it); ephemeral
    checkpoints are reclaimed as soon as the query stops.

    ``batch_fn(batch_df, batch_id)`` has Spark's own foreachBatch
    signature; only stateful functions read the id, to make their side
    writes idempotent under replay (``state_io.growing_store_step``).
    The result sink here is already per-batch-id overwrite."""
    import shutil

    own_ckpt = checkpoint_dir is None
    if own_ckpt:
        checkpoint_dir = _ephemeral_dir("kp_stream_ckpt_")
    out_dir = _ephemeral_dir("kp_stream_out_")

    def write(batch_df: DataFrame, batch_id: int) -> None:
        # overwrite per batch id: a replayed batch replaces its own attempt
        batch_fn(batch_df, batch_id).write.mode("overwrite").parquet(
            f"{out_dir}/batch={batch_id}"
        )

    q = (
        stream_df.writeStream.foreachBatch(write)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if own_ckpt:
        shutil.rmtree(checkpoint_dir, ignore_errors=True)
    # recursiveFileLookup flattens the batch=N dirs and turns off partition
    # discovery, so the columns are exactly result_schema's (no ``batch``)
    return (
        stream_df.sparkSession.read.schema(result_schema)
        .option("recursiveFileLookup", "true")
        .parquet(out_dir)
    )


def ingest_snapshot_folder(
    spark: SparkSession,
    source_dir: str,
    target_dir: str,
    checkpoint_dir: str,
    schema: StructType,
    dedup_keys: list[str],
    ts_col: str,
    fmt: str = "parquet",
    watermark: str = "24 hours",
) -> None:
    """The complete A8 pipeline: drop-folder -> bounded dedup -> parquet
    table, exactly-once via checkpoint. Idempotent across reruns: files
    already checkpointed are skipped (the reference re-read everything)."""
    src = stream_files(spark, source_dir, schema, fmt)
    deduped = dedup_within_watermark(src, dedup_keys, ts_col, watermark)
    q = (
        deduped.writeStream.format("parquet")
        .option("path", target_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
