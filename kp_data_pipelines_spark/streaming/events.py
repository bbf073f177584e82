"""Structured Streaming equivalents of the reference's snapshot-folder
ingestion (SURVEY.md A8/S9) plus event-time analytics for the ``events``
table.

The reference's ``json_cleaning.ipynb:246-264`` loop — read each new file,
concat, drop_duplicates, bound memory — IS a hand-written micro-batch file
source with per-batch dedup. Here it's the real thing:

- file source (``readStream``) with ``Trigger.AvailableNow`` (process the
  backlog once, checkpoint, stop — the batch-ish drop-folder semantics),
- ``withWatermark`` + ``dropDuplicatesWithinWatermark`` for bounded-state
  dedup (the scale-safe version of "concat then drop_duplicates"),
- tumbling/sliding event-time window aggregation with late-data handling.

State scale note: watermark bounds the dedup/agg state; at 100 TB/day the
state store holds only the watermark horizon, not history — exactly the
memory bound the reference's loop was hand-approximating.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
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


def windowed_event_counts(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
    value_col: str = "value",
) -> DataFrame:
    """Tumbling (or sliding) event-time window counts + value sums with
    late-data tolerance. Batch twin: catalog q25_window_events."""
    w = F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(w.alias("w"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col(value_col).cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            key_col,
            "n_events",
            "total_value",
        )
    )


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


def _batch_writer(out_dir: str, batch_fn):
    """The foreachBatch result sink shared by both runners: each batch's
    output is written to ``{out_dir}/batch={id}`` with overwrite, so a
    replayed batch id replaces its own earlier attempt."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        batch_fn(batch_df, batch_id).write.mode("overwrite").parquet(
            f"{out_dir}/batch={batch_id}"
        )

    return write


def _read_batches(spark: SparkSession, out_dir: str, result_schema) -> DataFrame:
    """Read every ``batch=N`` result dir back as one batch DataFrame.
    ``recursiveFileLookup`` also turns off partition discovery, so the
    columns are exactly ``result_schema``'s (no ``batch`` column)."""
    return (
        spark.read.schema(result_schema)
        .option("recursiveFileLookup", "true")  # flatten batch=N subdirs
        .parquet(out_dir)
    )


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
    q = (
        stream_df.writeStream.foreachBatch(
            _batch_writer(out_dir, batch_fn)
        )
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if own_ckpt:
        shutil.rmtree(checkpoint_dir, ignore_errors=True)
    return _read_batches(stream_df.sparkSession, out_dir, result_schema)


def rate_mapped_doc_stream(
    spark: SparkSession,
    docs: DataFrame,
    rows_per_batch: int,
    num_partitions: int = 2,
) -> DataFrame:
    """THE UNBOUNDED-SOURCE ADAPTER SEAM (round-9 verdict #4): feed the
    growing-store operators from a source that never terminates and
    whose listing order the builder does not control — here Spark's
    ``rate-micro-batch`` source, the built-in stand-in for any
    offset-carrying unbounded source (Kafka partitions expose
    monotonically increasing offsets the same way rate exposes
    ``value``).

    The adapter maps the source's monotone sequence onto document rows
    with a stream-static equi-join (``value == seq``, seq = dense
    ascending rank of doc_id on the static side). Because rate values
    are contiguous and ascending ACROSS micro-batches, the mapped
    stream satisfies the ascending-doc_id order contract
    STRUCTURALLY — the property a file stream only gets from well-
    behaved mtimes, which is exactly what ``AscendingIdGuard`` exists
    to police. Values past the static table's end join to nothing
    (empty tail batches; the bounded runner stops on them).

    The global row_number on the STATIC side is test-harness plumbing
    (the static table is the fixture corpus); a production Kafka
    adapter carries its id in the record and needs no rank."""
    from pyspark.sql import Window

    static = docs.select(
        (F.row_number().over(Window.orderBy("doc_id")) - 1)
        .cast("long")
        .alias("seq"),
        "doc_id",
        "source",
        "text",
    )
    stream = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rows_per_batch)
        .option("numPartitions", num_partitions)
        .load()
    )
    return stream.join(
        static, stream["value"] == static["seq"]
    ).select("doc_id", "source", "text")


def run_bounded_foreach_batch(
    stream_df: DataFrame,
    batch_fn,
    result_schema,
    total_rows: int,
    checkpoint_dir: str | None = None,
    idle_batches: int = 3,
    timeout_sec: float = 300.0,
) -> DataFrame:
    """``run_available_now_foreach_batch`` for sources that NEVER
    terminate (rate, Kafka): process micro-batches under the default
    trigger until ``total_rows`` mapped rows have been ingested, then
    stop the query and return the concatenated per-batch results.
    ``idle_batches`` consecutive EMPTY batches also break the wait —
    but that path then RAISES if fewer than ``total_rows`` rows
    arrived: an idle source that never delivered its rows (a paused
    producer) must fail loudly, not return a silently partial ledger
    the caller can't distinguish from a complete one. The stop is
    driver-side observation of a counter the foreachBatch handler
    advances — no sentinel rows in the data path, so ``batch_fn`` sees
    exactly what an AvailableNow run would.

    A caller-supplied ``checkpoint_dir`` is SINGLE-USE: micro-batches
    that drain after the stop condition fires are skipped by the
    handler but their offsets are still committed by the streaming
    engine, so resuming a later query from the same checkpoint would
    permanently skip that data. Pass a fresh directory per run (or
    None to let this function own an ephemeral one). Error paths
    (source exception, timeout, idle-partial) remove ``out_dir`` and
    any owned checkpoint before raising."""
    import shutil
    import threading
    import time as _time

    own_ckpt = checkpoint_dir is None
    if own_ckpt:
        checkpoint_dir = _ephemeral_dir("kp_stream_ckpt_")
    out_dir = _ephemeral_dir("kp_stream_out_")
    write = _batch_writer(out_dir, batch_fn)
    state = {"rows": 0, "idle": 0}
    done = threading.Event()

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if done.is_set():
            return  # drained past the stop condition; don't re-ingest
        n = batch_df.count()
        write(batch_df, batch_id)
        state["rows"] += n
        state["idle"] = state["idle"] + 1 if n == 0 else 0
        if state["rows"] >= total_rows or state["idle"] >= idle_batches:
            done.set()

    q = (
        stream_df.writeStream.foreachBatch(handle)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    try:
        deadline = _time.time() + timeout_sec
        while not done.is_set() and _time.time() < deadline:
            if q.exception() is not None:
                break
            _time.sleep(0.2)
        q.stop()
        q.awaitTermination()
        if q.exception() is not None:
            raise q.exception()
        if not done.is_set():
            raise TimeoutError(
                f"bounded stream did not reach {total_rows} rows within "
                f"{timeout_sec}s (got {state['rows']})"
            )
        if state["rows"] < total_rows:
            raise ValueError(
                f"bounded stream went idle ({state['idle']} empty "
                f"batches) after only {state['rows']} of {total_rows} "
                "rows — the source stopped delivering; refusing to "
                "return a partial ledger"
            )
    except BaseException:
        shutil.rmtree(out_dir, ignore_errors=True)
        if own_ckpt:
            shutil.rmtree(checkpoint_dir, ignore_errors=True)
        raise
    if own_ckpt:
        shutil.rmtree(checkpoint_dir, ignore_errors=True)
    return _read_batches(stream_df.sparkSession, out_dir, result_schema)


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


def upsert_stream(
    stream_df: DataFrame,
    target_dir: str,
    checkpoint_dir: str,
    keys: list[str],
    order_col: str,
) -> None:
    """Streaming CDC merge: each micro-batch upserts into a parquet
    snapshot via ``foreachBatch`` + ``reconcile.snapshot_upsert`` — the
    continuous form of the reference's monthly replace-then-append cycle.

    Within a batch, the newest row per key wins (order_col descending);
    across batches, the batch replaces same-key snapshot rows. The target
    is rewritten atomically (write new -> swap) because plain parquet has
    no MERGE; on Delta/Iceberg the body becomes a metadata-only MERGE
    INTO. Exactly-once per batch via the streaming checkpoint; the
    rewrite is idempotent on replay because upsert is."""
    import shutil

    from pyspark.sql import Window

    from kp_data_pipelines_spark.operators.reconcile import snapshot_upsert

    spark = stream_df.sparkSession

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        w = Window.partitionBy(*keys).orderBy(F.desc(order_col))
        latest = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        try:
            current = spark.read.schema(batch_df.schema).parquet(target_dir)
            merged = snapshot_upsert(current, latest, keys)
        except Exception:  # first batch: no snapshot yet
            merged = latest
        tmp = f"{target_dir}__staging"
        merged.write.mode("overwrite").parquet(tmp)
        shutil.rmtree(target_dir, ignore_errors=True)
        shutil.move(tmp, target_dir)

    q = (
        stream_df.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


SESSION_OUTPUT_SCHEMA = "user_id long, session_start timestamp, session_end timestamp, n_events long, total_value double"
_SESSION_STATE_SCHEMA = "start_us long, last_us long, n long, total double"


def sessionize_stateful(
    stream_df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    gap_minutes: int = 30,
) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-user sessionization with an inactivity gap, the streaming twin of
    the batch gaps-and-islands query (catalog q53).

    State per user = the open session (start, last-seen, count, sum).
    A batch's events are processed in event-time order; a gap larger than
    ``gap_minutes`` CLOSES the current session (emitted downstream) and
    opens a new one. Open sessions stay in the state store — bounded at
    one row per active user, the textbook bounded-state design. Sessions
    still open when the stream ends are intentionally unemitted (they are
    not finished); production deployments add a timeout to flush idle
    users (GroupStateTimeout), omitted here for determinism in tests.
    """
    import pandas as pd

    gap_us = gap_minutes * 60 * 1_000_000

    def fn(key, pdf_iter, state):
        user = key[0]
        if state.exists:
            start_us, last_us, n, total = state.get
        else:
            start_us = last_us = None
            n, total = 0, 0.0
        closed = []
        # one group's rows can arrive as MULTIPLE Arrow chunks that are not
        # globally time-ordered; sorting per chunk would let last_us move
        # backwards — concatenate first, sort once
        chunks = [pdf for pdf in pdf_iter]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values(ts_col)
            for ts, val in zip(pdf[ts_col], pdf[value_col]):
                us = int(pd.Timestamp(ts).value // 1000)
                if last_us is not None and us - last_us > gap_us:
                    closed.append((user, start_us, last_us, n, total))
                    start_us, n, total = us, 0, 0.0
                if start_us is None:
                    start_us = us
                last_us = us
                n += 1
                total += float(val) if val == val else 0.0
        state.update((start_us, last_us, n, total))
        if closed:
            out = pd.DataFrame(
                closed,
                columns=["user_id", "start_us", "end_us", "n_events", "total_value"],
            )
            yield pd.DataFrame(
                {
                    "user_id": out["user_id"],
                    "session_start": pd.to_datetime(out["start_us"], unit="us"),
                    "session_end": pd.to_datetime(out["end_us"], unit="us"),
                    "n_events": out["n_events"],
                    "total_value": out["total_value"].round(2),
                }
            )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return stream_df.groupBy(user_col).applyInPandasWithState(
        fn,
        outputStructType=SESSION_OUTPUT_SCHEMA,
        stateStructType=_SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


TRANSITION_OUTPUT_SCHEMA = "user_id bigint, cur string, nxt string, n bigint"
_TRANSITION_STATE_SCHEMA = "last_type string, last_us bigint"


def transition_counts_stateful(
    stream_df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_col: str | None = "event_id",
) -> DataFrame:
    """Streaming twin of the batch Markov-transition count (catalog
    q241) via ``applyInPandasWithState``: per-user state = the LAST seen
    (event_type, ts), so transitions that SPAN micro-batch boundaries
    are counted exactly once — the cross-batch dependency that makes a
    stateless per-batch partial WRONG for sequence statistics (unlike
    q205's histogram partials, a lead() inside one batch misses every
    boundary-crossing pair). Emits per-batch (user, cur, nxt, n)
    transition partials; counts are mergeable downstream (sum), so
    stream-over-time-ordered-batches == batch lead() exactly. State is
    one row per active user — bounded, the same budget as the
    sessionizer. Requires event-time-ordered arrival per user across
    batches (the kafka-partition-per-user deployment); within a batch,
    rows are concatenated and sorted once before folding.

    Ordering is DETERMINISTIC under equal timestamps: the per-batch sort
    is a stable mergesort on (ts, tiebreak) where ``tiebreak_col``
    (default ``event_id``, skipped when absent from the stream schema)
    mirrors the batch twin's ``lead() OVER (ORDER BY ts, event_id)`` —
    a ts-only default quicksort would fold equal-ts events in
    arbitrary order and emit counts that vary run-to-run."""
    import pandas as pd

    def fn(key, pdf_iter, state):
        user = key[0]
        if state.exists:
            last_type, last_us = state.get
        else:
            last_type, last_us = None, None
        counts: dict = {}
        chunks = [pdf for pdf in pdf_iter]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True)
            by = [ts_col] + (
                [tiebreak_col]
                if tiebreak_col and tiebreak_col in pdf.columns
                else []
            )
            pdf = pdf.sort_values(by, kind="mergesort")
            for ts, t in zip(pdf[ts_col], pdf[type_col]):
                us = int(pd.Timestamp(ts).value // 1000)
                if last_type is not None:
                    k = (last_type, t)
                    counts[k] = counts.get(k, 0) + 1
                last_type, last_us = t, us
        state.update((last_type, last_us))
        if counts:
            rows = [(user, c, n_, v) for (c, n_), v in sorted(counts.items())]
            yield pd.DataFrame(
                rows, columns=["user_id", "cur", "nxt", "n"]
            )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return stream_df.groupBy(user_col).applyInPandasWithState(
        fn,
        outputStructType=TRANSITION_OUTPUT_SCHEMA,
        stateStructType=_TRANSITION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
