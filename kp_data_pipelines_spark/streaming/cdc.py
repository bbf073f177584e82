"""Growing-store CDC chunk ingest (q288) — q286's deploy shape with a
store that GROWS.

q286 dedups each micro-batch against a STATIC chunk store; a real
block-layer ingest pipeline also INSERTS each batch's new chunks into
the store, so later batches dedup against everything already ingested —
the q251 fingerprint-ledger pattern at CHUNK granularity. Per trigger:

1. chunk the batch's documents with the content-defined-chunking Arrow
   kernel (``textops._cdc_kernel`` — rolling-hash cuts, packed
   ``fp*2^21 + len`` BIGINT identities), keeping each chunk's ordinal
   POSITION within its document;
2. within-batch first occurrence per identity = MIN (doc_id, pos)
   struct — one keyed aggregate;
3. a chunk INSTANCE is a duplicate iff its identity is already in the
   persistent store (a previous batch wrote it) OR it is not the
   within-batch keeper — under ascending-doc_id arrival this equals
   GLOBAL sequential first-occurrence semantics, so the final ledger is
   identical for ANY batching of an ordered backlog (pinned by the
   stream==batch test with injected cross-batch duplicate chunks);
4. mergeable per-source counters (chunk/char new-vs-dup splits) are
   written as the trigger's partial; the batch's new identities are
   written to the store AFTER the partial's plan is checkpointed (the
   partial must read the PRE-batch store).

Replay safety (foreachBatch is at-least-once): the store is laid out
as ``state_dir/run=<token>/batch=<id>`` and each trigger's new
identities are written with ``mode("overwrite")`` to ITS OWN batch
directory, while the pre-batch view reads ``run != token OR batch <
id`` — so a retried/resumed batch sees exactly the store state its
first attempt saw and re-produces (not re-appends) its own partition.
The run token is derived from the checkpoint location, so a restart
against the same checkpoint (the replay case) lands on the same token,
while a NEW ingest wave (new checkpoint, same ``state_dir``) gets a
fresh token and deduplicates against every prior run's partitions.

At scale the store is one 8-byte BIGINT per distinct chunk — ~1/64 of
the normalized corpus mass at the default mask — appended per batch
(metadata-only transaction on Delta/Iceberg; plain parquet here for
zero-dependency tests). Every per-trigger stage is a keyed agg or keyed
equi-join on the packed identity; nothing driver-side.

UNITS: ``new_chars``/``dup_chars`` count whitespace-normalized
characters with the 2^21-1 per-chunk cap of the packed encoding (see
catalog q282).

Reference basis: the notebooks' re-read-everything monthly merges
(`Study Startup Legacy Data merge.ipynb`) — re-expressed so each wave
ships only its genuinely-new bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CDC_INGEST_PARTIAL_SCHEMA = (
    "source string, n_docs long, n_chunks long, new_chunks long, "
    "dup_chunks long, new_chars long, dup_chars long"
)

_STORE_SCHEMA = "packed long, run string, batch long"


def _read_chunk_store(spark: SparkSession, state_dir: str) -> DataFrame:
    """Read the run/batch-partitioned chunk-identity store; a missing
    path means "first batch ever" (empty frame). Anything else re-raises
    loudly — silently resetting state would let duplicates through."""
    from kp_data_pipelines_spark.streaming.state_io import (
        read_state_parquet,
    )

    return read_state_parquet(spark, state_dir, _STORE_SCHEMA)


def _chunk_rows(batch: DataFrame, w: int, mask: int) -> DataFrame:
    """(doc_id, source, pos, packed, ln) chunk instances for a batch —
    posexplode keeps the within-document chunk ordinal that the
    first-occurrence tie-break needs."""
    from kp_data_pipelines_spark.operators.similarity import (
        ensure_parallelism,
    )
    from kp_data_pipelines_spark.operators.textops import (
        _cdc_kernel,
        normalize_ws,
    )

    return (
        ensure_parallelism(
            batch.select("doc_id", "source", normalize_ws("text").alias("t"))
        )
        .select(
            "doc_id",
            "source",
            F.posexplode(_cdc_kernel(w, mask)(F.col("t"))).alias(
                "pos", "packed"
            ),
        )
        .withColumn(
            "ln", (F.col("packed") % F.lit(2097152)).cast("bigint")
        )
    )


def _cdc_ingest_partial(
    batch: DataFrame,
    state_dir: str,
    w: int,
    mask: int,
    run_token: str,
    batch_id: int,
) -> DataFrame:
    """One trigger: dedup the batch's chunk instances against the
    pre-batch store view + within-batch keeper, emit mergeable
    per-source counters, overwrite this batch's own store partition
    with its new identities (idempotent under replay — see module
    docstring)."""
    spark = batch.sparkSession
    rows = _chunk_rows(batch, w, mask).localCheckpoint(
        eager=True
    )  # two consumers: partial + store write
    # pre-batch view: every OTHER run in full, plus this run's earlier
    # batches — a replayed batch's own (possibly half-written) partition
    # is excluded, so the retry sees the store its first attempt saw
    seen = (
        _read_chunk_store(spark, state_dir)
        .where(
            (F.col("run") != F.lit(run_token))
            | (F.col("batch") < F.lit(batch_id))
        )
        .select("packed")
        .distinct()
    )
    # checkpointed: the keeper aggregate feeds BOTH the partial and the
    # store-append actions — without this the groupBy over every chunk
    # instance would run twice per trigger
    keeper = (
        rows.groupBy("packed")
        .agg(F.min(F.struct("doc_id", "pos")).alias("kp"))
        .localCheckpoint(eager=True)
    )
    seen_flag = seen.withColumn("__seen", F.lit(1))
    tagged = (
        rows.join(keeper, "packed")
        .join(seen_flag, "packed", "left")
        .select(
            "source",
            "doc_id",
            "ln",
            F.when(
                F.col("__seen").isNotNull()
                | (F.struct("doc_id", "pos") != F.col("kp")),
                1,
            )
            .otherwise(0)
            .alias("is_dup"),
        )
    )
    partial = tagged.groupBy("source").agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
        F.sum(1 - F.col("is_dup")).cast("bigint").alias("new_chunks"),
        F.sum("is_dup").cast("bigint").alias("dup_chunks"),
        F.sum((1 - F.col("is_dup")) * F.col("ln"))
        .cast("bigint")
        .alias("new_chars"),
        F.sum(F.col("is_dup") * F.col("ln"))
        .cast("bigint")
        .alias("dup_chars"),
    )
    # persist this batch's new identities AFTER the partial's plan is
    # pinned (the partial reads the PRE-batch store); overwrite of the
    # batch's OWN partition keeps the write idempotent under replay
    partial = partial.localCheckpoint(eager=True)
    keeper.join(seen, "packed", "left_anti").select("packed").write.mode(
        "overwrite"
    ).parquet(f"{state_dir}/run={run_token}/batch={batch_id}")
    return partial


def finalize_cdc_ledger(partials: DataFrame) -> DataFrame:
    """Merge per-batch partials: sum the mergeable counters (each doc
    lives in exactly one batch, so per-batch distinct doc counts add),
    then derive the duplicate-char share from merged totals."""
    merged = partials.groupBy("source").agg(
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("n_chunks").cast("bigint").alias("n_chunks"),
        F.sum("new_chunks").cast("bigint").alias("new_chunks"),
        F.sum("dup_chunks").cast("bigint").alias("dup_chunks"),
        F.sum("new_chars").cast("bigint").alias("new_chars"),
        F.sum("dup_chars").cast("bigint").alias("dup_chars"),
    )
    return merged.select(
        "source",
        "n_docs",
        "n_chunks",
        "new_chunks",
        "dup_chunks",
        "new_chars",
        "dup_chars",
        (
            F.col("dup_chars").cast("double")
            / (F.col("new_chars") + F.col("dup_chars")).cast("double")
        ).alias("dup_char_share"),
    ).orderBy("source")


def cdc_ingest_stream(
    stream_df: DataFrame,
    state_dir: str,
    w: int = 16,
    mask: int = 64,
    checkpoint_dir: str | None = None,
    validate_order: bool = True,
    runner=None,
) -> DataFrame:
    """Run the growing-store CDC ingest over the current backlog
    (AvailableNow) and return the merged per-source ledger.

    ``runner`` is the ADAPTER SEAM for non-file sources: it defaults to
    ``events.run_available_now_foreach_batch`` (file backlog,
    AvailableNow), and an UNBOUNDED source — rate, Kafka — passes a
    bounded driver instead (``events.run_bounded_foreach_batch``; see
    ``events.rate_mapped_doc_stream`` and
    test_cdc_ingest_from_rate_source_equals_batch). The per-batch
    ingest logic is identical either way; only the stop condition
    differs, which is the point: the growing-store contract does not
    depend on the source terminating.

    ``state_dir`` hosts the persistent chunk-identity table — it
    survives across invocations, so successive calls resume dedup
    against everything already ingested.

    ORDERING DEPENDENCY: the "ledger == global first-occurrence"
    contract (and the q288 oracle equality) requires batches to arrive
    in ascending-doc_id order. With a file stream source that is the
    file LISTING order (modification time), which tracks doc_id order
    only when backlog files were written in doc order — a backlog whose
    mtimes were scrambled (touched/copied files) silently reorders
    batches. ``validate_order=True`` (default) guards this: each
    trigger's min(doc_id) is checked against every earlier watermark
    (``state_io.AscendingIdGuard`` — persisted marker files, so the
    guard survives restarts; this run's batches key by id so replays
    stay idempotent, prior runs over the same growing store collapse
    into a global floor) and a violation raises loudly instead of
    producing a wrong ledger."""
    from kp_data_pipelines_spark.streaming.events import (
        run_available_now_foreach_batch,
    )
    from kp_data_pipelines_spark.streaming.state_io import AscendingIdGuard

    guard = AscendingIdGuard(state_dir, checkpoint_dir, "cdc_ingest_stream")

    def ingest(batch: DataFrame, batch_id: int) -> DataFrame:
        if validate_order:
            guard.check_batch(batch, batch_id)
        return _cdc_ingest_partial(
            batch, state_dir, w, mask, guard.run_token, batch_id
        )

    if runner is None:
        runner = run_available_now_foreach_batch
    partials = runner(
        stream_df,
        ingest,
        CDC_INGEST_PARTIAL_SCHEMA,
        checkpoint_dir=checkpoint_dir,
        with_batch_id=True,
    )
    return finalize_cdc_ledger(partials)
