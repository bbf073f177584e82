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
4. mergeable per-source counters are the trigger's partial; the
   batch's new identities extend the store.

The store, its replay-safe layout, the order guard and the
pin-then-write are ``state_io.growing_store_step`` (layout and
contracts in its module docstring). At scale the store is one 8-byte
BIGINT per distinct chunk — ~1/64 of the normalized corpus mass at
mask 64. Every per-trigger stage is a keyed agg or keyed
equi-join on the packed identity; nothing driver-side.

UNITS: ``new_chars``/``dup_chars`` count whitespace-normalized
characters with the 2^21-1 per-chunk cap of the packed encoding (see
catalog q282).

Reference basis: the notebooks' re-read-everything monthly merges
(`Study Startup Legacy Data merge.ipynb`) — re-expressed so each wave
ships only its genuinely-new bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CDC_INGEST_PARTIAL_SCHEMA = (
    "source string, n_docs long, n_chunks long, new_chunks long, "
    "dup_chunks long, new_chars long, dup_chars long"
)


def _chunk_rows(batch: DataFrame) -> DataFrame:
    """(doc_id, source, pos, packed, ln) chunk instances for a batch
    (window 16, mask 64 — ``textops.with_cdc_chunks``'s cut) —
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
            F.posexplode(_cdc_kernel(16, 64)(F.col("t"))).alias(
                "pos", "packed"
            ),
        )
        .withColumn(
            "ln", (F.col("packed") % F.lit(2097152)).cast("bigint")
        )
    )


def _cdc_ingest_partial(
    batch: DataFrame, seen: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """One trigger: dedup the batch's chunk instances against the
    pre-batch store view ``seen`` + within-batch keeper; returns the
    mergeable per-source counters and the batch's new identities."""
    rows = _chunk_rows(batch).localCheckpoint(
        eager=True
    )  # two consumers: partial + store write
    # checkpointed: the keeper aggregate feeds BOTH the partial and the
    # store write — without this the groupBy over every chunk
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
    return partial, keeper.join(seen, "packed", "left_anti")


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
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Run the growing-store CDC ingest over the current backlog
    (AvailableNow) and return the merged per-source ledger.

    ``state_dir`` hosts the persistent chunk-identity store; it
    survives across invocations, so successive calls resume dedup
    against everything already ingested. Layout, replay and
    ascending-doc_id contracts: ``state_io``."""
    from kp_data_pipelines_spark.streaming.events import (
        run_available_now_foreach_batch,
    )
    from kp_data_pipelines_spark.streaming.state_io import (
        growing_store_step,
    )

    step = growing_store_step(
        state_dir,
        "packed long",
        checkpoint_dir,
        "cdc_ingest_stream",
        _cdc_ingest_partial,
    )
    partials = run_available_now_foreach_batch(
        stream_df,
        step,
        CDC_INGEST_PARTIAL_SCHEMA,
        checkpoint_dir=checkpoint_dir,
    )
    return finalize_cdc_ledger(partials)
