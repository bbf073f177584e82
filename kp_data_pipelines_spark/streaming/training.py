"""Streaming twin of the q250 training-data build ledger.

The batch capstone (catalog q250) runs quality gate -> exact dedup ->
deterministic split -> packing forecast over the whole corpus at once.
The deploy shape for a live ingestion pipeline is the same composition
per MICRO-BATCH via ``foreachBatch`` (the q150 stream-side batch-job
pattern): each trigger computes the per-doc flags (stateless), dedups
against a PERSISTENT fingerprint store (cross-batch exact dedup — the
state the stateless per-batch plan cannot carry) and emits mergeable
per-(lang, split) ledger PARTIALS. Bins/pad are ceil-division — NOT
mergeable — so they are computed from the merged totals downstream,
exactly like q250's final aggregate.

Cross-batch dedup semantics: first-seen fingerprint wins (within a batch,
lowest doc_id). This equals the batch ledger's MIN-doc_id keeper under
ascending-doc_id arrival, and the equivalence is pinned by
tests/test_streaming.py (stream-over-waves == batch q250). The store,
its replay-safe layout, the order guard and the pin-then-write are
``state_io.growing_store_step`` (layout and contracts in its module
docstring). At scale the store is one sha256 hex key per distinct
quality-passing fingerprint; each trigger's work is the verified q250
keyed-agg/keyed-join stages plus one equi-join against the store.

Reference basis: the notebooks' monthly re-read-everything rebuild
(e.g. `Study Startup Legacy Data merge.ipynb`) — re-expressed as an
incremental exactly-once stream so the 100 TB corpus is NOT reprocessed
per wave.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

LEDGER_PARTIAL_SCHEMA = (
    "lang string, split string, n_candidates bigint, n_failed_quality bigint,"
    " n_dup_dropped bigint, n_kept bigint, total_tokens bigint"
)


def doc_flags(docs: DataFrame) -> DataFrame:
    """Per-doc stateless stages of the q250 build, batch-shaped so they
    run unchanged inside a ``foreachBatch`` trigger: deterministic LCG
    split (q237), token/bigram Gopher repetition gate (q235), sha256
    fingerprint (q23). Returns (doc_id, lang, split, n_tokens, f,
    quality_pass)."""
    from kp_data_pipelines_spark.operators.similarity import (
        _MERSENNE,
        _hash_params,
    )

    (a, b) = _hash_params(1, 67)[0]
    bucket = (
        (F.lit(a) * F.pmod(F.col("doc_id"), F.lit(_MERSENNE)) + F.lit(b))
        % _MERSENNE
    ) % 10
    d = docs.select(
        "doc_id",
        "lang",
        "text",
        F.when(bucket < 8, "train")
        .when(bucket == 8, "val")
        .otherwise("test")
        .alias("split"),
    )
    toks = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    pt = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.count_distinct("tok").cast("bigint").alias("n_distinct"),
    )
    wlead = Window.partitionBy("doc_id").orderBy("pos")
    bs = (
        toks.withColumn("nxt", F.lead("tok").over(wlead))
        .filter(F.col("nxt").isNotNull())
        .groupBy("doc_id", F.concat_ws(" ", "tok", "nxt").alias("bgr"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.max("c").cast("bigint").alias("top_bg"),
            F.sum("c").cast("bigint").alias("n_bg"),
        )
    )
    z = F.lit(0).cast("bigint")
    return (
        d.join(pt, "doc_id")
        .join(bs, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            "split",
            "n_tokens",
            F.sha2(F.col("text"), 256).alias("f"),
            F.when(
                (
                    (F.col("n_tokens") - F.col("n_distinct")) * 2
                    > F.col("n_tokens")
                )
                | (F.coalesce("top_bg", z) * 5 > F.coalesce("n_bg", z)),
                0,
            )
            .otherwise(1)
            .alias("quality_pass"),
        )
    )


def _ledger_partial(
    flags: DataFrame, seen: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """One trigger's ledger partial: dedup `flags` against the pre-batch
    store view ``seen`` plus the within-batch min-doc_id keeper; returns
    the mergeable per-(lang, split) counters and the batch's new
    fingerprints."""
    flags = flags.localCheckpoint(eager=True)  # two consumers below
    reps = (
        flags.filter(F.col("quality_pass") == 1)
        .groupBy("f")
        .agg(F.min("doc_id").cast("bigint").alias("keeper"))
    )
    seen_flag = seen.withColumn("__seen", F.lit(1))
    ledger = (
        flags.join(reps, "f", "left")
        .join(seen_flag, "f", "left")
        .select(
            "lang",
            "split",
            "n_tokens",
            "quality_pass",
            F.when(
                (F.col("quality_pass") == 1)
                & (
                    F.col("__seen").isNotNull()
                    | (F.col("doc_id") != F.col("keeper"))
                ),
                1,
            )
            .otherwise(0)
            .alias("is_dup"),
        )
    )
    partial = ledger.groupBy("lang", "split").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
        F.sum(1 - F.col("quality_pass")).cast("bigint").alias(
            "n_failed_quality"
        ),
        F.sum("is_dup").cast("bigint").alias("n_dup_dropped"),
        F.sum(F.col("quality_pass") * (1 - F.col("is_dup")))
        .cast("bigint")
        .alias("n_kept"),
        F.sum(
            F.col("quality_pass") * (1 - F.col("is_dup")) * F.col("n_tokens")
        )
        .cast("bigint")
        .alias("total_tokens"),
    )
    return partial, reps.join(seen, "f", "left_anti")


def finalize_ledger(partials: DataFrame) -> DataFrame:
    """Merge per-batch partials into the q250 ledger: sum the mergeable
    counters, then derive 4096-token bins/pad from merged totals
    (ceil-division is not mergeable, so it happens exactly once, here —
    same arithmetic as q250's final aggregate)."""
    budget = 4096
    merged = partials.groupBy("lang", "split").agg(
        F.sum("n_candidates").cast("bigint").alias("n_candidates"),
        F.sum("n_failed_quality").cast("bigint").alias("n_failed_quality"),
        F.sum("n_dup_dropped").cast("bigint").alias("n_dup_dropped"),
        F.sum("n_kept").cast("bigint").alias("n_kept"),
        F.sum("total_tokens").cast("bigint").alias("total_tokens"),
    )
    n_bins = F.expr(f"(total_tokens + {budget} - 1) div {budget}")
    return merged.select(
        "lang",
        "split",
        "n_candidates",
        "n_failed_quality",
        "n_dup_dropped",
        "n_kept",
        "total_tokens",
        n_bins.cast("bigint").alias("n_bins"),
        (n_bins * budget - F.col("total_tokens"))
        .cast("bigint")
        .alias("pad_tokens"),
    ).orderBy("lang", "split")


def training_build_stream(
    stream_df: DataFrame,
    state_dir: str,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Run the full streaming training-data build over the current
    backlog (AvailableNow) and return the merged q250-shaped ledger.

    ``stream_df`` is a streaming DataFrame of documents (doc_id, lang,
    text, ...); ``state_dir`` hosts the persistent fingerprint store
    (survives across invocations — incremental builds resume dedup
    against everything already ingested). Layout, replay and
    ascending-doc_id contracts: ``state_io``."""
    from kp_data_pipelines_spark.streaming.events import (
        run_available_now_foreach_batch,
    )
    from kp_data_pipelines_spark.streaming.state_io import (
        growing_store_step,
    )

    step = growing_store_step(
        state_dir,
        "f string",
        checkpoint_dir,
        "training_build_stream",
        lambda batch, seen: _ledger_partial(doc_flags(batch), seen),
    )
    partials = run_available_now_foreach_batch(
        stream_df,
        step,
        LEDGER_PARTIAL_SCHEMA,
        checkpoint_dir=checkpoint_dir,
    )
    return finalize_ledger(partials)
