"""Streaming perceptual-fingerprint store ingest (q310) — the media
ADMISSION stage of perceptual dedup, deploy-shaped.

q309 prices perceptual dedup as a batch lifecycle; a live multimodal
store doesn't get the corpus at once — media arrive in waves, and each
wave must decide per payload: is this fingerprint NEW (admit it into
the store), an EXACT duplicate of an already-admitted fingerprint
(drop it), and if admitted, how close does it sit to what the store
already holds (the near-dup pressure gauge that says the store is
accumulating perceptual clones even though no exact fingerprint
repeats). Per trigger:

1. dHash the batch's payloads (``multimodal.with_media_dhash`` — one
   Arrow pass, no shuffle);
2. within-batch keeper per fingerprint value = MIN media_id — one
   keyed aggregate;
3. ADMITTED = keeper fingerprints not in the pre-batch store view;
   every other payload instance is an exact-fingerprint duplicate
   (store hit or non-keeper);
4. near-store audit for each admitted fingerprint: distinct EARLIER
   fingerprints (store members + admitted fingerprints with a smaller
   first media_id in this batch) within Hamming distance
   ``max_hamming`` — candidates via the same pigeonhole block keys as
   ``hamming_pairs`` (``similarity.hamming_block_keys``), probed
   batch-vs-store as a plain equi-join, verified with one
   bit_count(xor);
5. mergeable per-source counters are the trigger's partial; the
   batch's admitted fingerprints are written to the store AFTER the
   partial's plan is checkpointed (the partial must read the
   PRE-batch store).

Under ascending-media_id arrival (validated per batch exactly like
``cdc.cdc_ingest_stream``'s watermark guard) the ledger equals the
batch twin for ANY batching of the backlog: "earlier fingerprint"
means "first media_id smaller", and the store always holds exactly the
fingerprints first seen at smaller ids. Replay safety is the cdc.py
layout verbatim: ``state_dir/run=<token>/batch=<id>`` partitions
written with ``mode("overwrite")``, pre-batch view = ``run != token OR
batch < id``, so an at-least-once retry reproduces its own partition
instead of double-admitting.

At scale the store is one 8-byte BIGINT per admitted fingerprint; the
per-trigger probe shuffles C(d+k, k) hashed block keys per fingerprint
(15 at radius 4, agree_blocks 2) — the q302 candidate shape, batch
rows vs store rows, never store-vs-store.

Reference basis: the notebooks re-read every prior wave on each merge
(`Study Startup Legacy Data merge.ipynb`); this ships one fingerprint
probe per new payload instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MEDIA_INGEST_PARTIAL_SCHEMA = (
    "source string, n_media long, new_fps long, dup_media long, "
    "near_flagged long, near_hits long"
)

_STORE_SCHEMA = "phash long, run string, batch long"


def _read_fp_store(spark: SparkSession, state_dir: str) -> DataFrame:
    """Read the run/batch-partitioned fingerprint store; missing path =
    first batch ever. Missing-path detection via the Hadoop FileSystem
    probe (``state_io``); anything else re-raises loudly."""
    from kp_data_pipelines_spark.streaming.state_io import (
        read_state_parquet,
    )

    return read_state_parquet(spark, state_dir, _STORE_SCHEMA)


def _media_ingest_partial(
    batch: DataFrame,
    state_dir: str,
    max_hamming: int,
    agree_blocks: int,
    run_token: str,
    batch_id: int,
) -> DataFrame:
    """One trigger: admit the batch's new fingerprints against the
    pre-batch store view, emit mergeable per-source counters, overwrite
    this batch's own store partition."""
    from kp_data_pipelines_spark.operators.multimodal import (
        with_media_dhash,
    )
    from kp_data_pipelines_spark.operators.similarity import (
        ensure_parallelism,
        hamming_block_keys,
        hamming_pairs,
    )

    spark = batch.sparkSession
    media = ensure_parallelism(
        batch.select(
            F.col("doc_id").alias("media_id"),
            "source",
            F.encode("text", "UTF-8").alias("content"),
        )
    )
    mfp = (
        with_media_dhash(media, "content", "phash")
        .select("media_id", "source", "phash")
        .localCheckpoint(eager=True)  # consumers: keeper, tagging, src map
    )
    seen = (
        _read_fp_store(spark, state_dir)
        .where(
            (F.col("run") != F.lit(run_token))
            | (F.col("batch") < F.lit(batch_id))
        )
        .select("phash")
        .distinct()
        .localCheckpoint(eager=True)  # consumers: admit anti-join, probe
    )
    keeper = mfp.groupBy("phash").agg(F.min("media_id").alias("fid"))
    admitted = keeper.join(seen, "phash", "left_anti").localCheckpoint(
        eager=True
    )  # consumers: near probe, in-batch pairs, rollup, store write
    # near-store probe: admitted block keys vs store block keys — the
    # hamming_pairs candidate shape as a two-table equi-join
    keys = hamming_block_keys("phash", max_hamming, agree_blocks)
    ka = admitted.select(
        "phash", "fid", F.explode(keys).alias("bkey")
    )
    ks = seen.select(
        F.col("phash").alias("sph"),
        F.explode(hamming_block_keys("phash", max_hamming, agree_blocks)).alias(
            "bkey"
        ),
    )
    near_store = (
        ka.join(ks, "bkey")
        .where(
            F.bit_count(F.col("phash").bitwiseXOR(F.col("sph")))
            <= max_hamming
        )
        .select("phash", "sph")
        .distinct()
        .groupBy("phash")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_store"))
    )
    # in-batch directional near pairs: earlier admitted first (id_a) ->
    # later admitted fingerprint (id_b); fids are distinct across
    # admitted fingerprints (one payload carries one fingerprint)
    near_batch = (
        hamming_pairs(
            admitted, "fid", "phash", max_hamming, agree_blocks
        )
        .groupBy(F.col("id_b").alias("fid"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_batch"))
    )
    near = (
        admitted.join(near_store, "phash", "left")
        .join(near_batch, "fid", "left")
        .select(
            F.col("fid").alias("media_id"),
            (
                F.coalesce(F.col("n_store"), F.lit(0))
                + F.coalesce(F.col("n_batch"), F.lit(0))
            ).alias("n_near"),
        )
    )
    seen_flag = seen.withColumn("__seen", F.lit(1))
    per_media = (
        mfp.join(keeper, "phash")
        .join(seen_flag, "phash", "left")
        .join(near, "media_id", "left")
        .select(
            "source",
            F.when(
                F.col("__seen").isNotNull()
                | (F.col("media_id") != F.col("fid")),
                1,
            )
            .otherwise(0)
            .alias("is_dup"),
            F.coalesce(F.col("n_near"), F.lit(0)).alias("n_near"),
        )
    )
    partial = per_media.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_media"),
        F.sum(1 - F.col("is_dup")).cast("bigint").alias("new_fps"),
        F.sum("is_dup").cast("bigint").alias("dup_media"),
        F.sum(
            F.when((F.col("is_dup") == 0) & (F.col("n_near") > 0), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("near_flagged"),
        F.sum("n_near").cast("bigint").alias("near_hits"),
    )
    # pin the partial BEFORE mutating the store (it reads the pre-batch
    # view); overwrite of the batch's OWN partition = replay-idempotent
    partial = partial.localCheckpoint(eager=True)
    admitted.select("phash").write.mode("overwrite").parquet(
        f"{state_dir}/run={run_token}/batch={batch_id}"
    )
    return partial


def finalize_media_ledger(partials: DataFrame) -> DataFrame:
    """Merge per-batch partials (each payload and each admitted
    fingerprint lives in exactly one batch, so the counters add) and
    derive the duplicate share."""
    merged = partials.groupBy("source").agg(
        F.sum("n_media").cast("bigint").alias("n_media"),
        F.sum("new_fps").cast("bigint").alias("new_fps"),
        F.sum("dup_media").cast("bigint").alias("dup_media"),
        F.sum("near_flagged").cast("bigint").alias("near_flagged"),
        F.sum("near_hits").cast("bigint").alias("near_hits"),
    )
    return merged.select(
        "source",
        "n_media",
        "new_fps",
        "dup_media",
        "near_flagged",
        "near_hits",
        (
            F.col("dup_media").cast("double")
            / F.col("n_media").cast("double")
        ).alias("dup_media_share"),
    ).orderBy("source")


def media_ingest_stream(
    stream_df: DataFrame,
    state_dir: str,
    max_hamming: int = 4,
    agree_blocks: int = 2,
    checkpoint_dir: str | None = None,
    validate_order: bool = True,
) -> DataFrame:
    """Run the growing-store fingerprint ingest over the current backlog
    (AvailableNow) and return the merged per-source admission ledger.

    ORDERING DEPENDENCY (same contract as ``cdc.cdc_ingest_stream``):
    "first occurrence" and "earlier fingerprint" are defined by
    media_id order, so batches must arrive in ascending-doc_id order —
    for a file stream source that is mtime listing order, which a
    touched/copied backlog can scramble. ``validate_order=True`` checks
    each trigger's min(doc_id) against every earlier batch's max and
    raises loudly on violation (replay-aware: a retried batch id skips
    the check against its own earlier attempt). Watermarks PERSIST as
    ``<state_dir>__order`` marker files (``state_io.AscendingIdGuard``)
    and reload on the guard's first run: a checkpointed stream
    restarting mid-backlog sees pre-restart maxima keyed by batch id,
    and a FRESH-checkpoint run over the same growing store sees every
    prior run's maxima as a global floor — either hole would silently
    corrupt the "earlier fingerprint" admission semantics."""
    from kp_data_pipelines_spark.streaming.events import (
        run_available_now_foreach_batch,
    )
    from kp_data_pipelines_spark.streaming.state_io import AscendingIdGuard

    guard = AscendingIdGuard(state_dir, checkpoint_dir, "media_ingest_stream")

    def ingest(batch: DataFrame, batch_id: int) -> DataFrame:
        if validate_order:
            guard.check_batch(batch, batch_id)
        return _media_ingest_partial(
            batch,
            state_dir,
            max_hamming,
            agree_blocks,
            guard.run_token,
            batch_id,
        )

    partials = run_available_now_foreach_batch(
        stream_df,
        ingest,
        MEDIA_INGEST_PARTIAL_SCHEMA,
        checkpoint_dir=checkpoint_dir,
        with_batch_id=True,
    )
    return finalize_media_ledger(partials)
