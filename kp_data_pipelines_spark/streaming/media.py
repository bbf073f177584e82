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
   first media_id in this batch) within Hamming distance 4 — candidates
   via the same pigeonhole block keys as ``hamming_pairs``
   (``similarity.hamming_block_keys``), probed batch-vs-store as a plain
   equi-join, verified with one bit_count(xor);
5. mergeable per-source counters are the trigger's partial; the
   batch's admitted fingerprints extend the store.

"Earlier fingerprint" means "first media_id smaller", and the store
always holds exactly the fingerprints first seen at smaller ids, so
under ascending-media_id arrival the ledger equals the batch twin for
ANY batching of the backlog. The store, its replay-safe layout, the
order guard and the pin-then-write are ``state_io.growing_store_step``
(layout and contracts in its module docstring).

At scale the store is one 8-byte BIGINT per admitted fingerprint; the
per-trigger probe shuffles C(d+k, k) hashed block keys per fingerprint
(15 at radius 4, agree_blocks 2) — the q302 candidate shape, batch
rows vs store rows, never store-vs-store.

Reference basis: the notebooks re-read every prior wave on each merge
(`Study Startup Legacy Data merge.ipynb`); this ships one fingerprint
probe per new payload instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_INGEST_PARTIAL_SCHEMA = (
    "source string, n_media long, new_fps long, dup_media long, "
    "near_flagged long, near_hits long"
)


def _media_ingest_partial(
    batch: DataFrame, seen: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """One trigger: admit the batch's new fingerprints against the
    pre-batch store view ``seen``; returns the mergeable per-source
    counters and the admitted fingerprints."""
    from kp_data_pipelines_spark.operators.multimodal import (
        with_media_dhash,
    )
    from kp_data_pipelines_spark.operators.similarity import (
        ensure_parallelism,
        hamming_block_keys,
        hamming_pairs,
    )

    max_hamming, agree_blocks = 4, 2
    media = ensure_parallelism(
        batch.select(
            F.col("doc_id").alias("media_id"),
            "source",
            F.encode("text", "UTF-8").alias("content"),
        )
    )
    mfp = (
        with_media_dhash(media, "content")
        .select("media_id", "source", "phash")
        .localCheckpoint(eager=True)  # consumers: keeper, tagging, src map
    )
    # consumers: admit anti-join, probe
    seen = seen.localCheckpoint(eager=True)
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
    return partial, admitted


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
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Run the growing-store fingerprint ingest over the current backlog
    (AvailableNow) and return the merged per-source admission ledger.
    ``state_dir`` hosts the persistent fingerprint store. Layout,
    replay and ascending-doc_id contracts: ``state_io``."""
    from kp_data_pipelines_spark.streaming.events import (
        run_available_now_foreach_batch,
    )
    from kp_data_pipelines_spark.streaming.state_io import (
        growing_store_step,
    )

    step = growing_store_step(
        state_dir,
        "phash long",
        checkpoint_dir,
        "media_ingest_stream",
        _media_ingest_partial,
    )
    partials = run_available_now_foreach_batch(
        stream_df,
        step,
        MEDIA_INGEST_PARTIAL_SCHEMA,
        checkpoint_dir=checkpoint_dir,
    )
    return finalize_media_ledger(partials)
