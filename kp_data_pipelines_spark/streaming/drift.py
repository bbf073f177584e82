"""Streaming twin of the q254 length-distribution drift monitor.

The batch query (catalog q254) compares two ingestion snapshots' doc-length
histograms per language (total-variation distance over fixed 200-char
buckets). The deploy shape for live ingestion is the same statistic kept
current as waves arrive: each micro-batch emits its (lang, half, bucket)
COUNT partial inside ``foreachBatch``, partials merge by keyed SUM, and
the TVD folds once over the merged histogram — q254's arithmetic exactly.

Unlike the q251 training-build twin (whose cross-batch dedup needs a
persistent fingerprint table and an ordered-arrival contract), histogram
counts are PURELY MERGEABLE: no state table, no arrival-order assumption —
stream-over-any-wave-partition equals the batch answer bit-for-bit, which
``tests/test_streaming.py`` pins with shuffled multi-wave input. At 100 TB
the per-trigger state is |langs| x 31 buckets x 2 halves of longs; the
merge is a keyed agg over those partials, never over raw rows.

Reference basis: the notebooks' re-read-and-compare refresh audits
(snapshot preprocess notebooks) — re-expressed as an incremental stream so
the corpus is not re-scanned per wave.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

HIST_PARTIAL_SCHEMA = "lang string, half bigint, bucket bigint, c bigint"


def hist_partial(batch: DataFrame) -> DataFrame:
    """One trigger's histogram partial: (lang, half, bucket) counts over
    the batch — q254's bucketing (200-char width, capped at 30; halves =
    even/odd doc_id snapshots). Stateless and mergeable by SUM."""
    return (
        batch.select(
            "lang",
            F.pmod("doc_id", F.lit(2)).cast("bigint").alias("half"),
            F.least(F.expr("n_chars div 200"), F.lit(30))
            .cast("bigint")
            .alias("bucket"),
        )
        .groupBy("lang", "half", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )


def finalize_tvd(partials: DataFrame) -> DataFrame:
    """Merge per-batch histogram partials and fold the per-language TVD —
    the identical exact-integer-then-one-pinned-fold arithmetic as batch
    q254 (counts merge by keyed SUM before any division, so wave
    boundaries cannot perturb a single bit of the output)."""
    g = (
        partials.groupBy("lang", "bucket")
        .agg(
            F.sum(F.when(F.col("half") == 0, F.col("c")).otherwise(0))
            .cast("bigint")
            .alias("ca"),
            F.sum(F.when(F.col("half") == 1, F.col("c")).otherwise(0))
            .cast("bigint")
            .alias("cb"),
        )
    )
    z = g.groupBy("lang").agg(
        F.sort_array(F.collect_list(F.struct("bucket", "ca", "cb"))).alias(
            "v"
        ),
        F.sum("ca").cast("bigint").alias("n_a"),
        F.sum("cb").cast("bigint").alias("n_b"),
    )
    terms = F.transform(
        "v",
        lambda s: F.abs(
            s["ca"].cast("double") / F.col("n_a").cast("double")
            - s["cb"].cast("double") / F.col("n_b").cast("double")
        ),
    )
    return z.select(
        "lang",
        "n_a",
        "n_b",
        (
            F.lit(0.5)
            * F.aggregate(terms, F.lit(0.0), lambda acc, x: acc + x)
        ).alias("length_tvd"),
    ).orderBy("lang")


def length_drift_stream(
    stream_df: DataFrame, checkpoint_dir: str | None = None
) -> DataFrame:
    """Run the streaming drift monitor over the current backlog
    (AvailableNow) and return the q254-shaped per-language TVD table."""
    from kp_data_pipelines_spark.streaming.events import (
        run_available_now_foreach_batch,
    )

    partials = run_available_now_foreach_batch(
        stream_df,
        lambda batch, _: hist_partial(batch),
        HIST_PARTIAL_SCHEMA,
        checkpoint_dir=checkpoint_dir,
    )
    return finalize_tvd(partials)


def ivf_cell_partial(batch: DataFrame, centroids) -> DataFrame:
    """One trigger's IVF cell-stats partial: assign the batch's vectors
    to the FROZEN ``centroids`` (Arrow nearest-centroid kernel, pinned
    bit-identical to the reverse(array_sort) expression twin), fold the
    cosine against only the ASSIGNED centroid (q283's element_at
    staging — never the k*dim interpreted tree), and emit the mergeable
    per-cell (count, DECIMAL-staged quantized-cosine sum) pair.
    Zero-norm vectors are FILTERED at entry (both engines): the
    assignment kernel's row norms are unguarded (NaN cosines), and
    under ANSI a NaN reaching the DECIMAL quantization would kill the
    whole micro-batch — one bad vector must not poison the monitoring
    stream."""
    import math

    from kp_data_pipelines_spark.operators.similarity import (
        _dot,
        _nearest_centroid_kernel,
        ensure_parallelism,
    )

    cents_arr = F.array(
        *[F.array(*[F.lit(x) for x in cv]) for _, cv in centroids]
    )
    norms_arr = F.array(
        *[
            F.lit(math.sqrt(sum(x * x for x in cv)) or 1.0)
            for _, cv in centroids
        ]
    )
    nz = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    staged = (
        ensure_parallelism(batch)
        .filter(F.sqrt(_dot(nz, nz)) > 0)
        .withColumn(
            "cid",
            _nearest_centroid_kernel(centroids)(F.col("embedding")).cast(
                "bigint"
            ),
        )
        .withColumn(
            "__v",
            F.transform(F.col("embedding"), lambda x: x.cast("double")),
        )
        .withColumn(
            "__cw", F.element_at(cents_arr, (F.col("cid") + 1).cast("int"))
        )
    )
    asg = staged.select(
        "cid",
        (
            _dot(F.col("__v"), F.col("__cw"))
            / (
                F.sqrt(_dot(F.col("__v"), F.col("__v")))
                * F.element_at(norms_arr, (F.col("cid") + 1).cast("int"))
            )
        ).alias("cos"),
    )
    return asg.groupBy("cid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.expr("CAST(round(cos * 1.0e9) AS DECIMAL(38,0))")).alias(
            "sq"
        ),
    )


def finalize_ivf_cells(partials: DataFrame, n_centroids: int) -> DataFrame:
    """Merge per-batch cell partials (counts and DECIMAL sums add
    exactly, so the result is identical under ANY batching) and derive
    occupancy share + mean assigned cosine on the full cid grid."""
    spark = partials.sparkSession
    merged = partials.groupBy("cid").agg(
        F.sum("n").cast("bigint").alias("n_vecs"),
        F.sum("sq").alias("sq"),
    )
    grid = spark.range(0, n_centroids).select(
        F.col("id").cast("bigint").alias("cid")
    )
    tot = merged.agg(F.sum("n_vecs").cast("bigint").alias("tot"))
    from kp_data_pipelines_spark.operators.joins import broadcast_scalar

    return (
        grid.join(merged, "cid", "left")
        .crossJoin(broadcast_scalar(tot))
        .select(
            "cid",
            F.coalesce("n_vecs", F.lit(0)).cast("bigint").alias("n_vecs"),
            (
                F.coalesce("n_vecs", F.lit(0)).cast("double")
                / F.col("tot").cast("double")
            ).alias("share"),
            (
                F.col("sq").cast("double")
                / F.lit(1.0e9)
                / F.col("n_vecs").cast("double")
            ).alias("mean_cos"),
        )
        .orderBy("cid")
    )


def ivf_cell_stats_stream(
    stream_df: DataFrame,
    centroids,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Streaming maintenance of IVF cell statistics against a FROZEN
    centroid set — q283's staleness inputs kept fresh per micro-batch
    instead of recomputed corpus-wide: each trigger assigns only ITS
    vectors and emits mergeable (count, quantized-cosine-sum) partials,
    so the dashboard's per-cell occupancy/mean-cosine is exact for any
    batching (counts and DECIMAL sums are order-insensitive — the q254
    any-wave-order contract, stronger than q251's ordered arrival)."""
    from kp_data_pipelines_spark.streaming.events import (
        run_available_now_foreach_batch,
    )

    partials = run_available_now_foreach_batch(
        stream_df,
        lambda batch, _: ivf_cell_partial(batch, centroids),
        "cid long, n long, sq decimal(38,0)",
        checkpoint_dir=checkpoint_dir,
    )
    return finalize_ivf_cells(partials, len(centroids))


VOCAB_PARTIAL_SCHEMA = "kind long, key long, val long"


def vocab_partial(batch: DataFrame) -> DataFrame:
    """One trigger's vocabulary partial, packed into one tall
    (kind, key, val) frame so a single foreachBatch sink carries all
    three mergeable pieces: kind 0 = (token hash -> min doc_id in this
    batch) — MIN merges exactly across batches; kind 1 = (doc_id ->
    token count) — each doc lives in exactly one batch; kind 2 =
    (0 -> batch doc count) — sums."""
    from kp_data_pipelines_spark.operators.similarity import (
        ensure_parallelism,
    )
    from kp_data_pipelines_spark.operators.textops import poly_token_hashes

    # tokenize ONCE per doc per trigger: the hash array feeds both the
    # first-occurrence explode and the per-doc count (review finding:
    # the HOF kernel is the dominant per-row cost and ran twice)
    b = ensure_parallelism(batch.select("doc_id", "text")).select(
        "doc_id", poly_token_hashes("text").alias("__th")
    ).localCheckpoint(eager=True)
    fo = (
        b.select("doc_id", F.explode("__th").alias("th"))
        .groupBy("th")
        .agg(F.min("doc_id").alias("fd"))
        .select(
            F.lit(0).cast("bigint").alias("kind"),
            F.col("th").alias("key"),
            F.col("fd").cast("bigint").alias("val"),
        )
    )
    dc = b.select(
        F.lit(1).cast("bigint").alias("kind"),
        F.col("doc_id").cast("bigint").alias("key"),
        F.size("__th").cast("bigint").alias("val"),
    )
    n = b.agg(F.count(F.lit(1)).cast("bigint").alias("val")).select(
        F.lit(2).cast("bigint").alias("kind"),
        F.lit(0).cast("bigint").alias("key"),
        "val",
    )
    return fo.unionByName(dc).unionByName(n)


def vocab_growth_stream(
    stream_df: DataFrame, checkpoint_dir: str | None = None
) -> DataFrame:
    """Streaming Heaps-law monitor — q284's deploy shape: the corpus
    arrives as a backlog and each micro-batch emits its vocabulary
    partial; merged first-occurrences (MIN per token hash — exact under
    ANY batching, the mergeable-MIN pattern beside q254's counts and
    q294's DECIMAL sums), per-doc token counts, and the doc total feed
    the SAME final-stage arithmetic as batch q284
    (``textops.vocab_growth_table``), so stream == batch bit-for-bit."""
    from kp_data_pipelines_spark.streaming.events import (
        run_available_now_foreach_batch,
    )

    partials = run_available_now_foreach_batch(
        stream_df,
        lambda batch, _: vocab_partial(batch),
        VOCAB_PARTIAL_SCHEMA,
        checkpoint_dir=checkpoint_dir,
    )
    from kp_data_pipelines_spark.operators.textops import vocab_growth_table

    fo = (
        partials.filter(F.col("kind") == 0)
        .groupBy(F.col("key").alias("th"))
        .agg(F.min("val").alias("fd"))
    )
    dc = partials.filter(F.col("kind") == 1).select(
        F.col("key").alias("doc_id"), F.col("val").alias("tc")
    )
    nsc = partials.filter(F.col("kind") == 2).agg(
        F.sum("val").cast("bigint").alias("n")
    )
    return vocab_growth_table(fo, dc, nsc)
