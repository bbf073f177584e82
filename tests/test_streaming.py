"""Streaming tests: AvailableNow ingestion, watermark dedup, windowed aggs
— validated against their batch twins on the same data."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kp_data_pipelines_spark.sources import read_table
from kp_data_pipelines_spark.streaming.events import (
    dedup_within_watermark,
    ingest_snapshot_folder,
    run_available_now,
    stream_files,
)

SF_DIR = "/root/testdata/sf0.001"


def _events_dir(spark, tmp_path):
    """Materialize events as a micro-precision parquet drop-folder."""
    ev = read_table(spark, SF_DIR, "events")
    path = str(tmp_path / "events_src")
    ev.repartition(4).write.parquet(path)
    return path, ev


def test_snapshot_folder_ingest_dedup(spark, tmp_path):
    src_dir, ev = _events_dir(spark, tmp_path)
    # duplicate the whole folder contents once (the reference's re-read case)
    ev.limit(100).write.mode("append").parquet(src_dir)

    target = str(tmp_path / "tbl")
    ingest_snapshot_folder(
        spark,
        src_dir,
        target,
        str(tmp_path / "ckpt2"),
        ev.schema,
        dedup_keys=["event_id"],
        ts_col="ts",
        watermark="240 hours",
    )
    out = spark.read.parquet(target)
    assert out.count() == ev.count()  # dups dropped
    assert out.select("event_id").distinct().count() == ev.count()


def test_dedup_within_watermark_is_streaming_safe(spark, tmp_path):
    src_dir, ev = _events_dir(spark, tmp_path)
    stream = stream_files(spark, src_dir, ev.schema)
    deduped = dedup_within_watermark(stream, ["user_id"], "ts", "1 hour")
    got = run_available_now(deduped, str(tmp_path / "ckpt3"))
    # one row per (user, watermark-window slice) at most; definitely <= input
    assert 0 < got.count() <= ev.count()


def test_stream_static_enrich_matches_batch(spark, tmp_path):
    """Stream-static join: enrich a stream with a dimension table — the
    dim is re-read per micro-batch (broadcast), no state store needed."""
    path, ev = _events_dir(spark, tmp_path)
    dim = spark.createDataFrame(
        [("click", "engagement"), ("view", "engagement"), ("purchase", "revenue"),
         ("error", "ops")],
        "event_type string, category string",
    )
    stream = stream_files(spark, path, ev.schema)
    enriched = stream.join(F.broadcast(dim), "event_type")
    got = run_available_now(enriched, str(tmp_path / "ck_enrich"))
    want = ev.join(dim, "event_type")
    assert got.count() == want.count()
    g = {r["category"]: r["n"] for r in got.groupBy("category").agg(F.count("*").alias("n")).collect()}
    w = {r["category"]: r["n"] for r in want.groupBy("category").agg(F.count("*").alias("n")).collect()}
    assert g == w


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream inner join with watermarks + time-range condition:
    clicks joined to same-user errors within the following 30 minutes.
    Both sides buffer bounded state (the watermark ages rows out); the
    time-range predicate bounds how long a click waits for errors."""
    path, ev = _events_dir(spark, tmp_path)

    def split(df):
        clicks = df.filter(F.col("event_type") == "click").select(
            F.col("event_id").alias("click_id"), F.col("user_id").alias("cu"),
            F.col("ts").alias("click_ts"),
        )
        errors = df.filter(F.col("event_type") == "error").select(
            F.col("event_id").alias("error_id"), F.col("user_id").alias("eu"),
            F.col("ts").alias("error_ts"),
        )
        return clicks, errors

    sc_, se = split(stream_files(spark, path, ev.schema))
    joined = sc_.withWatermark("click_ts", "1 hour").join(
        se.withWatermark("error_ts", "1 hour"),
        (F.col("cu") == F.col("eu"))
        & (F.col("error_ts") >= F.col("click_ts"))
        & (F.col("error_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
    )
    got = run_available_now(joined, str(tmp_path / "ck_ss"))
    bc, be = split(ev)
    want = bc.join(
        be,
        (F.col("cu") == F.col("eu"))
        & (F.col("error_ts") >= F.col("click_ts"))
        & (F.col("error_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
    )
    assert got.count() == want.count() > 0
    g = sorted((r["click_id"], r["error_id"]) for r in got.collect())
    w = sorted((r["click_id"], r["error_id"]) for r in want.collect())
    assert g == w


def test_native_session_window_stream_matches_batch(spark, tmp_path):
    """q103's session_window operator, run under readStream AvailableNow in
    complete mode, produces the same sessions as the batch plan."""
    from kp_data_pipelines_spark.streaming.events import run_available_now, stream_files

    src_dir, ev = _events_dir(spark, tmp_path)

    def sessions(df):
        return (
            df.groupBy("user_id", F.session_window("ts", "10 minutes"))
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                "user_id",
                F.col("session_window.start").alias("w_start"),
                F.col("session_window.end").alias("w_end"),
                "n_events",
            )
        )

    stream = stream_files(spark, src_dir, ev.schema).withWatermark("ts", "1 hour")
    got = run_available_now(
        sessions(stream), str(tmp_path / "ckpt_sess"), output_mode="complete"
    )
    got_rows = {tuple(r) for r in got.collect()}
    batch_rows = {tuple(r) for r in sessions(ev).collect()}
    assert got_rows == batch_rows


def test_watermark_drops_late_rows_and_reports_them(spark, tmp_path):
    """Late-data accounting: a watermarked windowed aggregate must (a)
    DROP rows older than the persisted watermark on a later trigger and
    (b) REPORT the drop in StreamingQueryProgress
    (numRowsDroppedByWatermark) — the observability contract a
    production monitor alarms on. Two AvailableNow runs share one
    checkpoint: run 1 advances the watermark past the late rows, run 2
    feeds them and must count every one as dropped."""
    import pandas as pd

    src = str(tmp_path / "late_src")
    ckpt = str(tmp_path / "ckpt_wm")
    base = pd.Timestamp("2024-06-01 12:00:00")
    on_time = pd.DataFrame(
        {
            "user_id": [1, 2, 3],
            "ts": [base, base + pd.Timedelta(minutes=1), base + pd.Timedelta(minutes=2)],
            "value": [1.0, 2.0, 3.0],
        }
    )
    spark.createDataFrame(on_time).coalesce(1).write.mode("append").parquet(src)

    schema = spark.read.parquet(src).schema

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        agg = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "5 minutes"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        q = (
            agg.writeStream.format("noop")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        dropped = 0
        for p in q.recentProgress:
            for op in p["stateOperators"]:
                dropped += op.get("numRowsDroppedByWatermark", 0)
        return dropped

    assert run_once() == 0  # on-time wave: nothing dropped

    # late wave: 3 rows a full hour older than the persisted watermark,
    # in three DISTINCT 5-minute windows — the drop metric counts the
    # map-side PARTIALS reaching the state operator (same-window rows
    # pre-aggregate to one partial), so distinct windows pin the count
    late = pd.DataFrame(
        {
            "user_id": [4, 5, 6],
            "ts": [
                base - pd.Timedelta(hours=1),
                base - pd.Timedelta(hours=1, minutes=5),
                base - pd.Timedelta(hours=1, minutes=10),
            ],
            "value": [9.0, 9.0, 9.0],
        }
    )
    spark.createDataFrame(late).coalesce(1).write.mode("append").parquet(src)
    assert run_once() == 3  # every late window-partial dropped AND reported


def test_training_build_stream_equals_batch(spark, tmp_path):
    """Stream-over-waves == batch q250: a corpus (testdata documents +
    injected exact duplicates whose copies land in a LATER wave) split
    into two ascending-doc_id waves (one file per trigger) through the
    foreachBatch build — quality gate, split, cross-batch fingerprint
    state dedup, mergeable partials — must reproduce the batch ledger
    exactly. Testdata has no exact text duplicates, so the cross-wave
    copies are injected with fresh doc_ids; the batch side runs the
    REAL catalog q250 over the same synthetic corpus staged as an
    sf-dir."""
    from kp_data_pipelines_spark.catalog import QUERIES
    from kp_data_pipelines_spark.streaming.training import (
        training_build_stream,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    mid = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    hi = docs.agg(F.max("doc_id")).collect()[0][0]
    # duplicates of three QUALITY-PASSING wave-1 texts (quality-fail
    # docs are never dedup candidates), re-keyed past the corpus max so
    # they arrive in wave 2 (first-seen keeper == batch MIN keeper)
    from kp_data_pipelines_spark.streaming.training import doc_flags

    pass_ids = [
        r["doc_id"]
        for r in doc_flags(docs.filter(F.col("doc_id") <= mid))
        .filter(F.col("quality_pass") == 1)
        .orderBy("doc_id")
        .limit(3)
        .collect()
    ]
    dup_src = docs.filter(F.col("doc_id").isin(pass_ids))
    dups = dup_src.withColumn(
        "doc_id", F.col("doc_id") + F.lit(int(hi) + 1000)
    )
    corpus = docs.unionByName(dups)

    # batch side: the real catalog q250 over the synthetic corpus,
    # staged as an sf-dir (q250 reads {sf}/documents.parquet)
    sf_dir = str(tmp_path / "sf")
    corpus.write.parquet(f"{sf_dir}/documents.parquet")
    want = QUERIES["q250_training_data_build"](spark, sf_dir).collect()
    assert sum(r["n_dup_dropped"] for r in want) >= 3

    # stream side: two ascending-doc_id waves, one file per trigger
    src = str(tmp_path / "waves")
    corpus.filter(F.col("doc_id") <= mid).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    corpus.filter(F.col("doc_id") > mid).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = (
        spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    got = training_build_stream(
        stream,
        state_dir=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    ).collect()
    as_map = lambda rows: {
        (r["lang"], r["split"]): tuple(r)[2:] for r in rows
    }
    assert as_map(got) == as_map(want)


def test_length_drift_stream_equals_batch_any_wave_order(spark, tmp_path):
    """Stream-over-SHUFFLED-waves == batch q254: histogram count
    partials are purely mergeable, so unlike the training-build twin
    (ordered-arrival contract for its MIN-keeper dedup) the drift
    monitor must reproduce the batch TVD bit-for-bit under ANY wave
    partition — here three waves split by doc_id % 3, deliberately
    interleaving the even/odd snapshot halves across triggers."""
    from kp_data_pipelines_spark.catalog import QUERIES
    from kp_data_pipelines_spark.streaming.drift import length_drift_stream

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    want = {
        r["lang"]: tuple(r)[1:]
        for r in QUERIES["q254_length_drift_tvd"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }

    src = str(tmp_path / "waves")
    for wave in range(3):  # doc_id % 3: NOT aligned with the %2 halves
        docs.filter(F.pmod("doc_id", F.lit(3)) == wave).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    got = {
        r["lang"]: tuple(r)[1:]
        for r in length_drift_stream(
            stream, checkpoint_dir=str(tmp_path / "ckpt")
        ).collect()
    }
    assert got == want  # exact, including the float TVD bits


def test_cdc_ingest_stream_equals_batch_with_cross_batch_dups(
    spark, tmp_path
):
    """Growing-store CDC ingest (q288's operator) over two
    ascending-doc_id waves == global first-occurrence batch semantics,
    WITH injected cross-batch duplicate chunks: wave 2 carries an exact
    copy and an appended-tail copy of wave-1 documents (source
    'injected'), so their chunk identities are already in the
    persistent store when wave 2's trigger runs — the path q286's
    static store never exercises. The batch twin is the q288 DuckDB
    oracle evaluated over the same staged corpus."""
    import duckdb

    from kp_data_pipelines_spark import oracles
    from kp_data_pipelines_spark.streaming.cdc import cdc_ingest_stream

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    mid = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    hi = docs.agg(F.max("doc_id")).collect()[0][0]
    base = (
        docs.filter(F.col("doc_id") <= mid)
        .orderBy("doc_id")
        .limit(2)
        .select("doc_id", "source", "text")
        .collect()
    )
    injected = spark.createDataFrame(
        [
            # exact copy: every chunk identity already in the store
            (int(hi) + 1001, "injected", base[0]["text"]),
            # appended tail: leading chunks duplicate (CDC
            # edit-locality), tail chunks new
            (
                int(hi) + 1002,
                "injected",
                base[1]["text"] + " " + "tail chunk payload " * 40,
            ),
        ],
        "doc_id long, source string, text string",
    )
    corpus = docs.select("doc_id", "source", "text").unionByName(injected)

    staged = str(tmp_path / "corpus.parquet")
    corpus.coalesce(1).write.parquet(staged)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{staged}/*.parquet')"
    )
    want_df = con.sql(oracles.cdc_growing_ingest_sql()).df()
    want = {
        r.source: (
            r.n_docs, r.n_chunks, r.new_chunks, r.dup_chunks,
            r.new_chars, r.dup_chars, r.dup_char_share,
        )
        for r in want_df.itertuples()
    }
    # the injection really creates cross-batch duplicate chunks
    assert want["injected"][3] > 0  # dup_chunks
    assert want["injected"][2] > 0  # new_chunks (the appended tail)

    src = str(tmp_path / "waves")
    corpus.filter(F.col("doc_id") <= mid).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    corpus.filter(F.col("doc_id") > mid).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = (
        spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    got = {
        r["source"]: tuple(r)[1:]
        for r in cdc_ingest_stream(
            stream,
            state_dir=str(tmp_path / "state"),
            checkpoint_dir=str(tmp_path / "ckpt"),
        ).collect()
    }
    assert got == want


def test_ivf_cell_stats_stream_equals_batch_any_wave_order(spark, tmp_path):
    """Stream-over-SHUFFLED-waves == whole-corpus IVF cell stats: the
    per-cell (count, DECIMAL quantized-cosine-sum) partials are purely
    mergeable, so the q294 operator must reproduce the batch oracle
    bit-for-bit under ANY wave partition — here three waves split by
    vec_id % 3, so every trigger mixes even (centroid-seed) and odd
    vectors."""
    import duckdb

    from kp_data_pipelines_spark import oracles
    from kp_data_pipelines_spark.operators.similarity import ivf_centroids
    from kp_data_pipelines_spark.streaming.drift import ivf_cell_stats_stream

    src_parquet = "/root/testdata/sf0.001/embeddings.parquet"
    emb = spark.read.parquet(src_parquet)
    cents = ivf_centroids(
        emb.filter(F.pmod("vec_id", F.lit(2)) == 0), "embedding", 16,
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{src_parquet}')"
    )
    want = {
        r.cid: (r.n_vecs, r.share, r.mean_cos)
        for r in con.sql(oracles.ivf_cell_stats_sql()).df().itertuples()
    }

    src = str(tmp_path / "waves")
    for wave in range(3):
        emb.filter(F.pmod("vec_id", F.lit(3)) == wave).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .select("vec_id", "embedding")
    )
    got = {
        r["cid"]: (r["n_vecs"], r["share"], r["mean_cos"])
        for r in ivf_cell_stats_stream(
            stream, cents, checkpoint_dir=str(tmp_path / "ckpt")
        ).collect()
    }
    assert got == want  # exact, including the float share/mean bits


def test_vocab_growth_stream_equals_batch_any_wave_order(spark, tmp_path):
    """Stream-over-SHUFFLED-waves == batch q284: the vocabulary partial
    merges by MIN (first occurrence per token hash), per-doc counts are
    disjoint across batches, and doc totals sum — all order-insensitive,
    so three doc_id%3 waves must reproduce the batch Heaps-law table
    bit-for-bit (including the float type-token ratios)."""
    from kp_data_pipelines_spark.catalog import QUERIES
    from kp_data_pipelines_spark.streaming.drift import vocab_growth_stream

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    want = {
        r["checkpoint"]: tuple(r)[1:]
        for r in QUERIES["q284_vocab_growth"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    src = str(tmp_path / "waves")
    for wave in range(3):
        docs.filter(F.pmod("doc_id", F.lit(3)) == wave).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .select("doc_id", "text")
    )
    got = {
        r["checkpoint"]: tuple(r)[1:]
        for r in vocab_growth_stream(
            stream, checkpoint_dir=str(tmp_path / "ckpt")
        ).collect()
    }
    assert got == want


def _store_steps():
    """Each growing store's key DDL and partial function
    ``fn(batch, seen)``."""
    from kp_data_pipelines_spark.streaming import cdc, media, training

    return {
        "cdc": ("packed long", cdc._cdc_ingest_partial),
        "media": ("phash long", media._media_ingest_partial),
        "training": (
            "f string",
            lambda b, seen: training._ledger_partial(
                training.doc_flags(b), seen
            ),
        ),
    }


@pytest.mark.parametrize("store", ["cdc", "media", "training"])
def test_growing_store_replay_is_idempotent(spark, tmp_path, store):
    """foreachBatch is at-least-once: re-running a trigger (crash between
    the store write and the checkpoint commit) must reproduce the SAME
    partial and leave the store unchanged. A plain mode('append') store
    double-inserts the batch's keys, and the replay then flags every
    kept key as a duplicate of itself (the training store did this: a
    replayed partial moved all of n_kept into n_dup_dropped). The
    shared step fixes this for every store: per-(run, batch) overwrite
    partitions and a pre-batch view that excludes the batch's own
    partition."""
    from kp_data_pipelines_spark.streaming.state_io import (
        growing_store_step,
        read_state_parquet,
    )

    key, fn = _store_steps()[store]
    rows = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .orderBy("doc_id")
        .limit(40)
        .collect()
    )
    schema = spark.read.parquet(f"{SF_DIR}/documents.parquet").schema
    b0 = spark.createDataFrame(rows[:20], schema)
    b1 = spark.createDataFrame(rows[20:], schema)
    state = str(tmp_path / "state")
    step = growing_store_step(
        state, key, str(tmp_path / "ckpt"), store, fn
    )

    def snap(df):
        return sorted(
            tuple(r) for r in df.select(*sorted(df.columns)).collect()
        )

    def snap_store():
        return snap(
            read_state_parquet(
                spark, state, f"{key}, run string, batch long"
            )
        )

    for batch_id, batch in enumerate([b0, b1]):
        partial = snap(step(batch, batch_id))
        store_after = snap_store()
        # replay (same run token + id): identical partial, store
        # unchanged (no duplicate keys, no dup-flag inflation)
        assert snap(step(batch, batch_id)) == partial
        assert snap_store() == store_after
    assert store_after  # both batches added keys


@pytest.mark.parametrize("stream_fn", ["cdc", "training"])
def test_cdc_ingest_stream_rejects_out_of_order_backlog(
    spark, tmp_path, stream_fn
):
    """A backlog whose file mtimes do NOT track doc_id order (touched /
    copied files) breaks the global first-occurrence contract; the
    ingest must fail loudly instead of producing a wrong ledger. Both
    the cdc ingest and the training build (same ascending-doc_id
    contract, same shared store step) must raise."""
    from kp_data_pipelines_spark.streaming.cdc import cdc_ingest_stream
    from kp_data_pipelines_spark.streaming.training import (
        training_build_stream,
    )

    run = {"cdc": cdc_ingest_stream, "training": training_build_stream}[
        stream_fn
    ]
    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "source", "lang", "text")
        .orderBy("doc_id")
    )
    hi = docs.limit(8).offset(4)
    lo = docs.limit(4)
    src = str(tmp_path / "waves")
    # HIGH doc_ids written (hence listed) first -> descending arrival
    hi.coalesce(1).write.mode("append").parquet(src)
    import time

    time.sleep(1.1)  # distinct mtimes so listing order is deterministic
    lo.coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    with pytest.raises(Exception, match="ascending-id order"):
        run(
            stream,
            state_dir=str(tmp_path / "state"),
            checkpoint_dir=str(tmp_path / "ckpt"),
        )


def test_ephemeral_growing_stores_leave_no_order_dir(
    spark, tmp_path, monkeypatch
):
    """The catalog's ephemeral growing stores keep the order guard's
    ``<state_dir>__order`` markers inside the ephemeral dir that the
    exit-time cleanup removes, never beside it in the temp dir."""
    import os
    import tempfile

    from kp_data_pipelines_spark.catalog import QUERIES

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    for name in (
        "q288_growing_store_cdc_ingest",
        "q251_streaming_training_build",
    ):
        assert QUERIES[name](spark, SF_DIR).count() > 0
    assert not [e for e in os.listdir(tmp_path) if e.endswith("__order")]


def test_missing_store_reads_as_jvm_empty_frame(spark, tmp_path):
    """A growing store's first trigger (no store dir yet) reads an empty
    frame with the DDL schema, built on the JVM: no ``LogicalRDD``, so
    the query over it starts no Python-worker tasks."""
    from pyspark.sql.types import StructType

    from kp_data_pipelines_spark.streaming.state_io import read_state_parquet

    ddl = "packed long, run string, batch long"
    df = read_state_parquet(spark, str(tmp_path / "no_store"), ddl)
    assert df.schema == StructType.fromDDL(ddl)
    assert "LogicalRDD" not in df._jdf.queryExecution().analyzed().toString()
    assert df.count() == 0
