"""Streaming perceptual-fingerprint ingest (q310's operator):
stream==batch equivalence with injected cross-batch duplicates, and
the ascending-id order guard across restarts and runs. Replay
idempotence of every growing store is tested in test_streaming.py."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from kp_data_pipelines_spark import oracles


def _oracle_rows(staged: str):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{staged}/*.parquet')"
    )
    df = con.sql(oracles.media_ingest_ledger_sql()).df()
    return {
        r.source: (
            r.n_media, r.new_fps, r.dup_media, r.near_flagged,
            r.near_hits, r.dup_media_share,
        )
        for r in df.itertuples()
    }


def test_media_ingest_stream_equals_batch_with_cross_batch_dups(
    spark, tmp_path
):
    """Two ascending-media_id waves == the global batch admission
    ledger, WITH wave 2 carrying (a) an exact byte copy of a wave-1
    payload (its fingerprint is already in the store — the exact-dup
    cross-batch path) and (b) a one-char edit of another wave-1 payload
    (a DIFFERENT fingerprint within the Hamming radius of a store
    member — the near-dup pressure path q310 exists to gauge)."""
    from kp_data_pipelines_spark.streaming.media import media_ingest_stream

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
    # a 20-char low-ord run shifts one pooled cell's sum enough to flip
    # 1-4 gradient bits (a single-char edit leaves the 21-byte cell sums
    # — and the fingerprint — unchanged); the oracle asserts below that
    # the edit really lands inside the Hamming radius
    t1 = base[1]["text"]
    i = len(t1) // 2
    edited = t1[:i] + "!" * 20 + t1[i + 20 :]
    injected = spark.createDataFrame(
        [
            (int(hi) + 1001, "injected", base[0]["text"]),
            (int(hi) + 1002, "injected", edited),
        ],
        "doc_id long, source string, text string",
    )
    corpus = docs.select("doc_id", "source", "text").unionByName(injected)

    staged = str(tmp_path / "corpus.parquet")
    corpus.coalesce(1).write.parquet(staged)
    want = _oracle_rows(staged)
    # the injection really exercises both cross-batch paths
    assert want["injected"][2] > 0  # dup_media (exact fingerprint copy)
    assert want["injected"][4] > 0  # near_hits (edited payload admitted
    #                                 within Hamming 4 of a store member)

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
        for r in media_ingest_stream(
            stream,
            state_dir=str(tmp_path / "state"),
            checkpoint_dir=str(tmp_path / "ckpt"),
        ).collect()
    }
    assert got == want


def test_order_guard_survives_restart(spark, tmp_path):
    """The ascending-id guard must catch violations ACROSS restarts:
    batch watermarks persist in <state_dir>__order partitions and are
    reloaded when a checkpointed stream resumes, so a backlog that
    scrambles after a restart still fails loudly (driver-memory-only
    watermarks would forget the earlier maxima and silently corrupt
    the admission ledger)."""
    import pytest

    from kp_data_pipelines_spark.streaming.media import media_ingest_stream

    src = str(tmp_path / "waves")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    wave1 = spark.createDataFrame(
        [(100 + i, "s", f"wave one text {i} " * 5) for i in range(4)],
        "doc_id long, source string, text string",
    )
    wave1.coalesce(1).write.mode("append").parquet(src)
    schema = wave1.schema

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return media_ingest_stream(
            stream, state_dir=state, checkpoint_dir=ckpt
        ).collect()

    assert run()  # first session consumes wave 1 (max doc_id 103)
    # "restart": a fresh call (fresh driver dict) + out-of-order wave
    spark.createDataFrame(
        [(1, "s", "late wave violates ordering " * 3)], schema
    ).coalesce(1).write.mode("append").parquet(src)
    with pytest.raises(Exception, match="ascending-id order"):
        run()


def test_order_guard_floors_new_runs(spark, tmp_path):
    """A FRESH-checkpoint run over the same growing store restarts
    batch ids at 0 — prior runs' watermarks must apply as a GLOBAL
    FLOOR to every batch (keying them by batch id would let batch 0
    skip validation entirely; round-9 review finding). Wave 2 carries
    ids below run 1's maximum and must raise on its FIRST batch."""
    import pytest

    from kp_data_pipelines_spark.streaming.media import media_ingest_stream

    state = str(tmp_path / "state")
    schema = "doc_id long, source string, text string"

    def run(src, ckpt):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return media_ingest_stream(
            stream, state_dir=state, checkpoint_dir=ckpt
        ).collect()

    src1 = str(tmp_path / "w1")
    spark.createDataFrame(
        [(100 + i, "s", f"first wave text {i} " * 5) for i in range(4)],
        schema,
    ).coalesce(1).write.mode("append").parquet(src1)
    assert run(src1, str(tmp_path / "ckpt1"))

    # new run: DIFFERENT checkpoint (fresh batch ids), same state_dir,
    # ids below run 1's max -> must raise on batch 0
    src2 = str(tmp_path / "w2")
    spark.createDataFrame(
        [(1, "s", "second wave below the floor " * 3)], schema
    ).coalesce(1).write.mode("append").parquet(src2)
    with pytest.raises(Exception, match="ascending-id order"):
        run(src2, str(tmp_path / "ckpt2"))

    # and a compliant new run (ids above the floor) passes
    src3 = str(tmp_path / "w3")
    spark.createDataFrame(
        [(200, "s", "third wave above the floor " * 3)], schema
    ).coalesce(1).write.mode("append").parquet(src3)
    assert run(src3, str(tmp_path / "ckpt3"))
