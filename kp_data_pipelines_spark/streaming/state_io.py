"""Shared persistent-state parquet I/O for the streaming stores.

Every growing-store stream (cdc chunk store, media fingerprint store,
decontamination ledger, order watermarks) reads its state dir with the
same contract: a MISSING path means "first batch ever" (empty frame with
the explicit schema), anything else re-raises loudly — silently
resetting state would let cross-batch duplicates through. Missing-path
detection uses the Hadoop FileSystem API, which is deterministic across
Spark versions and locales; the previous pattern (substring-matching the
AnalysisException message for 'PATH_NOT_FOUND') would have turned every
first-batch run into a hard failure the day the wording changed
(round-8 ADVICE item, fixed here for all callers at once).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def path_exists(spark: SparkSession, path: str) -> bool:
    """Probe a path via the Hadoop FileSystem of the active session —
    works for any scheme the cluster's Hadoop conf resolves (local,
    HDFS, object stores)."""
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs.exists(hpath)


_TMP_SUFFIX = ".__tmp__"
# a temp marker older than this is an orphan from a crashed write
_TMP_STALE_MS = 10 * 60 * 1000


def write_marker(spark: SparkSession, path: str, text: str) -> None:
    """Write a tiny driver-side marker file ATOMICALLY (temp + rename)
    via the Hadoop FileSystem — NO Spark job. A one-row parquet write
    costs a full job + commit protocol (~0.3-0.5 s); per-trigger
    scalars (order-guard watermarks) cannot afford that at streaming
    cadence (it quadrupled q310's bench time before this existed).
    The temp+rename keeps a driver crash mid-write from leaving a
    truncated marker that bricks every later restart; readers skip
    temp files.

    The rename goes through ``FileContext.rename(..., OVERWRITE)`` so
    an existing marker is replaced in ONE metadata op — the earlier
    delete-then-rename pattern had a crash window between the delete
    and the rename in which an already-persisted watermark silently
    vanished (a missing marker is indistinguishable from never-written,
    so the order guard would weaken with no error; round-9 ADVICE)."""
    import uuid as _uuid

    jvm = spark.sparkContext._jvm
    gw = spark.sparkContext._gateway
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    tmp = jvm.org.apache.hadoop.fs.Path(
        f"{path}{_TMP_SUFFIX}{_uuid.uuid4().hex[:8]}"
    )
    fs = hpath.getFileSystem(conf)
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(hpath.toUri(), conf)
    opts = gw.new_array(jvm.org.apache.hadoop.fs.Options.Rename, 1)
    opts[0] = jvm.org.apache.hadoop.fs.Options.Rename.OVERWRITE
    fc.rename(tmp, hpath, opts)


def read_file(spark: SparkSession, path: str) -> str:
    """Read a small driver-side text file via the Hadoop FileSystem (no
    Spark job) — the shared read half of the marker machinery, also
    used by artifact loaders (``bpe.load_merge_table``). Centralizing
    the py4j plumbing keeps the CRC-sidecar and temp-file lessons in
    one place."""
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    stream = fs.open(hpath)
    try:
        data = jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
    finally:
        stream.close()
    return bytes(data).decode("utf-8")


def read_markers(spark: SparkSession, dir_path: str) -> dict[str, str]:
    """Read every marker file in a directory (driver-side, no Spark
    job): {file name -> content}. Missing dir = first run ({});
    in-flight temp files (crashed mid-write) are skipped — the rename
    in ``write_marker`` makes a visible marker always complete. Temp
    files older than ``_TMP_STALE_MS`` are orphans from a crashed
    write (a live write renames within milliseconds) and are deleted
    opportunistically here so they don't accumulate forever."""
    import time as _time

    jvm = spark.sparkContext._jvm
    hdir = jvm.org.apache.hadoop.fs.Path(dir_path)
    fs = hdir.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    if not fs.exists(hdir):
        return {}
    now_ms = int(_time.time() * 1000)
    out: dict[str, str] = {}
    for status in fs.listStatus(hdir):
        p = status.getPath()
        if not status.isFile() or _TMP_SUFFIX in p.getName():
            if (
                status.isFile()
                and _TMP_SUFFIX in p.getName()
                and now_ms - status.getModificationTime() > _TMP_STALE_MS
            ):
                # Best-effort orphan cleanup: a writer suspended past
                # the staleness window (paused VM, debugger) loses its
                # in-flight temp and retries; an undeletable temp
                # (read-only mount) must not turn a pure READ into an
                # exception.
                try:
                    fs.delete(p, False)
                except Exception:
                    pass
            continue
        stream = fs.open(p)
        try:
            data = jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        finally:
            stream.close()
        out[p.getName()] = bytes(data).decode("utf-8")
    return out


class AscendingIdGuard:
    """The ascending-id ORDER GUARD shared by every growing-store
    stream (media fingerprint ingest, CDC chunk ingest): "first
    occurrence" semantics require batches to arrive in ascending id
    order, so each trigger's min(id) is checked against every earlier
    watermark and a violation raises loudly instead of producing a
    wrong ledger.

    Watermarks persist as marker files (``<state_dir>__order/<run>_<batch>``,
    atomic temp+rename, no Spark job) and reload on the guard's first
    check, so the guard survives restarts. Two scopes with different
    semantics:

    - THIS run's markers key by batch id: a replayed batch skips the
      check against its own earlier attempt (``b < batch_id``) —
      at-least-once replays stay idempotent;
    - OTHER runs' markers collapse into a single GLOBAL FLOOR applied
      to EVERY batch: a fresh-checkpoint run over the same growing
      store restarts batch ids at 0, so keying foreign watermarks by
      batch id would let batch 0 skip validation entirely (and let a
      lower max overwrite a prior run's higher one) — the round-9
      review finding this class exists to fix.

    The guard also owns the stream's RUN TOKEN (``run_token``), which
    keys both its own markers and the store's per-(run, batch)
    partitions: derived from ``checkpoint_dir`` it is stable across
    restarts of the SAME checkpoint (replayed batch ids land on their
    original store partitions) and fresh for a new ingest wave; with no
    checkpoint it is random, which is safe because no replay outlives
    an ephemeral checkpoint.
    """

    def __init__(
        self, state_dir: str, checkpoint_dir: str | None, what: str
    ) -> None:
        import hashlib
        import uuid

        self.order_dir = f"{state_dir}__order"
        self.run_token = (
            hashlib.sha256(checkpoint_dir.encode()).hexdigest()[:16]
            if checkpoint_dir
            else uuid.uuid4().hex[:16]
        )
        self.what = what
        self.batch_hi: dict[int, int] = {}  # THIS run's batches
        self.floor_hi: int | None = None  # max over all OTHER runs
        self._loaded = False

    def _load(self, spark: SparkSession) -> None:
        for name, text in read_markers(spark, self.order_dir).items():
            run, _, b = name.rpartition("_")
            try:
                batch, hi = int(b), int(text)
            except ValueError as exc:
                raise ValueError(
                    f"{self.what}: unparseable order marker "
                    f"{self.order_dir}/{name} (content {text!r}) — "
                    "the order store is corrupt; remove the file only "
                    "if you can vouch for the backlog's ordering"
                ) from exc
            if run == self.run_token:
                prev = self.batch_hi.get(batch)
                self.batch_hi[batch] = (
                    hi if prev is None else max(prev, hi)
                )
            else:
                self.floor_hi = (
                    hi if self.floor_hi is None else max(self.floor_hi, hi)
                )
        self._loaded = True

    def check_batch(self, batch: DataFrame, batch_id: int) -> None:
        """Check one trigger's doc_id range (one agg job) and record it."""
        from pyspark.sql import functions as F

        mm = batch.agg(
            F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
        ).first()
        self.check_and_record(batch.sparkSession, batch_id, mm["lo"], mm["hi"])

    def check_and_record(
        self, spark: SparkSession, batch_id: int, lo, hi
    ) -> None:
        if lo is None:
            return
        if not self._loaded:
            self._load(spark)
        candidates = [
            h for b, h in self.batch_hi.items() if b < batch_id
        ]
        if self.floor_hi is not None:
            candidates.append(self.floor_hi)
        prior_hi = max(candidates, default=None)
        if prior_hi is not None and lo <= prior_hi:
            raise ValueError(
                f"{self.what}: batch {batch_id} min id {lo} <= earlier "
                f"batch max {prior_hi}; backlog is not in ascending-id "
                "order (scrambled file mtimes? a new wave with ids "
                "below an already-ingested run?) — the first-occurrence "
                "ledger would be wrong"
            )
        self.batch_hi[batch_id] = int(hi)
        # persist BEFORE the partial mutates the main store; a replay
        # overwrites its own marker (idempotent)
        write_marker(
            spark,
            f"{self.order_dir}/{self.run_token}_{batch_id}",
            str(int(hi)),
        )


def read_state_parquet(
    spark: SparkSession, state_dir: str, schema: str
) -> DataFrame:
    """Read a persistent parquet state table; missing path = first
    batch (empty frame with the explicit schema — an existing-but-empty
    dir would otherwise raise UNABLE_TO_INFER_SCHEMA, which the explicit
    schema also prevents). Read errors on an EXISTING path (corrupt
    footer, permissions, transient IO) raise loudly."""
    if not path_exists(spark, state_dir):
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(state_dir)
