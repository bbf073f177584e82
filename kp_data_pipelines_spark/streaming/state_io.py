"""Persistent state for the streaming operators: the growing-store
ingest step, its ascending-id order guard, and the parquet and marker
I/O under both.

GROWING STORE. cdc (q288), media (q310) and training (q251) dedup each
micro-batch against every key earlier batches ingested, then add the
batch's new keys. ``growing_store_step`` is that per-trigger step for
all three; the operators supply only ``fn(batch, seen) -> (partial,
new_keys)``. Per trigger, in this order:

1. check the batch's doc_id range against every earlier watermark
   (``AscendingIdGuard``, one agg job);
2. build the pre-batch view ``seen``: the distinct key column of the
   store, restricted to ``run != <token> OR batch < <id>``;
3. call ``fn``;
4. pin the partial with ``localCheckpoint(eager=True)`` — its plan
   reads the pre-batch view, so it must be materialized before the
   store changes;
5. overwrite ``state_dir/run=<token>/batch=<id>`` with ``new_keys``.

Layout: ``state_dir/run=<token>/batch=<id>/*.parquet``, one key column
per store (the 8-byte chunk identity, dHash or sha256 fingerprint).
The run token hashes the checkpoint location, so a restart against the
same checkpoint lands on the same token and a new ingest wave (new
checkpoint, same store) gets a fresh one; with no checkpoint it is
random, which is safe because no replay outlives an ephemeral
checkpoint.

Replay contract: foreachBatch is at-least-once. A replayed (run,
batch) excludes its own, possibly half-written, partition from the
pre-batch view, so it sees exactly the store its first attempt saw,
and it overwrites that partition instead of appending to the store.
A replay therefore reproduces the same partial and leaves the store
unchanged; an appended store would flag every key of the replayed
batch as a duplicate of itself. A new wave dedups against every
earlier run's partitions in full.

Order contract: first occurrence is defined by doc_id, so batches must
arrive in ascending doc_id order. For a file source that is the
listing (mtime) order, which a touched or copied backlog scrambles;
the guard then raises instead of producing a wrong ledger. Under the
contract each ledger equals its batch twin for any batching.

Missing state: a MISSING path means "first batch ever" (empty frame
with the explicit schema); anything else re-raises loudly, since
silently resetting state would let cross-batch duplicates through.
Missing-path detection uses the Hadoop FileSystem API, which is
deterministic across Spark versions and locales, never the text of
an AnalysisException.
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
    """The ascending-id order guard of ``growing_store_step``: each
    trigger's min(doc_id) is checked against every earlier watermark,
    and a violation raises.

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
      lower max overwrite a prior run's higher one).

    The guard owns the stream's run token (module docstring), which
    keys both its markers and the store's partitions.
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

        spark = batch.sparkSession
        lo, hi = batch.agg(F.min("doc_id"), F.max("doc_id")).first()
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
        # persist BEFORE the step mutates the store; a replay
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
    schema also prevents). The empty frame is typed null literals over
    ``spark.range(0)``, built on the JVM: ``createDataFrame([], schema)``
    would parallelize a Python RDD and run Python-worker tasks. Read
    errors on an EXISTING path (corrupt footer, permissions, transient
    IO) raise loudly."""
    if not path_exists(spark, state_dir):
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType

        return spark.range(0).select(
            *(
                F.lit(None).cast(f.dataType).alias(f.name)
                for f in StructType.fromDDL(schema).fields
            )
        )
    return spark.read.schema(schema).parquet(state_dir)


def growing_store_step(
    state_dir: str, key: str, checkpoint_dir: str | None, what: str, fn
):
    """The foreachBatch function ``(batch, batch_id) -> partial`` of the
    growing store at ``state_dir``, keyed by one column (``key`` in DDL,
    e.g. ``"packed long"``). ``fn(batch, seen) -> (partial, new_keys)``
    is the operator's dedup; the step runs the guard, the pre-batch
    view, the pin and the store write around it (module docstring)."""
    from pyspark.sql import functions as F

    guard = AscendingIdGuard(state_dir, checkpoint_dir, what)
    col = key.split()[0]
    schema = f"{key}, run string, batch long"

    def step(batch: DataFrame, batch_id: int) -> DataFrame:
        guard.check_batch(batch, batch_id)
        token = guard.run_token
        seen = (
            read_state_parquet(batch.sparkSession, state_dir, schema)
            .where((F.col("run") != token) | (F.col("batch") < batch_id))
            .select(col)
            .distinct()
        )
        partial, new_keys = fn(batch, seen)
        partial = partial.localCheckpoint(eager=True)
        new_keys.select(col).write.mode("overwrite").parquet(
            f"{state_dir}/run={token}/batch={batch_id}"
        )
        return partial

    return step
