"""Per-layer tracing for the benchmark, all from outside the package.

Three sources:

- ``LayerTracer`` wraps the package's public entry points (``read_table``,
  ``ensure_parallelism``, the streaming
  runners, ``state_io``) at every module binding the name is looked up
  through, and records a span per outermost call.
- ``JobReader`` reads Spark's status store after each query and attributes
  jobs to the query by submission time inside the query's span (job groups
  are not used: streaming resets them to its run id).
- ``BatchListener`` counts streaming micro-batches and their durations.

Spans and jobs stay in memory; ``pass_metrics`` folds one pass into the
per-layer numbers the benchmark prints.
"""

from __future__ import annotations

import functools
import statistics
import sys
import time

PKG = "kp_data_pipelines_spark"

# layer -> [(module, predicate over attribute names)]
_TARGETS: dict[str, list[tuple[str, object]]] = {
    "sources.read_table": [(f"{PKG}.sources.readers", {"read_table"})],
    "operators.ensure_parallelism": [
        (f"{PKG}.operators.similarity", {"ensure_parallelism"})
    ],
    "streaming.run": [
        (f"{PKG}.streaming.events", lambda n: n.startswith("run_")),
        (f"{PKG}.streaming.cdc", {"cdc_ingest_stream"}),
        (f"{PKG}.streaming.media", {"media_ingest_stream"}),
        (f"{PKG}.streaming.training", {"training_build_stream"}),
        (f"{PKG}.streaming.drift", lambda n: n.endswith("_stream")),
    ],
    "streaming.state_io.write_marker": [
        (f"{PKG}.streaming.state_io", {"write_marker"})
    ],
    "streaming.state_io.read_state_parquet": [
        (f"{PKG}.streaming.state_io", {"read_state_parquet"})
    ],
}


def _now_ms() -> float:
    return time.time() * 1000.0


class LayerTracer:
    """Installs wrappers while tracing is on and removes them after."""

    def __init__(self) -> None:
        import importlib

        self.originals: dict[object, str] = {}  # traced function -> layer
        for layer, targets in _TARGETS.items():
            for mod_name, pick in targets:
                mod = importlib.import_module(mod_name)
                keep = pick if callable(pick) else pick.__contains__
                for name, fn in vars(mod).items():
                    if (
                        keep(name)
                        and callable(fn)
                        and getattr(fn, "__module__", None) == mod_name
                    ):
                        self.originals[fn] = layer
        missing = set(_TARGETS) - set(self.originals.values())
        if missing:
            raise RuntimeError(f"no entry point found for layers {sorted(missing)}")
        self.depth = {layer: 0 for layer in _TARGETS}
        self.spans: list[tuple[str, float, float]] = []
        self._patched: list[tuple[object, str, object]] = []

    def _wrap(self, fn, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            self.depth[layer] += 1
            t0 = _now_ms()
            try:
                return fn(*args, **kwargs)
            finally:
                self.depth[layer] -= 1
                if self.depth[layer] == 0:
                    self.spans.append((layer, t0, _now_ms()))

        return traced

    def install(self) -> None:
        """Rebind every module attribute that holds a traced function,
        so module-level imports (``catalog.read_table``) and in-function
        imports both see the wrapper."""
        wrappers = {
            id(fn): self._wrap(fn, layer) for fn, layer in self.originals.items()
        }
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PKG):
                continue
            for attr, value in list(vars(mod).items()):
                if id(value) in wrappers:
                    setattr(mod, attr, wrappers[id(value)])
                    self._patched.append((mod, attr, value))

    def uninstall(self) -> None:
        for mod, attr, value in self._patched:
            setattr(mod, attr, value)
        self._patched.clear()

    def take_spans(self) -> list[tuple[str, float, float]]:
        spans, self.spans = self.spans, []
        return spans


class JobReader:
    """Reads finished jobs and their stages from the status store."""

    def __init__(self, spark) -> None:
        self.jsc = spark.sparkContext._jsc.sc()
        self.store = self.jsc.statusStore()
        self.last_job = -1
        self.drain()
        self.new_jobs()

    def drain(self) -> None:
        # The status store and streaming listeners are fed asynchronously
        # by the listener bus; wait until it has delivered every event.
        self.jsc.listenerBus().waitUntilEmpty(10_000)

    def new_jobs(self) -> list[dict]:
        """Jobs submitted since the previous call, oldest first."""
        self.drain()
        jobs = self.store.jobsList(None)  # newest first
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= self.last_job:
                break
            sub = j.submissionTime()
            if not sub.isDefined():
                continue
            done = j.completionTime()
            job = {
                "id": j.jobId(),
                "start": float(sub.get().getTime()),
                "end": float(done.get().getTime()) if done.isDefined() else None,
                "stages": [],
            }
            sids = j.stageIds()
            for k in range(sids.size()):
                s = self.store.lastStageAttempt(sids.apply(k))
                if str(s.status()) == "SKIPPED":
                    continue
                job["stages"].append(
                    {
                        "id": s.stageId(),
                        "tasks": s.numTasks(),
                        "failed_tasks": s.numFailedTasks(),
                        "run_ms": s.executorRunTime(),
                        "cpu_ns": s.executorCpuTime(),
                        "shuffle_write": s.shuffleWriteBytes(),
                        "shuffle_read": s.shuffleReadBytes(),
                        "spill": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                    }
                )
            out.append(job)
        if out:
            self.last_job = max(j["id"] for j in out)
        return sorted(out, key=lambda j: j["id"])


def make_batch_listener(spark):
    """A StreamingQueryListener that records each micro-batch's duration."""
    from pyspark.sql.streaming import StreamingQueryListener

    class BatchListener(StreamingQueryListener):
        def __init__(self) -> None:
            self.batch_ms: list[float] = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            self.batch_ms.append(float(event.progress.batchDuration))

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    listener = BatchListener()
    spark.streams.addListener(listener)
    return listener


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _within(t: float, span: tuple[float, float]) -> bool:
    return span[0] <= t <= span[1]


def pass_metrics(records: list[dict], cores: int) -> dict[str, float]:
    """Fold one traced pass into per-layer metrics.

    Each record is one query: its wall ``span`` and ``build`` span (epoch
    ms), the ``jobs`` submitted inside its span, the layer ``spans``
    recorded while it ran, the micro-batch durations ``batch_ms``, and the
    ``release_s``/``pinned`` of the pin release that followed it.
    """
    m: dict[str, float] = {}

    def add(name: str, v: float) -> None:
        m[name] = m.get(name, 0.0) + v

    job_s: list[float] = []
    batch_ms: list[float] = []
    wall_s = 0.0
    for r in records:
        span, build = r["span"], r["build"]
        wall_s += (span[1] - span[0]) / 1000.0
        add("catalog.build_s", (build[1] - build[0]) / 1000.0)
        intervals = []
        for j in r["jobs"]:
            end = j["end"] if j["end"] is not None else span[1]
            intervals.append((j["start"], min(end, span[1])))
            job_s.append((end - j["start"]) / 1000.0)
            add("spark.jobs", 1)
            add("catalog.build_jobs", _within(j["start"], build))
            for s in j["stages"]:
                add("spark.stages", 1)
                add("spark.tasks", s["tasks"])
                add("spark.failed_tasks", s["failed_tasks"])
                add("spark.task_run_s", s["run_ms"] / 1000.0)
                add("spark.task_cpu_s", s["cpu_ns"] / 1e9)
                add("spark.shuffle_write_bytes", s["shuffle_write"])
                add("spark.shuffle_read_bytes", s["shuffle_read"])
                add("spark.spill_bytes", s["spill"])
        busy = _union_ms(intervals) / 1000.0
        add("spark.exec_s", busy)
        add("spark.idle_s", (span[1] - span[0]) / 1000.0 - busy)
        for layer, s0, s1 in r["spans"]:
            add(f"{layer}_calls", 1)
            add(f"{layer}_s", (s1 - s0) / 1000.0)
        batch_ms += r["batch_ms"]
        add("session.release_s", r["release_s"])
        add("session.pinned_rdds", r["pinned"])

    m["spark.task_wait_s"] = m.get("spark.task_run_s", 0.0) - m.get("spark.task_cpu_s", 0.0)
    m["spark.core_util"] = m.get("spark.task_run_s", 0.0) / (wall_s * cores) if wall_s else 0.0
    m["spark.job_p50_s"] = statistics.median(job_s) if job_s else 0.0
    tasks = m.get("spark.tasks", 0.0)
    m["spark.shuffle_kb_per_task"] = (
        m.get("spark.shuffle_write_bytes", 0.0) / 1024.0 / tasks if tasks else 0.0
    )
    m["streaming.batches"] = float(len(batch_ms))
    m["streaming.batch_p50_s"] = statistics.median(batch_ms) / 1000.0 if batch_ms else 0.0
    return m
