"""Benchmark for kp_data_pipelines_spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. One process drives the package from
outside on ``local[<cores>]`` with ``session._DEFAULTS`` as shipped and a
single closed-loop client: each pass builds every query of the workload's
fixed list with ``QUERIES[name](spark, data_dir)`` and forces it with a
``noop`` write, one query after the other. Passes repeat while the next
one is expected to end within ``--seconds``, and at least twice.

Set-up (timed as ``setup_s``): start the session, generate the workload's
input tables from ``--seed`` (three times, median kept), and run one
warm-up pass. The warm-up pass collects each query's result; outside any
timed region the results are digested with ``tools/parity.py``'s
``value_hash`` and compared with the query's DuckDB oracle twin over the
same tables. Exceptions, timeouts and mismatches count as failures.

``cpu_s`` is the CPU time the queries of one pass cost this process, the
driver JVM and the Python workers. The wall-clock figures (``makespan_s``,
``query_p50_s``, ``docs_per_s``) go in the summary line only: on a shared
virtual machine they move with the time the hypervisor steals.

``--trace 1`` alternates traced and untraced passes. Traced passes wrap
the package's layer entry points, read Spark's status store after every
query and count streaming micro-batches; the per-layer numbers are the
median over traced passes, and ``tracing_overhead_s`` is the traced minus
the untraced median makespan.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import atexit
import json
import os
import shutil
import statistics
import sys
import threading
import time
from dataclasses import dataclass

import datagen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

QUERY_TIMEOUT_S = 90.0
SETUP_REPEATS = 3
# A run times at least this many passes, even when that takes longer
# than --seconds.
MIN_PASSES = 2
# With --trace 1, passes alternate traced and untraced, two of each at
# least, after one uncounted pass: the first timed pass still runs
# ~10-40% slower than later ones while the JIT catches up, which would
# otherwise show up in tracing_overhead_s.
TRACE_MIN_PASSES = 4


@dataclass(frozen=True)
class Workload:
    queries: tuple[str, ...]
    tables: tuple[str, ...]
    # Wrapper counters that must be non-zero on a traced run.
    expect: tuple[str, ...] = ()


WORKLOADS: dict[str, Workload] = {
    # Relational ETL surface. Of the 151 catalog queries that read only the
    # TPC-H-like tables and events and do not stream, every 22nd in catalog
    # order from the 3rd: a 5-8 s warm pass at local[4].
    "etl_sweep": Workload(
        queries=(
            "q03_join_enrich_agg",
            "q46_regional_revenue",
            "q79_json_extract_agg",
            "q109_share_of_parent",
            "q157_portable_hll",
            "q189_shard_rebalance",
            "q220_half_sample_ci",
        ),
        tables=datagen.RELATIONAL,
        expect=("sources.read_table_calls",),
    ),
    # Streaming write path: micro-batch commits, checkpoints, state files.
    "stream_ingest": Workload(
        queries=(
            "q288_growing_store_cdc_ingest",
            "q261_streaming_length_drift",
            "q194_hopping_window",
            "q169_streaming_asof",
        ),
        tables=("events", "documents", "embeddings"),
        expect=(
            "streaming.run_calls",
            "streaming.batches",
            "streaming.state_io.write_marker_calls",
            "operators.ensure_parallelism_calls",
        ),
    ),
}

END_TO_END_UNITS = {
    "setup_s": "s",
    "cpu_s": "s",
}

PER_LAYER_UNITS = {
    "catalog.build_s": "s",
    "catalog.build_jobs": "count",
    "spark.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.job_p50_s": "s",
    "spark.idle_s": "s",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.task_wait_s": "s",
    "spark.core_util": "ratio",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.shuffle_kb_per_task": "KiB",
    "spark.failed_tasks": "count",
    "sources.read_table_calls": "count",
    "sources.read_table_s": "s",
    "operators.ensure_parallelism_calls": "count",
    "operators.ensure_parallelism_s": "s",
    "streaming.run_calls": "count",
    "streaming.run_s": "s",
    "streaming.batches": "count",
    "streaming.batch_p50_s": "s",
    "streaming.state_io.write_marker_calls": "count",
    "streaming.state_io.write_marker_s": "s",
    "streaming.state_io.read_state_parquet_s": "s",
    "session.release_s": "s",
    "session.pinned_rdds": "count",
    "tracing_overhead_s": "s",
}


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    raise SystemExit(2)


def descendants() -> dict[int, list[str]]:
    """``/proc/<pid>/stat`` fields, from the state on, of each live
    descendant of this process (the driver JVM and the Python workers it
    forks)."""
    stats: dict[int, list[str]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z":
            stats[int(pid)] = fields
    me, out, frontier = os.getpid(), {}, {os.getpid()}
    while frontier:
        frontier = {p for p, f in stats.items() if int(f[1]) in frontier and p != me}
        out.update((p, stats[p]) for p in frontier)
    return out


def rss_kb(fields: list[str]) -> int:
    return int(fields[21]) * os.sysconf("SC_PAGE_SIZE") // 1024


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process, its live descendants and
    every child they have reaped."""
    ticks = sum(int(x) for f in descendants().values() for x in f[11:15])
    return sum(os.times()[:4]) + ticks / os.sysconf("SC_CLK_TCK")


def steal_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the whole machine so far."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def wait_gone(pids, timeout_s: float = 60.0) -> None:
    """Wait until none of ``pids`` is a live process."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        alive = []
        for p in pids:
            try:
                with open(f"/proc/{p}/stat") as f:
                    alive += [p] if f.read().rsplit(")", 1)[1].split()[0] != "Z" else []
            except OSError:
                pass
        if not alive:
            return
        time.sleep(0.1)
    _fail(f"processes still running after stop: {alive}")


def stop_spark(spark) -> None:
    """Stop the session, end the JVM by closing its stdin (the gateway
    exits on EOF) and wait until it and the Python workers are gone."""
    pids = descendants()
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=60)
    wait_gone(pids)


class RssSampler(threading.Thread):
    """Peak summed RSS of this process's descendants, sampled every 0.5 s
    (each sample reads every process's stat file, and its CPU time counts
    in cpu_s)."""

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.peak_kb = 0
        self.stop_event = threading.Event()

    def run(self) -> None:
        while not self.stop_event.wait(0.5):
            self.peak_kb = max(self.peak_kb, sum(map(rss_kb, descendants().values())))


class Runner:
    def __init__(self, spark, data_dir: str, workload: Workload) -> None:
        from kp_data_pipelines_spark.catalog import QUERIES
        from kp_data_pipelines_spark.session import release_pinned_rdds

        self.spark = spark
        self.data_dir = data_dir
        self.fns = [(q, QUERIES[q]) for q in workload.queries]
        self.release = release_pinned_rdds
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def _guarded(self, fn):
        """Run ``fn()``; cancel Spark work if it outlives the timeout."""
        fired = threading.Event()

        def cancel() -> None:
            fired.set()
            for q in self.spark.streams.active:
                q.stop()
            self.spark.sparkContext.cancelAllJobs()

        timer = threading.Timer(QUERY_TIMEOUT_S, cancel)
        timer.start()
        try:
            return fn()
        finally:
            timer.cancel()
            if fired.is_set():
                raise TimeoutError(f"query exceeded {QUERY_TIMEOUT_S}s")

    def run_query(self, name, fn, collect: bool):
        """Build and force one query. Returns its wall span and build span
        (epoch ms) and, when ``collect``, its result."""
        self.attempted += 1
        t0 = tb = time.time() * 1000.0
        result = None
        try:
            df = self._guarded(lambda: fn(self.spark, self.data_dir))
            tb = time.time() * 1000.0
            if collect:
                result = self._guarded(df.toPandas)
            else:
                self._guarded(df.write.format("noop").mode("overwrite").save)
        except Exception as e:  # noqa: BLE001 - any failure is counted
            self.failed += 1
            self.errors.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
        t1 = time.time() * 1000.0
        return (t0, t1), (t0, tb), result

    def run_pass(self, collect: bool = False, tracer=None, jobs=None, listener=None):
        """One pass over the query list. Returns (makespan_s, per-query
        seconds, CPU seconds, results, trace records)."""
        total, cpu, times, results, records = 0.0, 0.0, [], {}, []
        for name, fn in self.fns:
            c0 = tree_cpu_s()
            t0 = time.perf_counter()
            span, build, result = self.run_query(name, fn, collect)
            dt = time.perf_counter() - t0
            cpu += tree_cpu_s() - c0
            total += dt
            times.append(dt)
            results[name] = result
            # Outside the timed region: pin release and trace reads.
            r0 = time.perf_counter()
            pinned = self.release(self.spark, blocking=True)
            release_s = time.perf_counter() - r0
            if tracer is not None:
                batches = listener.batch_ms[:]
                listener.batch_ms.clear()
                records.append(
                    {
                        "span": span,
                        "build": build,
                        "jobs": [j for j in jobs.new_jobs() if span[0] <= j["start"] <= span[1]],
                        "spans": tracer.take_spans(),
                        "batch_ms": batches,
                        "release_s": release_s,
                        "pinned": pinned,
                    }
                )
        return total, times, cpu, results, records


def check_outputs(data_dir: str, tables, results: dict) -> list[str]:
    """Compare each collected result with its DuckDB oracle twin."""
    import duckdb

    from kp_data_pipelines_spark.catalog import ORACLE
    from tools.parity import value_hash

    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
        )
    problems = []
    for name, sdf in results.items():
        if sdf is None:
            continue  # already counted as a failure
        odf = con.sql(ORACLE[name]).df()
        if len(sdf) != len(odf):
            problems.append(f"{name}: rows {len(sdf)} vs oracle {len(odf)}")
        elif sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"{name}: columns differ from oracle")
        elif value_hash(sdf) != value_hash(odf):
            problems.append(f"{name}: value hash differs from oracle")
    con.close()
    return problems


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, int(round(q * len(s))) - 1))]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]

    t_setup = time.perf_counter()
    if not os.path.isdir(os.path.join(ROOT, "kp_data_pipelines_spark")):
        _fail(f"package kp_data_pipelines_spark not found under {ROOT}")
    if not os.path.isfile(os.path.join(ROOT, "tools", "parity.py")):
        _fail(f"tools/parity.py not found under {ROOT}")

    # Every file the run writes (inputs, streaming state, Spark scratch)
    # lives in a fresh directory inside the checkout, removed at exit.
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # Python workers must import the package wherever the run starts.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    import tempfile

    tempfile.tempdir = tmp

    sampler = RssSampler()
    sampler.start()
    from kp_data_pipelines_spark.session import _DEFAULTS, get_spark

    cores = os.cpu_count() or 1
    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t_setup

    gen_s, rows = [], {}
    for i in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        data_dir = os.path.join(work, f"data{i}")
        rows = datagen.generate(data_dir, args.seed, wl.tables)
        gen_s.append(time.perf_counter() - t0)
        if i:
            shutil.rmtree(os.path.join(work, f"data{i - 1}"))
    input_rows = sum(rows.values())

    # The warm-up pass runs on a cold JVM and collects the results to check.
    runner = Runner(spark, data_dir, wl)
    t0 = time.perf_counter()
    _, warm_times, _, results, _ = runner.run_pass(collect=True)
    warmup_s = time.perf_counter() - t0
    setup_s = session_s + statistics.median(gen_s) + warmup_s

    tracer = jobs = listener = None
    if args.trace:
        from layers import JobReader, LayerTracer, make_batch_listener

        tracer = LayerTracer()
        jobs = JobReader(spark)
        listener = make_batch_listener(spark)
        runner.run_pass()  # uncounted, see TRACE_MIN_PASSES

    makespans = {False: [], True: []}
    pass_wall: list[float] = []
    pass_cpu, pass_steal = [], []
    # Per query, its wall time in each untraced pass.
    query_s: dict[str, list[float]] = {name: [] for name in wl.queries}
    layer_passes: list[dict] = []
    min_passes, step = (TRACE_MIN_PASSES, 2) if args.trace else (MIN_PASSES, 1)
    t_run = time.perf_counter()
    while True:
        traced = bool(args.trace) and len(pass_wall) % 2 == 0
        t_pass = time.perf_counter()
        s0 = steal_ticks()
        if traced:
            tracer.install()
        try:
            ms, times, cpu, _, records = runner.run_pass(
                tracer=tracer if traced else None, jobs=jobs, listener=listener
            )
        finally:
            if traced:
                tracer.uninstall()
        makespans[traced].append(ms)
        s1 = steal_ticks()
        pass_cpu.append(cpu)
        pass_steal.append((s1[0] - s0[0]) / max(1, s1[1] - s0[1]))
        if traced:
            from layers import pass_metrics

            layer_passes.append(pass_metrics(records, cores))
        else:
            for name, dt in zip(wl.queries, times):
                query_s[name].append(dt)
        pass_wall.append(time.perf_counter() - t_pass)
        # Stop before a pass (a traced/untraced pair, when tracing) that
        # would likely end after --seconds.
        elapsed = time.perf_counter() - t_run
        if (
            len(pass_wall) >= min_passes
            and not traced
            and elapsed + step * statistics.median(pass_wall) > args.seconds
        ):
            break
    sampler.stop_event.set()
    sampler.join()

    t0 = time.perf_counter()
    problems = check_outputs(data_dir, wl.tables, results)
    check_s = time.perf_counter() - t0
    runner.failed += len(problems)
    stop_spark(spark)

    makespan = statistics.median(makespans[False])
    query_median = {name: statistics.median(ts) for name, ts in query_s.items()}
    if args.trace:
        metrics = {
            name: statistics.median(p.get(name, 0.0) for p in layer_passes)
            for name in PER_LAYER_UNITS
        }
        metrics["tracing_overhead_s"] = statistics.median(makespans[True]) - makespan
        units = PER_LAYER_UNITS
        for name in wl.expect:
            if not metrics[name] > 0:
                problems.append(f"layer counter {name} is 0 on {args.workload}")
    else:
        # The first timed pass still pays JIT compilation, so the least
        # CPU over the passes is the settled cost of a pass.
        metrics = {"setup_s": setup_s, "cpu_s": min(pass_cpu)}
        units = END_TO_END_UNITS

    samples = [dt for times in query_s.values() for dt in times]
    n = len(samples)
    tail = max((p for p in (50, 75, 90, 95, 99) if n * (100 - p) / 100 >= 10), default=None)
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "master": f"local[{cores}]",
        "driver_memory": _DEFAULTS["spark.driver.memory"],
        "passes": {"untraced": len(makespans[False]), "traced": len(makespans[True])},
        "query_samples": n,
        "peak_rss_mb": round(sampler.peak_kb / 1024.0, 1),
        "setup_parts_s": {
            "session": round(session_s, 3),
            "generate_median": round(statistics.median(gen_s), 3),
            "warmup": round(warmup_s, 3),
        },
        "check_s": round(check_s, 3),
        "makespan_s": round(makespan, 4),
        "query_p50_s": round(statistics.median(query_median.values()), 4),
        "docs_per_s": round(input_rows / makespan, 1),
        "pass_makespans_s": [round(x, 3) for x in makespans[False]],
        "pass_cpu_s": [round(x, 3) for x in pass_cpu],
        "pass_steal": [round(x, 3) for x in pass_steal],
        "query_s": {
            name: {"warmup": round(w, 3), "passes": [round(x, 3) for x in query_s[name]]}
            for name, w in zip(wl.queries, warm_times)
        },
        "failed_share": runner.failed / runner.attempted,
    }
    if tail is not None:
        summary[f"query_p{tail}_s"] = round(percentile(samples, tail / 100), 4)
    print("# " + json.dumps(summary))
    for line in runner.errors + problems:
        print(f"perfbench: {line}", file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": not runner.errors and not problems,
                "attempted": runner.attempted,
                "failed": runner.failed,
                "metrics": {
                    k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
