"""Capture .explain("formatted") for named catalog queries into
plans/$SPARK_GRAFT_PLAN_ROUND/ (default r12).

Usage:
    python tools/plan_capture.py <suffix> q321_bpe_adaptive_trainer [more...]
    python tools/plan_capture.py before --timed q167_fuzzy_entity_match

Writes plans/<round>/<query>_<suffix>.txt for each named query. With --timed,
also times each query isolated (noop sink, min of N runs, blocking hygiene
between queries — the bench methodology) and prints a JSON line.

The driver-loop queries (BPE trainers) run many jobs before returning
their final frame; the captured plan is the FINAL declared frame's plan,
which is what the oracle hashes. Their per-round job shape is documented
in bpe.py / SCALE.md instead.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = [a for a in sys.argv[1:]]
    timed = "--timed" in args
    if timed:
        args.remove("--timed")
    runs = int(os.environ.get("SPARK_GRAFT_PLAN_RUNS", "3"))
    suffix, names = args[0], args[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from kp_data_pipelines_spark.session import (
        get_spark,
        release_pinned_rdds,
        time_noop_run,
        warm_up,
    )
    from kp_data_pipelines_spark.catalog import QUERIES

    spark = get_spark("plan_capture")
    spark.sparkContext.setLogLevel("ERROR")

    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        os.environ.get("SPARK_GRAFT_PLAN_ROUND", "r12"),
    )
    os.makedirs(out_dir, exist_ok=True)

    warm_up(spark, sf_dir)

    timings: dict[str, float] = {}
    for name in names:
        fn = QUERIES[name]
        df = fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        release_pinned_rdds(spark)
        if timed:
            spark.sparkContext.setJobDescription(f"{name} [{suffix}]")
            best = min(time_noop_run(spark, fn, sf_dir) for _ in range(runs))
            spark.sparkContext.setJobDescription(None)
            timings[name] = round(best, 4)
    if timed:
        print(json.dumps({"suffix": suffix, "timings": timings}))


if __name__ == "__main__":
    main()
