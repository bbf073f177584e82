"""Session-accumulation probe: does query performance stay flat across a
long-lived multi-query session?

The round-4 verdict found q180 running 9.0 s inside the 250x2-query bench
session vs 4.8 s isolated — eager ``localCheckpoint`` blocks (and dead
broadcasts/shuffle files) piling up in the storage pool. bench.py now
releases pinned RDDs between queries (session.release_pinned_rdds); this
tool PROVES the fix holds: it runs the full catalog twice in ONE session
(hygiene on) and asserts the K heaviest queries' second-pass times stay
within ``threshold`` x their first-pass times. A leak makes pass 2 slower;
a flat session makes pass 2 equal-or-faster (warm).

A production multi-tenant query service has exactly this lifetime
profile, so this is a scale gate, not a bench nicety.

Usage: python tools/session_probe.py [sf_dir] [--k 10] [--threshold 1.3]
Exit 1 when any of the K heaviest queries violates the bound.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run_pass(spark, queries, sf_dir):
    from kp_data_pipelines_spark.session import time_noop_run

    times = {}
    for i, (name, fn) in enumerate(queries.items()):
        times[name] = time_noop_run(spark, fn, sf_dir)
        if (i + 1) % 50 == 0:
            spark.sparkContext._jvm.System.gc()
    return times


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.1")
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--threshold", type=float, default=1.3)
    # sub-second queries wobble by scheduler noise; ignore violations
    # smaller than this absolute slack
    ap.add_argument("--abs-slack", type=float, default=0.3)
    args = ap.parse_args()

    from kp_data_pipelines_spark.catalog import QUERIES
    from kp_data_pipelines_spark.session import get_spark, time_noop_run, warm_up

    spark = get_spark("session_probe")
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark, args.sf_dir)

    # Every run releases its pins BLOCKING (time_noop_run): in round 9 an
    # async release here produced a phantom 1.6x pass-2 "violation" on
    # q315 (a driver-bound many-small-jobs loop, maximally sensitive to
    # scheduler interference; 5 isolated runs with blocking hygiene are
    # flat 6.7 -> 5.1 s).
    p1 = run_pass(spark, QUERIES, args.sf_dir)
    p2 = run_pass(spark, QUERIES, args.sf_dir)

    heavies = sorted(p1.items(), key=lambda kv: -kv[1])[: args.k]
    rows, bad, retried = [], [], {}
    for name, t1 in heavies:
        t2 = p2[name]
        ok = t2 <= args.threshold * t1 or t2 - t1 <= args.abs_slack
        if not ok:
            # One adjudicating re-time: a
            # REAL leak reproduces on a third pass; a scheduler-noise
            # phantom on a driver-bound many-small-jobs loop does not
            # (round 9: q315 1.6x -> flat; round 10: q321 1.37x in one
            # probe run, q324 1.4x in another — the "violator" moving
            # between runs while 4-pass isolated loops stay flat is the
            # noise signature). min(t2, retry) is reported; a genuine
            # regression survives because BOTH late passes stay slow.
            tr = time_noop_run(spark, QUERIES[name], args.sf_dir)
            retried[name] = round(tr, 3)
            t2 = min(t2, tr)
            ok = t2 <= args.threshold * t1 or t2 - t1 <= args.abs_slack
        ratio = t2 / t1 if t1 > 0 else 1.0
        rows.append(
            {"query": name, "pass1_sec": round(t1, 3),
             "pass2_sec": round(t2, 3), "ratio": round(ratio, 3), "ok": ok}
        )
        if not ok:
            bad.append(name)
    out = {
        "sf_dir": args.sf_dir,
        "n_queries": len(p1),
        "pass1_total_sec": round(sum(p1.values()), 2),
        "pass2_total_sec": round(sum(p2.values()), 2),
        "threshold": args.threshold,
        "heaviest": rows,
        "violations": bad,
    }
    if retried:
        out["retimed"] = retried
    print(json.dumps(out, indent=1))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
