"""BPE round-model probe: measure rounds-vs-merges and the E[batch]
trajectory of the ADAPTIVE count-band trainer PAST the fixture's 20
rounds — the validation SCALE.md §20's tail term was missing.

The synthetic corpus (tools/stress.py's executor-side generator) draws
from a 27-word list, so its 3-word CHUNK vocabulary is ~27^3 ≈ 19.7k
distinct chunks — a symbol inventory deep enough for thousands of
merges, with Zipf-ish chunk counts from the generator's skewed word
draws. Per-round cost is vocabulary-bounded (rounds run on the
distinct-chunk table, never the corpus), so the probe's wall time is
dominated by round COUNT — exactly the quantity under test. The probe
drives the production loop (``bpe._merge_rounds``) and stops consuming
it at the target merge count; a round's seconds cover its ranked job,
which also materializes the previous round's fold.

Usage: python tools/bpe_rounds.py [target_merges] [n_partitions rows_per_partition]
Prints one ledger row per round (batch size, band max/min count,
cumulative merges, wall secs) and a final JSON line with the measured
curve vs the §20 model's prediction.
"""

from __future__ import annotations

import json
import math
import sys
import time
from functools import partial

sys.path.insert(0, ".")

from kp_data_pipelines_spark.operators.bpe import (  # noqa: E402
    BPE_ADAPTIVE_ALPHA_DEN,
    BPE_ADAPTIVE_TOPK,
    _merge_rounds,
    _unit_rows,
    _unit_syms,
    select_merge_batch_adaptive,
)
from kp_data_pipelines_spark.session import get_spark  # noqa: E402
from kp_data_pipelines_spark.sources.corpus_source import (  # noqa: E402
    SyntheticCorpusDataSource,
)


def main() -> int:
    target = int(sys.argv[1]) if len(sys.argv) > 1 else 2048
    parts = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    rows = int(sys.argv[3]) if len(sys.argv) > 3 else 32_000
    topk = BPE_ADAPTIVE_TOPK
    alpha_den = BPE_ADAPTIVE_ALPHA_DEN
    spark = get_spark("bpe-rounds")
    spark.sparkContext.setLogLevel("ERROR")
    spark.dataSource.register(SyntheticCorpusDataSource)
    docs = (
        spark.read.format("synthetic_corpus")
        .option("partitions", parts)
        .option("rows_per_partition", rows)
        .load()
    )

    t0 = time.time()
    syms = _unit_syms(_unit_rows(docs, "text", 3))
    n_chunks = syms.count()  # materializes the corpus-side chunk agg
    prep_s = time.time() - t0
    print(
        f"corpus: {parts * rows} docs -> {n_chunks} distinct chunks "
        f"({prep_s:.1f}s prep); target {target} merges, "
        f"pool {topk}, band 1/{alpha_den}"
    )

    merges = 0
    rounds = 0
    ledger: list[dict] = []
    c0 = None
    # the production loop; every non-empty round adds >= 1 merge, so
    # `target` rounds always reach the target merge count
    loop = _merge_rounds(
        syms,
        target,
        topk,
        partial(select_merge_batch_adaptive, alpha_den=alpha_den),
    )
    t = time.time()
    for batch, _total, _syms in loop:
        dt = time.time() - t
        if not batch:
            print(f"round {rounds + 1}: pool dry after {merges} merges")
            break
        rounds += 1
        merges += len(batch)
        if c0 is None:
            c0 = batch[0][2]
        ledger.append(
            {
                "round": rounds,
                "batch": len(batch),
                "c_max": batch[0][2],
                "c_min": batch[-1][2],
                "merges": merges,
                "sec": round(dt, 2),
            }
        )
        print(
            f"round {rounds:4d}: batch {len(batch):4d}  "
            f"band [{batch[-1][2]}, {batch[0][2]}]  "
            f"merges {merges:6d}  {dt:.2f}s"
        )
        if merges >= target:
            break
        t = time.time()

    total_s = time.time() - t0
    c_floor = ledger[-1]["c_min"] if ledger else 0
    tail = [r["batch"] for r in ledger[len(ledger) // 2 :]]
    e_tail = sum(tail) / len(tail) if tail else 0.0
    descent = (
        math.log(max(c0, 1) / max(c_floor, 1)) / math.log(alpha_den)
        if c0
        else 0.0
    )
    model_rounds = descent + (merges / e_tail if e_tail else 0.0)
    print(
        json.dumps(
            {
                "metric": "bpe_round_model",
                "n_docs": parts * rows,
                "n_chunks": n_chunks,
                "merges": merges,
                "rounds": rounds,
                "e_batch_tail": round(e_tail, 1),
                "c0": c0,
                "c_floor": c_floor,
                "model_rounds": round(model_rounds, 1),
                "prep_sec": round(prep_s, 1),
                "total_sec": round(total_s, 1),
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
