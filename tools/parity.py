"""Local mirror of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given sf dir, compares row count, column names, and an
order-insensitive value hash (columns sorted by name, rows sorted).
A query on which both engines return 0 rows prints ``EMPTY``, not
``PASS``, and is counted apart in the summary: it is no failure, but
it proves nothing about the values at that scale.

Usage: python tools/parity.py [--vanilla] [--subset TAG] [sf_dir] [query ...]

``--vanilla`` runs the queries on a bare ``SparkSession.builder`` session
(no tuned confs) — the driver uses its OWN session, so this catches any
silent dependence on our session defaults.

``--subset TAG`` restricts the sweep to catalog entries tagged TAG. The
standing use is the CLAUDE.md overflow rule::

    python tools/parity.py --subset overflow /root/testdata/sf0.1

which runs every quantized/hi-lo/decimal-staged query at sf0.1, where
ANSI long overflow and 2^53 drift actually bite (sf0.01 passes mask
them). The tag set lives in catalog.OVERFLOW_SENSITIVE and is asserted
complete by tests/test_catalog_parity.py.

The whole-catalog sf0.1 certification is the plain sweep on the sf0.1
directory (the ``FULL=1`` stage of ``tools/verify_all.sh``). Every twin
runs there with no exclusions: the MinHash pair core of every graph twin
is a banded EQUI-join materialized once (``pairs AS MATERIALIZED``,
oracles._minhash_pairs_core), so the formerly-quadratic
q179/q184/q190/q219/q227/q258 oracles are linear.
"""

from __future__ import annotations

import hashlib
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def canonical(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def value_hash(df: pd.DataFrame) -> str:
    df = canonical(df)
    h = hashlib.sha256()
    for col in df.columns:
        s = df[col]
        h.update(col.encode())
        for v in s:
            if v is None or (isinstance(v, float) and pd.isna(v)):
                h.update(b"\x00NULL")
            else:
                h.update(repr(v).encode())
    return h.hexdigest()


def main() -> int:
    args = sys.argv[1:]
    vanilla = "--vanilla" in args
    if vanilla:
        args.remove("--vanilla")
    subset_tag = None
    if "--subset" in args:
        i = args.index("--subset")
        subset_tag = args[i + 1]
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    only = set(args[1:])
    if subset_tag is not None:
        from kp_data_pipelines_spark.catalog import TAGS

        tagged = {q for q, t in TAGS.items() if subset_tag in t}
        if not tagged:
            print(f"no queries tagged {subset_tag!r}")
            return 1
        only = (only & tagged) if only else tagged
        print(f"subset {subset_tag!r}: {len(only)} queries")

    from kp_data_pipelines_spark.session import get_spark

    import __spark_entry__ as entry_mod

    if vanilla:
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[8]").appName("parity-vanilla").getOrCreate()
    else:
        spark = get_spark("parity")
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()

    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    n_pass = n_empty = n_fail = n_weak = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception:
            print(f"FAIL {name}: spark error")
            traceback.print_exc()
            n_fail += 1
            continue
        if name not in oracles:
            print(f"WEAK {name}: rows={len(sdf)} (no oracle)")
            n_weak += 1
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception:
            print(f"FAIL {name}: duckdb error")
            traceback.print_exc()
            n_fail += 1
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rows {len(sdf)} vs {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"cols {sorted(sdf.columns)} vs {sorted(odf.columns)}")
        if not problems:
            hs, ho = value_hash(sdf), value_hash(odf)
            if hs != ho:
                problems.append("value-hash mismatch")
                cs, co = canonical(sdf), canonical(odf)
                diff_cols = [
                    c for c in cs.columns if not cs[c].equals(co[c])
                ]
                problems.append(f"differing cols: {diff_cols}")
                for c in diff_cols[:2]:
                    neq = cs[c] != co[c]
                    idx = neq[neq].index[:3]
                    for i in idx:
                        problems.append(f"  {c}[{i}]: spark={cs[c][i]!r} oracle={co[c][i]!r}")
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            n_fail += 1
        elif len(sdf) == 0:
            print(f"EMPTY {name} (0 rows on both engines)")
            n_empty += 1
        else:
            print(f"PASS {name} ({len(sdf)} rows)")
            n_pass += 1
    print(
        f"\n{n_pass} pass, {n_empty} empty (0 rows on both engines), "
        f"{n_fail} fail, {n_weak} weak (no oracle)"
    )
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
