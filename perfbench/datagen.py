"""Seeded input tables for the benchmark.

Writes the ten parquet tables the catalog reads (``region`` ... ``lineitem``,
``events``, ``documents``, ``embeddings``) into one directory. Schemas,
value ranges and row counts mirror the repository's sf0.1 test tables: a
TPC-H-like star schema, a time-ordered event stream, a corpus over a
31-word vocabulary with 5% "dup"-suffixed near duplicates and ~0.2% exact
duplicates, and 64-dimensional unit embeddings in ten weak clusters.

The same seed always gives byte-identical values, so a run's inputs depend
only on its ``--seed``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
N_SOURCES = 20
EMBED_DIM = 64
N_LABELS = 10
SF = 0.1
N_DOCS = 5000

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _strings(fmt: str, n: int) -> pa.Array:
    return pa.array([fmt % i for i in range(n)], pa.string())


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).dictionary_decode()


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _days(rng: np.random.Generator, start, n_days: int, n: int) -> pa.Array:
    us = start + rng.integers(0, n_days + 1, n).astype("timedelta64[D]")
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def relational_tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_events = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    i32 = pa.int32()
    tables = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), i32), "r_name": pa.array(REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), i32),
                "n_name": _strings("NATION_%d", 25),
                "n_regionkey": pa.array(rng.integers(0, 5, 25), i32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
                "c_name": _strings("Customer#%09d", n_cust),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
                "s_name": _strings("Supplier#%09d", n_supp),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
    }
    part_names = [f"{a} {b}" for a in ADJECTIVES for b in NOUNS]
    keys = np.arange(n_part, dtype=np.int64)
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(keys),
            "p_name": _pick(rng, part_names, n_part),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
        }
    )
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days(rng, _EPOCH_1995, 2404, n_ord),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _days(rng, _EPOCH_1995 + np.timedelta64(1, "D"), 2498, n_line),
        }
    )
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n_events))
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": pa.array(_EPOCH_2024 + ts.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, n_events)),
            "event_type": _pick(rng, EVENT_TYPES, n_events),
            "value": np.round(rng.exponential(50.0, n_events), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
        }
    )
    return tables


def documents_table(rng: np.random.Generator, n_docs: int) -> pa.Table:
    lengths = rng.integers(10, 101, n_docs)
    words = np.array(WORDS)[rng.integers(0, len(WORDS), int(lengths.sum()))]
    cuts = np.cumsum(lengths)[:-1]
    texts = [" ".join(chunk) for chunk in np.split(words, cuts)]
    # 5% near duplicates (an earlier document plus a " dup" marker) and
    # ~0.16% exact copies, the shapes the dedup operators look for.
    for i in rng.choice(np.arange(1, n_docs), n_docs // 20, replace=False):
        texts[i] = texts[rng.integers(0, i)] + " dup"
    for i in rng.choice(np.arange(1, n_docs), max(1, n_docs // 625), replace=False):
        texts[i] = texts[rng.integers(0, i)]
    doc_id = np.arange(n_docs, dtype=np.int64)
    return pa.table(
        {
            "doc_id": pa.array(doc_id),
            "text": pa.array(texts, pa.string()),
            "lang": _pick(rng, LANGS, n_docs, LANG_P),
            "source": pa.array([f"src{s}" for s in doc_id % N_SOURCES]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def embeddings_table(rng: np.random.Generator, n_vecs: int) -> pa.Table:
    labels = rng.integers(0, N_LABELS, n_vecs)
    centers = rng.normal(0.0, 1.0, (N_LABELS, EMBED_DIM))
    vecs = 0.5 * centers[labels] / np.sqrt(EMBED_DIM) + rng.normal(
        0.0, 1.0, (n_vecs, EMBED_DIM)
    )
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(vecs.ravel()), EMBED_DIM
            ).cast(pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


RELATIONAL = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")


def generate(out_dir: str, seed: int, names) -> dict[str, int]:
    """Write the tables in ``names`` under ``out_dir``; returns their row
    counts. Each table group draws from its own stream of ``seed``, so a
    table's values do not depend on which other tables were asked for."""
    names = set(names)
    tables: dict[str, pa.Table] = {}
    if names & set(RELATIONAL):
        rel = relational_tables(np.random.default_rng([seed, 0]), SF)
        tables.update({n: t for n, t in rel.items() if n in names})
    if "documents" in names:
        tables["documents"] = documents_table(np.random.default_rng([seed, 1]), N_DOCS)
    if "embeddings" in names:
        tables["embeddings"] = embeddings_table(
            np.random.default_rng([seed, 2]), int(20_000 * SF)
        )
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
