"""Oracle-parity smoke: run a representative subset of the catalog against
DuckDB at sf0.001 — the same comparison the driver does at sf0.01.
(Full sweep: ``python tools/parity.py``.)"""

from __future__ import annotations

import hashlib
import os

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

SUBSET = [
    "q02_group_agg",
    "q04_reconcile_summary",
    "q07_dedup_keep_first",
    "q12_pivot",
    "q20_lang_id",
    "q24_cosine_topk",
    "q25_window_events",
    # round-2 hash/kernel families — guard the portable-hash + kernel
    # plumbing inside the pytest suite, not just the external sweep
    "q38_minhash_near_dups",
    "q43_simhash_hamming_pairs",
    "q143_ivf_refined_ann",
    "q152_token_budget_selection",
    "q157_portable_hll",
    # round-3 graph/layout families
    "q172_triangle_count",
    "q174_zorder_layout",
    # round-3 sketch/time-series/retrieval families: KMV hash plumbing,
    # closed-form CUSUM windows, fold-exact MMR doubles, drift fold
    "q181_kmv_sketch",
    "q183_cusum_changepoint",
    "q187_dyadic_ewma",
    "q196_gapfill_locf",
    "q198_mmr_diversified_topk",
    "q199_distribution_drift",
    # BPE twins: word and chunk units, the cap and band picks, trainer
    # rows, the ledger and the holdout fold of the one round template
    "q315_bpe_batched_trainer",
    "q319_bpe_encode_holdout",
    "q325_bpe_adaptive_tokenize",
]


@pytest.fixture(scope="module")
def oracle_con():
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _canon_hash(df: pd.DataFrame) -> str:
    df = df[sorted(df.columns)].sort_values(by=sorted(df.columns), ignore_index=True)
    h = hashlib.sha256()
    for col in df.columns:
        for v in df[col]:
            h.update(b"\x00" if v is None or (isinstance(v, float) and pd.isna(v)) else repr(v).encode())
    return h.hexdigest()


def test_entry_smoke(spark):
    out = entry_mod.entry(spark)
    assert out.count() >= 0
    assert len(out.schema) > 0


def test_catalog_is_consistent():
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 25


@pytest.mark.parametrize("name", SUBSET)
def test_oracle_parity(spark, oracle_con, name):
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    sdf = qs[name](spark, SF_DIR).toPandas()
    odf = oracle_con.sql(oracles[name]).df()
    assert len(odf) > 0, f"{name}: empty at {SF_DIR}, the hash check proves nothing"
    assert len(sdf) == len(odf)
    assert sorted(sdf.columns) == sorted(odf.columns)
    assert _canon_hash(sdf) == _canon_hash(odf)


def test_overflow_tag_is_complete():
    """Every query whose source or oracle SQL carries an overflow marker
    (quantized round(x*10^k) BIGINT sums, hi/lo 2^26 splits,
    DECIMAL(38,0) staging) must be tagged OVERFLOW_SENSITIVE, so the
    sf0.1 sweep (`tools/parity.py --subset overflow`) can't silently
    miss a new quantized query — the CLAUDE.md rule, enforced."""
    import inspect
    import re

    from kp_data_pipelines_spark.catalog import (
        ORACLE,
        OVERFLOW_SENSITIVE,
        QUERIES,
        TAGS,
    )

    def markers(text: str) -> bool:
        flat = text.replace("\n", " ")
        return (
            "DECIMAL(38,0)" in flat
            or "decimal(38,0)" in flat
            or "67108864" in flat  # 2^26 hi/lo split constant
            or re.search(r'F\.round\([^)]*\*\s*\d+\)\.cast\("bigint"\)', flat)
            is not None
            or re.search(r"round\(\w[^)]*\*\s*10+\s*\)\s*AS BIGINT", flat)
            is not None
            # quantize via big power-of-ten literal, incl. the 1e12/.0
            # spellings (1000000000000.0, F.lit(1e12)) — q105/q236 family
            or re.search(r"round\([^()]*\*\s*1?0{3,}(\.0)?\s*\)", flat)
            is not None
            or re.search(r"F\.round\([^()]*\*\s*F\.lit\(1e\d+\)\)", flat)
            is not None
        )

    detected = set()
    for name, fn in QUERIES.items():
        try:
            src = inspect.getsource(fn)
        except (OSError, TypeError):
            src = ""
        if markers(src) or markers(ORACLE.get(name, "")):
            detected.add(name)
    missing = detected - OVERFLOW_SENSITIVE
    assert not missing, (
        f"overflow-marker queries not tagged OVERFLOW_SENSITIVE: "
        f"{sorted(missing)} — add them to catalog.OVERFLOW_SENSITIVE and "
        f"run tools/parity.py --subset overflow /root/testdata/sf0.1"
    )
    # and the tag actually reaches the TAGS registry parity.py reads
    tagged = {q for q, t in TAGS.items() if "overflow" in t}
    assert tagged == OVERFLOW_SENSITIVE


# Package definitions with no production caller, kept on purpose: each is
# the one implementation of a SURVEY.md §2 reference row (its COVERAGE.md ID
# and test) or a reference twin a test pins a production kernel against.
# Everything they call is kept with them.
REACHABILITY_KEEP = {
    "sources.readers.read_csv": "S1-S3 CSV scan; test_csv_roundtrip",
    "sources.readers.read_excel_via_pandas": "S4 Excel scan; test_xlsx_stdlib_reader_*",
    "sources.readers.read_json_doc": "S5/S7 JSON doc scan; test_json_readers",
    "sources.readers.read_ndjson": "S6 NDJSON scan; test_json_readers",
    "sources.readers.read_jdbc": "S8 JDBC scan; test_jdbc_read_from_derby",
    "sources.resolver.latest_snapshot": "S9 latest-file discovery; test_latest_snapshot",
    "sources.readers.read_binary_dir": "S10 dir traversal; test_read_binary_dir",
    "sources.sinks.write_report_csv": "K1 CSV sink; test_csv_roundtrip",
    "sources.sinks.write_table": "K1 parquet sink; test_partitioned_write_prunes_partitions",
    "sources.sinks.write_report_excel_interactive": "K2/K3 Excel report; test_interactive_report_*",
    "sources.sinks.write_versioned": "K4 versioned sink; test_write_versioned",
    "operators.joins.containment_join": "J6 two-phase containment join; test_containment_join_*",
    "operators.profiling.discover_join_keys": "J7 join-key discovery; test_discover_join_keys",
    "operators.aggregates.control_sum": "A3 control sums; golden tests",
    "streaming.events.ingest_snapshot_folder": "A8 incremental dedup-union; test_snapshot_folder_ingest_dedup",
    "functions.cleaning.coerce_numeric": "C1 coerce cast (§2.9); test_functions",
    "functions.cleaning.null_count": "A5 null counts (§2.9); test_functions",
    "functions.dates.compact_month_end": "C4 compact month-end (§2.9); test_functions",
    "functions.strings.collapse_whitespace": "C11-C16 string kit (§2.9); test_functions",
    "functions.strings.scrub_control_chars": "C11-C16 string kit (§2.9); test_functions",
    "functions.strings.strip_total_suffix": "F9 total-row scrape (§2.9); test_functions",
    "operators.similarity._nearest_centroids_expr": "JVM twin of the Arrow centroid kernel",
    "operators.multimodal.with_dense_peaks_expr": "JVM twin of the Arrow dense-peaks kernel",
    "operators.textops.with_poly_shingles_expr": "JVM twin of the Arrow poly-shingle kernel",
    "operators.multimodal.with_media_dhash_expr": "JVM twin of the Arrow dHash kernel",
    "operators.similarity.product_quantize_expr": "JVM twin of the Arrow PQ-encode kernel",
    "operators.codecs.wav_encode_pcm16": "builds inputs for the WAV decoder tests",
}


def _package_index():
    """AST index of the package and its production callers, shared by the
    caller and parameter guards. ``reached`` holds the definitions that
    production code reaches, ``kept`` those reached only through
    REACHABILITY_KEEP; ``scopes`` is every production tree (module-level
    code, reached definitions, the scripts) keyed by its module."""
    import ast
    from pathlib import Path
    from types import SimpleNamespace

    from kp_data_pipelines_spark.catalog import QUERIES

    root = Path(__file__).resolve().parents[1]
    pkg = "kp_data_pipelines_spark"
    def_types = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)

    trees = {}
    for path in sorted((root / pkg).rglob("*.py")):
        parts = path.relative_to(root).with_suffix("").parts
        trees[".".join(parts[:-1] if parts[-1] == "__init__" else parts)] = (
            ast.parse(path.read_text())
        )
    defs = {
        (mod, node.name): node
        for mod, tree in trees.items()
        for node in tree.body
        if isinstance(node, def_types)
    }

    def import_map(tree):
        """alias -> (module, None) for a module, (module, name) for a name."""
        out = {}
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and node.module:
                for a in node.names:
                    full = f"{node.module}.{a.name}"
                    out[a.asname or a.name] = (
                        (full, None) if full in trees else (node.module, a.name)
                    )
            elif isinstance(node, ast.Import):
                for a in node.names:
                    out[a.asname or a.name] = (a.name, None)
        return out

    imports = {mod: import_map(tree) for mod, tree in trees.items()}

    def resolve(mod, name):
        """Follow re-exports (``__init__`` imports) to the defining module."""
        while (mod, name) not in defs:
            target = imports.get(mod, {}).get(name)
            if target is None or target[1] is None:
                return None
            mod, name = target
        return (mod, name)

    def target_of(n, mod):
        """The package definition a Name or ``module.attr`` node names."""
        imap = imports[mod]
        if isinstance(n, ast.Name):
            if (mod, n.id) in defs:
                return (mod, n.id)
            if imap.get(n.id, (None, None))[1]:
                return resolve(*imap[n.id])
        elif isinstance(n, ast.Attribute) and isinstance(n.value, ast.Name):
            target = imap.get(n.value.id)
            if target and target[1] is None:
                return resolve(target[0], n.attr)
        return None

    def uses(node, mod):
        return {target_of(n, mod) for n in ast.walk(node)} - {None}

    def registry_keys(node, mod):
        value = getattr(node, "value", None)
        if isinstance(value, ast.Dict) and value.values and all(
            isinstance(v, (ast.Name, ast.Attribute)) and uses(v, mod)
            for v in value.values
        ):
            return [k.value for k in value.keys]
        return None

    roots, registries, root_nodes, scopes = set(), {}, [], []
    for mod, tree in trees.items():
        for node in tree.body:
            if not isinstance(node, def_types):
                roots |= uses(node, mod)
                scopes.append((mod, node))
                keys = registry_keys(node, mod)
                if keys is None:
                    root_nodes.append(node)
                else:
                    registries[f"{mod}:{node.lineno}"] = keys
                continue
            # decorators, bases and defaults run at import time
            at_import = [*node.decorator_list]
            if isinstance(node, ast.ClassDef):
                at_import += node.bases
            else:
                at_import += node.args.defaults + node.args.kw_defaults
            for expr in filter(None, at_import):
                roots |= uses(expr, mod)
                root_nodes.append(expr)
    code_roots = {key for key in defs if key[0] == f"{pkg}.oracles"}
    code_roots |= {(fn.__module__, fn.__qualname__.split(".")[0]) for fn in QUERIES.values()}
    roots |= code_roots
    root_nodes += [defs[key] for key in code_roots]
    scripts = [root / "__spark_entry__.py", root / "bench.py"]
    scripts += sorted(root.glob("tools/*.py")) + sorted(root.glob("perfbench/*.py"))
    for path in scripts:
        mod = f"{path.relative_to(root)}"
        trees[mod] = tree = ast.parse(path.read_text())
        imports[mod] = import_map(tree)
        roots |= uses(tree, mod)
        root_nodes.append(tree)
        scopes.append((mod, tree))
    keep = {tuple(f"{pkg}.{k}".rsplit(".", 1)) for k in REACHABILITY_KEEP}
    stale = sorted(".".join(k) for k in keep - set(defs))
    assert not stale, f"REACHABILITY_KEEP names missing definitions: {stale}"

    def closure(start):
        reached, todo = set(), list(start)
        while todo:
            key = todo.pop()
            if key not in reached:
                reached.add(key)
                todo.extend(uses(defs[key], key[0]))
        return reached

    reached = closure(roots)
    scopes += [(key[0], defs[key]) for key in reached]
    return SimpleNamespace(
        pkg=pkg, defs=defs, imports=imports, target_of=target_of,
        reached=reached, kept=closure(keep) - reached, registries=registries,
        root_nodes=root_nodes, scopes=scopes,
    )


def test_every_package_definition_has_a_caller():
    """Every top-level function or class in the package is reached from
    production code: module-level code, the catalog query bodies, the
    DuckDB twins in ``oracles.py``, ``__spark_entry__.py``, ``bench.py``,
    ``tools/`` and ``perfbench/``, followed through names transitively,
    or it is listed in REACHABILITY_KEEP with its reason. Tests do not
    count as callers. Import statements are not uses: an unused import
    does not keep its target alive.

    A registry (a module-level dict literal whose values are package
    definitions) reaches every value it holds, so each of its keys must
    also be selected: appear as a string constant in that production
    code outside the registry itself."""
    import ast

    ix = _package_index()
    dead = sorted(
        f"{mod}.{name}:{ix.defs[mod, name].lineno}"
        for mod, name in set(ix.defs) - ix.reached - ix.kept
    )
    assert not dead, (
        f"{len(dead)} package definitions have no production caller "
        f"(delete them, or add them to REACHABILITY_KEEP with the reason): "
        + ", ".join(dead)
    )

    selected = {
        n.value
        for node in ix.root_nodes
        for n in ast.walk(node)
        if isinstance(n, ast.Constant) and isinstance(n.value, str)
    }
    unselected = sorted(
        f"{where}[{key!r}]"
        for where, keys in ix.registries.items()
        for key in keys
        if key not in selected
    )
    assert not unselected, (
        "registry entries no production code selects (delete them): "
        + ", ".join(unselected)
    )


# Defaulted operator parameters that production calls leave at one value,
# kept on purpose, each with its reason. Parameters of definitions only
# REACHABILITY_KEEP reaches need no entry: tests are their only callers.
PARAMETER_KEEP = {
    "streaming.cdc.cdc_ingest_stream(checkpoint_dir)": "path",
    "streaming.drift.ivf_cell_stats_stream(checkpoint_dir)": "path",
    "streaming.drift.length_drift_stream(checkpoint_dir)": "path",
    "streaming.drift.vocab_growth_stream(checkpoint_dir)": "path",
    "streaming.events.run_available_now(checkpoint_dir)": "path",
    "streaming.events.run_available_now_foreach_batch(checkpoint_dir)": "path",
    "streaming.media.media_ingest_stream(checkpoint_dir)": "path",
    "streaming.training.training_build_stream(checkpoint_dir)": "path",
    "session.release_pinned_rdds(blocking)": (
        "benchmark contract: perfbench/run.py passes blocking=True through an alias"
    ),
    "streaming.events.run_available_now(output_mode)": (
        "append mode: test_dedup_within_watermark_is_streaming_safe, "
        "test_stream_static_enrich_matches_batch, "
        "test_stream_stream_interval_join_matches_batch"
    ),
    "operators.similarity.ivf_topk(n_centroids)": (
        "probing every cell equals exact top-k: test_ivf_topk_finds_exact_neighbors"
    ),
    "operators.similarity.ivf_topk(nprobe)": (
        "probing every cell equals exact top-k: test_ivf_topk_finds_exact_neighbors"
    ),
}


def test_every_operator_parameter_is_varied():
    """Every defaulted parameter of a top-level package function (the
    twin builders of ``catalog.py`` and ``oracles.py`` aside) gets two or
    more values from production calls, or has a PARAMETER_KEEP entry. A
    fixed value belongs in the body. A call that omits the parameter gives
    it the default; an argument that is one of the caller's own parameters
    is followed to that parameter's values across the caller's calls. An
    argument built from the caller's local state (a loop variable, a local
    the caller also uses), like a function production code references
    other than by calling it (a callback, a ``partial``), has values no
    scan can list: such a parameter is not checked."""
    import ast
    from collections import defaultdict

    ix = _package_index()
    skip = {f"{ix.pkg}.catalog", f"{ix.pkg}.oracles"}
    fns = {
        key: node
        for key, node in ix.defs.items()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
    }

    def defaulted(fn):
        a = fn.args
        pos = a.posonlyargs + a.args
        out = dict(zip([p.arg for p in pos[len(pos) - len(a.defaults):]], a.defaults))
        out.update({p.arg: d for p, d in zip(a.kwonlyargs, a.kw_defaults) if d})
        return out

    def names(fn):
        a = fn.args
        return {p.arg for p in a.posonlyargs + a.args + a.kwonlyargs + [a.vararg, a.kwarg] if p}

    def stores(fn):
        body = fn.body if isinstance(fn, ast.Lambda) else ast.Module(fn.body, [])
        return {
            n.id for n in ast.walk(body) if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)
        }

    # every production call and non-call reference, with the functions
    # that enclose it, outermost first
    calls, referenced = defaultdict(list), set()

    def scan(node, mod, stack):
        if isinstance(node, ast.Call) and ix.target_of(node.func, mod) in fns:
            calls[ix.target_of(node.func, mod)].append((mod, stack, node))
            children = [*node.args, *node.keywords]
        elif isinstance(node, (ast.Name, ast.Attribute)) and ix.target_of(node, mod) in fns:
            referenced.add(ix.target_of(node, mod))
            children = []
        else:
            children = list(ast.iter_child_nodes(node))
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
            stack = [*stack, node]
        for child in children:
            scan(child, mod, stack)

    for mod, scope in ix.scopes:
        scan(scope, mod, [])

    def norm(expr, mod, stack, site):
        """Value of an argument: a set of canonical strings."""
        local = {name for fn in stack for name in names(fn) | stores(fn)}
        if (
            isinstance(expr, ast.Name)
            and stack
            and fns.get((mod, getattr(stack[0], "name", None))) is stack[0]
            and expr.id in names(stack[0]) - stores(stack[0])
            and not any(expr.id in names(fn) | stores(fn) for fn in stack[1:])
        ):
            return values((mod, stack[0].name), expr.id)
        if any(isinstance(n, ast.Name) and n.id in local for n in ast.walk(expr)):
            return {f"<{site}>"}
        if isinstance(expr, ast.Name):
            origin = ix.imports[mod].get(expr.id, (mod, expr.id))
            return {".".join(filter(None, origin))}
        return {ast.unparse(expr)}

    memo = {}

    def values(key, param):
        if (key, param) not in memo:
            memo[key, param] = set()
            fn = fns[key]
            pos = [p.arg for p in fn.args.posonlyargs + fn.args.args]
            default = defaulted(fn).get(param)
            out = set()
            for mod, stack, call in calls[key]:
                site = f"{mod}:{call.lineno}"
                given = {kw.arg: kw.value for kw in call.keywords}
                for i, a in enumerate(call.args):
                    if isinstance(a, ast.Starred):
                        break
                    if i < len(pos):
                        given[pos[i]] = a
                if param in given:
                    out |= norm(given[param], mod, stack, site)
                elif None in given or any(isinstance(a, ast.Starred) for a in call.args):
                    out.add(f"<{site}>")
                elif default is not None:
                    out |= norm(default, key[0], [], site)
            memo[key, param] = out
        return memo[key, param]

    checked = {
        f"{mod.removeprefix(ix.pkg + '.')}.{name}({param})": (mod, name, param)
        for (mod, name), fn in fns.items()
        if mod not in skip and (mod, name) in ix.reached
        for param in defaulted(fn)
    }
    stale = sorted(set(PARAMETER_KEEP) - set(checked))
    assert not stale, f"PARAMETER_KEEP names missing parameters: {stale}"
    fixed = sorted(
        f"{label} = {' | '.join(sorted(values(key[:2], key[2])))}"
        for label, key in checked.items()
        if label not in PARAMETER_KEEP
        and key[:2] not in referenced
        and len(values(key[:2], key[2])) <= 1
        and not any(v.startswith("<") for v in values(key[:2], key[2]))
    )
    assert not fixed, (
        f"{len(fixed)} defaulted parameters get one value from production "
        f"calls (make each a constant in the body, or add it to "
        f"PARAMETER_KEEP with the reason): " + ", ".join(fixed)
    )


def test_readme_counts_in_sync():
    """The README's overflow-subset size must match the catalog's
    OVERFLOW_SENSITIVE tag set — it drifted in round 4 (44 vs 46) and
    the README is the first document a reader trusts. (Test counts are
    deliberately NOT quoted in the README: pytest's own summary is the
    source of truth for those.)"""
    import os
    import re

    from kp_data_pipelines_spark.catalog import OVERFLOW_SENSITIVE

    root = os.path.join(os.path.dirname(__file__), "..")
    readme = open(os.path.join(root, "README.md")).read()

    m = re.search(r"— the (\d+)\n\s+quantized", readme)
    assert m, "overflow-count sentence missing from README"
    assert int(m.group(1)) == len(OVERFLOW_SENSITIVE)


def test_bpe_tokenize_oracle_survives_merge_exhaustion(spark, tmp_path):
    """q311 twin regression: when every word collapses to one symbol
    before round 6, a round's argmax is EMPTY — the Spark loop breaks
    and keeps the current symbols, and the oracle's empty-batch
    passthrough (``nb = 0`` keeps ``syms``) must do the same (the
    original CROSS JOIN wiped the vocab and returned an empty ledger).
    q304 runs the same shared merge loop into the same exhaustion, so
    its merge table is checked against its twin on this fixture too."""
    import duckdb

    from kp_data_pipelines_spark import oracles
    from kp_data_pipelines_spark.catalog import ORACLE, QUERIES

    rows = [
        (i, "ab ab ab cd", "en", "s1", 11) for i in range(4)
    ]  # 2 distinct words; both fully merged after 3 rounds
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    got = {
        r["source"]: tuple(r)[1:]
        for r in QUERIES["q311_bpe_tokenize_corpus"](
            spark, str(tmp_path)
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    want = {
        r[0]: tuple(r)[1:]
        for r in con.sql(
            oracles.bpe_ledger_sql(rounds=6, batch_cap=1, topk=1)
        ).fetchall()
    }
    assert got and got == want
    # every word fully merged: 1 token per word, fertility 1.0
    assert got["s1"][1] == got["s1"][0] and got["s1"][2] == 1.0

    trained = sorted(
        tuple(r)
        for r in QUERIES["q304_bpe_trainer"](spark, str(tmp_path)).collect()
    )
    want_trained = sorted(
        tuple(r) for r in con.sql(ORACLE["q304_bpe_trainer"]).fetchall()
    )
    assert trained == want_trained
    # two merges (a+b, c+d) empty the pool at round 3, before round 6
    assert [r[0] for r in trained] == [0, 1, 2]


def test_span_excision_apply_reconciles_with_ledger(spark):
    """q316 (the APPLY — scrubbed corpus) must reconcile with q307 (the
    ledger that prices it): per source, the apply's excised-token and
    span totals equal the ledger's. This pins the two queries to ONE
    span semantics — a drift in either's island rules breaks it."""
    from kp_data_pipelines_spark.catalog import QUERIES

    sfd = "/root/testdata/sf0.001"
    ledger = {
        r["source"]: (r["excised_tokens"], r["n_spans"])
        for r in QUERIES["q307_dup_span_excision"](spark, sfd).collect()
    }
    apply_rows = QUERIES["q316_span_excision_apply"](spark, sfd).collect()
    agg: dict[str, list[int]] = {}
    for r in apply_rows:
        a = agg.setdefault(r["source"], [0, 0])
        a[0] += r["excised_tokens"]
        a[1] += r["n_spans"]
    assert {s: tuple(v) for s, v in agg.items()} == ledger
    # and a doc with zero spans keeps its full normalized text
    clean = [r for r in apply_rows if r["n_spans"] == 0]
    assert clean, "fixture should contain span-free docs"
    assert all(r["kept_tokens"] == r["n_toks"] for r in clean)


def test_batched_tokenizer_beats_six_merge_fertility(spark):
    """The point of q318: ~80 batched merges compress every source's
    fertility strictly below q311's 6-merge ledger (tokens per word
    falls monotonically in merges applied)."""
    from kp_data_pipelines_spark.catalog import QUERIES

    sfd = "/root/testdata/sf0.001"
    six = {
        r["source"]: r["fertility"]
        for r in QUERIES["q311_bpe_tokenize_corpus"](spark, sfd).collect()
    }
    batched = {
        r["source"]: r["fertility"]
        for r in QUERIES["q318_bpe_tokenize_batched"](spark, sfd).collect()
    }
    assert set(six) == set(batched)
    for s in six:
        assert batched[s] < six[s], (s, batched[s], six[s])


def test_bpe_encode_holdout_generalizes(spark):
    """q319's claim: merges trained on HALF the corpus still compress
    held-out text the trainer never saw — holdout fertility lands
    within a narrow band of q318's in-corpus number (the fixture halves
    share most vocabulary, so the OOV tax is ~0 here; a shifted-domain
    corpus would open a gap, which is exactly what this ledger
    measures) and far below the one-symbol-per-char baseline (~5
    chars/word)."""
    import statistics

    from kp_data_pipelines_spark.catalog import QUERIES

    sfd = "/root/testdata/sf0.001"
    incorpus = {
        r["source"]: r["fertility"]
        for r in QUERIES["q318_bpe_tokenize_batched"](spark, sfd).collect()
    }
    hold = QUERIES["q319_bpe_encode_holdout"](spark, sfd).collect()
    assert hold
    mean_hold = statistics.mean(r["fertility"] for r in hold)
    mean_in = statistics.mean(incorpus.values())
    assert abs(mean_hold - mean_in) < 0.25, (mean_hold, mean_in)
    assert mean_hold < 2.5, mean_hold


def test_bpe_artifact_deploy_equals_in_memory_path(spark):
    """q327 (train -> save -> load -> encode) must produce EXACTLY
    q319's ledger (train -> encode, no artifact): the JSON artifact
    round-trip may not shift a single fold. Any drift — a dropped
    round, reordered batch, count-type change in the serializer —
    breaks row equality here before it ever reaches the oracle."""
    from kp_data_pipelines_spark.catalog import QUERIES

    sfd = "/root/testdata/sf0.001"
    direct = sorted(
        tuple(r) for r in QUERIES["q319_bpe_encode_holdout"](spark, sfd).collect()
    )
    via_artifact = sorted(
        tuple(r) for r in QUERIES["q327_bpe_artifact_deploy"](spark, sfd).collect()
    )
    assert direct and via_artifact == direct


def test_ivfpq_rerank_never_below_adc(spark):
    """q328's structural theorem: the reranked top-k contains every
    exact-top-k member of the ADC top-30 survivor set (rerank sorts
    survivors by the SAME cosine the exact ranking uses), and the raw
    ADC top-10 is a subset of the survivors — so rr_hits >= adc_hits
    per anchor, always. A violation means the rerank ordering and the
    exact ordering diverged (broken cosine twin)."""
    from kp_data_pipelines_spark.catalog import QUERIES

    rows = QUERIES["q328_ivfpq_adc_rerank"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(rows) == 8
    for r in rows:
        assert r["n_exact"] == 10
        assert r["rr_hits"] >= r["adc_hits"], tuple(r)
    # the rerank must actually add recall somewhere on this fixture
    assert sum(r["rr_hits"] for r in rows) > sum(
        r["adc_hits"] for r in rows
    )


def test_learned_classifier_trains_two_classes(spark):
    """q329's premise: the 0.8 weak-label gate actually splits the
    fixture (~90/10 — at 0.7 every doc passes and there is no negative
    class to learn), and the learned filter generalizes: holdout
    agreement stays above 0.8 overall while at least one source shows
    disagreement (a filter that memorized the gate exactly everywhere
    would be suspicious; one that collapsed to always-positive would
    pin agreement to the base rate)."""
    from kp_data_pipelines_spark.catalog import QUERIES

    rows = QUERIES["q329_learned_quality_classifier"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    n_docs = sum(r["n_docs"] for r in rows)
    n_pos = sum(r["n_gate_pos"] for r in rows)
    assert 0 < n_pos < n_docs  # two classes exist
    n_hold = sum(r["n_holdout"] for r in rows)
    n_hold_agree = sum(r["n_holdout_agree"] for r in rows)
    assert n_hold > 0
    assert n_hold_agree / n_hold > 0.8, (n_hold_agree, n_hold)
    n_pred = sum(r["n_pred_pos"] for r in rows)
    assert 0 < n_pred < n_docs  # classifier did not collapse to one class


def test_pq_refinement_reduces_error(spark):
    """q332's training claim: each per-subspace Lloyd round must strictly
    reduce total reconstruction error on the fixture (Lloyd rounds are
    non-increasing in exact arithmetic; the 1e-6 quantization of the
    means cannot erase the ~20% first-round drop), and the ratio column
    must be self-consistent with the totals."""
    from kp_data_pipelines_spark.catalog import QUERIES

    rows = sorted(
        QUERIES["q332_pq_codebook_training"](
            spark, "/root/testdata/sf0.001"
        ).collect(),
        key=lambda r: r["round"],
    )
    assert [r["round"] for r in rows] == [0, 1, 2]
    errs = [r["total_err"] for r in rows]
    assert errs[0] > errs[1] > errs[2] > 0, errs
    assert rows[2]["err_ratio"] < 0.9  # a real training effect, not noise
    for r in rows:
        assert abs(r["err_ratio"] - r["total_err"] / errs[0]) < 1e-12
