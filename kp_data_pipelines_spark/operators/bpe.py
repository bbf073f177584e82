"""Batched BPE training — the scale path past one-merge-per-round.

``catalog.q304_bpe_trainer`` trains k merges as k sequential driver
rounds; per-round work is vocabulary-bounded, but a production
tokenizer needs 32k-100k merges and the ROUND COUNT — not the
per-round cost — is the driver-side bottleneck (100k sequential Spark
jobs). The standard fix (used by every production BPE trainer that
parallelizes) is MERGE BATCHING: per round, rank candidate pairs by
count and greedily select every pair whose symbols are DISJOINT from
all higher-ranked selected pairs, then apply the whole batch in one
re-symbolization pass. With batch cap B the round count drops from k
to ~k/B; the round-count model is

    rounds(k) ~= k / E[batch]   (E[batch] ~= 8-12 on English-like text)

so 64 merges train in 8 rounds and 32k merges in ~3k rounds — still
sequential, but 12x fewer jobs, and each job stays vocabulary-bounded
(never corpus-bounded: the (word, freq) table is the working set, the
Heaps-law-sublinear vocabulary of q291's argument).

Batch-application semantics (the SPEC both implementations pin):
a single greedy left fold over each word's symbols; at each element,
if the accumulator's last symbol is some selected pair's left symbol
``a_i`` and the element equals its ``b_i``, they fuse into ``a_i+b_i``.
Selected pairs have pairwise-disjoint symbols ({a_i, b_i} sets), so the
left-symbol lookup is unambiguous; a merged OUTPUT symbol may however
equal another selected pair's left symbol (e.g. batch {("th","e"),
("t","h")} chain-fuses "t","h","e" -> "the" in one pass) — this
within-pass chaining is allowed and deterministic, and the DuckDB twin
replays the identical fold.

Two pinned implementations of the fold:
- ``bpe_apply_merges_expr`` — the interpreted JVM ``aggregate`` fold
  with literal lookup maps; the training loop (``_merge_rounds``)
  applies every batch with it;
- the DuckDB oracle's ``list_reduce`` fold with per-round map probes,
  the one fold of the round template every BPE twin shares
  (``oracles._bpe_round_ctes``).
ENCODE (``bpe_encode_all_kernel``) runs the same fold for every trained
round in one Arrow pass; test_bpe_apply_kernel_matches_expr pins it to
the JVM fold, so holdout encoding tokenizes exactly as training did.

Why the JVM fold trains: no Python worker and no Arrow serialization,
and the vocabulary tables the catalog trains on are small (31 words,
about 27k chunk rows at sf0.1), so a round is bound by fixed overhead.
At sf0.1 on ``local[4]`` it beat an Arrow-batched Python fold on every
catalog BPE query, about 2x on the multi-round ones (SCALE.md §23). The
trade-off: the fold is interpreted per element, so one 12-pair batch
over 1M distinct 12-char words takes 3.45 s against 1.69 s for the
Arrow fold (``tools/stress.py``'s ``bpe_apply_round`` shape); the
crossover lies between 100k and 300k distinct units.

Reference basis: the reference has no tokenizer; its closest gesture is
whitespace token counting (`LLM Testing.ipynb` prompt-size guard).
This is north-star surface (train-a-tokenizer-on-the-corpus at 100 TB).
"""

from __future__ import annotations

from functools import partial
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Derivations:
# - BPE_BATCH_CAP = 12: on English-like text the top-ranked pairs share
#   common symbols (vowels, "t", "s"), so greedy disjoint selection from
#   a 64-pair pool saturates around 8-12 picks; capping at 12 keeps the
#   per-round lookup maps small (the fold probes them once per
#   element on both engines).
# - BPE_TOPK = 64: the ranked candidate pool collected per round (a
#   bounded limit(64) driver collect, the plan_audit-sanctioned shape);
#   must be comfortably > BATCH_CAP so symbol conflicts never starve a
#   round (observed batch sizes 8-12 from a 64 pool at every fixture SF).
BPE_BATCH_CAP = 12
BPE_TOPK = 64
BPE_ROUNDS = 8  # 8 rounds x ~10 merges/round => the >=64-merge regime

# The ADAPTIVE regime (q321) — the round-count fix past the fixed cap.
# Derivations:
# - BPE_ADAPTIVE_ALPHA_DEN = 64: a pair is selected iff
#   alpha_den * cnt >= round_max_cnt, i.e. its count is within 1/64 of
#   the round's best merge. The band replaces the fixed batch_cap: as
#   training descends the Zipfian count curve the band widens in RANK
#   terms (a constant count-RATIO covers geometrically more ranks), so
#   merges-per-round GROWS instead of staying ~10 — measured 8 -> ~39
#   across 20 rounds on the fixture. Integer guard (64*cnt, BIGINT) is
#   exact on both engines.
# - BPE_ADAPTIVE_TOPK = 1024: the ranked pool per round — the largest
#   bounded collect plan_audit auto-accepts (limit k <= 1024); disjoint
#   selection rarely exhausts it because symbol conflicts bind first.
# - BPE_ADAPTIVE_ROUNDS = 20: >= 554 merges at every fixture SF (554 /
#   574 / 591 at sf0.001/0.01/0.1) — the >=512-merge regime the round-9
#   verdict asked for. Rounds are the ONLY sequential driver cost (one
#   ranked job each); see SCALE.md §20 for the 32k-merge model.
# - BPE_CHUNK_WORDS = 3: adaptive training runs on W-word CHUNK units
#   (space is an ordinary symbol, SentencePiece-style) because word
#   units cap total merges at sum(len(word)-1) over the DISTINCT
#   vocabulary — 107 on this fixture's 31-word corpus, below the 512
#   target no matter how selection batches. Chunk units are also the
#   honest 100 TB story for unsegmented text (CJK, code): when
#   whitespace pre-tokenization doesn't apply, the working set is the
#   (chunk, freq) table — distinct W-grams, Heaps-sublinear in corpus
#   size like the word vocabulary but with a larger exponent.
BPE_ADAPTIVE_ALPHA_DEN = 64
BPE_ADAPTIVE_TOPK = 1024
BPE_ADAPTIVE_ROUNDS = 20
BPE_CHUNK_WORDS = 3

# The (word|chunk, freq) working set is Heaps-law small; the round loop
# multiplies per-task overhead by rounds x stages, so every trainer pins
# the vocab frame to this partition count (SCALE.md §19).
BPE_VOCAB_PARTITIONS = 8


def select_merge_batch(
    ranked: list[tuple[str, str, int]], batch_cap: int = BPE_BATCH_CAP
) -> list[tuple[str, str, int]]:
    """Greedy disjoint-merge selection over (a, b, count) rows already
    ranked by (count DESC, a ASC, b ASC): take a pair iff neither symbol
    was used by a higher-ranked selected pair, stop at ``batch_cap``.
    Pure driver-side function; the DuckDB twin replays it as a
    recursive CTE over the same ranked rows."""
    used: set[str] = set()
    batch: list[tuple[str, str, int]] = []
    for a, b, cnt in ranked:
        if len(batch) >= batch_cap:
            break
        if a in used or b in used:
            continue
        batch.append((a, b, cnt))
        used.add(a)
        used.add(b)
    return batch


def select_merge_batch_adaptive(
    ranked: list[tuple[str, str, int]],
    alpha_den: int = BPE_ADAPTIVE_ALPHA_DEN,
) -> list[tuple[str, str, int]]:
    """ADAPTIVE greedy disjoint-merge selection: walk (a, b, count)
    rows ranked by (count DESC, a ASC, b ASC) and take a pair iff

    - its count is within 1/``alpha_den`` of the round's best count
      (``alpha_den * cnt >= max_cnt`` — integer arithmetic, exact on
      both engines), and
    - neither symbol was used by a higher-ranked selected pair.

    No fixed batch cap: the pool's ``limit(topk)`` already bounds the
    walk, and the count band is what keeps batch quality — pairs more
    than a factor ``alpha_den`` below the round's best wait for a later
    round, exactly like a fixed-cap trainer, but the band consumes the
    whole top of the Zipf curve per round instead of 12 rows of it.
    Pure driver-side; the DuckDB twin replays it as a recursive CTE
    carrying (used symbols, round max)."""
    if not ranked:
        return []
    mx = ranked[0][2]
    used: set[str] = set()
    batch: list[tuple[str, str, int]] = []
    for a, b, cnt in ranked:
        if alpha_den * cnt < mx:
            continue
        if a in used or b in used:
            continue
        batch.append((a, b, cnt))
        used.add(a)
        used.add(b)
    return batch


def bpe_apply_merges_expr(syms, merges: list[tuple[str, str]]):
    """The interpreted JVM expression twin of the merge-batch fold:
    ``aggregate`` over the symbol array with literal lookup maps
    (left symbol -> right symbol / merged symbol). Spark's ``And``
    short-circuits, so the ``element_at(acc, -1)`` probe never runs on
    an empty accumulator; ``try_element_at`` keeps absent map keys NULL
    under ANSI mode."""
    map_b = F.create_map(
        *[F.lit(x) for a, b in merges for x in (a, b)]
    )
    map_m = F.create_map(
        *[F.lit(x) for a, b in merges for x in (a, a + b)]
    )
    last = lambda acc: F.element_at(acc, -1)  # noqa: E731
    return F.aggregate(
        syms,
        F.expr("CAST(array() AS ARRAY<STRING>)"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.try_element_at(map_b, last(acc)) == x),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.try_element_at(map_m, last(acc))),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


_CHAR_SYMS = (
    "transform(sequence(1, length(unit)), i -> substring(unit, i, 1))"
)

# W-word chunking over a split `parts` array — the DuckDB twins mirror
# it as list_transform(range(...)) + array_to_string(slice).
_CHUNK_EXPR_TMPL = (
    "transform(sequence(0, cast(ceil(size(parts) / {w}.0) as int) - 1), "
    "g -> array_join(slice(parts, g * {w} + 1, {w}), ' '))"
)


def _unit_rows(
    docs: DataFrame, text_col: str, chunk_words: int, *keep: str
) -> DataFrame:
    """One ``(*keep, unit)`` row per BPE unit occurrence in the
    normalized corpus. ``chunk_words == 1`` gives whitespace words; a
    larger W gives consecutive W-word CHUNKS re-joined with single
    spaces (space is then an ordinary symbol; the trailing chunk may be
    shorter). Chunk strings are engine-portable by construction
    (identical split + slice + join on DuckDB's side). The chunking
    lambdas are interpreted HOFs, but this is a one-pass stage (each
    element touched once); rounds run on the distinct-unit table."""
    from kp_data_pipelines_spark.operators.similarity import (
        ensure_parallelism,
    )
    from kp_data_pipelines_spark.operators.textops import normalize_ws

    rows = ensure_parallelism(docs.select(*keep, text_col))
    units = F.split(normalize_ws(text_col), " ")
    if chunk_words > 1:
        rows = rows.select(*keep, units.alias("parts"))
        units = F.expr(_CHUNK_EXPR_TMPL.format(w=chunk_words))
    # explode an expression, never a bare column: Spark infers
    # `size(col) > 0` for an exploded column and pushes it below the
    # repartition, re-running the normalization on the one-task scan
    return rows.select(*keep, F.explode(units).alias("unit")).filter(
        F.col("unit") != ""
    )


def _unit_syms(units: DataFrame, *keep: str) -> DataFrame:
    """``(*keep, freq, syms)`` over the distinct units — the
    Heaps-sublinear working set every round runs on — at the
    one-symbol-per-char start state (spaces included). Pinned to
    ``BPE_VOCAB_PARTITIONS`` and lazily checkpointed (materialized by
    the first action that reads it). Pass ``"unit"`` as ``keep`` to
    carry the unit through the rounds."""
    return (
        units.groupBy("unit")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
        .repartition(BPE_VOCAB_PARTITIONS)
        .select(*keep, "freq", F.expr(_CHAR_SYMS).alias("syms"))
        .localCheckpoint(eager=False)
    )


def _ranked_frame(syms: DataFrame, topk: int) -> DataFrame:
    """One round's ranked candidate pool PLUS the round's total pair
    mass, in ONE job and TWO stages: adjacent-pair counts over the
    vocab (freq-weighted) via GROUPING SETS ((a, b), ()) — the empty
    set's grand-total row carries the round's total pair mass in the
    SAME aggregate, replacing the previous global-window pass (which
    forced an extra single-partition Exchange + Window + Sort stage at
    the per-round scheduler floor) — then count DESC / a / b, bounded
    limit(topk + 1), which plans as TakeOrderedAndProject (per-partition
    top-k + driver merge, no sort Exchange). The grand-total row always
    sorts first: its cnt is >= every pair count, and on a tie its NULL
    key sorts NULLS FIRST. Partial (map-side) aggregation still applies
    under the Expand, and AQE coalesces the one remaining exchange, so
    a vanilla 200-partition session behaves like the tuned one. The
    total matters because of the exact identity ``corpus_symbols =
    total_pairs + total_words`` (every size>=2 word contributes size-1
    pairs; size-1 words contribute 0) — it lets the trainer read round
    r's post-merge symbol count out of round r+1's ranked job instead
    of paying a third job per round."""
    return (
        syms.filter(F.size("syms") >= 2)
        .select(
            "freq",
            F.inline(
                F.expr(
                    "transform(sequence(1, size(syms) - 1), "
                    "i -> named_struct('a', element_at(syms, i), "
                    "'b', element_at(syms, i + 1)))"
                )
            ),
        )
        .groupingSets([["a", "b"], []], "a", "b")
        .agg(
            F.sum("freq").cast("bigint").alias("cnt"),
            F.grouping_id().alias("gid"),
        )
        .orderBy(F.desc("cnt"), "a", "b")
        .limit(topk + 1)
    )


def _merge_rounds(
    syms: DataFrame, rounds: int, topk: int, select_fn
) -> Iterator[tuple[list, int, DataFrame]]:
    """THE batched merge loop: up to ``rounds`` rounds over a (…, freq,
    syms) frame (extra columns ride through untouched). Yields ``(batch,
    total, syms)`` once per ranked job — the selected batch, the round's
    total pair mass at round START (the PREVIOUS round's post-merge
    mass), and the frame with the batch applied. Per round: ONE
    ranked-pool job (which also materializes the previous round's lazy
    checkpoint), driver-side ``select_fn`` over the ranked (a, b, count)
    rows, then the JVM fold (``bpe_apply_merges_expr``) under a lazy
    checkpoint. An empty batch is yielded with the frame unchanged and
    ends the loop; a caller may also stop consuming early.

    The lazy checkpoint is read by exactly one path of the next ranked
    job, so the two-consumer cache race (SCALE.md round-11 CC lesson)
    cannot arise."""
    for _ in range(rounds):
        total = 0
        ranked = []
        for r in _ranked_frame(syms, topk).collect():
            if r["gid"]:
                total = int(r["cnt"]) if r["cnt"] is not None else 0
            else:
                ranked.append((r["a"], r["b"], r["cnt"]))
        batch = select_fn(ranked)
        if batch:
            merges = [(a, b) for a, b, _ in batch]
            syms = syms.withColumn(
                "syms", bpe_apply_merges_expr(F.col("syms"), merges)
            ).localCheckpoint(eager=False)
        yield batch, total, syms
        if not batch:
            return


def _final_syms(
    syms: DataFrame, rounds: int, topk: int, select_fn
) -> DataFrame:
    """The frame after every round of ``_merge_rounds``."""
    for _, _, syms in _merge_rounds(syms, rounds, topk, select_fn):
        pass
    return syms


def train_bpe_batched(
    spark: SparkSession,
    docs: DataFrame,
    rounds: int = BPE_ROUNDS,
    batch_cap: int = BPE_BATCH_CAP,
    topk: int = BPE_TOPK,
) -> DataFrame:
    """Train ``rounds`` batched-BPE rounds over the ``text`` column and
    return the merge table: one row per merge (round, batch_rank,
    merge_a, merge_b, pair_count) with the post-round corpus symbol
    total and fertility, plus the round-0 one-symbol-per-char baseline.

    Per round: ONE keyed aggregate over exploded adjacent symbol pairs
    (vocabulary-bounded), one bounded ``limit(topk)`` collect of the
    ranked candidate pool, driver-side greedy disjoint selection
    (``select_merge_batch``), one JVM-fold re-symbolization. Driver
    traffic is <= topk + 1 rows per round. ``batch_cap=1, topk=1`` is
    the classic one-merge-per-round trainer (q304).
    """
    return _train_table(
        spark,
        _unit_syms(_unit_rows(docs, "text", 1)),
        rounds,
        topk,
        partial(select_merge_batch, batch_cap=batch_cap),
    )


def train_bpe_adaptive(
    spark: SparkSession, docs: DataFrame, rounds: int = BPE_ADAPTIVE_ROUNDS
) -> DataFrame:
    """ADAPTIVE batched-BPE training over W-word CHUNK units — the
    production-merge-count regime (>= 512 merges on the fixture; see
    the constant derivations above and SCALE.md §20 for the 32k-merge
    round model). Identical per-round job shape to
    ``train_bpe_batched`` (one ranked job per round, bounded
    ``limit(topk)`` collect, JVM-fold re-symbolization); only the units
    (chunks instead of words) and the selection rule (count-band
    ``select_merge_batch_adaptive`` instead of a fixed cap) differ.
    Output columns match ``train_bpe_batched``; ``fertility`` reads as
    symbols-per-CHUNK."""
    return _train_table(
        spark,
        _unit_syms(_unit_rows(docs, "text", BPE_CHUNK_WORDS)),
        rounds,
        BPE_ADAPTIVE_TOPK,
        partial(select_merge_batch_adaptive, alpha_den=BPE_ADAPTIVE_ALPHA_DEN),
    )


def _train_table(
    spark: SparkSession,
    syms: DataFrame,
    rounds: int,
    topk: int,
    select_fn,
) -> DataFrame:
    """Shared trainer body: run the merge rounds over a prepared
    (freq, syms) frame and assemble the merge table (see
    ``train_bpe_batched`` for the one-job-per-round identity)."""
    first = syms.agg(
        F.sum("freq").cast("bigint").alias("n"),
        F.sum(F.col("freq") * F.size("syms")).cast("bigint").alias("cs"),
    ).first()
    total_words = first["n"]
    schema = (
        "round long, batch_rank long, merge_a string, merge_b string, "
        "pair_count long, corpus_symbols long"
    )
    if total_words is None:
        # empty / all-whitespace corpus: the DuckDB twin emits the
        # round-0 row with NULL corpus_symbols and fertility (SUM over
        # zero rows) — match it instead of crashing on float(None)
        return spark.createDataFrame(
            [(0, 0, "", "", 0, None)], schema
        ).withColumn("fertility", F.lit(None).cast("double"))
    rows: list[tuple] = [(0, 0, "", "", 0, first["cs"])]

    # ONE job per round: round r's post-merge corpus_symbols is read out
    # of round r+1's ranked job via the exact identity cs = total_pairs
    # + total_words; only the LAST round (when no later ranked job runs)
    # pays a trailing scalar aggregate. (The earlier shape spent a third
    # job per round on this scalar — pure round-count tax at the
    # ~0.25s/job scheduler floor, SCALE.md §19.)
    info: list[tuple[list, int]] = []
    fin = syms
    for batch, total, fin in _merge_rounds(syms, rounds, topk, select_fn):
        info.append((batch, total))
    for i, (batch, _total) in enumerate(info):
        if not batch:
            break
        if i + 1 < len(info):
            cs = info[i + 1][1] + total_words
        else:
            cs = fin.agg(
                F.sum(F.col("freq") * F.size("syms")).cast("bigint")
            ).first()[0]
        rows.extend(
            (i + 1, j + 1, a, b, cnt, cs)
            for j, (a, b, cnt) in enumerate(batch)
        )
    return (
        spark.createDataFrame(rows, schema)
        .withColumn(
            "fertility",
            F.col("corpus_symbols").cast("double")
            / F.lit(float(total_words)),
        )
        .orderBy("round", "batch_rank")
    )


def train_merge_batches(
    spark: SparkSession, docs: DataFrame
) -> list[list[tuple[str, str, int]]]:
    """Train and return the per-round merge BATCHES of the ``text``
    column (the tokenizer artifact an encoder ships with) without
    materializing per-round totals — BPE_ROUNDS ranked-pool jobs, one
    fewer materialized applies (the last round's apply is never needed
    once its batch is selected)."""
    syms = _unit_syms(_unit_rows(docs, "text", 1))
    select_fn = partial(select_merge_batch, batch_cap=BPE_BATCH_CAP)
    return [
        batch
        for batch, _, _ in _merge_rounds(syms, BPE_ROUNDS, BPE_TOPK, select_fn)
        if batch
    ]


def save_merge_table(
    spark: SparkSession,
    batches: list[list[tuple[str, str, int]]],
    path: str,
) -> None:
    """Persist a trained merge table as the tokenizer ARTIFACT — one
    JSON document (version, per-round batches of [a, b, count]) written
    atomically via the marker-file machinery (Hadoop FileSystem temp +
    OVERWRITE rename, no Spark job), so the artifact lands on whatever
    filesystem the cluster's Hadoop conf resolves (local, HDFS, object
    stores). The artifact is a driver-side object (~rounds x batch
    pairs — kilobytes at 32k merges), which is the point: a tokenizer
    ships as a FILE, not a cluster state."""
    import json

    from kp_data_pipelines_spark.streaming.state_io import write_marker

    doc = {
        "format": "kp-bpe-merges",
        "version": 1,
        "batches": [
            [[a, b, int(cnt)] for a, b, cnt in batch] for batch in batches
        ],
    }
    write_marker(spark, path, json.dumps(doc))


def load_merge_table(
    spark: SparkSession, path: str
) -> list[list[tuple[str, str, int]]]:
    """Load a ``save_merge_table`` artifact; validates the format tag
    loudly (a truncated or foreign JSON must not decode into a silent
    no-merge tokenizer). Round-trips exactly:
    test_merge_table_artifact_roundtrip pins save -> load -> encode ==
    the in-memory trainer's encode."""
    import json

    from kp_data_pipelines_spark.streaming.state_io import read_file

    doc = json.loads(read_file(spark, path))
    if doc.get("format") != "kp-bpe-merges" or doc.get("version") != 1:
        raise ValueError(
            f"not a kp-bpe-merges v1 artifact: {path} "
            f"(format={doc.get('format')!r} version={doc.get('version')!r})"
        )
    return [
        [(a, b, int(cnt)) for a, b, cnt in batch]
        for batch in doc["batches"]
    ]


def bpe_encode_all_kernel(batches: list[list[tuple[str, str, int]]]):
    """Arrow kernel applying EVERY trained round's merge batch to each
    word in ONE pass: the per-round folds run sequentially per word
    inside the kernel (identical fold sequence to R chained
    ``bpe_apply_merges_expr`` columns — pinned by
    test_bpe_encode_all_matches_per_round), so encoding costs one
    Python/Arrow round trip instead of R. Training can't fuse like this
    (it re-counts pairs between rounds); ENCODE has the whole merge
    table up front."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, StringType

    dicts = [
        {a: (b, a + b) for a, b, *_ in batch} for batch in batches
    ]

    @pandas_udf(ArrayType(StringType()))
    def _apply(col: pd.Series) -> pd.Series:
        def enc(syms):
            if syms is None:
                return None
            cur = list(syms)
            for by_left in dicts:
                acc: list[str] = []
                for x in cur:
                    if acc:
                        t = by_left.get(acc[-1])
                        if t is not None and x == t[0]:
                            acc[-1] = t[1]
                            continue
                    acc.append(x)
                cur = acc
            return cur

        return col.map(enc)

    return _apply


def encode_with_batches(
    syms: DataFrame, batches: list[list[tuple[str, str, int]]]
) -> DataFrame:
    """ENCODE: apply an already-trained per-round merge-batch list to
    any (…, syms) frame — new text the trainer never saw. Merges apply
    in training order (round by round, each batch as the same one-pass
    fold the trainer used), so in-vocab words tokenize exactly as they
    did during training and unseen words get the longest trained
    subunits that match. All rounds run in ONE Arrow pass
    (``bpe_encode_all_kernel``); nothing here touches the training
    corpus."""
    if not batches:
        return syms
    return syms.withColumn(
        "syms", bpe_encode_all_kernel(batches)(F.col("syms"))
    )


def _tokenize_ledger(
    docs: DataFrame,
    text_col: str,
    group_col: str,
    chunk_words: int,
    resymbolize,
    n_units_col: str,
    per_unit_col: str,
) -> DataFrame:
    """The per-group tokenization ledger every tokenize/encode entry
    shares: ``resymbolize`` maps the distinct-unit start state (unit,
    freq, syms) to its final symbols (the training rounds, or an encode
    with trained batches); final per-unit symbol counts join back to
    per-(group, unit) frequencies for units / tokens / tokens-per-unit
    / chars-per-token. Tokenizing 100 TB stays DISTINCT-UNIT work: the
    corpus pays two keyed unit aggregates and one unit equi-join."""
    units = _unit_rows(docs, text_col, chunk_words, group_col)
    ws = units.groupBy(group_col, "unit").agg(
        F.count(F.lit(1)).cast("bigint").alias("freq_s")
    )
    fin = resymbolize(_unit_syms(units, "unit")).select(
        "unit",
        F.size("syms").cast("bigint").alias("n_syms"),
        F.length("unit").cast("bigint").alias("n_chars"),
    )
    n_tokens = F.sum(F.col("freq_s") * F.col("n_syms"))
    return (
        ws.join(fin, "unit")
        .groupBy(group_col)
        .agg(
            F.sum("freq_s").cast("bigint").alias(n_units_col),
            n_tokens.cast("bigint").alias("n_tokens"),
            (
                n_tokens.cast("double") / F.sum("freq_s").cast("double")
            ).alias(per_unit_col),
            (
                F.sum(F.col("freq_s") * F.col("n_chars")).cast("double")
                / n_tokens.cast("double")
            ).alias("chars_per_token"),
        )
        .orderBy(group_col)
    )


def tokenize_corpus_adaptive(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """The ADAPTIVE trainer's >=512 merges APPLIED at corpus scale —
    q318's ledger under q321's tokenizer: re-run the identical adaptive
    rounds over the global distinct-CHUNK vocabulary (identical
    frequencies -> identical ranked pools -> identical count-band
    batches) with the chunk carried through, then emit the per-source
    ledger (n_chunks / n_tokens / tokens_per_chunk / chars_per_token).
    Rounds cost one ranked job each."""
    select_fn = partial(select_merge_batch_adaptive, alpha_den=BPE_ADAPTIVE_ALPHA_DEN)
    return _tokenize_ledger(
        docs,
        "text",
        "source",
        BPE_CHUNK_WORDS,
        lambda syms: _final_syms(
            syms, BPE_ADAPTIVE_ROUNDS, BPE_ADAPTIVE_TOPK, select_fn
        ),
        "n_chunks",
        "tokens_per_chunk",
    )


def tokenize_corpus_batched(
    spark: SparkSession,
    docs: DataFrame,
    rounds: int = BPE_ROUNDS,
    batch_cap: int = BPE_BATCH_CAP,
    topk: int = BPE_TOPK,
) -> DataFrame:
    """The batched trainer's merges APPLIED at corpus scale: re-run the
    identical batched rounds over the global distinct-word vocab
    (identical frequencies -> identical ranked pools -> identical
    disjoint batches) with the word carried through, then emit the
    per-source ledger (n_words / n_tokens / fertility /
    chars_per_token). Without per-round totals a round costs ONE job
    (the ranked pool — the lazy checkpoint materializes under the next
    round's job). ``batch_cap=1, topk=1`` is q311's one-merge-per-round
    tokenizer."""
    select_fn = partial(select_merge_batch, batch_cap=batch_cap)
    return _tokenize_ledger(
        docs,
        "text",
        "source",
        1,
        lambda syms: _final_syms(syms, rounds, topk, select_fn),
        "n_words",
        "fertility",
    )
