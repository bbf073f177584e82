"""Text-analysis operators for training-data pipelines (north star).

All pure JVM-side expressions (no UDFs) so they run inside whole-stage
codegen over 100 TB of documents. Seeded by the reference's only text
operator — regex answer parsing around LLM inference (LLM Testing.ipynb:
315-371) — generalized to the standard pretraining-corpus toolkit.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword marker lists for the n-gram/stopword heuristic.
# Deliberately small + deterministic: language ID at corpus scale is a
# scoring pass, not a model inference.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of"),
    "de": ("der", "die", "und"),
    "fr": ("le", "la", "et"),
    "es": ("el", "los", "que"),
}

# BPE-ish tokenizer regex: letter runs, digit runs, single punctuation.
TOKEN_REGEX = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def whitespace_token_count(col: Column | str) -> Column:
    """Whitespace tokenization count; empty/whitespace-only text counts 0
    (split('') yields [''] — size 1 — without the guard)."""
    c = _c(col)
    return F.when(F.trim(c) == "", F.lit(0)).otherwise(
        F.size(F.split(F.trim(c), r"\s+"))
    )


def regex_token_count(col: Column | str) -> Column:
    """BPE-ish token count of TOKEN_REGEX via regexp_count (JVM-side, vectorized)."""
    return F.regexp_count(_c(col), F.lit(TOKEN_REGEX))


def distinct_word_count(col: Column | str) -> Column:
    c = _c(col)
    return F.when(F.trim(c) == "", F.lit(0)).otherwise(
        F.size(F.array_distinct(F.split(F.trim(c), r"\s+")))
    )


def avg_token_length(col: Column | str) -> Column:
    """Mean token length = non-space chars / token count (double);
    empty text yields 0.0 (guarded denominator, no div-by-zero)."""
    c = _c(col)
    nonspace = F.length(F.regexp_replace(c, r"\s+", ""))
    return nonspace.cast("double") / F.greatest(
        whitespace_token_count(c), F.lit(1)
    )


def stopword_hits(col: Column | str, words: Sequence[str]) -> Column:
    """Number of marker words present (word-boundary contains)."""
    padded = F.concat(F.lit(" "), F.lower(_c(col)), F.lit(" "))
    hits = [padded.contains(f" {w} ").cast("int") for w in words]
    out = hits[0]
    for h in hits[1:]:
        out = out + h
    return out


def lang_id(col: Column | str) -> Column:
    """Language-ID heuristic: argmax of LANG_MARKERS stopword hits; 'und'
    when no marker hits at all. Deterministic tie-break = language-code
    order."""
    c = _c(col)
    scores = {lang: stopword_hits(c, ws) for lang, ws in LANG_MARKERS.items()}
    langs = sorted(scores)  # deterministic tie-break
    best = F.greatest(*[scores[lang] for lang in langs])
    expr = F.lit("und")
    for lang in reversed(langs):
        expr = F.when(scores[lang] == best, F.lit(lang)).otherwise(expr)
    return F.when(best == 0, F.lit("und")).otherwise(expr)


def quality_score(col: Column | str) -> Column:
    """Document quality score in [0,1]: blend of length band, alpha ratio,
    and mean-token-length band — the standard cheap pretraining filters."""
    c = _c(col)
    n = F.length(c).cast("double")
    alpha_ratio = (
        F.length(F.regexp_replace(c, r"[^a-zA-Z]", "")).cast("double")
        / F.greatest(n, F.lit(1.0))
    )
    atl = avg_token_length(c)
    len_band = F.when((n >= 100) & (n <= 20000), 1.0).otherwise(0.5)
    tok_band = F.when((atl >= 2.0) & (atl <= 12.0), 1.0).otherwise(0.5)
    return F.round((0.4 * len_band + 0.4 * alpha_ratio + 0.2 * tok_band), 6)


def doc_fingerprint(col: Column | str) -> Column:
    """Content fingerprint: sha256 of whitespace-normalized lowercase text —
    the exact-dedup key for document corpora (scales: 32 bytes/doc shuffle)."""
    c = _c(col)
    return F.sha2(F.lower(F.regexp_replace(F.trim(c), r"\s+", " ")), 256)


def rolling_hash(col: Column | str) -> Column:
    """Polynomial rolling hash over characters: fold ``acc*31 + ord(c)``
    mod the Mersenne prime 2^31-1. Oracle-reproducible (same fold in ANSI SQL via
    list_reduce) unlike xxhash64; the classic content-fingerprint for
    incremental / chunked dedup. Empty string hashes to 0."""
    chars = F.filter(F.split(_c(col), ""), lambda c: c != "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * 31 + F.ascii(c)) % 2147483647,
    )


def chunk_documents(df):
    """Split each document (``doc_id``, ``text``) into overlapping 32-token
    chunks — the context-window preparation step of a pretraining
    pipeline (every chunk carries 8 tokens of left context; the last
    chunk may be short). Pure JVM array ops: split once, then posexplode over the
    chunk-start sequence; no Python in the loop, so this runs inside
    whole-stage codegen over the corpus.

    Chunk count = 1 for docs of <= chunk_size tokens, else
    1 + ceil((n - chunk_size) / stride) with stride = chunk_size -
    overlap, computed as ((n - size + stride - 1) div stride) + 1 in
    true integer division on both engines (Spark ``div`` / DuckDB
    ``//``) — exact by construction, no float involved.
    Returns (doc_id, chunk_id, chunk_tokens, chunk_text)."""
    chunk_size, stride = 32, 24
    toks = F.split(F.trim(F.col("text")), r"\s+")
    pre = df.select("doc_id", toks.alias("__toks"))
    n = F.size(F.col("__toks"))
    n_chunks = F.when(n <= chunk_size, F.lit(1).cast("long")).otherwise(
        F.expr(
            f"(size(__toks) - {chunk_size} + {stride - 1}) div {stride}"
        ).cast("long")
        + 1
    )
    step = pre.select("doc_id", "__toks", n_chunks.alias("__nc"))
    chunk = F.slice(
        "__toks", F.col("chunk_id").cast("int") * stride + 1, chunk_size
    )
    return (
        step.select(
            "doc_id",
            "__toks",
            F.explode(F.sequence(F.lit(0).cast("long"), F.col("__nc") - 1)).alias(
                "chunk_id"
            ),
        )
        .select(
            "doc_id",
            "chunk_id",
            F.size(chunk).alias("chunk_tokens"),
            F.array_join(chunk, " ").alias("chunk_text"),
        )
    )


_POLY_MOD = 2147483647  # Mersenne-31, matches rolling_hash
_POLY_BASE_TOKEN = 31
_POLY_BASE_GRAM = 1000003
_POLY_BASE_GRAM2 = 998244353  # second fold base for the 62-bit variant


def poly_token_hashes(col: Column | str) -> Column:
    """Per-token polynomial char hashes (array<long> in [0, 2^31-1)) over
    the trimmed/lowered whitespace split — the portable sibling of the
    xxhash64 token hash: the identical fold runs in ANSI SQL/DuckDB
    (``list_reduce`` over ``ord``), so oracle queries can re-derive the
    values bit-for-bit. acc < 2^31 and base 31 keep the fold < 2^36 —
    no ANSI overflow."""
    toks = F.split(F.trim(F.lower(_c(col))), r"\s+")
    return F.transform(
        toks,
        lambda t: F.aggregate(
            F.filter(F.split(t, ""), lambda ch: ch != ""),
            F.lit(0).cast("long"),
            lambda acc, ch: (acc * _POLY_BASE_TOKEN + F.ascii(ch)) % _POLY_MOD,
        ),
    )


def _poly_shingles_kernel(k: int, bits64: bool):
    """Arrow-batched numpy twin of the interpreted JVM folds in
    ``with_poly_shingles_expr``: the identical integer mod
    arithmetic (token Horner base 31, gram Horner base 1000003 /
    998244353, all mod Mersenne-31), vectorized over the whole batch —
    ~4x the interpreted higher-order functions at 1M docs
    (tools/stress.py). Integer results are EXACT in numpy (CLAUDE.md's
    float-fold caveat does not apply), so oracle parity is unaffected;
    a test pins kernel == JVM fold bit-for-bit."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    p = _POLY_MOD

    @pandas_udf(ArrayType(LongType()))
    def _shingle(tok_batch: pd.Series) -> pd.Series:
        nulls = [t is None for t in tok_batch]
        rows = [[] if t is None else list(t) for t in tok_batch]
        if not rows:
            return pd.Series([], dtype=object)
        rn = np.fromiter((len(r) for r in rows), dtype=np.int64, count=len(rows))
        flat = [tok for row in rows for tok in row]
        if flat:
            joined = "".join(flat)
            # char CODE POINTS, matching JVM F.ascii (fast byte view when
            # pure ASCII; exact ord() fallback otherwise)
            if joined.isascii():
                chars = np.frombuffer(joined.encode(), np.uint8).astype(np.int64)
            else:
                chars = np.fromiter(
                    (ord(c) for c in joined), dtype=np.int64, count=len(joined)
                )
            tl = np.fromiter((len(t) for t in flat), dtype=np.int64, count=len(flat))
            ends = np.cumsum(tl)
            starts = ends - tl
            # token hash = sum(c_i * 31^(L-1-i)) mod p == the stepwise
            # Horner fold (mod linearity). exponent per char position:
            exp = np.repeat(ends, tl) - 1 - np.arange(chars.size, dtype=np.int64)
            max_l = int(tl.max()) if tl.size else 0
            pow31 = np.ones(max_l + 1, dtype=np.int64)
            for i in range(1, max_l + 1):
                pow31[i] = (pow31[i - 1] * _POLY_BASE_TOKEN) % p
            prod = chars * pow31[exp] % p  # < 2^52: no int64 overflow
            cs = np.concatenate((np.zeros(1, dtype=np.int64), np.cumsum(prod)))
            th = (cs[ends] - cs[starts]) % p  # empty tokens hash to 0
        else:
            th = np.zeros(0, dtype=np.int64)
        # gram folds over k-windows of each row's token-hash span; rows
        # with < k tokens fold all their tokens (slice clamp semantics)
        row_ends = np.cumsum(rn)
        row_starts = row_ends - rn
        counts = np.maximum(rn - (k - 1), 1)
        n_grams = int(counts.sum())
        grp = np.repeat(np.cumsum(counts) - counts, counts)
        g_starts = np.repeat(row_starts, counts) + (
            np.arange(n_grams, dtype=np.int64) - grp
        )
        lim = np.repeat(row_ends, counts)
        safe_max = max(th.size - 1, 0)

        def fold(base):
            g = np.zeros(n_grams, dtype=np.int64)
            for j in range(k):
                idx = g_starts + j
                valid = idx < lim
                h = (
                    th[np.minimum(idx, safe_max)]
                    if th.size
                    else np.zeros_like(idx)
                )
                g = np.where(valid, (g * base + np.where(valid, h, 0)) % p, g)
            return g

        flat_g = fold(_POLY_BASE_GRAM)
        if bits64:
            flat_g = flat_g * (1 << 31) + fold(_POLY_BASE_GRAM2)
        parts = np.split(flat_g, np.cumsum(counts)[:-1])
        # null text -> single-null array [None], matching the JVM fold
        # (size(null) is null, greatest(null, 1) -> 1, so the expression
        # path emits one gram whose fold over a null slice is null)
        return pd.Series(
            [[None] if is_null else part for is_null, part in zip(nulls, parts)]
        )

    return _shingle


def with_poly_shingles(
    df,
    text_col: str,
    out: str = "gram_hashes",
    k: int = 5,
    bits64: bool = False,
):
    """Portable word-k-shingle hashes: ``with_hashed_shingles`` with the
    xxhash64 swapped for nested polynomial folds so a DuckDB oracle can
    recompute every value exactly (integer mod arithmetic is engine-
    independent; see q38/q39/q43 twins). Gram hash = fold of the k token
    hashes, base 1000003 mod Mersenne-31; with ``bits64`` a second fold
    (base 998244353) fills the low bits — ``g1 * 2^31 + g2`` < 2^62 —
    for SimHash-style per-bit votes.

    Both fold levels run as one vectorized Arrow/numpy pass (~4x the
    interpreted JVM HOFs of ``with_poly_shingles_expr`` — tools/stress.py).
    MinHash and SimHash always hash grams here; ``with_hashed_shingles``
    is faster only on short documents (q41/q68, SCALE.md §11)."""
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    return df.withColumn(out, _poly_shingles_kernel(k, bits64)(toks))


def with_poly_shingles_expr(df, text_col: str, out: str, k: int, bits64: bool):
    """The pure-expression twin of ``with_poly_shingles``: the same gram
    hashes from interpreted JVM folds, the shape the DuckDB twins mirror
    and the reference the kernel is pinned against."""
    step = df.withColumn("__tok_hashes", poly_token_hashes(text_col))
    idx = F.sequence(
        F.lit(1), F.greatest(F.size("__tok_hashes") - (k - 1), F.lit(1))
    )

    def gram(i, base):
        return F.aggregate(
            F.slice("__tok_hashes", i, k),
            F.lit(0).cast("long"),
            lambda acc, h: (acc * base + h) % _POLY_MOD,
        )

    if bits64:
        grams = F.transform(
            idx,
            lambda i: gram(i, _POLY_BASE_GRAM) * F.lit(1 << 31)
            + gram(i, _POLY_BASE_GRAM2),
        )
    else:
        grams = F.transform(idx, lambda i: gram(i, _POLY_BASE_GRAM))
    return step.withColumn(out, grams).drop("__tok_hashes")


def with_hashed_shingles(df, text_col: str, k: int):
    """Attach ``__g``, the word k-shingle HASHES (array<long>), without
    materializing the shingle strings: hash each token once, then each gram hash is
    ``xxhash64`` of a k-slice of the token-hash array — pure long-array
    work, ~10x cheaper than slice+array_join+hash per gram.

    Two projection stages so the token-hash array computes once per row
    (CollapseProject keeps non-cheap exprs referenced twice apart). Gram
    identity differs from hashing the joined shingle strings but is
    equally injective — set semantics (Jaccard, MinHash) are unaffected.
    Short docs (< k tokens) produce one gram over all tokens."""
    th = F.transform(
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+"), lambda t: F.xxhash64(t)
    )
    step = df.withColumn("__tok_hashes", th)
    idx = F.sequence(
        F.lit(1), F.greatest(F.size("__tok_hashes") - (k - 1), F.lit(1))
    )
    grams = F.transform(idx, lambda i: F.xxhash64(F.slice("__tok_hashes", i, k)))
    return step.withColumn("__g", grams).drop("__tok_hashes")


def char_fold_hashes(col: Column | str, bases: "tuple[int, ...]" = (31, 1000003)):
    """Vectorized multi-base ``rolling_hash``: one Arrow/numpy pass
    computes the character Horner fold ``acc*base + ord(c) mod M31`` for
    every base in ``bases`` and returns array<long> (one element per
    base). Identical integer arithmetic to ``rolling_hash(col, base=b)``
    per element — pinned bit-for-bit by test — so DuckDB twins that
    recompute the fold are unaffected; the expression form pays one
    interpreted lambda call per CHARACTER, this kernel none. Used by
    q101's two-lane HLL text hash."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    p = _POLY_MOD
    base_list = list(bases)

    @pandas_udf(ArrayType(LongType()))
    def _fold(texts: pd.Series) -> pd.Series:
        n = len(texts)
        if n == 0:
            return pd.Series([], dtype=object)
        nulls = texts.isna().to_numpy()
        strs = ["" if is_null else str(t) for t, is_null in zip(texts, nulls)]
        joined = "".join(strs)
        if joined.isascii():
            chars = np.frombuffer(joined.encode(), np.uint8).astype(np.int64)
        else:
            chars = np.fromiter(
                (ord(c) for c in joined), dtype=np.int64, count=len(joined)
            )
        tl = np.fromiter((len(s) for s in strs), dtype=np.int64, count=n)
        ends = np.cumsum(tl)
        starts = ends - tl
        max_l = int(tl.max()) if tl.size else 0
        # Horner fold == sum(c_i * base^(L-1-i)) mod p (mod linearity);
        # per-char terms are < 2^52 pre-mod, < 2^31 post-mod, so the
        # segment cumsum stays far below int64 for any Arrow batch
        exp = (
            np.repeat(ends, tl) - 1 - np.arange(chars.size, dtype=np.int64)
        )
        out = np.empty((len(base_list), n), dtype=np.int64)
        for bi, base in enumerate(base_list):
            powb = np.ones(max_l + 1, dtype=np.int64)
            for i in range(1, max_l + 1):
                powb[i] = (powb[i - 1] * base) % p
            prod = chars * powb[exp] % p
            cs = np.concatenate(
                (np.zeros(1, dtype=np.int64), np.cumsum(prod))
            )
            out[bi] = (cs[ends] - cs[starts]) % p
        return pd.Series(
            [None if nulls[i] else [int(out[bi][i]) for bi in range(len(base_list))] for i in range(n)]
        )

    return _fold(_c(col))


def _cdc_kernel(w: int, mask: int):
    """Arrow-batched content-defined chunking (the rsync/LBFS rolling-cut
    family): a document is cut AFTER every position whose trailing
    ``w``-char polynomial window hash (base 31 mod Mersenne-31, the q44
    rolling-hash family) is ``0 mod mask`` — boundaries depend only on
    LOCAL content, so an insertion early in a document shifts chunk
    BOUNDARIES only locally and every downstream chunk fingerprint
    survives (the property fixed-size chunking lacks, and why storage
    dedup uses CDC). Each kept chunk is emitted as one packed BIGINT:
    ``fp * 2^21 + min(len, 2^21 - 1)`` where ``fp`` is the chunk's own
    Horner fold — integer mod arithmetic throughout, so the DuckDB twin
    recomputes every value exactly (CLAUDE.md integer-kernel rule). Chunk
    folds are vectorized with the exponent-weight prefix-sum trick of
    ``_poly_shingles_kernel`` (modularly identical to the stepwise
    Horner fold). Expected chunk length ~``mask`` chars."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    p = _POLY_MOD
    poww = np.ones(w, dtype=np.int64)
    for i in range(1, w):
        poww[i] = (poww[i - 1] * _POLY_BASE_TOKEN) % p
    poww = poww[::-1].copy()  # pow[0] multiplies the window's left char

    @pandas_udf(ArrayType(LongType()))
    def _chunks(batch: pd.Series) -> pd.Series:
        lens = [0 if s is None else len(s) for s in batch]
        max_n = max(lens, default=0)
        pow31 = np.ones(max_n + 1, dtype=np.int64)
        for i in range(1, max_n + 1):  # one table per batch, shared
            pow31[i] = (pow31[i - 1] * _POLY_BASE_TOKEN) % p
        out = []
        for s in batch:
            if s is None:
                out.append(None)
                continue
            if s.isascii():
                codes = np.frombuffer(s.encode(), np.uint8).astype(np.int64)
            else:
                codes = np.fromiter(
                    (ord(c) for c in s), dtype=np.int64, count=len(s)
                )
            n = codes.size
            if n == 0:
                out.append([])
                continue
            if n >= w:
                win = np.lib.stride_tricks.sliding_window_view(codes, w)
                h = ((win * poww[None, :]) % p).sum(axis=1) % p
                cuts = np.nonzero(h % mask == 0)[0] + w  # 1-based end pos
            else:
                cuts = np.zeros(0, dtype=np.int64)
            bounds = np.concatenate(
                (np.zeros(1, dtype=np.int64), cuts, np.array([n]))
            )
            clens = np.diff(bounds)
            keep = clens > 0  # n itself may be a cut: drop the empty tail
            starts, ends, clens = (
                bounds[:-1][keep],
                bounds[1:][keep],
                clens[keep],
            )
            # chunk fold via exponent weights + prefix sums: terms < p
            # post-mod, cumsum < n * 2^31 — no int64 overflow
            exp = (
                np.repeat(ends, clens)
                - 1
                - np.arange(n, dtype=np.int64)
            )
            prod = codes * pow31[exp] % p
            cs = np.concatenate(
                (np.zeros(1, dtype=np.int64), np.cumsum(prod))
            )
            fps = (cs[ends] - cs[starts]) % p
            packed = fps * 2097152 + np.minimum(clens, 2097151)
            out.append(packed)
        return pd.Series(out)

    return _chunks


def with_cdc_chunks(df, text_col: str):
    """Explode each document into ``packed`` content-defined chunks
    (``fp * 2^21 + len`` BIGINTs, see ``_cdc_kernel``; window 16, mask 64).
    Text is whitespace-normalized + lowercased first (the winnowing
    convention). Rows with NULL text produce no chunks."""
    return df.withColumn(
        "packed", F.explode(_cdc_kernel(16, 64)(normalize_ws(text_col)))
    )


def normalize_ws(col: Column | str) -> Column:
    """The parity-critical whitespace normalization shared by the CDC /
    winnowing / BPE text paths: ``lower(trim(regexp_replace(col,
    '\\s+', ' ')))``. EVERY caller must use this helper — the DuckDB
    twins embed the byte-equivalent ``lower(trim(regexp_replace(...,
    'g')))``, and a drifted copy silently changes chunk identities or
    word frequencies on one engine only (round-7 review finding: the
    expression had been copy-pasted at four sites)."""
    return F.lower(F.trim(F.regexp_replace(_c(col), r"\s+", " ")))


def vocab_growth_table(fo, dc, nsc):
    """q284's final stage, shared with the streaming twin (q297): given
    the first-occurrence table ``fo(th, fd)`` (token hash -> min doc_id
    — MIN is mergeable, so per-batch partials compose exactly), the
    per-doc token counts ``dc(doc_id, tc)`` and the 1-row corpus count
    ``nsc(n)``, build the 4-row Heaps-law checkpoint table: distinct
    tokens, new tokens, and type-token ratio at the 25/50/75/100% doc
    prefixes. Two conditional-sum scalar aggregates over the token and
    doc tables (the first-occurrence trick — no per-checkpoint rescan),
    exploded onto a literal 4-row grid."""
    from kp_data_pipelines_spark.operators.joins import broadcast_scalar

    spark = fo.sparkSession

    def quartile_sums(df, cond_col, val, prefix):
        return df.crossJoin(broadcast_scalar(nsc)).agg(
            *[
                F.sum(
                    F.when(
                        F.col(cond_col) < F.expr(f"(n * {k}) div 4"), val
                    ).otherwise(F.lit(0))
                )
                .cast("bigint")
                .alias(f"{prefix}{k}")
                for k in (1, 2, 3, 4)
            ]
        )

    vr = quartile_sums(fo, "fd", F.lit(1), "v")
    tr = quartile_sums(dc, "doc_id", F.col("tc"), "t")
    grid = spark.range(1, 5).select(
        F.col("id").cast("bigint").alias("checkpoint")
    )
    varr = F.array(*[F.col(f"v{k}") for k in (1, 2, 3, 4)])
    tarr = F.array(*[F.col(f"t{k}") for k in (1, 2, 3, 4)])
    k = F.col("checkpoint")
    vocab = F.element_at(varr, k.cast("int"))
    ntok = F.element_at(tarr, k.cast("int"))
    prev_v = F.when(k == 1, F.lit(0).cast("bigint")).otherwise(
        F.element_at(varr, (k - 1).cast("int"))
    )
    return (
        grid.crossJoin(broadcast_scalar(vr))
        .crossJoin(broadcast_scalar(tr))
        .crossJoin(broadcast_scalar(nsc))
        .select(
            "checkpoint",
            F.expr("(n * checkpoint) div 4").cast("bigint").alias(
                "cutoff_doc"
            ),
            ntok.alias("n_tokens"),
            vocab.alias("vocab"),
            (vocab - prev_v).cast("bigint").alias("new_vocab"),
            (vocab.cast("double") / ntok.cast("double")).alias(
                "type_token_ratio"
            ),
        )
        .orderBy("checkpoint")
    )
