"""Generated DuckDB oracle twins for the hash/LSH/ANN catalog queries.

These queries (q38-q45, q66) were rows-only in round 1 because their
values derive from hash functions. Every hash involved is deterministic
integer / IEEE-double arithmetic, so the twins recompute it exactly:

- Gram hashes: the portable polynomial folds of
  ``textops.with_poly_shingles`` — integer mod arithmetic, identical in
  any engine (the q44 rolling-hash twin proved the pattern).
- MinHash slots: ``min((a*h + b) mod p)`` with the LCG-derived (a, b)
  parameters of ``similarity._hash_params`` embedded as literal arrays.
- SimHash: per-bit majority vote over the 62-bit gram hashes via
  ``>>``/``&`` on BIGINT.
- Hyperplane buckets / cosines: sequential left folds over doubles
  (``list_reduce`` with a 0.0 seed) in exactly the order Spark's
  ``F.aggregate`` folds — bit-identical IEEE results; the hyperplanes of
  ``similarity.simhash_planes`` are embedded via ``repr(float)``
  (shortest round-trip, parses back to the same double).

The SQL is built at import time by plain string composition; everything
embedded is a deterministic constant of the algorithm, never of the data
(the one data-shape assumption is the 64-dim embedding column,
TESTDATA.md).
"""

from __future__ import annotations

from kp_data_pipelines_spark.operators.bpe import (
    BPE_BATCH_CAP,
    BPE_ROUNDS,
    BPE_TOPK,
)
from kp_data_pipelines_spark.operators.similarity import (
    GRAM_MAX_PLANES,
    GRAM_TARGET_BUCKET,
    MINHASH_BANDS,
    MINHASH_NUM_HASHES,
    MINHASH_SHINGLE_K,
    MINHASH_THRESHOLD,
    _hash_params,
    adaptive_n_planes_case_sql,
    simhash_planes,
)

_MOD = 2147483647  # Mersenne-31 (textops._POLY_MOD)
_BASE_TOKEN = 31
_BASE_GRAM = 1000003
_BASE_GRAM2 = 998244353
EMBEDDING_DIM = 64  # TESTDATA.md: embeddings.embedding is FLOAT[64]


def _dot(v: str, w: str) -> str:
    """Sequential left-fold dot product — same op order as similarity._dot."""
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, len({v})+1), i -> {v}[i] * {w}[i])), "
        f"(acc, x) -> acc + x)"
    )


def _tok_hashes() -> str:
    """textops.poly_token_hashes: per-token char fold, base 31 mod M31."""
    return (
        f"list_transform(regexp_split_to_array(trim(lower(text)), '\\s+'), "
        f"t -> list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(range(1, length(t)+1), "
        f"i -> CAST(ord(substr(t, i, 1)) AS BIGINT))), "
        f"(acc, c) -> (acc * {_BASE_TOKEN} + c) % {_MOD}))"
    )


def _gram_fold(th: str, base: int, k: int) -> str:
    """One k-token-window polynomial fold (inside a lambda binding i)."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), {th}[i:i+{k - 1}]), "
        f"(acc, h) -> (acc * {base} + h) % {_MOD})"
    )


def _grams(k: int, bits64: bool) -> str:
    """textops.with_poly_shingles over the token-hash array column
    ``th``."""
    th = "th"
    idx = f"range(1, greatest(len({th}) - {k - 1}, 1) + 1)"
    if bits64:
        body = (
            f"{_gram_fold(th, _BASE_GRAM, k)} * CAST(2147483648 AS BIGINT) "
            f"+ {_gram_fold(th, _BASE_GRAM2, k)}"
        )
    else:
        body = _gram_fold(th, _BASE_GRAM, k)
    return f"list_transform({idx}, i -> {body})"


def _lit_list(vals) -> str:
    return "[" + ", ".join(f"CAST({v} AS DOUBLE)" for v in vals) + "]"


def _minhash_sig_cte(
    k: int = MINHASH_SHINGLE_K, extra_cols: str = "", src: str = "documents"
) -> str:
    """CTEs ``src``(doc_id, text) -> per-doc MinHash signature (``sig``).

    The signature is UNROLLED into ``MINHASH_NUM_HASHES`` independent
    ``list_min(list_transform(...))`` slots with the (a, b) constants
    INLINED — arithmetically identical to indexing literal parameter
    arrays per element, but ~70x faster in DuckDB (the
    ``(literal_list)[j]`` lookup inside a nested lambda re-evaluated
    per gram per slot dominated the whole MinHash oracle family at
    sf0.1: 267 s -> ~4 s for the pair core)."""
    params = _hash_params(MINHASH_NUM_HASHES)
    slots = ",\n               ".join(
        f"list_min(list_transform(grams, h -> ({a} * h + {b}) % {_MOD}))"
        for a, b in params
    )
    return f"""
    th AS (
      SELECT doc_id{extra_cols}, {_tok_hashes()} AS th FROM {src}
    ),
    g AS (
      SELECT doc_id{extra_cols}, list_distinct({_grams(k, False)}) AS grams
      FROM th
    ),
    sig AS (
      SELECT doc_id{extra_cols},
             [{slots}] AS sig
      FROM g
    )"""


def _minhash_pairs_core(
    k: int = MINHASH_SHINGLE_K, src: str = "documents"
) -> str:
    """CTE chain ending in ``pairs(id_a, id_b, est_jaccard)``.

    The candidate set is a banded EQUI-join (each doc explodes into
    ``MINHASH_BANDS`` (band, band-signature) keys; same-key different-doc rows
    pair up, DISTINCT across bands) — the same asymptotic shape as the
    Spark side's xxhash64 band-key join, never the all-pairs
    band-predicate theta join. ``pairs`` is ``AS MATERIALIZED`` so the
    graph twins' unrolled/recursive rounds iterate over the
    once-computed edge list instead of re-evaluating candidacy per
    round — this is what makes the q179/q184/q190/q219/q227/q258
    oracles linear and lets the full-catalog sf0.1 certification
    include them."""
    rpb = MINHASH_NUM_HASHES // MINHASH_BANDS
    return f"""{_minhash_sig_cte(k, src=src)},
    mh_bnd AS (
      SELECT doc_id, band,
             array_to_string(sig[(band - 1) * {rpb} + 1:band * {rpb}], ',')
               AS bkey
      FROM sig CROSS JOIN (SELECT unnest(range(1, {MINHASH_BANDS + 1})) AS band) bb
    ),
    mh_cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM mh_bnd a JOIN mh_bnd b
        ON b.band = a.band AND b.bkey = a.bkey AND a.doc_id < b.doc_id
    ),
    pairs AS MATERIALIZED (
      SELECT c.id_a, c.id_b,
             CAST(len(list_filter(range(1, {MINHASH_NUM_HASHES + 1}),
                        j -> sa.sig[j] = sb.sig[j])) AS DOUBLE)
               / {float(MINHASH_NUM_HASHES)} AS est_jaccard
      FROM mh_cand c
      JOIN sig sa ON sa.doc_id = c.id_a
      JOIN sig sb ON sb.doc_id = c.id_b
    )"""


def minhash_near_dups_sql() -> str:
    """Twin of q38: all-pairs with band-slice-equality candidacy (the Spark
    side's xxhash64 band key collides with prob ~2^-64, i.e. never)."""
    return f"""
    WITH {_minhash_pairs_core()}
    SELECT id_a, id_b, est_jaccard FROM pairs
    WHERE est_jaccard >= {MINHASH_THRESHOLD}
    """


def _simhash_cte() -> str:
    """CTEs -> ``fp(doc_id, simhash)`` — the per-bit majority vote of
    similarity.simhash64_from_hashes over portable 62-bit gram hashes."""
    return f"""
    th AS (
      SELECT doc_id, {_tok_hashes()} AS th FROM documents
    ),
    hs AS (
      SELECT doc_id, {_grams(2, True)} AS hs FROM th
    ),
    fp AS (
      SELECT doc_id,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(0, 64),
                 j -> CASE WHEN 2 * len(list_filter(hs,
                              h -> ((h >> j) & 1) = 1)) > len(hs)
                      THEN CAST(1 AS BIGINT) << j ELSE CAST(0 AS BIGINT)
                      END)),
               (acc, x) -> acc + x) AS simhash
      FROM hs
    )"""


def simhash_sql() -> str:
    """Twin of q39."""
    return f"WITH {_simhash_cte()} SELECT doc_id, simhash FROM fp"


def simhash_hamming_pairs_sql() -> str:
    """Twin of q43. The Spark side's pigeonhole chunk banding is EXACT
    (any pair within Hamming d shares one of d+1 chunks), so the twin is
    simply all pairs within the radius."""
    return f"""
    WITH {_simhash_cte()}
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """


def dedup_components_sql(
    k: int = MINHASH_SHINGLE_K, threshold: float = MINHASH_THRESHOLD
) -> str:
    """Twin of q66: MinHash pairs -> recursive-CTE transitive closure ->
    min reachable id per node (the q141 twin's fixpoint, over edge
    endpoints only, matching graph.connected_components)."""
    return f"""
    WITH RECURSIVE {_minhash_pairs_core(k)},
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      WHERE est_jaccard >= {threshold}
    ),
    sym AS (
      SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
    ),
    reach AS (
      SELECT src AS node, src AS r FROM sym
      UNION
      SELECT rr.node, s.dst AS r FROM reach rr JOIN sym s ON rr.r = s.src
    )
    SELECT node, MIN(r) AS component FROM reach GROUP BY node
    """


_QUALITY_SQL = """round(0.4 * (CASE WHEN length(text) BETWEEN 100 AND 20000 THEN 1.0 ELSE 0.5 END)
               + 0.4 * (CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
                        / greatest(CAST(length(text) AS DOUBLE), 1.0))
               + 0.2 * (CASE WHEN (CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
                                   / greatest(CASE WHEN trim(text) = '' THEN 0
                                                   ELSE len(string_split_regex(trim(text), '\\s+')) END, 1))
                             BETWEEN 2.0 AND 12.0
                        THEN 1.0 ELSE 0.5 END), 6)"""


def chunk_documents_sql() -> str:
    """Twin of q144: same true-integer chunk-count formula (DuckDB ``//``
    mirroring Spark ``div`` — numerator is non-negative in that branch so
    floor==trunc on both engines) and the same clamped slice per chunk;
    chunk text is a plain string join, so the comparison is exact."""
    chunk_size = 32
    stride = chunk_size - 8
    sl = f"toks[chunk_id*{stride}+1 : chunk_id*{stride}+{chunk_size}]"
    return f"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
      FROM documents
    ),
    nt AS (
      SELECT doc_id, toks,
             CASE WHEN len(toks) <= {chunk_size} THEN CAST(1 AS BIGINT)
                  ELSE CAST(
                         (len(toks) - {chunk_size} + {stride - 1}) // {stride}
                         AS BIGINT) + 1
             END AS nc
      FROM t
    ),
    c AS (
      SELECT doc_id, toks, unnest(range(0, nc)) AS chunk_id FROM nt
    )
    SELECT doc_id, chunk_id,
           CAST(len({sl}) AS INTEGER) AS chunk_tokens,
           array_to_string({sl}, ' ') AS chunk_text
    FROM c
    """


def bloom_contamination_sql() -> str:
    """Twin of q145: the benchmark bucket set and the all-hashes membership
    test are pure integer arithmetic over the portable gram hashes."""
    bench_source = "src0"
    params = _hash_params(3, 29)
    bexprs = [
        f"(({a} * gram + {b}) % {_MOD}) % 4096" for a, b in params
    ]
    bucket_list = "[" + ", ".join(bexprs) + "]"
    all_in = " AND ".join(
        f"{e} IN (SELECT bucket FROM bb)" for e in bexprs
    )
    return f"""
    WITH th AS (
      SELECT doc_id, source, {_tok_hashes()} AS th FROM documents
    ),
    g AS (
      SELECT doc_id, source,
             unnest(list_distinct({_grams(3, False)})) AS gram
      FROM th
    ),
    bb AS (
      SELECT DISTINCT unnest({bucket_list}) AS bucket
      FROM g WHERE source = '{bench_source}'
    ),
    probe AS (SELECT doc_id, gram FROM g WHERE source <> '{bench_source}'),
    hits AS (
      SELECT doc_id, COUNT(*) AS n_hits FROM probe
      WHERE {all_in}
      GROUP BY doc_id
    ),
    tot AS (SELECT doc_id, COUNT(*) AS n_grams FROM probe GROUP BY doc_id)
    SELECT t.doc_id, t.n_grams,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / CAST(t.n_grams AS DOUBLE)
             AS contamination
    FROM tot t LEFT JOIN hits h USING (doc_id)
    """


def dedup_representative_sql() -> str:
    """Twin of q146: MinHash components (q66's closure) + the q22 quality
    score; the representative is the (quality DESC, doc_id ASC) window
    head per component, singletons forming their own component."""
    return f"""
    WITH RECURSIVE {_minhash_pairs_core()},
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      WHERE est_jaccard >= {MINHASH_THRESHOLD}
    ),
    sym AS (
      SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
    ),
    reach AS (
      SELECT src AS node, src AS r FROM sym
      UNION
      SELECT rr.node, s.dst AS r FROM reach rr JOIN sym s ON rr.r = s.src
    ),
    comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node),
    quality AS (
      SELECT doc_id, {_QUALITY_SQL} AS quality FROM documents
    ),
    member AS (
      SELECT q.doc_id, COALESCE(c.component, q.doc_id) AS component, q.quality
      FROM quality q LEFT JOIN comp c ON q.doc_id = c.node
    ),
    ranked AS (
      SELECT component, doc_id, quality,
             row_number() OVER (PARTITION BY component
                                ORDER BY quality DESC, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY component) AS n_members
      FROM member
    )
    SELECT component, doc_id AS rep_doc_id, quality AS rep_quality,
           CAST(n_members AS BIGINT) AS n_members
    FROM ranked WHERE rn = 1
    """


def top_pc_sql() -> str:
    """Twin of q149: power iteration unrolled into ``n_iter`` CTE rounds.
    Per round: per-row scalar s = v . x (sequential fold), per-dimension
    quantized-integer contribution sum (round(v_d * s * 1e6) — exact in
    BIGINT range), list rebuild ordered by dim, and normalization by the
    sequential-fold norm — every operation IEEE/IEEE-integer identical to
    the Spark path."""
    n_iter = 3
    dim = EMBEDDING_DIM
    x0 = "[" + ", ".join(["CAST(0.125 AS DOUBLE)"] * dim) + "]"
    parts = [
        f"""e AS (
      SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    r0 AS (SELECT {x0} AS xv)"""
    ]
    for i in range(1, n_iter + 1):
        parts.append(
            f"""st{i} AS (
      SELECT e.v AS v, {_dot("e.v", "x.xv")} AS s FROM e CROSS JOIN r{i - 1} x
    )"""
        )
        parts.append(
            f"""y{i} AS (
      SELECT d.i AS pos,
             CAST(SUM(CAST(round(t.v[d.i] * t.s * 1000000.0)
                           AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS y
      FROM st{i} t, range(1, {dim + 1}) d(i)
      GROUP BY d.i
    )"""
        )
        parts.append(
            f"""yl{i} AS (SELECT list(y ORDER BY pos) AS yv FROM y{i})"""
        )
        parts.append(
            f"""r{i} AS (
      SELECT list_transform(yv, t -> t / sqrt({_dot("yv", "yv")})) AS xv
      FROM yl{i}
    )"""
        )
    ctes = ",\n    ".join(parts)
    return f"""
    WITH {ctes}
    SELECT CAST(d.i - 1 AS INTEGER) AS dim, xv[d.i] AS component
    FROM r{n_iter}, range(1, {dim + 1}) d(i)
    """


def minhash_incremental_sql() -> str:
    """Twin of q147: the bipartite (new shard x existing corpus) variant
    of the q38 twin — band-slice-equality candidacy restricted to
    cross-side pairs, min matching corpus id per new doc."""
    new_source = "src19"
    rpb = MINHASH_NUM_HASHES // MINHASH_BANDS
    band_eq = " OR ".join(
        f"n.sig[{i * rpb + 1}:{(i + 1) * rpb}] = c.sig[{i * rpb + 1}:{(i + 1) * rpb}]"
        for i in range(MINHASH_BANDS)
    )
    return f"""
    WITH {_minhash_sig_cte(extra_cols=", source")},
    matches AS (
      SELECT n.doc_id AS new_id,
             COUNT(*) AS n_matches,
             MIN(c.doc_id) AS dup_of
      FROM sig n JOIN sig c
        ON n.source = '{new_source}' AND c.source <> '{new_source}'
       AND ({band_eq})
       AND CAST(len(list_filter(range(1, {MINHASH_NUM_HASHES + 1}),
                     j -> n.sig[j] = c.sig[j])) AS DOUBLE)
             / {float(MINHASH_NUM_HASHES)} >= {MINHASH_THRESHOLD}
      GROUP BY n.doc_id
    )
    SELECT s.doc_id,
           CAST(COALESCE(m.n_matches, 0) AS BIGINT) AS n_matches,
           m.dup_of,
           m.dup_of IS NULL AS keep
    FROM sig s LEFT JOIN matches m ON s.doc_id = m.new_id
    WHERE s.source = '{new_source}'
    """


def mixture_temperature_sql() -> str:
    """Twin of q148 (tau = 1/2 hard-wired as sqrt — correctly rounded in
    both engines, unlike pow()): per-source sampling weights with the
    denominator as an exact integer sum of quantized sqrt values."""
    return """
    WITH s AS (
      SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
    ),
    q AS (
      SELECT source, n_docs,
             CAST(round(sqrt(CAST(n_docs AS DOUBLE)) * 1000000.0) AS BIGINT)
               AS sq
      FROM s
    ),
    t AS (
      SELECT source, n_docs, sq,
             SUM(sq) OVER () AS denom,
             SUM(n_docs) OVER () AS total
      FROM q
    )
    SELECT source, n_docs,
           CAST(n_docs AS DOUBLE) / CAST(total AS DOUBLE) AS weight_uniform,
           CAST(sq AS DOUBLE) / CAST(denom AS DOUBLE) AS weight_temp,
           (CAST(sq AS DOUBLE) / CAST(denom AS DOUBLE))
             / (CAST(n_docs AS DOUBLE) / CAST(total AS DOUBLE)) AS boost
    FROM t
    ORDER BY source
    """


def quality_weighted_sample_sql() -> str:
    """Twin of q151: deterministic Bernoulli thinning — keep a document
    iff LCG(doc_id)/p < quality. Integer hash + one exact division; the
    (a, b) constants are similarity._hash_params(1, 17)."""
    a, b = _hash_params(1, 17)[0]
    return f"""
    WITH q AS (
      SELECT doc_id, {_QUALITY_SQL} AS quality FROM documents
    )
    SELECT doc_id, quality,
           CAST(({a} * (((doc_id % {_MOD}) + {_MOD}) % {_MOD}) + {b}) % {_MOD} AS DOUBLE)
             / {float(_MOD)} AS u
    FROM q
    WHERE CAST(({a} * (((doc_id % {_MOD}) + {_MOD}) % {_MOD}) + {b}) % {_MOD} AS DOUBLE)
            / {float(_MOD)} < quality
    """


def token_budget_selection_sql() -> str:
    """Twin of q152: greedy quality-first corpus selection under a token
    budget. The selection key packs (quality DESC, doc_id ASC) into one
    BIGINT — round((1-quality)*1e6) * 2^40 + doc_id — so the running sum
    is over a total order both engines agree on; the oracle uses the
    plain window SUM the distributed prefix_sum reproduces."""
    key = "CAST(round((1.0 - quality) * 1000000.0) AS BIGINT) * 1099511627776 + doc_id"
    return f"""
    WITH q AS (
      SELECT doc_id, {_QUALITY_SQL} AS quality,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(string_split_regex(trim(text), '\\s+')) END
               AS n_tokens
      FROM documents
    ),
    k AS (
      SELECT doc_id, quality, CAST(n_tokens AS INTEGER) AS n_tokens,
             {key} AS sel_key
      FROM q
    ),
    c AS (
      SELECT doc_id, quality, n_tokens,
             CAST(SUM(n_tokens) OVER (ORDER BY sel_key
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_tokens
      FROM k
    )
    SELECT doc_id, quality, n_tokens, cum_tokens
    FROM c WHERE cum_tokens <= 10000
    """


def product_quantize_sql() -> str:
    """Twin of q155: per-subspace nearest-codebook assignment (L2,
    sequential folds; tie-break dist ASC, cid ASC) and the fixed-order
    per-row error sum."""
    n_subspaces = 8
    dim = EMBEDDING_DIM
    sub = dim // n_subspaces

    def l2(s: int) -> str:
        lo = s * sub
        return (
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(range(1, {sub + 1}), "
            f"i -> (e.v[{lo}+i] - c.cv[{lo}+i]) * (e.v[{lo}+i] - c.cv[{lo}+i]))), "
            f"(acc, x) -> acc + x)"
        )

    parts = [
        """e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    c AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
             CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings ORDER BY vec_id LIMIT 16
    )"""
    ]
    for s in range(n_subspaces):
        parts.append(
            f"""a{s} AS (
      SELECT vec_id, cid AS code{s}, dist AS d{s} FROM (
        SELECT e.vec_id, c.cid, {l2(s)} AS dist,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {l2(s)}, c.cid) AS rn
        FROM e CROSS JOIN c
      ) WHERE rn = 1
    )"""
        )
    joins = " ".join(
        f"JOIN a{s} USING (vec_id)" for s in range(n_subspaces)
    )
    codes = ", ".join(f"code{s}" for s in range(n_subspaces))
    errs = " + ".join(f"d{s}" for s in range(n_subspaces))
    ctes = ",\n    ".join(parts)
    return f"""
    WITH {ctes}
    SELECT vec_id, concat_ws('-', {codes}) AS codes, {errs} AS recon_err
    FROM e {joins}
    """


HLL_M = 64  # registers
HLL_ALPHA_M2 = repr((0.7213 / (1 + 1.079 / HLL_M)) * float(HLL_M * HLL_M))
HLL_POW = "[" + ", ".join(repr(2.0 ** -i) for i in range(58)) + "]"


def portable_hll_sql() -> str:
    """Twin of q157: a from-scratch HyperLogLog whose registers BOTH
    engines compute exactly — LCG 62-bit hash, register = low 6 bits,
    rank = 57 - bitlength(rest) via bin()-string length (identical in
    Spark and DuckDB), per-register max, and the raw estimate folded in
    register order from a shared literal table of exact 2^-i doubles."""
    return f"""
    WITH h AS (
      SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
             user_id, {_hll_hash62_sql("user_id", "user_id", 23)} AS hv
      FROM events
    ),
    r AS (
      SELECT week, user_id, hv & 63 AS reg,
             CASE WHEN (hv >> 6) > 0
                  THEN 57 - length(bin(hv >> 6))
                  ELSE 57 END AS rank
      FROM h
    ),
    m AS (
      SELECT week, reg, MAX(rank) AS mr FROM r GROUP BY week, reg
    ),
    folded AS (
      SELECT week,
             CAST(COUNT(*) AS BIGINT) AS n_regs,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(list(mr ORDER BY reg),
                              x -> ({HLL_POW})[x + 1])),
               (acc, t) -> acc + t) AS s
      FROM m GROUP BY week
    ),
    truth AS (
      SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
             COUNT(DISTINCT user_id) AS true_distinct
      FROM events GROUP BY 1
    )
    SELECT f.week, f.n_regs, t.true_distinct,
           {HLL_ALPHA_M2}
             / (f.s + CAST({HLL_M} - f.n_regs AS DOUBLE)) AS hll_estimate
    FROM folded f JOIN truth t ON f.week = t.week
    ORDER BY f.week
    """


def winnow_pairs_sql() -> str:
    """Twin of q156: winnowing fingerprints recomputed with list ops —
    char k-gram Horner hashes, per-window rightmost minimum, distinct
    selected hashes, doc-frequency filter, pair counts."""
    k = 20
    w = 8
    return f"""
    WITH d AS (
      SELECT doc_id, {_NORM_SQL} AS t
      FROM documents
    ),
    ch AS (
      SELECT doc_id, length(t) AS n,
             list_transform(range(1, length(t) + 1),
               i -> CAST(ord(substr(t, i, 1)) AS BIGINT)) AS c
      FROM d
    ),
    hh AS (
      SELECT doc_id, greatest(n - {k} + 1, 1) AS m,
             list_transform(range(1, greatest(n - {k} + 1, 1) + 1),
               i -> list_reduce(list_prepend(CAST(0 AS BIGINT),
                      list_transform(range(0, least({k}, n - i + 1)),
                                     dd -> c[i + dd])),
                    (acc, x) -> (acc * 31 + x) % {_MOD})) AS hs
      FROM ch
    ),
    sel AS (
      SELECT doc_id,
             list_distinct(list_transform(
               list_distinct(list_transform(
                 range(1, greatest(m - {w} + 1, 1) + 1),
                 j -> list_max(list_filter(
                        range(j, least(j + {w} - 1, m) + 1),
                        q -> hs[q] = list_min(hs[j:least(j + {w} - 1, m)]))))),
               q -> hs[q])) AS fps
      FROM hh
    ),
    fpt AS (SELECT doc_id, unnest(fps) AS fp FROM sel),
    rare AS (
      SELECT fp FROM (SELECT fp, COUNT(*) AS df FROM fpt GROUP BY fp)
      WHERE df <= 20
    ),
    kept AS (SELECT f.doc_id, f.fp FROM fpt f JOIN rare r ON f.fp = r.fp)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
    FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING COUNT(*) >= 3
    """


def rank_perplexity_sql() -> str:
    """Twin of q153: log-free perplexity proxy — mean corpus frequency
    rank of a document's tokens. Ranks are dense over (count DESC, token
    ASC), sums are integer-exact, one final IEEE division."""
    return """
    WITH tok AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+'))
               AS token
      FROM documents
    ),
    freq AS (
      SELECT token, COUNT(*) AS n FROM tok GROUP BY token
    ),
    ranked AS (
      SELECT token, CAST(dense_rank() OVER (ORDER BY n DESC, token) AS BIGINT)
               AS rnk
      FROM freq
    )
    SELECT t.doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(r.rnk) AS BIGINT) AS rank_sum,
           CAST(SUM(r.rnk) AS DOUBLE) / COUNT(*) AS mean_rank
    FROM tok t JOIN ranked r ON t.token = r.token
    GROUP BY t.doc_id
    """


def minhash_calibration_sql() -> str:
    """Twin of q154: per estimated-Jaccard bucket, how good is the MinHash
    estimate? Exact Jaccard over the same distinct gram sets (intersection
    and union counts are integers), mean-true via quantized-integer sums."""
    rpb = MINHASH_NUM_HASHES // MINHASH_BANDS
    band_eq = " OR ".join(
        f"a.sig[{i * rpb + 1}:{(i + 1) * rpb}] = b.sig[{i * rpb + 1}:{(i + 1) * rpb}]"
        for i in range(MINHASH_BANDS)
    )
    return f"""
    WITH {_minhash_sig_cte()},
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(len(list_filter(range(1, {MINHASH_NUM_HASHES + 1}),
                        j -> a.sig[j] = b.sig[j])) AS DOUBLE)
               / {float(MINHASH_NUM_HASHES)} AS est
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      WHERE {band_eq}
    ),
    exact AS (
      SELECT p.id_a, p.id_b, p.est,
             CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
               / CAST(len(ga.grams) + len(gb.grams)
                      - len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
               AS true_j
      FROM pairs p
      JOIN g ga ON ga.doc_id = p.id_a
      JOIN g gb ON gb.doc_id = p.id_b
      WHERE p.est >= {MINHASH_THRESHOLD}
    )
    SELECT CAST(floor(est * 8.0) AS INTEGER) AS est_bucket,
           COUNT(*) AS n_pairs,
           CAST(SUM(CAST(round(true_j * 1000000.0) AS BIGINT)) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) / 1000000.0 AS mean_true_jaccard
    FROM exact
    GROUP BY est_bucket
    ORDER BY est_bucket
    """


def _bucket_expr(v: str, planes) -> str:
    bits = []
    for p in planes:
        plane_lit = "[" + ", ".join(repr(float(x)) for x in p) + "]"
        bits.append(
            f"CASE WHEN {_dot(v, f'({plane_lit})')} >= 0 THEN '1' ELSE '0' END"
        )
    return "concat(" + ", ".join(bits) + ")"


def _adaptive_np_cte() -> str:
    """1-row CTE ``nps(np)``: the adaptive gram-kernel plane count derived
    from the indexed corpus's COUNT(*) — the integer CASE-ladder twin of
    ``similarity.adaptive_n_planes``, so both engines pick the identical
    plane count at any scale factor. Callers CROSS JOIN ``nps`` and take
    ``substr(full_code, 1, np)`` of a GRAM_MAX_PLANES-bit code
    (``simhash_planes`` is prefix-stable)."""
    return (
        f"nps AS (SELECT {adaptive_n_planes_case_sql('c')} AS np "
        f"FROM (SELECT COUNT(*) AS c FROM embeddings))"
    )


def lsh_ann_sql() -> str:
    """Twin of q40: hyperplane-LSH bucket match against vec_id 0's bucket,
    exact cosine top-k inside the bucket. Planes are the LCG constants of
    similarity.simhash_planes; every fold is sequential, so bucket bits
    and cosines are bit-identical to the Spark plan's F.aggregate."""
    planes = simhash_planes(EMBEDDING_DIM, 6, 7)
    return f"""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id <> 0
    ),
    q AS (
      SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
    ),
    be AS (
      SELECT vec_id, label, v, {_bucket_expr("v", planes)} AS bucket FROM e
    ),
    bq AS (
      SELECT qv, {_bucket_expr("qv", planes)} AS bucket FROM q
    )
    SELECT vec_id, label
    FROM (
      SELECT be.vec_id, be.label,
             {_dot("be.v", "bq.qv")}
               / (sqrt({_dot("be.v", "be.v")}) * sqrt({_dot("bq.qv", "bq.qv")}))
               AS cos
      FROM be JOIN bq ON be.bucket = bq.bucket
    )
    ORDER BY cos DESC, vec_id
    LIMIT 10
    """


def ivf_refined_ann_sql() -> str:
    """Twin of q143 (IVF + Lloyd refinement): the k-means loop is unrolled
    into ``n_iter`` CTE rounds — assign (cos DESC, cid DESC tie-break,
    mirroring reverse(array_sort)), per-(cell, dim) QUANTIZED mean
    (round(x*1e6) -> BIGINT-exact sum -> (sum/count)/1e6 in double —
    identical IEEE ops to kmeans_refine's decimal-staged aggregate), and
    empty cells carrying the previous centroid via a left join."""
    n_iter = 3
    dim = EMBEDDING_DIM

    def norm_cte(src: str, out: str) -> str:
        return f"""{out} AS (
      SELECT cid, cv,
             CASE WHEN sqrt({_dot("cv", "cv")}) = 0 THEN 1.0
                  ELSE sqrt({_dot("cv", "cv")}) END AS ncv
      FROM {src}
    )"""

    def assign_cte(cents_n: str, out: str) -> str:
        return f"""{out} AS (
      SELECT vec_id, label, v, cid FROM (
        SELECT e.vec_id, e.label, e.v, c.cid,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 {_dot("e.v", "c.cv")}
                   / (sqrt({_dot("e.v", "e.v")}) * c.ncv) DESC,
                 c.cid DESC) AS rn
        FROM e CROSS JOIN {cents_n} c
      ) WHERE rn = 1
    )"""

    parts = [
        """e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id <> 0
    ),
    q AS (
      SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
    ),
    r0 AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
             v AS cv
      FROM e ORDER BY vec_id LIMIT 16
    )"""
    ]
    for i in range(1, n_iter + 1):
        parts.append(norm_cte(f"r{i - 1}", f"rn{i - 1}"))
        parts.append(assign_cte(f"rn{i - 1}", f"a{i}"))
        parts.append(
            f"""m{i} AS (
      SELECT a.cid, d.i AS pos,
             CAST(SUM(CAST(round(a.v[d.i] * 1000000.0) AS DECIMAL(38,0)))
                  AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) / 1000000.0 AS m
      FROM a{i} a, range(1, {dim + 1}) d(i)
      GROUP BY a.cid, d.i
    )"""
        )
        parts.append(
            f"""r{i} AS (
      SELECT p.cid, COALESCE(nc.cv, p.cv) AS cv
      FROM r{i - 1} p LEFT JOIN (
        SELECT cid, list(m ORDER BY pos) AS cv FROM m{i} GROUP BY cid
      ) nc USING (cid)
    )"""
        )
    parts.append(norm_cte(f"r{n_iter}", f"rn{n_iter}"))
    parts.append(assign_cte(f"rn{n_iter}", "afinal"))
    parts.append(
        f"""probe AS (
      SELECT cid FROM (
        SELECT c.cid,
               row_number() OVER (
                 ORDER BY {_dot("q.qv", "c.cv")} / c.ncv DESC, c.cid) AS prn
        FROM rn{n_iter} c CROSS JOIN q
      ) WHERE prn <= 4
    )"""
    )
    ctes = ",\n    ".join(parts)
    return f"""
    WITH {ctes}
    SELECT vec_id, label
    FROM (
      SELECT a.vec_id, a.label,
             {_dot("a.v", "q.qv")}
               / (sqrt({_dot("a.v", "a.v")}) * sqrt({_dot("q.qv", "q.qv")}))
               AS cos
      FROM afinal a CROSS JOIN q
      WHERE a.cid IN (SELECT cid FROM probe)
    )
    ORDER BY cos DESC, vec_id
    LIMIT 10
    """


def semantic_dedup_sql() -> str:
    """Twin of q141: exact cosine pairs blocked on (label, hyperplane
    bucket), closed into components by a recursive CTE. The bucket is the
    same LCG-plane sign-bit string the Spark plan computes, so both
    engines see the identical candidate set; blocking on the bucket (not
    just the fixed-cardinality label) is what keeps per-block pair counts
    bounded as the corpus grows."""
    planes = simhash_planes(EMBEDDING_DIM, 4, 7)
    return f"""
    WITH RECURSIVE e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings
    ),
    be AS (
      SELECT vec_id, label, v, {_bucket_expr("v", planes)} AS bucket FROM e
    ),
    p AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             {_dot("a.v", "b.v")}
               / (sqrt({_dot("a.v", "a.v")}) * sqrt({_dot("b.v", "b.v")}))
               AS cos
      FROM be a JOIN be b
        ON a.label = b.label AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM p WHERE cos >= 0.5
    ),
    sym AS (
      SELECT src, dst FROM edges
      UNION
      SELECT dst, src FROM edges
    ),
    reach AS (
      SELECT src AS node, dst AS r FROM sym
      UNION
      SELECT vec_id AS node, vec_id AS r FROM e
      UNION
      SELECT rr.node, s.dst AS r
      FROM reach rr JOIN sym s ON rr.r = s.src
    ),
    comp AS (
      SELECT node AS vec_id, MIN(r) AS component FROM reach GROUP BY node
    )
    SELECT em.label,
           COUNT(*) AS n_vecs,
           COUNT(DISTINCT c.component) AS n_clusters,
           CAST(COUNT(*) - COUNT(DISTINCT c.component) AS BIGINT)
             AS n_removed
    FROM e em JOIN comp c ON em.vec_id = c.vec_id
    GROUP BY em.label
    ORDER BY em.label
    """


def ivf_ann_sql() -> str:
    """Twin of q45. Centroids = first 16 vectors by vec_id of
    the vec_id<>0 set (similarity.ivf_centroids' deterministic seed);
    assignment tie-break (cos DESC, cid DESC) mirrors
    reverse(array_sort(struct(cos, cid))); probe tie-break (cos DESC, cid
    ASC) mirrors Python's stable sorted(); the probe score is dot/norm_c
    exactly as ivf_topk computes it driver-side."""
    return f"""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id <> 0
    ),
    q AS (
      SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
    ),
    c AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
             v AS cv
      FROM e ORDER BY vec_id LIMIT 16
    ),
    cn AS (
      SELECT cid, cv,
             CASE WHEN sqrt({_dot("cv", "cv")}) = 0 THEN 1.0
                  ELSE sqrt({_dot("cv", "cv")}) END AS ncv
      FROM c
    ),
    assign AS (
      SELECT vec_id, label, v, cid,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY cos DESC, cid DESC) AS rn
      FROM (
        SELECT e.vec_id, e.label, e.v, cn.cid,
               {_dot("e.v", "cn.cv")} / (sqrt({_dot("e.v", "e.v")}) * cn.ncv)
                 AS cos
        FROM e CROSS JOIN cn
      )
    ),
    probe AS (
      SELECT cid FROM (
        SELECT cn.cid,
               row_number() OVER (
                 ORDER BY {_dot("q.qv", "cn.cv")} / cn.ncv DESC, cn.cid) AS prn
        FROM cn CROSS JOIN q
      ) WHERE prn <= 4
    )
    SELECT vec_id, label
    FROM (
      SELECT a.vec_id, a.label,
             {_dot("a.v", "q.qv")}
               / (sqrt({_dot("a.v", "a.v")}) * sqrt({_dot("q.qv", "q.qv")}))
               AS cos
      FROM assign a CROSS JOIN q
      WHERE a.rn = 1 AND a.cid IN (SELECT cid FROM probe)
    )
    ORDER BY cos DESC, vec_id
    LIMIT 10
    """


# --- generalized portable-HLL twins (q101/q131; sketches.py is the Spark
# side — every constant below must mirror it exactly) ---------------------


def _hll_consts(m: int):
    from kp_data_pipelines_spark.operators.sketches import (
        alpha_m2,
        ln_table,
        pow2_table,
    )

    import math

    p = m.bit_length() - 1
    assert 1 << p == m
    sat = 62 - p + 1
    # every float literal is CAST AS DOUBLE: DuckDB parses decimal-point
    # literals as DECIMAL, and decimal-domain (-, *) drifts from the
    # Spark side's double ops by ulps (the q132 lesson)
    pow_lit = _lit_list([repr(v) for v in pow2_table()])
    ln_lit = _lit_list([repr(v) for v in ln_table(m)])
    return {
        "m": m,
        "p": p,
        "sat": sat,
        "alpha": f"CAST({alpha_m2(m)!r} AS DOUBLE)",
        "lnm": f"CAST({math.log(m)!r} AS DOUBLE)",
        "pow": pow_lit,
        "ln": ln_lit,
        "thresh": repr(2.5 * m),
    }


def _pm31(x: str) -> str:
    """Sign-safe mod Mersenne-31 (matches Spark F.pmod)."""
    return f"((({x}) % {_MOD} + {_MOD}) % {_MOD})"


def _hll_hash62_sql(x1: str, x2: str, seed: int) -> str:
    (a1, b1), (a2, b2) = _hash_params(2, seed)
    return (
        f"(({a1} * {_pm31(x1)} + {b1}) % {_MOD}) * CAST(2147483648 AS BIGINT)"
        f" + (({a2} * {_pm31(x2)} + {b2}) % {_MOD})"
    )


def _char_fold(text: str, base: int) -> str:
    """rolling_hash twin: Horner char fold mod Mersenne-31 (q44 pattern)."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(range(1, length({text})+1), "
        f"i -> CAST(ord(substr({text}, i, 1)) AS BIGINT))), "
        f"(acc, c) -> (acc * {base} + c) % {_MOD})"
    )


def _hll_reg_rank(hv: str, c: dict) -> str:
    return (
        f"{hv} & {c['m'] - 1} AS reg, "
        f"CASE WHEN ({hv} >> {c['p']}) > 0 "
        f"THEN {c['sat']} - length(bin({hv} >> {c['p']})) "
        f"ELSE {c['sat']} END AS rank"
    )


def _hll_fold(c: dict) -> str:
    """n_regs + harmonic sum folded in register order (grouped context)."""
    return (
        f"CAST(COUNT(*) AS BIGINT) AS n_regs, "
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(list(mr ORDER BY reg), x -> ({c['pow']})[x + 1])), "
        f"(acc, t) -> acc + t) AS s"
    )


def _hll_est(c: dict) -> str:
    raw = f"{c['alpha']} / (s + CAST({c['m']} - n_regs AS DOUBLE))"
    return (
        f"CASE WHEN {raw} <= CAST({c['thresh']} AS DOUBLE) "
        f"AND ({c['m']} - n_regs) > 0 "
        f"THEN CAST({c['m']} AS DOUBLE) * ({c['lnm']} - ({c['ln']})[{c['m']} - n_regs]) "
        f"ELSE {raw} END"
    )


def source_cardinality_hll_sql() -> str:
    """Twin of q101: per-source distinct-text cardinality via the portable
    HLL — 62-bit hash from two char-fold lanes (bases 31 / 1000003, the
    rolling_hash fold), register max per (source, reg), harmonic fold +
    literal-ln linear counting. n_docs / avg_len ride the same single
    aggregation pass."""
    c = _hll_consts(1024)
    hv = _hll_hash62_sql(_char_fold("text", 31), _char_fold("text", 1000003), 29)
    return f"""
    WITH h AS (
      SELECT source, length(text) AS len, {hv} AS hv FROM documents
    ),
    r AS (
      SELECT source, len, {_hll_reg_rank("hv", c)} FROM h
    ),
    pr AS (
      SELECT source, reg, MAX(rank) AS mr, COUNT(*) AS cnt, SUM(len) AS sl
      FROM r GROUP BY source, reg
    ),
    f AS (
      SELECT source, {_hll_fold(c)},
             CAST(SUM(cnt) AS BIGINT) AS n_docs,
             CAST(SUM(sl) AS BIGINT) AS sum_len
      FROM pr GROUP BY source
    )
    SELECT source, {_hll_est(c)} AS approx_unique_texts, n_docs,
           CAST(sum_len AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avg_len
    FROM f
    """


def weekly_user_hll_sql() -> str:
    """Twin of q131: two-level mergeable roll-up — per-(day, reg) maxes
    built once, merged to ISO weeks by a second MAX (never rescanning the
    fact table), then the same portable fold + estimate as q101."""
    c = _hll_consts(1024)
    hv = _hll_hash62_sql("user_id", "user_id", 41)
    return f"""
    WITH h AS (
      SELECT CAST(ts AS DATE) AS day, {hv} AS hv FROM events
    ),
    r AS (
      SELECT day, {_hll_reg_rank("hv", c)} FROM h
    ),
    daily AS (
      SELECT day, reg, MAX(rank) AS dr FROM r GROUP BY day, reg
    ),
    weekly AS (
      SELECT CAST(weekofyear(day) AS INTEGER) AS iso_week, reg,
             MAX(dr) AS mr
      FROM daily GROUP BY 1, 2
    ),
    nd AS (
      SELECT CAST(weekofyear(day) AS INTEGER) AS iso_week,
             CAST(COUNT(DISTINCT day) AS BIGINT) AS n_days
      FROM daily GROUP BY 1
    ),
    f AS (
      SELECT iso_week, {_hll_fold(c)} FROM weekly GROUP BY iso_week
    )
    SELECT f.iso_week, nd.n_days, {_hll_est(c)} AS approx_users
    FROM f JOIN nd ON f.iso_week = nd.iso_week
    ORDER BY f.iso_week
    """


def quantile_hist_sql() -> str:
    """Twin of q123: the portable quantile sketch — an exact mergeable
    cents-histogram (domain-bounded: lineitem prices have two decimals,
    so round(x*100) is lossless) + type-7 rank interpolation computed
    with the identical IEEE ops on both engines."""
    targets = ", ".join(
        f"('{name}', CAST({p} AS DOUBLE))"
        for name, p in [
            ("p50_approx", 0.5),
            ("p90_approx", 0.9),
            ("p99_approx", 0.99),
        ]
    )
    return f"""
    WITH h AS (
      SELECT l_returnflag AS flag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS c,
             COUNT(*) AS cnt
      FROM lineitem GROUP BY 1, 2
    ),
    hc AS (
      SELECT flag, c, cnt,
             SUM(cnt) OVER (PARTITION BY flag ORDER BY c
                            ROWS UNBOUNDED PRECEDING) AS cum
      FROM h
    ),
    tot AS (
      SELECT flag, CAST(SUM(cnt) AS BIGINT) AS n FROM h GROUP BY 1
    ),
    tgt AS (
      SELECT flag, n, which, p,
             CAST(floor(p * CAST(n - 1 AS DOUBLE)) AS BIGINT) AS lo,
             p * CAST(n - 1 AS DOUBLE)
               - floor(p * CAST(n - 1 AS DOUBLE)) AS frac
      FROM tot, (VALUES {targets}) t(which, p)
    ),
    v AS (
      SELECT g.flag, g.which, g.lo, g.frac, g.n,
             MIN(CASE WHEN hc.cum >= g.lo + 1 THEN hc.c END) AS v_lo,
             MIN(CASE WHEN hc.cum >= least(g.lo + 1, g.n - 1) + 1
                      THEN hc.c END) AS v_hi
      FROM tgt g JOIN hc ON hc.flag = g.flag
      GROUP BY 1, 2, 3, 4, 5
    ),
    res AS (
      SELECT flag, n, which,
             CAST(v_lo AS DOUBLE) / CAST(100 AS DOUBLE)
               + frac * (CAST(v_hi AS DOUBLE) / CAST(100 AS DOUBLE)
                         - CAST(v_lo AS DOUBLE) / CAST(100 AS DOUBLE)) AS v
      FROM v
    )
    SELECT flag, n,
           MAX(CASE WHEN which = 'p50_approx' THEN v END) AS p50_approx,
           MAX(CASE WHEN which = 'p90_approx' THEN v END) AS p90_approx,
           MAX(CASE WHEN which = 'p99_approx' THEN v END) AS p99_approx
    FROM res GROUP BY flag, n
    """


def countmin_heavyhitters_sql() -> str:
    """Twin of q160: the Count-Min table is rebuilt with the same LCG
    bucket lanes (integer mod arithmetic — engine-exact), the same
    exact top-k candidates, and the same min-over-rows estimate."""
    d = 4
    params = _hash_params(d, 57)
    lanes = ", ".join(
        f"(({a} * {_pm31('user_id')} + {b}) % {_MOD}) % 1024"
        for a, b in params
    )
    return f"""
    WITH b AS (
      SELECT user_id, r.i AS row_idx, ([{lanes}])[r.i + 1] AS bucket
      FROM events, range(0, {d}) r(i)
    ),
    cms AS (
      SELECT row_idx, bucket, CAST(COUNT(*) AS BIGINT) AS n
      FROM b GROUP BY row_idx, bucket
    ),
    exact AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_n
      FROM events GROUP BY user_id
      ORDER BY exact_n DESC, user_id LIMIT 10
    ),
    cand AS (
      SELECT e.user_id, e.exact_n, r.i AS row_idx,
             ([{lanes}])[r.i + 1] AS bucket
      FROM exact e, range(0, {d}) r(i)
    )
    SELECT c.user_id, MIN(c.exact_n) AS exact_n,
           MIN(m.n) AS cms_n
    FROM cand c JOIN cms m
      ON c.row_idx = m.row_idx AND c.bucket = m.bucket
    GROUP BY c.user_id
    """


def pagerank_neardup_sql() -> str:
    """Twin of q168: PageRank over the MinHash near-dup graph, the
    n_iter rounds unrolled as CTEs. Per-round incoming mass sums as
    QUANTIZED integers (round(contrib * 1e12) -> BIGINT, exact and
    order-independent) and every float op (the division by degree, the
    damping blend) is the identical IEEE double op on both engines, so
    the ranks are bit-exact."""
    n_iter = 3
    damping = "0.85"
    quant = 10**12
    d = f"CAST({damping} AS DOUBLE)"
    base = f"CAST({repr(1 - float(damping))} AS DOUBLE)"
    parts = [
        _minhash_pairs_core(),
        f"""edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs WHERE est_jaccard >= {MINHASH_THRESHOLD}
    ),
    sym AS (
      SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges
    ),
    deg AS (
      SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY 1
    ),
    r0 AS (
      SELECT node, CAST(1.0 AS DOUBLE) AS pr FROM deg
    )""",
    ]
    qexpr = f"CAST(round((r.pr / CAST(nd.deg AS DOUBLE)) * {quant}) AS BIGINT)"
    for i in range(1, n_iter + 1):
        # hi/lo split (div/mod 2^26): each BIGINT partial sum stays
        # below 2^53 so the cast to double is exact on both engines at
        # ANY node degree (q106/q115 pattern; contribs are positive)
        parts.append(
            f"""r{i} AS (
      SELECT d.node,
             {base} + {d} * ((CAST(SUM({qexpr} // 67108864) AS DOUBLE)
                                * CAST(67108864 AS DOUBLE)
                              + CAST(SUM({qexpr} % 67108864) AS DOUBLE))
                             / CAST({quant} AS DOUBLE)) AS pr
      FROM deg d
      JOIN sym s ON s.dst = d.node
      JOIN r{i - 1} r ON r.node = s.src
      JOIN deg nd ON nd.node = s.src
      GROUP BY d.node
    )"""
        )
    ctes = ",\n    ".join(parts)
    return f"""
    WITH {ctes}
    SELECT r.node AS doc_id, d.deg, r.pr
    FROM r{n_iter} r JOIN deg d ON d.node = r.node
    ORDER BY doc_id
    """


def triangle_count_sql() -> str:
    """Twin of q172: per-node triangle counts over the MinHash
    near-dup graph. Edges are id-oriented (a < b) so each triangle is
    enumerated exactly once as a < b < c: wedge join on the middle
    node, then a 2-key closing-edge join."""
    return f"""
    WITH {_minhash_pairs_core()},
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs WHERE est_jaccard >= {MINHASH_THRESHOLD}
    ),
    tri AS (
      SELECT e1.a, e1.b, e2.b AS c
      FROM edges e1
      JOIN edges e2 ON e2.a = e1.b
      JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    nodes AS (
      SELECT a AS doc_id FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM nodes GROUP BY doc_id ORDER BY doc_id
    """


def novelty_score_sql() -> str:
    """Twin of q175: per-document shingle novelty — the fraction of a
    doc's distinct k-gram poly-shingles whose corpus document frequency
    is 1. Counts are integer-exact; the final ratio is one IEEE
    division."""
    return f"""
    WITH th AS (
      SELECT doc_id, {_tok_hashes()} AS th FROM documents
    ),
    g AS (
      SELECT doc_id, list_distinct({_grams(5, False)}) AS grams FROM th
    ),
    ex AS (
      SELECT doc_id, unnest(grams) AS gram FROM g
    ),
    dfc AS (
      SELECT gram, COUNT(*) AS df FROM ex GROUP BY gram
    )
    SELECT e.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unique,
           CAST(SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS novelty
    FROM ex e JOIN dfc d ON d.gram = e.gram
    GROUP BY e.doc_id ORDER BY e.doc_id
    """


def bm25_proxy_sql() -> str:
    """Twin of q176: log-free BM25 ranked retrieval. idf' is the
    rational Robertson fraction (N - df + 0.5) / (df + 0.5) WITHOUT the
    log (monotone in the same direction, so ranking is preserved and
    every op stays an elementwise IEEE double — q153's log-free rule).
    Per-(doc, term) scores quantize to BIGINT before the per-doc sum so
    accumulation order cannot perturb the hash."""
    k1 = "1.2"
    b = "0.75"
    quant = 10**9
    terms_list = ", ".join(f"'{t}'" for t in ("hash", "merge", "vector"))
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+'))
               AS token
      FROM documents WHERE trim(text) <> ''
    ),
    dl AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(dl) AS BIGINT) AS total_tokens
      FROM dl
    ),
    tf AS (
      SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok WHERE token IN ({terms_list})
      GROUP BY doc_id, token
    ),
    dfreq AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token
    ),
    scored AS (
      SELECT t.doc_id,
             CAST(round(
               ((CAST(s.n_docs AS DOUBLE) - CAST(f.df AS DOUBLE) + 0.5)
                  / (CAST(f.df AS DOUBLE) + 0.5))
               * ((CAST(t.tf AS DOUBLE) * (CAST({k1} AS DOUBLE) + 1.0))
                  / (CAST(t.tf AS DOUBLE)
                     + CAST({k1} AS DOUBLE)
                       * (1.0 - CAST({b} AS DOUBLE)
                          + CAST({b} AS DOUBLE)
                            * (CAST(d.dl AS DOUBLE)
                               / (CAST(s.total_tokens AS DOUBLE)
                                  / CAST(s.n_docs AS DOUBLE))))))
               * {quant}) AS BIGINT) AS qscore
      FROM tf t
      JOIN dl d ON d.doc_id = t.doc_id
      JOIN dfreq f ON f.token = t.token
      CROSS JOIN stats s
    ),
    agg AS (
      SELECT doc_id, CAST(SUM(qscore) AS BIGINT) AS qscore_sum
      FROM scored GROUP BY doc_id
    )
    SELECT doc_id, qscore_sum,
           CAST(qscore_sum AS DOUBLE) / {quant} AS bm25_proxy
    FROM agg
    ORDER BY qscore_sum DESC, doc_id
    LIMIT 10
    """


def label_propagation_sql() -> str:
    """Twin of q179: semi-supervised label propagation over the MinHash
    near-dup graph, the n_iter synchronous rounds unrolled as CTEs.
    Seeds (doc_id % 3 = 0) stay clamped; unlabeled nodes adopt the
    neighbourhood-majority label with the deterministic
    (count DESC, label ASC) tie-break."""
    n_iter = 3
    parts = [
        _minhash_pairs_core(),
        f"""edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs WHERE est_jaccard >= {MINHASH_THRESHOLD}
    ),
    sym AS (
      SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges
    ),
    nodes AS (
      SELECT DISTINCT src AS node FROM sym
    ),
    l0 AS (
      SELECT n.node,
             CASE WHEN n.node % 3 = 0 THEN d.lang ELSE NULL END AS label
      FROM nodes n JOIN documents d ON d.doc_id = n.node
    )""",
    ]
    for i in range(1, n_iter + 1):
        parts.append(
            f"""v{i} AS (
      SELECT s.dst AS node, l.label, COUNT(*) AS cnt
      FROM sym s JOIN l{i - 1} l ON l.node = s.src
      WHERE l.label IS NOT NULL
      GROUP BY 1, 2
    ),
    w{i} AS (
      SELECT node, label FROM (
        SELECT node, label,
               ROW_NUMBER() OVER (PARTITION BY node
                                  ORDER BY cnt DESC, label) AS rn
        FROM v{i}
      ) WHERE rn = 1
    ),
    l{i} AS (
      SELECT p.node,
             CASE WHEN p.node % 3 = 0 THEN p.label
                  WHEN w.label IS NOT NULL THEN w.label
                  ELSE p.label END AS label
      FROM l{i - 1} p LEFT JOIN w{i} w ON w.node = p.node
    )"""
        )
    ctes = ",\n    ".join(parts)
    return f"""
    WITH {ctes}
    SELECT node AS doc_id, label FROM l{n_iter} ORDER BY doc_id
    """


def containment_join_sql() -> str:
    """Twin of q180: asymmetric set-containment join on k-gram shingle
    sets — pairs (a, b) with |Ta ∩ Tb| >= (t_num/t_den)|Ta|. Candidates
    come from the rarity-ranked prefix filter (a doc's first
    floor((1 - t)|Ta|) + 1 rarest grams); the threshold test is exact
    integer arithmetic."""
    t_num = 4
    t_den = 5
    return f"""
    WITH th AS (
      SELECT doc_id, {_tok_hashes()} AS th FROM documents
    ),
    ex AS (
      SELECT doc_id, unnest(list_distinct({_grams(3, False)})) AS gram
      FROM th
    ),
    dfc AS (
      SELECT gram, COUNT(*) AS df FROM ex GROUP BY gram
    ),
    exr AS (
      SELECT e.doc_id, e.gram,
             COUNT(*) OVER (PARTITION BY e.doc_id) AS sz,
             ROW_NUMBER() OVER (PARTITION BY e.doc_id
                                ORDER BY d.df, e.gram) AS pos
      FROM ex e JOIN dfc d ON d.gram = e.gram
    ),
    pref AS (
      SELECT doc_id, gram FROM exr
      WHERE pos <= (sz * {t_den - t_num}) // {t_den} + 1
    ),
    cand AS (
      SELECT DISTINCT p.doc_id AS id_a, e.doc_id AS id_b
      FROM pref p JOIN ex e ON e.gram = p.gram
      WHERE e.doc_id <> p.doc_id
    ),
    ov AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS overlap
      FROM cand c
      JOIN ex a ON a.doc_id = c.id_a
      JOIN ex b ON b.doc_id = c.id_b AND b.gram = a.gram
      GROUP BY c.id_a, c.id_b
    ),
    sz AS (
      SELECT doc_id, COUNT(*) AS sz FROM ex GROUP BY doc_id
    )
    SELECT o.id_a, o.id_b,
           CAST(o.overlap AS BIGINT) AS overlap,
           CAST(s.sz AS BIGINT) AS size_a,
           CAST(o.overlap AS DOUBLE) / CAST(s.sz AS DOUBLE) AS containment
    FROM ov o JOIN sz s ON s.doc_id = o.id_a
    WHERE o.overlap * {t_den} >= {t_num} * s.sz
    ORDER BY o.id_a, o.id_b
    """


def kcore_sql() -> str:
    """Twin of q184: k-core decomposition of the MinHash near-dup graph
    by iterative peeling, the fixed number of rounds unrolled as CTEs —
    each round drops nodes whose degree in the SURVIVING subgraph is
    below 2, then drops their incident edges."""
    rounds = 4
    parts = [
        _minhash_pairs_core(),
        f"""ed AS (
      SELECT id_a AS src, id_b AS dst FROM pairs WHERE est_jaccard >= {MINHASH_THRESHOLD}
    ),
    e0 AS (
      SELECT src, dst FROM ed UNION ALL SELECT dst, src FROM ed
    )""",
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"""d{i} AS (
      SELECT src, COUNT(*) AS c FROM e{i - 1} GROUP BY src
    ),
    a{i} AS (
      SELECT src FROM d{i} WHERE c >= 2
    ),
    e{i} AS (
      SELECT e.src, e.dst FROM e{i - 1} e
      JOIN a{i} x ON x.src = e.src
      JOIN a{i} y ON y.src = e.dst
    )"""
        )
    ctes = ",\n    ".join(parts)
    return f"""
    WITH {ctes}
    SELECT src AS doc_id, CAST(COUNT(*) AS BIGINT) AS degree
    FROM e{rounds} GROUP BY src ORDER BY doc_id
    """


def bfs_hops_sql() -> str:
    """Twin of q190: multi-source BFS hop distance over the MinHash
    near-dup graph from the seed set (doc_id % 50 = 0), the
    fixed rounds unrolled — each round relaxes dist(dst) against
    min(dist(src)) + 1 over the symmetric edge set."""
    rounds = 3
    parts = [
        _minhash_pairs_core(),
        f"""ed AS (
      SELECT id_a AS src, id_b AS dst FROM pairs WHERE est_jaccard >= {MINHASH_THRESHOLD}
    ),
    sym AS (
      SELECT src, dst FROM ed UNION ALL SELECT dst, src FROM ed
    ),
    l0 AS (
      SELECT doc_id AS node,
             CASE WHEN doc_id % 50 = 0 THEN 0 ELSE NULL END AS hops
      FROM documents
    )""",
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"""c{i} AS (
      SELECT s.dst AS node, MIN(l.hops) + 1 AS cand
      FROM sym s JOIN l{i - 1} l ON l.node = s.src
      WHERE l.hops IS NOT NULL
      GROUP BY s.dst
    ),
    l{i} AS (
      SELECT p.node,
             CASE WHEN p.hops IS NULL THEN c.cand
                  WHEN c.cand IS NULL THEN p.hops
                  ELSE LEAST(p.hops, c.cand) END AS hops
      FROM l{i - 1} p LEFT JOIN c{i} c ON c.node = p.node
    )"""
        )
    ctes = ",\n    ".join(parts)
    return f"""
    WITH {ctes}
    SELECT node AS doc_id, CAST(hops AS BIGINT) AS hops
    FROM l{rounds} WHERE hops IS NOT NULL ORDER BY doc_id
    """


def behavior_near_dups_sql() -> str:
    """Twin of q225: MinHash near-dup USERS over their event-type
    sequences. A leading CTE named ``documents`` (user_id -> doc_id,
    ordered event-type sequence -> text) shadows the documents view, so
    the standard signature/pair chain applies verbatim to behavior."""
    return f"""
    WITH documents AS (
      SELECT user_id AS doc_id,
             string_agg(event_type, ' ' ORDER BY epoch_us(ts), event_id)
               AS text
      FROM events GROUP BY user_id
    ),
    {_minhash_pairs_core(5)}
    SELECT id_a AS user_a, id_b AS user_b, est_jaccard
    FROM pairs WHERE est_jaccard >= 0.0625
    ORDER BY id_a, id_b
    """


def knn_label_noise_sql() -> str:
    """Twin of q226: LSH-bucketed kNN label-agreement screen. Planes are
    similarity.simhash_planes literals; the plane COUNT is the adaptive
    CASE ladder over COUNT(*) (``_adaptive_np_cte`` — the exact integer
    twin of the Spark side's ``adaptive_n_planes``), applied as a prefix
    of the GRAM_MAX_PLANES-bit code; cosines are sequential folds, so
    neighbor ranking is bit-identical to the Spark plan."""
    planes = simhash_planes(EMBEDDING_DIM, GRAM_MAX_PLANES, 7)
    return f"""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings
    ),
    {_adaptive_np_cte()},
    be AS (
      SELECT vec_id, label, v,
             substr({_bucket_expr("v", planes)}, 1, np) AS bucket,
             sqrt({_dot("v", "v")}) AS nrm
      FROM e CROSS JOIN nps
    ),
    cand AS (
      SELECT a.vec_id AS anchor, a.label AS alabel,
             b.vec_id AS nb, b.label AS nlabel,
             {_dot("a.v", "b.v")} / (a.nrm * b.nrm) AS cos
      FROM be a JOIN be b ON b.bucket = a.bucket AND b.vec_id <> a.vec_id
    ),
    topk AS (
      SELECT anchor, alabel, nlabel FROM (
        SELECT anchor, alabel, nlabel,
               ROW_NUMBER() OVER (PARTITION BY anchor
                                  ORDER BY cos DESC, nb) AS rn
        FROM cand
      ) WHERE rn <= 5
    ),
    agg AS (
      SELECT anchor, CAST(MAX(alabel) AS BIGINT) AS label,
             CAST(COUNT(*) AS BIGINT) AS n_neighbors,
             CAST(SUM(CASE WHEN nlabel = alabel THEN 1 ELSE 0 END) AS BIGINT)
               AS n_same_label
      FROM topk GROUP BY anchor
    )
    SELECT anchor AS vec_id, label, n_neighbors, n_same_label
    FROM agg
    WHERE n_same_label * 2 < n_neighbors
    ORDER BY vec_id
    """


def split_leakage_sql() -> str:
    """Twin of q227: near-dup pairs straddling a hash train/test split."""
    (a, b) = _hash_params(1, 31)[0]
    m = (1 << 31) - 1
    split = (
        f"(({a} * (((doc_id % {m}) + {m}) % {m}) + {b}) % {m}) % 10"
    )
    return f"""
    WITH {_minhash_pairs_core()},
    pos AS (
      SELECT id_a, id_b FROM pairs WHERE est_jaccard >= {MINHASH_THRESHOLD}
    ),
    s AS (
      SELECT doc_id,
             CASE WHEN {split} < 8 THEN 1 ELSE 0 END AS is_train
      FROM documents
    ),
    tagged AS (
      SELECT p.id_a, p.id_b, sa.is_train AS ta, sb.is_train AS tb
      FROM pos p
      JOIN s sa ON sa.doc_id = p.id_a
      JOIN s sb ON sb.doc_id = p.id_b
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN ta <> tb THEN 1 ELSE 0 END) AS BIGINT)
             AS n_straddling,
           CAST(SUM(CASE WHEN ta = 1 AND tb = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_within_train,
           CAST(SUM(CASE WHEN ta = 0 AND tb = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_within_test
    FROM tagged
    """


def curation_funnel_sql() -> str:
    """Twin of q231: the end-to-end curation funnel — quality gate,
    exact-dedup canonicals, pairwise keep-min near-dup drop, and the
    q193 mixture quota — one stage-count manifest per language."""
    q_min = "0.7"
    quality = (
        "round(0.4 * (CASE WHEN length(text) BETWEEN 100 AND 20000"
        " THEN 1.0 ELSE 0.5 END)"
        " + 0.4 * (CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))"
        " AS DOUBLE) / greatest(CAST(length(text) AS DOUBLE), 1.0))"
        " + 0.2 * (CASE WHEN (CAST(length(regexp_replace(text, '\\s+', '',"
        " 'g')) AS DOUBLE) / greatest(CASE WHEN trim(text) = '' THEN 0"
        " ELSE len(string_split_regex(trim(text), '\\s+')) END, 1))"
        " BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.5 END), 6)"
    )
    return f"""
    WITH qual AS (
      SELECT doc_id, text, lang, {quality} AS quality,
             sha256(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
      FROM documents
    ),
    passed AS (
      SELECT * FROM qual WHERE quality >= {q_min}
    ),
    canon AS (
      SELECT doc_id, text, lang FROM (
        SELECT doc_id, text, lang,
               ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM passed
      ) WHERE rn = 1
    ),
    {_minhash_pairs_core(src="canon")},
    dropped AS (
      SELECT DISTINCT id_b AS doc_id FROM pairs
      WHERE est_jaccard >= {MINHASH_THRESHOLD}
    ),
    kept AS (
      SELECT c.lang, c.doc_id FROM canon c
      WHERE NOT EXISTS (SELECT 1 FROM dropped d WHERE d.doc_id = c.doc_id)
    ),
    stage AS (
      SELECT d.lang,
             CAST(COUNT(*) AS BIGINT) AS n_raw,
             CAST(SUM(CASE WHEN q.quality >= {q_min} THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_quality
      FROM documents d JOIN qual q ON q.doc_id = d.doc_id
      GROUP BY d.lang
    ),
    cn AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_canonical
      FROM canon GROUP BY lang
    ),
    kp AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_neardup_kept
      FROM kept GROUP BY lang
    ),
    w AS (
      SELECT k.lang, k.n_neardup_kept, CAST(1 AS BIGINT) AS weight,
             CAST(SUM(1) OVER () AS BIGINT) AS total_weight
      FROM kp k
    ),
    cap AS (
      SELECT MIN(n_neardup_kept * total_weight // weight) AS t FROM w
    )
    SELECT s.lang, s.n_raw, s.n_quality, c.n_canonical, w.n_neardup_kept,
           w.weight * p.t // w.total_weight AS quota
    FROM stage s
    JOIN cn c ON c.lang = s.lang
    JOIN w ON w.lang = s.lang
    CROSS JOIN cap p
    ORDER BY s.lang
    """


def component_split_sql() -> str:
    """Twin of q258: GROUP-AWARE train/test split — the fix q227's
    leakage measurement motivates. Near-dup pairs close into connected
    components (the q66 recursive-CTE fixpoint), every document splits
    by a two-round LCG hash of its COMPONENT id (singletons hash their
    own doc_id), and the straddling-pair count is recomputed under the
    new split — zero by construction, verified not asserted."""
    (a1, b1), (a2, b2) = _hash_params(2, 31)
    m = _MOD
    h1 = f"(({a1} * ((comp % {m} + {m}) % {m}) + {b1}) % {m})"
    h2 = f"(({a2} * {h1} + {b2}) % {m})"
    return f"""
    WITH RECURSIVE {_minhash_pairs_core()},
    pos AS (
      SELECT id_a, id_b FROM pairs WHERE est_jaccard >= {MINHASH_THRESHOLD}
    ),
    sym AS (
      SELECT id_a AS src, id_b AS dst FROM pos
      UNION SELECT id_b, id_a FROM pos
    ),
    reach AS (
      SELECT src AS node, src AS r FROM sym
      UNION
      SELECT rr.node, s.dst AS r FROM reach rr JOIN sym s ON rr.r = s.src
    ),
    cc AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node),
    d AS (
      SELECT doc_id, COALESCE(cc.component, doc_id) AS comp
      FROM documents LEFT JOIN cc ON cc.node = doc_id
    ),
    s AS (
      SELECT doc_id, comp,
             CASE WHEN {h2} % 10 < 8 THEN 1 ELSE 0 END AS is_train
      FROM d
    ),
    a1_ AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(is_train) AS BIGINT) AS n_train,
             CAST(COUNT(*) - SUM(is_train) AS BIGINT) AS n_test,
             CAST(COUNT(DISTINCT comp) AS BIGINT) AS n_components
      FROM s
    ),
    tagged AS (
      SELECT p.id_a, p.id_b, sa.is_train AS ta, sb.is_train AS tb
      FROM pos p
      JOIN s sa ON sa.doc_id = p.id_a
      JOIN s sb ON sb.doc_id = p.id_b
    ),
    a2_ AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(CASE WHEN ta <> tb THEN 1 ELSE 0 END) AS BIGINT)
               AS n_straddling
      FROM tagged
    )
    SELECT n_docs, n_train, n_test, n_components, n_pairs, n_straddling
    FROM a1_ CROSS JOIN a2_
    """


def dup_span_coverage_sql() -> str:
    """Twin of q260: duplicated k-gram SPAN coverage per source — for
    every document, the fraction of its k-token shingle positions whose
    gram hash occurs in >= 2 distinct documents corpus-wide (the
    RefinedWeb-style 'duplicated n-gram coverage' dedup diagnostic),
    rolled up per source with a majority-duplicated doc count."""
    return f"""
    WITH th AS (
      SELECT doc_id, source, {_tok_hashes()} AS th FROM documents
    ),
    g AS (
      SELECT doc_id, source, {_grams(8, False)} AS grams FROM th
    ),
    s AS (
      SELECT doc_id, source, unnest(grams) AS gram FROM g
    ),
    dfreq AS (
      SELECT gram, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      FROM s GROUP BY gram
    ),
    per_doc AS (
      SELECT s.doc_id, s.source,
             CAST(COUNT(*) AS BIGINT) AS n_spans,
             CAST(SUM(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup
      FROM s JOIN dfreq d ON d.gram = s.gram
      GROUP BY s.doc_id, s.source
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_spans) AS BIGINT) AS n_spans,
           CAST(SUM(n_dup) AS BIGINT) AS n_dup_spans,
           CAST(SUM(n_dup) AS DOUBLE) / CAST(SUM(n_spans) AS DOUBLE)
             AS dup_span_share,
           CAST(SUM(CASE WHEN n_dup * 2 > n_spans THEN 1 ELSE 0 END)
                AS BIGINT) AS n_docs_majority_dup
    FROM per_doc GROUP BY source ORDER BY source
    """


def gate_agreement_sql() -> str:
    """Twin of q262: 2x2 agreement between the two quality gates the
    catalog already verifies separately — the q22 composite SCORE gate
    (>= 0.7) and the q235 Gopher REPETITION gate (distinct-token and
    top-bigram integer cross-multiplications, exactly the streaming
    build's ``doc_flags`` quality_pass) — per source."""
    return f"""
    WITH base AS (
      SELECT doc_id, source, text FROM documents
    ),
    d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM base),
    tok AS (
      SELECT doc_id, toks[i + 1] AS tok
      FROM (SELECT doc_id, unnest(range(len(toks))) AS i, toks FROM d)
    ),
    pt AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct_tokens
      FROM tok GROUP BY doc_id
    ),
    bg AS (
      SELECT doc_id, toks[i + 1] || ' ' || toks[i + 2] AS bg
      FROM (SELECT doc_id, unnest(range(len(toks) - 1)) AS i, toks FROM d)
    ),
    bgc AS (
      SELECT doc_id, bg, CAST(COUNT(*) AS BIGINT) AS c
      FROM bg GROUP BY doc_id, bg
    ),
    bs AS (
      SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_bigram_n,
             CAST(SUM(c) AS BIGINT) AS n_bigrams
      FROM bgc GROUP BY doc_id
    ),
    gates AS (
      SELECT b.source,
             CASE WHEN {_QUALITY_SQL} >= 0.7 THEN 1 ELSE 0 END
               AS pass_a,
             CASE WHEN ((p.n_tokens - p.n_distinct_tokens) * 2
                        > p.n_tokens)
                    OR (COALESCE(s.top_bigram_n, 0) * 5
                        > COALESCE(s.n_bigrams, 0))
                  THEN 0 ELSE 1 END AS pass_b
      FROM base b
      JOIN pt p ON p.doc_id = b.doc_id
      LEFT JOIN bs s ON s.doc_id = b.doc_id
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(pass_a) AS BIGINT) AS n_pass_score,
           CAST(SUM(pass_b) AS BIGINT) AS n_pass_repetition,
           CAST(SUM(pass_a * pass_b) AS BIGINT) AS n_both,
           CAST(SUM(pass_a * (1 - pass_b)) AS BIGINT) AS n_only_score,
           CAST(SUM((1 - pass_a) * pass_b) AS BIGINT) AS n_only_repetition,
           CAST(SUM((1 - pass_a) * (1 - pass_b)) AS BIGINT) AS n_neither,
           CAST(SUM(pass_a * pass_b + (1 - pass_a) * (1 - pass_b))
                AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS agreement_rate
    FROM gates GROUP BY source ORDER BY source
    """


def quality_dup_association_sql() -> str:
    """Twin of q263: per quality decile, the NEAR-duplicate membership
    rate (docs appearing in any MinHash pair) and its lift over the
    corpus rate — lift NULL-guarded for dup-free corpora."""
    return f"""
    WITH {_minhash_pairs_core()},
    pos AS (
      SELECT id_a, id_b FROM pairs WHERE est_jaccard >= {MINHASH_THRESHOLD}
    ),
    dup AS (
      SELECT DISTINCT doc_id FROM (
        SELECT id_a AS doc_id FROM pos
        UNION ALL SELECT id_b AS doc_id FROM pos
      )
    ),
    q AS (
      SELECT doc_id,
             least(CAST(floor({_QUALITY_SQL} * 10) AS BIGINT), 9) AS bucket
      FROM documents
    ),
    d AS (
      SELECT q.bucket,
             CASE WHEN dup.doc_id IS NULL THEN 0 ELSE 1 END AS is_dup
      FROM q LEFT JOIN dup ON dup.doc_id = q.doc_id
    ),
    b AS (
      SELECT bucket,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(is_dup) AS BIGINT) AS n_dup
      FROM d GROUP BY bucket
    ),
    tot AS (
      SELECT CAST(SUM(n_docs) AS BIGINT) AS n_all,
             CAST(SUM(n_dup) AS BIGINT) AS n_dup_all
      FROM b
    )
    SELECT bucket, n_docs, n_dup,
           CAST(n_dup AS DOUBLE) / CAST(n_docs AS DOUBLE) AS dup_rate,
           CASE WHEN n_dup_all = 0 THEN NULL
                ELSE (CAST(n_dup AS DOUBLE) / CAST(n_docs AS DOUBLE))
                     / (CAST(n_dup_all AS DOUBLE) / CAST(n_all AS DOUBLE))
           END AS lift
    FROM b CROSS JOIN tot ORDER BY bucket
    """


def ann_recall_sql() -> str:
    """Twin of q265: per-anchor recall@k of the IVF probe path against the
    exact brute-force ranking. Mirrors q45's machinery exactly — centroid
    seed = first 16 candidates by vec_id, assignment
    tie-break (cos DESC, cid DESC) = the kernel's
    reverse(array_sort(struct(cos, cid))), probe score = dot/ncv with
    tie-break cid ASC (Python's stable sorted), exact/approx top-k
    ordering (cos DESC, vec_id ASC). Every cosine is the sequential left
    fold (``_dot``), so rankings match Spark bit-for-bit."""
    n_queries = 8
    kk = 10
    return f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id >= {n_queries}
    ),
    q AS (
      SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < {n_queries}
    ),
    c AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
             v AS cv
      FROM e ORDER BY vec_id LIMIT 16
    ),
    cn AS (
      SELECT cid, cv,
             CASE WHEN sqrt({_dot("cv", "cv")}) = 0 THEN 1.0
                  ELSE sqrt({_dot("cv", "cv")}) END AS ncv
      FROM c
    ),
    assign AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, cn.cid,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 {_dot("e.v", "cn.cv")}
                   / (sqrt({_dot("e.v", "e.v")}) * cn.ncv) DESC,
                 cn.cid DESC) AS rn
        FROM e CROSS JOIN cn
      ) WHERE rn = 1
    ),
    probe AS (
      SELECT qid, cid FROM (
        SELECT q.qid, cn.cid,
               row_number() OVER (PARTITION BY q.qid
                 ORDER BY {_dot("q.qv", "cn.cv")} / cn.ncv DESC, cn.cid)
                 AS prn
        FROM q CROSS JOIN cn
      ) WHERE prn <= 4
    ),
    scored AS (
      SELECT q.qid, e.vec_id,
             {_dot("e.v", "q.qv")}
               / (sqrt({_dot("e.v", "e.v")}) * sqrt({_dot("q.qv", "q.qv")}))
               AS cos
      FROM e CROSS JOIN q
    ),
    exact AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY cos DESC, vec_id) AS rn
        FROM scored
      ) WHERE rn <= {kk}
    ),
    approx AS (
      SELECT qid, vec_id FROM (
        SELECT s.qid, s.vec_id,
               row_number() OVER (PARTITION BY s.qid
                                  ORDER BY s.cos DESC, s.vec_id) AS rn
        FROM scored s
        JOIN assign a ON s.vec_id = a.vec_id
        JOIN probe p ON p.qid = s.qid AND p.cid = a.cid
      ) WHERE rn <= {kk}
    )
    SELECT x.qid AS qid,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(SUM(CASE WHEN ap.vec_id IS NULL THEN 0 ELSE 1 END)
                AS BIGINT) AS n_hits,
           CAST(SUM(CASE WHEN ap.vec_id IS NULL THEN 0 ELSE 1 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS recall_at_k
    FROM exact x
    LEFT JOIN approx ap ON x.qid = ap.qid AND x.vec_id = ap.vec_id
    GROUP BY x.qid ORDER BY qid
    """


def silhouette_sql() -> str:
    """Twin of q266: simplified (centroid-distance) silhouette per
    cluster. Same deterministic seed + assignment ordering as q45/q265
    (first 16 by vec_id; cos DESC, cid DESC ties); the
    per-point score s = (cos1-cos2)/(1-cos2) is the same IEEE double on
    both engines, and the cluster mean aggregates QUANTIZED
    (round(s*1e6) through DECIMAL(38,0)) so the sum is order-independent
    and cross-engine exact below 2^53."""
    return f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    c AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
             v AS cv
      FROM e ORDER BY vec_id LIMIT 16
    ),
    cn AS (
      SELECT cid, cv,
             CASE WHEN sqrt({_dot("cv", "cv")}) = 0 THEN 1.0
                  ELSE sqrt({_dot("cv", "cv")}) END AS ncv
      FROM c
    ),
    sc AS (
      SELECT e.vec_id, cn.cid,
             {_dot("e.v", "cn.cv")}
               / (sqrt({_dot("e.v", "e.v")}) * cn.ncv) AS cos
      FROM e CROSS JOIN cn
    ),
    r AS (
      SELECT vec_id, cid, cos,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY cos DESC, cid DESC) AS rn
      FROM sc
    ),
    p AS (
      SELECT a.vec_id, a.cid, a.cos AS cos1, b.cos AS cos2
      FROM r a JOIN r b ON a.vec_id = b.vec_id AND b.rn = 2
      WHERE a.rn = 1
    ),
    s AS (
      SELECT cid,
             CASE WHEN CAST(1 AS DOUBLE) - cos2 = 0 THEN CAST(0 AS DOUBLE)
                  ELSE (cos1 - cos2) / (CAST(1 AS DOUBLE) - cos2)
             END AS sil
      FROM p
    )
    SELECT CAST(cid AS INTEGER) AS cid,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(SUM(CAST(round(sil * 1000000.0) AS DECIMAL(38,0)))
                AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) / 1000000.0 AS mean_silhouette
    FROM s GROUP BY cid ORDER BY cid
    """


def dsir_importance_sql() -> str:
    """Twin of q267: hashed-unigram DSIR-style importance scores. Token
    hashes are the portable char fold (``_tok_hashes`` ==
    textops.poly_token_hashes bit-for-bit); bucket weights quantize the
    target/background probability gap to integers (round(p*1e9), the
    same double divide+multiply+round on both engines), so every score
    is an exact BIGINT sum."""
    q = "CAST(1000000000 AS DOUBLE)"
    return f"""
    WITH toks AS (
      SELECT doc_id, lang, unnest({_tok_hashes()}) AS th
      FROM documents
    ),
    tb AS (SELECT doc_id, lang, th % 1024 AS bucket FROM toks),
    b AS (
      SELECT bucket,
             CAST(COUNT(*) AS BIGINT) AS n_bg,
             CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_t
      FROM tb GROUP BY bucket
    ),
    tot AS (
      SELECT CAST(SUM(n_bg) AS BIGINT) AS tot_bg,
             CAST(SUM(n_t) AS BIGINT) AS tot_t
      FROM b
    ),
    w AS (
      SELECT bucket,
             CAST(round(CAST(n_t AS DOUBLE) / CAST(tot_t AS DOUBLE) * {q})
                  AS BIGINT)
           - CAST(round(CAST(n_bg AS DOUBLE) / CAST(tot_bg AS DOUBLE) * {q})
                  AS BIGINT) AS w
      FROM b CROSS JOIN tot
    )
    SELECT tb.doc_id AS doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(w.w) AS BIGINT) AS dsir_score
    FROM tb JOIN w USING (bucket)
    GROUP BY tb.doc_id
    ORDER BY dsir_score DESC, doc_id
    LIMIT 20
    """


def ann_nprobe_sweep_sql() -> str:
    """Twin of q268: mean recall@k over the anchor set for each nprobe in
    a literal grid — q265's machinery with the probe rank kept as a
    column instead of filtered at a fixed nprobe. Same seed, folds and
    tie-breaks as q45/q265."""
    n_queries = 8
    kk = 10
    return f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id >= {n_queries}
    ),
    q AS (
      SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < {n_queries}
    ),
    c AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
             v AS cv
      FROM e ORDER BY vec_id LIMIT 16
    ),
    cn AS (
      SELECT cid, cv,
             CASE WHEN sqrt({_dot("cv", "cv")}) = 0 THEN 1.0
                  ELSE sqrt({_dot("cv", "cv")}) END AS ncv
      FROM c
    ),
    assign AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, cn.cid,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 {_dot("e.v", "cn.cv")}
                   / (sqrt({_dot("e.v", "e.v")}) * cn.ncv) DESC,
                 cn.cid DESC) AS rn
        FROM e CROSS JOIN cn
      ) WHERE rn = 1
    ),
    prank AS (
      SELECT q.qid, cn.cid,
             row_number() OVER (PARTITION BY q.qid
               ORDER BY {_dot("q.qv", "cn.cv")} / cn.ncv DESC, cn.cid)
               AS prn
      FROM q CROSS JOIN cn
    ),
    scored AS (
      SELECT q.qid, e.vec_id,
             {_dot("e.v", "q.qv")}
               / (sqrt({_dot("e.v", "e.v")}) * sqrt({_dot("q.qv", "q.qv")}))
               AS cos
      FROM e CROSS JOIN q
    ),
    exact AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY cos DESC, vec_id) AS rn
        FROM scored
      ) WHERE rn <= {kk}
    ),
    grid AS (SELECT unnest([1, 2, 4, 8]) AS nprobe),
    approx AS (
      SELECT nprobe, qid, vec_id FROM (
        SELECT g.nprobe, s.qid, s.vec_id,
               row_number() OVER (PARTITION BY s.qid, g.nprobe
                                  ORDER BY s.cos DESC, s.vec_id) AS rn
        FROM scored s
        JOIN assign a ON s.vec_id = a.vec_id
        JOIN prank p ON p.qid = s.qid AND p.cid = a.cid
        JOIN grid g ON p.prn <= g.nprobe
      ) WHERE rn <= {kk}
    ),
    xg AS (
      SELECT x.qid, x.vec_id, g.nprobe
      FROM exact x CROSS JOIN grid g
    )
    SELECT CAST(xg.nprobe AS BIGINT) AS nprobe,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(SUM(CASE WHEN ap.vec_id IS NULL THEN 0 ELSE 1 END)
                AS BIGINT) AS n_hits,
           CAST(SUM(CASE WHEN ap.vec_id IS NULL THEN 0 ELSE 1 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS mean_recall
    FROM xg
    LEFT JOIN approx ap
      ON xg.qid = ap.qid AND xg.vec_id = ap.vec_id AND xg.nprobe = ap.nprobe
    GROUP BY xg.nprobe ORDER BY nprobe
    """


def hard_negative_sql() -> str:
    """Twin of q269: per-anchor top-k different-label neighbors inside
    hyperplane-LSH buckets (the q40/q226 planes; plane COUNT from the
    adaptive COUNT(*) CASE ladder, ``_adaptive_np_cte``), as a bucket
    self-join + per-anchor window — rankings match the Spark kernel's
    dim-sequential gram matrix bit-for-bit."""
    planes = simhash_planes(EMBEDDING_DIM, GRAM_MAX_PLANES, 7)
    return f"""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings
    ),
    {_adaptive_np_cte()},
    be AS (
      SELECT vec_id, label, v,
             substr({_bucket_expr("v", planes)}, 1, np) AS bucket,
             sqrt({_dot("v", "v")}) AS nrm
      FROM e CROSS JOIN nps
    ),
    pairs AS (
      SELECT a.vec_id, a.label, b.vec_id AS neg_id, b.label AS neg_label,
             {_dot("a.v", "b.v")} / (a.nrm * b.nrm) AS cos
      FROM be a JOIN be b ON a.bucket = b.bucket AND a.label <> b.label
    ),
    r AS (
      SELECT vec_id, label, neg_id, neg_label,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY cos DESC, neg_id) AS neg_rank
      FROM pairs
    )
    SELECT vec_id, CAST(label AS BIGINT) AS label, neg_id,
           CAST(neg_label AS BIGINT) AS neg_label,
           CAST(neg_rank AS BIGINT) AS neg_rank
    FROM r WHERE neg_rank <= 3
    ORDER BY vec_id, neg_rank
    """


def jl_projection_sql() -> str:
    """Twin of q270: Johnson-Lindenstrauss distortion audit. The
    projection planes are the deterministic LCG constants of
    similarity.simhash_planes(EMBEDDING_DIM, k_proj, 13); squared
    distances are sequential left folds over explicit element
    differences (list_reduce == F.aggregate bit-for-bit); the per-bucket
    mean ratio aggregates QUANTIZED (round(r*1e6) through
    DECIMAL(38,0))."""
    k_proj = 16
    planes = simhash_planes(EMBEDDING_DIM, k_proj, 13)
    proj_items = ", ".join(_dot("v", _plane_lit(p)) for p in planes)
    return f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    p AS (
      SELECT vec_id, v, [{proj_items}] AS pv FROM e
    ),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             {_sq_diff_fold("a.v", "b.v", "len(a.v)")} AS sq_orig,
             {_sq_diff_fold("a.pv", "b.pv", str(k_proj))} AS sq_proj
      FROM p a JOIN p b ON b.vec_id = a.vec_id + 1
    ),
    r AS (
      SELECT sq_proj * CAST(3 AS DOUBLE) / CAST({k_proj} AS DOUBLE)
               / sq_orig AS ratio
      FROM pairs WHERE sq_orig > 0
    ),
    b AS (
      SELECT least(CAST(floor(ratio * CAST(10 AS DOUBLE)) AS BIGINT),
                   29) AS bucket,
             ratio
      FROM r
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CAST(round(ratio * 1000000.0) AS DECIMAL(38,0)))
                AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) / 1000000.0 AS mean_ratio
    FROM b GROUP BY bucket ORDER BY bucket
    """


def _plane_lit(p) -> str:
    return "(" + "[" + ", ".join(repr(float(x)) for x in p) + "]" + ")"


def _sq_diff_fold(a: str, b: str, n: str) -> str:
    """Sequential left fold of squared element differences — the DuckDB
    twin of F.aggregate(zip_with(a, b, (x,y)->(x-y)*(x-y)), 0.0, +)."""
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, {n}+1), "
        f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))), "
        f"(acc, x) -> acc + x)"
    )


def ks_drift_sql() -> str:
    """Twin of q271: per-source two-sample Kolmogorov-Smirnov statistic
    (source vs rest-of-corpus) over the doc-length histogram. The sup
    |CDF gap| maximizes EXACT cross-multiplied integers
    (|cum_s*n_rest - cum_rest*n_s| in DECIMAL(38,0)) so the argmax is
    order-free on both engines; only the final normalization divides in
    double."""
    n_buckets = 50
    return f"""
    WITH d AS (
      SELECT source,
             least(n_chars // 100, {n_buckets - 1}) AS bucket
      FROM documents
    ),
    h AS (
      SELECT source, bucket, CAST(COUNT(*) AS BIGINT) AS n
      FROM d GROUP BY source, bucket
    ),
    tb AS (
      SELECT bucket, CAST(SUM(n) AS BIGINT) AS n_all FROM h GROUP BY bucket
    ),
    grid AS (
      SELECT s.source, g.bucket
      FROM (SELECT DISTINCT source FROM h) s
      CROSS JOIN (SELECT unnest(range(0, {n_buckets})) AS bucket) g
    ),
    dense AS (
      SELECT grid.source, grid.bucket,
             COALESCE(h.n, 0) AS n,
             COALESCE(tb.n_all, 0) AS n_all
      FROM grid
      LEFT JOIN h ON h.source = grid.source AND h.bucket = grid.bucket
      LEFT JOIN tb ON tb.bucket = grid.bucket
    ),
    cum AS (
      SELECT source, bucket,
             CAST(SUM(n) OVER (PARTITION BY source ORDER BY bucket)
                  AS BIGINT) AS cum_s,
             CAST(SUM(n_all) OVER (PARTITION BY source ORDER BY bucket)
                  AS BIGINT) AS cum_all,
             CAST(SUM(n) OVER (PARTITION BY source) AS BIGINT) AS n_s,
             CAST(SUM(n_all) OVER (PARTITION BY source) AS BIGINT) AS n_tot
      FROM dense
    ),
    diffs AS (
      SELECT source, n_s, n_tot - n_s AS n_rest,
             abs(CAST(cum_s AS DECIMAL(19,0))
                   * CAST(n_tot - n_s AS DECIMAL(19,0))
                 - CAST(cum_all - cum_s AS DECIMAL(19,0))
                   * CAST(n_s AS DECIMAL(19,0))) AS num
      FROM cum
    )
    SELECT source,
           CAST(n_s AS BIGINT) AS n_docs,
           CAST(MAX(num) AS DOUBLE)
             / (CAST(n_s AS DOUBLE) * CAST(n_rest AS DOUBLE)) AS ks_stat
    FROM diffs
    WHERE n_rest > 0
    GROUP BY source, n_s, n_rest
    ORDER BY source
    """


def dedup_threshold_sweep_sql() -> str:
    """Twin of q272: near-dup pair volume and affected-doc counts at a
    grid of Jaccard cuts, all read off ONE banded MinHash pass (q38's
    machinery at a low base threshold). Estimates are exact dyadic
    rationals (matches/32), so every cut comparison is exact on both
    engines."""
    cuts = "[8, 12, 16, 20, 24, 28]"
    return f"""
    WITH {_minhash_pairs_core()},
    kept AS (
      SELECT id_a, id_b, est_jaccard FROM pairs
      WHERE est_jaccard >= 0.25
    ),
    grid AS (SELECT unnest({cuts}) AS cut),
    pt AS (
      SELECT g.cut, kp.id_a, kp.id_b
      FROM kept kp JOIN grid g
        ON kp.est_jaccard >= CAST(g.cut AS DOUBLE)
                               / CAST({MINHASH_NUM_HASHES} AS DOUBLE)
    ),
    np AS (
      SELECT cut, CAST(COUNT(*) AS BIGINT) AS n_pairs FROM pt GROUP BY cut
    ),
    nd AS (
      SELECT cut, CAST(COUNT(*) AS BIGINT) AS n_docs FROM (
        SELECT DISTINCT cut, id FROM (
          SELECT cut, unnest([id_a, id_b]) AS id FROM pt
        )
      ) GROUP BY cut
    )
    SELECT CAST(np.cut AS BIGINT) AS cut,
           CAST(np.cut AS DOUBLE) / CAST({MINHASH_NUM_HASHES} AS DOUBLE)
             AS threshold,
           np.n_pairs, nd.n_docs
    FROM np JOIN nd ON np.cut = nd.cut
    ORDER BY cut
    """


def source_neardup_matrix_sql() -> str:
    """Twin of q273: the source-to-source near-duplication flow matrix
    (q38's banded pairs, each mapped to its unordered source pair) with
    expected-count lift. Counts are exact integers; lift divides exact
    doubles in pinned order."""
    return f"""
    WITH {_minhash_pairs_core()},
    kept AS (
      SELECT id_a, id_b FROM pairs WHERE est_jaccard >= {MINHASH_THRESHOLD}
    ),
    sp AS (
      SELECT least(da.source, db.source) AS src_lo,
             greatest(da.source, db.source) AS src_hi
      FROM kept
      JOIN documents da ON da.doc_id = kept.id_a
      JOIN documents db ON db.doc_id = kept.id_b
    ),
    m AS (
      SELECT src_lo, src_hi, CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM sp GROUP BY src_lo, src_hi
    ),
    tot AS (
      SELECT CAST(SUM(n_pairs) AS BIGINT) AS n_all FROM m
    ),
    sz AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source
    ),
    corpus AS (
      SELECT CAST(SUM(n_docs) AS BIGINT) AS n_corpus FROM sz
    )
    SELECT m.src_lo, m.src_hi, m.n_pairs,
           CAST(m.n_pairs AS DOUBLE) / CAST(tot.n_all AS DOUBLE)
             / (
               (CAST(a.n_docs AS DOUBLE) / CAST(corpus.n_corpus AS DOUBLE))
                 * (CAST(b.n_docs AS DOUBLE) / CAST(corpus.n_corpus AS DOUBLE))
                 * (CASE WHEN m.src_lo = m.src_hi THEN CAST(1 AS DOUBLE)
                         ELSE CAST(2 AS DOUBLE) END)
             ) AS lift
    FROM m
    JOIN sz a ON a.source = m.src_lo
    JOIN sz b ON b.source = m.src_hi
    CROSS JOIN tot CROSS JOIN corpus
    ORDER BY src_lo, src_hi
    """


def dedup_mixture_shift_sql() -> str:
    """Twin of q274: how exact dedup (q23's normalized sha256, keep
    min-doc_id representative) moves the temperature-scaled mixture
    weights (q255's sqrt-exact alpha=0.5 machinery, normalizers folded
    in pinned source order)."""
    fold = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(list(struct_pack(source := source, "
        "sq := sqrt(CAST({col} AS DOUBLE))) ORDER BY source), "
        "x -> x.sq)), (acc, x) -> acc + x)"
    )
    return f"""
    WITH d AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
             sha256(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
               AS fp
      FROM documents
    ),
    rep AS (SELECT MIN(doc_id) AS doc_id FROM d GROUP BY fp),
    kept AS (SELECT d.* FROM d JOIN rep ON d.doc_id = rep.doc_id),
    raw AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs_raw,
             CAST(SUM(n_toks) AS BIGINT) AS tok_raw
      FROM d GROUP BY source
    ),
    kp AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
             CAST(SUM(n_toks) AS BIGINT) AS tok_kept
      FROM kept GROUP BY source
    ),
    s AS (
      SELECT raw.source, raw.n_docs_raw,
             COALESCE(kp.n_docs_kept, 0) AS n_docs_kept,
             raw.tok_raw, COALESCE(kp.tok_kept, 0) AS tok_kept
      FROM raw LEFT JOIN kp ON raw.source = kp.source
    ),
    t AS (
      SELECT {fold.format(col="tok_raw")} AS tot_raw,
             {fold.format(col="tok_kept")} AS tot_kept
      FROM s
    )
    SELECT source, n_docs_raw, n_docs_kept, tok_raw, tok_kept,
           sqrt(CAST(tok_raw AS DOUBLE)) / tot_raw AS w_raw,
           sqrt(CAST(tok_kept AS DOUBLE)) / tot_kept AS w_kept,
           sqrt(CAST(tok_kept AS DOUBLE)) / tot_kept
             - sqrt(CAST(tok_raw AS DOUBLE)) / tot_raw AS w_delta
    FROM s CROSS JOIN t ORDER BY source
    """


def spearman_quality_length_sql() -> str:
    """Twin of q276: tie-corrected Spearman over the bucketed joint
    histogram — 2x-scaled integer midranks, DECIMAL(38,0)-staged integer
    moments, one closed-form double at the end. Quality is the canonical
    q22 expression (``_QUALITY_SQL``)."""
    return f"""
    WITH d AS (
      SELECT least(CAST(floor({_QUALITY_SQL} * 10) AS BIGINT), 9) AS qb,
             least(n_chars // 100, 49) AS lb
      FROM documents
    ),
    cells AS (
      SELECT qb, lb, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY qb, lb
    ),
    mx AS (
      SELECT qb, CAST(SUM(n) AS BIGINT) AS nq FROM cells GROUP BY qb
    ),
    rx AS (
      SELECT qb,
             2 * CAST(COALESCE(SUM(nq) OVER (ORDER BY qb
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) + nq + 1 AS rx2
      FROM mx
    ),
    my AS (
      SELECT lb, CAST(SUM(n) AS BIGINT) AS nl FROM cells GROUP BY lb
    ),
    ry AS (
      SELECT lb,
             2 * CAST(COALESCE(SUM(nl) OVER (ORDER BY lb
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) + nl + 1 AS ry2
      FROM my
    ),
    m AS (
      SELECT CAST(SUM(CAST(c.n AS DECIMAL(38,0))) AS DOUBLE) AS nn,
             CAST(SUM(CAST(c.n * rx.rx2 AS DECIMAL(38,0))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(c.n * ry.ry2 AS DECIMAL(38,0))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(c.n * rx.rx2 * rx.rx2 AS DECIMAL(38,0)))
                  AS DOUBLE) AS sxx,
             CAST(SUM(CAST(c.n * ry.ry2 * ry.ry2 AS DECIMAL(38,0)))
                  AS DOUBLE) AS syy,
             CAST(SUM(CAST(c.n * rx.rx2 * ry.ry2 AS DECIMAL(38,0)))
                  AS DOUBLE) AS sxy
      FROM cells c
      JOIN rx ON rx.qb = c.qb
      JOIN ry ON ry.lb = c.lb
    )
    SELECT CAST(nn AS BIGINT) AS n_docs,
           (nn * sxy - sx * sy)
             / sqrt((nn * sxx - sx * sx) * (nn * syy - sy * sy))
             AS spearman_rho
    FROM m
    """


def lsh_multiprobe_sweep_sql() -> str:
    """Twin of q277: recall@k of hyperplane-LSH retrieval as the probe
    count m rises over a literal grid {1, 2, 4} at a FIXED index
    (6 planes) — the multi-probe mitigation for a failing q265-style
    recall audit. Probe j>1 flips the plane with the (j-1)-th smallest
    |margin| (|dot(qv, plane)|, plane-index ties) in the anchor's exact
    code — `with_hyperplane_bucket(multiprobe=m)`'s order. Every margin
    and cosine is the sequential left fold (`_dot`), so probe codes and
    rankings match Spark bit-for-bit."""
    n_queries = 8
    n_planes = 6
    kk = 10
    planes = simhash_planes(EMBEDDING_DIM, n_planes, 7)
    planes_lit = (
        "["
        + ", ".join(
            "[" + ", ".join(repr(float(x)) for x in p) + "]" for p in planes
        )
        + "]"
    )
    max_flips = 3  # max(grid) - 1
    return f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id >= {n_queries}
    ),
    q AS (
      SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < {n_queries}
    ),
    be AS (
      SELECT vec_id, {_bucket_expr("v", planes)} AS code FROM e
    ),
    qd AS (
      SELECT qid, qv, {_bucket_expr("qv", planes)} AS code FROM q
    ),
    pd AS (
      SELECT unnest(range(0, {n_planes})) AS ix,
             unnest({planes_lit}) AS pl
    ),
    fr AS (
      SELECT qid, ix,
             row_number() OVER (PARTITION BY qid
               ORDER BY abs({_dot("qv", "pl")}), ix) AS frank
      FROM qd CROSS JOIN pd
    ),
    prb AS (
      SELECT qid, CAST(1 AS BIGINT) AS prn, code FROM qd
      UNION ALL
      SELECT fr.qid, CAST(fr.frank + 1 AS BIGINT) AS prn,
             substr(qd.code, 1, CAST(fr.ix AS INTEGER))
               || (CASE WHEN substr(qd.code, CAST(fr.ix + 1 AS INTEGER), 1)
                             = '1'
                        THEN '0' ELSE '1' END)
               || substr(qd.code, CAST(fr.ix + 2 AS INTEGER)) AS code
      FROM fr JOIN qd ON qd.qid = fr.qid
      WHERE fr.frank <= {max_flips}
    ),
    scored AS (
      SELECT q.qid, e.vec_id,
             {_dot("e.v", "q.qv")}
               / (sqrt({_dot("e.v", "e.v")}) * sqrt({_dot("q.qv", "q.qv")}))
               AS cos
      FROM e CROSS JOIN q
    ),
    exact AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY cos DESC, vec_id) AS rn
        FROM scored
      ) WHERE rn <= {kk}
    ),
    candm AS (
      SELECT p.prn, s.qid, s.vec_id, s.cos
      FROM scored s
      JOIN be ON be.vec_id = s.vec_id
      JOIN prb p ON p.qid = s.qid AND p.code = be.code
    ),
    grid AS (SELECT unnest([1, 2, 4]) AS m),
    approx AS (
      SELECT m, qid, vec_id FROM (
        SELECT g.m, c.qid, c.vec_id,
               row_number() OVER (PARTITION BY c.qid, g.m
                                  ORDER BY c.cos DESC, c.vec_id) AS rn
        FROM candm c JOIN grid g ON c.prn <= g.m
      ) WHERE rn <= {kk}
    ),
    ncand AS (
      SELECT g.m, CAST(COUNT(*) AS BIGINT) AS n_cand
      FROM candm c JOIN grid g ON c.prn <= g.m GROUP BY g.m
    ),
    xg AS (SELECT x.qid, x.vec_id, g.m FROM exact x CROSS JOIN grid g)
    SELECT CAST(xg.m AS BIGINT) AS m,
           COALESCE(nc.n_cand, 0) AS n_cand,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(SUM(CASE WHEN ap.vec_id IS NULL THEN 0 ELSE 1 END)
                AS BIGINT) AS n_hits,
           CAST(SUM(CASE WHEN ap.vec_id IS NULL THEN 0 ELSE 1 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS mean_recall
    FROM xg
    LEFT JOIN approx ap
      ON ap.qid = xg.qid AND ap.vec_id = xg.vec_id AND ap.m = xg.m
    LEFT JOIN ncand nc ON nc.m = xg.m
    GROUP BY xg.m, nc.n_cand
    ORDER BY m
    """


def dedup_threshold_decision_sql() -> str:
    """Twin of q278: the dedup-economics CAPSTONE — pick the most
    aggressive Jaccard cut whose near-dup dedup still keeps at least
    the token budget (4/5 of raw tokens), then emit
    the post-dedup temperature mixture weights at that cut. Composition
    of verified stages: q272's one-pass banded MinHash sweep (exact
    dyadic estimates), the keep-min-neighbor drop rule (doc dropped iff
    it is the GREATER id of any pair at the cut), q274's sqrt-fold
    mixture weights. Every decision comparison is integer-exact."""
    cuts = [8, 12, 16, 20, 24, 28]
    cuts_lit = "[" + ", ".join(str(c) for c in cuts) + "]"
    max_cut = max(cuts)
    fold = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(list(struct_pack(source := source, "
        "sq := sqrt(CAST({col} AS DOUBLE))) ORDER BY source), "
        "x -> x.sq)), (acc, x) -> acc + x)"
    )
    return f"""
    WITH {_minhash_pairs_core()},
    d AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
      FROM documents
    ),
    tot AS (SELECT CAST(SUM(n_toks) AS BIGINT) AS t FROM d),
    grid AS (SELECT unnest({cuts_lit}) AS cut),
    pt AS (
      SELECT g.cut, p.id_b
      FROM pairs p JOIN grid g
        ON p.est_jaccard >= CAST(g.cut AS DOUBLE)
                              / CAST({MINHASH_NUM_HASHES} AS DOUBLE)
      WHERE p.est_jaccard >= 0.25
    ),
    dropped AS (SELECT DISTINCT cut, id_b AS doc_id FROM pt),
    dtok AS (
      SELECT dr.cut, CAST(SUM(d.n_toks) AS BIGINT) AS drop_tok
      FROM dropped dr JOIN d ON d.doc_id = dr.doc_id GROUP BY dr.cut
    ),
    ktab AS (
      SELECT g.cut,
             CAST(tot.t - COALESCE(dt.drop_tok, 0) AS BIGINT) AS kept_tok
      FROM grid g LEFT JOIN dtok dt ON dt.cut = g.cut CROSS JOIN tot
    ),
    budget AS (
      SELECT CAST((4 * t) // 5 AS BIGINT) AS b
      FROM tot
    ),
    chosen AS (
      SELECT COALESCE(
               MIN(CASE WHEN kt.kept_tok >= budget.b THEN kt.cut END),
               {max_cut}) AS cut
      FROM ktab kt CROSS JOIN budget
    ),
    drop_c AS (
      SELECT dr.doc_id FROM dropped dr JOIN chosen c ON dr.cut = c.cut
    ),
    kept AS (
      SELECT d.* FROM d LEFT JOIN drop_c ON d.doc_id = drop_c.doc_id
      WHERE drop_c.doc_id IS NULL
    ),
    raw AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs_raw,
             CAST(SUM(n_toks) AS BIGINT) AS tok_raw
      FROM d GROUP BY source
    ),
    kp AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
             CAST(SUM(n_toks) AS BIGINT) AS tok_kept
      FROM kept GROUP BY source
    ),
    s AS (
      SELECT raw.source, raw.n_docs_raw,
             COALESCE(kp.n_docs_kept, 0) AS n_docs_kept,
             raw.tok_raw, COALESCE(kp.tok_kept, 0) AS tok_kept
      FROM raw LEFT JOIN kp ON raw.source = kp.source
    ),
    t2 AS (
      SELECT {fold.format(col="tok_raw")} AS tot_raw,
             {fold.format(col="tok_kept")} AS tot_kept
      FROM s
    ),
    ksum AS (SELECT CAST(SUM(tok_kept) AS BIGINT) AS kept_total FROM s)
    SELECT s.source, s.n_docs_raw, s.n_docs_kept, s.tok_raw, s.tok_kept,
           sqrt(CAST(s.tok_raw AS DOUBLE)) / t2.tot_raw AS w_raw,
           sqrt(CAST(s.tok_kept AS DOUBLE)) / t2.tot_kept AS w_kept,
           CAST(chosen.cut AS BIGINT) AS chosen_cut,
           CAST(chosen.cut AS DOUBLE) / CAST({MINHASH_NUM_HASHES} AS DOUBLE)
             AS threshold,
           budget.b AS budget_tokens,
           ksum.kept_total AS kept_tokens_total
    FROM s CROSS JOIN t2 CROSS JOIN chosen CROSS JOIN budget
    CROSS JOIN ksum
    ORDER BY source
    """


def crosslingual_neardup_sql() -> str:
    """Twin of q281: cross-lingual embedding near-dup mining. Docs join
    their embedding row (vec_id == doc_id), bucket by random-hyperplane
    sign bits (sequential-fold dots, identical plane literals; plane
    COUNT from the adaptive COUNT(*) CASE ladder over the embeddings
    table, ``_adaptive_np_cte``), and every same-bucket
    different-language pair gets an exact fold cosine (per-row norms,
    the cosine_pairs_blocked arithmetic). Per ordered language pair:
    candidate count, counts at the 0.80/0.90/0.95 rounded thresholds,
    and the DECIMAL-staged mean cosine."""
    planes = simhash_planes(EMBEDDING_DIM, GRAM_MAX_PLANES, 7)
    return f"""
    WITH e AS (
      SELECT d.doc_id AS id, d.lang, CAST(em.embedding AS DOUBLE[]) AS v
      FROM documents d JOIN embeddings em ON em.vec_id = d.doc_id
    ),
    {_adaptive_np_cte()},
    b AS (
      SELECT id, lang, v, sqrt({_dot("v", "v")}) AS nrm,
             substr({_bucket_expr("v", planes)}, 1, np) AS bucket
      FROM e CROSS JOIN nps
    ),
    p AS (
      SELECT least(a.lang, b2.lang) AS lang_lo,
             greatest(a.lang, b2.lang) AS lang_hi,
             round({_dot("a.v", "b2.v")} / (a.nrm * b2.nrm), 6) AS cos
      FROM b a JOIN b b2
        ON a.bucket = b2.bucket AND a.id < b2.id AND a.lang <> b2.lang
    )
    SELECT lang_lo, lang_hi,
           CAST(COUNT(*) AS BIGINT) AS n_cand,
           CAST(SUM(CASE WHEN cos >= 8.0e-1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_ge_80,
           CAST(SUM(CASE WHEN cos >= 9.0e-1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_ge_90,
           CAST(SUM(CASE WHEN cos >= 9.5e-1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_ge_95,
           CAST(SUM(CAST(cos AS DECIMAL(18,6))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS mean_cos
    FROM p GROUP BY lang_lo, lang_hi ORDER BY lang_lo, lang_hi
    """


# Parity-critical whitespace normalization — the single SQL-side twin of
# textops.normalize_ws (round-8 ADVICE: the expression had been copy-pasted
# at ~8 sites right after the Spark side centralized it for the same drift
# hazard). Interpolate THIS, never restate the expression.
_NORM_SQL = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"


def _cdc_char_ctes(
    cols: str = "doc_id, source",
    tag: str = "",
    pred: str = "",
    materialized: bool = False,
) -> str:
    """``d{tag}``/``ch{tag}``: whitespace-normalize the text and expand
    it to the per-char BIGINT code array every CDC chunking twin folds
    over — the shared front of the five near-identical chunking chains
    (q282/q286/q287/q288/q289/q290)."""
    where = f" WHERE {pred}" if pred else ""
    mat = " MATERIALIZED" if materialized else ""
    return f"""d{tag} AS (
      SELECT {cols}, {_NORM_SQL} AS t FROM documents{where}
    ),
    ch{tag} AS{mat} (
      SELECT {cols}, length(t) AS n,
             list_transform(range(1, length(t) + 1),
               i -> CAST(ord(substr(t, i, 1)) AS BIGINT)) AS c
      FROM d{tag} WHERE length(t) > 0
    )"""


def _cdc_cut_ctes(
    w: int,
    mask: int,
    cols: str = "doc_id, source",
    tag: str = "",
    src_tag: str | None = None,
    with_pos: bool = False,
) -> str:
    """``cu{tag}``/``bd{tag}``/``ck{tag}``: rolling-hash cut points (a
    cut after every position whose trailing ``w``-char Horner window
    hash is 0 mod ``mask``) over ``ch{src_tag or tag}(cols, n, c)``,
    ending in one row per non-empty chunk with its ``k`` struct
    (Horner fp, capped length[, position])."""
    src_cte = f"ch{tag if src_tag is None else src_tag}"
    pos_field = ",\n                        pos := j" if with_pos else ""
    return f"""cu{tag} AS (
      SELECT {cols}, n, c,
             list_filter(range({w}, n + 1),
               i -> list_reduce(list_prepend(CAST(0 AS BIGINT),
                      list_transform(range(i - {w} + 1, i + 1), j -> c[j])),
                    (acc, x) -> (acc * 31 + x) % {_MOD}) % {mask} = 0) AS cuts
      FROM {src_cte}
    ),
    bd{tag} AS (
      SELECT {cols}, c,
             list_concat(list_prepend(CAST(0 AS BIGINT), cuts),
                         [CAST(n AS BIGINT)]) AS bs
      FROM cu{tag}
    ),
    ck{tag} AS (
      SELECT {cols},
             unnest(list_filter(
               list_transform(range(1, len(bs)),
                 j -> struct_pack(
                        fp := list_reduce(
                                list_prepend(CAST(0 AS BIGINT),
                                             c[bs[j] + 1:bs[j + 1]]),
                                (acc, x) -> (acc * 31 + x) % {_MOD}),
                        ln := bs[j + 1] - bs[j]{pos_field})),
               s -> s.ln > 0)) AS k
      FROM bd{tag}
    )"""


def cdc_chunk_dedup_sql() -> str:
    """Twin of q282: content-defined chunking recomputed with list ops.
    Same normalization as winnowing; a cut lands after every position
    whose trailing 16-char Horner window hash (base 31 mod Mersenne-31)
    is 0 mod 64; each non-empty chunk packs its own Horner fold
    with its (capped) length; duplication is counted corpus-wide on the
    packed identity. All integer arithmetic — bit-identical to the
    Arrow kernel (modular equality of the stepwise and exponent-weight
    folds). UNITS: the ``*_chars`` columns count whitespace-normalized
    CHARACTERS (ord-based), per-chunk length capped at 2^21-1 by the
    packed encoding — same on both engines."""
    return f"""
    WITH {_cdc_char_ctes()},
    {_cdc_cut_ctes(16, 64)},
    r AS (
      SELECT source,
             k.fp * 2097152 + least(k.ln, 2097151) AS packed,
             least(k.ln, 2097151) AS ln
      FROM ck
    ),
    df AS (SELECT packed, COUNT(*) AS cnt FROM r GROUP BY packed)
    SELECT r.source,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(COUNT(DISTINCT r.packed) AS BIGINT) AS n_distinct_chunks,
           CAST(SUM(r.ln) AS BIGINT) AS raw_chars,
           CAST(SUM(CASE WHEN df.cnt >= 2 THEN r.ln ELSE 0 END) AS BIGINT)
             AS dup_chunk_chars,
           CAST(CAST(SUM(CASE WHEN df.cnt >= 2 THEN r.ln ELSE 0 END)
                     AS BIGINT) AS DOUBLE)
             / CAST(CAST(SUM(r.ln) AS BIGINT) AS DOUBLE) AS dup_char_share
    FROM r JOIN df ON r.packed = df.packed
    GROUP BY r.source ORDER BY r.source
    """


CDC_ECON_GRID = ((8, 64), (16, 16), (16, 64), (16, 256))


def cdc_chunk_economics_sql() -> str:
    """Twin of q287: the q282 CDC machinery swept over a (w, mask) grid
    off the ONE shared normalized-char array (``ch AS MATERIALIZED``) —
    per setting, corpus-wide chunk counts, duplicate-char mass, and mean
    chunk size, so the block store picks its chunk size from data. Same
    integer arithmetic as ``cdc_chunk_dedup_sql``; UNITS are
    whitespace-normalized characters with the 2^21-1 per-chunk cap."""
    parts = [_cdc_char_ctes(cols="doc_id", materialized=True)]
    sels = []
    for gi, (w, mask) in enumerate(CDC_ECON_GRID):
        parts.append(
            _cdc_cut_ctes(w, mask, cols="doc_id", tag=str(gi), src_tag="")
            + f""",
    df{gi} AS (
      SELECT k.fp * 2097152 + least(k.ln, 2097151) AS packed,
             least(k.ln, 2097151) AS ln, COUNT(*) AS cnt
      FROM ck{gi} GROUP BY 1, 2
    ),
    ag{gi} AS (
      SELECT CAST({w} AS BIGINT) AS w, CAST({mask} AS BIGINT) AS mask,
             CAST(SUM(cnt) AS BIGINT) AS n_chunks,
             CAST(COUNT(*) AS BIGINT) AS n_distinct_chunks,
             CAST(SUM(ln * cnt) AS BIGINT) AS raw_chars,
             CAST(SUM(CASE WHEN cnt >= 2 THEN ln * cnt ELSE 0 END)
                  AS BIGINT) AS dup_chunk_chars
      FROM df{gi}
    )"""
        )
        sels.append(f"SELECT * FROM ag{gi}")
    ctes = ",\n    ".join(parts)
    union = " UNION ALL ".join(sels)
    return f"""
    WITH {ctes}
    SELECT w, mask, n_chunks, n_distinct_chunks, raw_chars, dup_chunk_chars,
           CAST(dup_chunk_chars AS DOUBLE) / CAST(raw_chars AS DOUBLE)
             AS dup_char_share,
           CAST(raw_chars AS DOUBLE) / CAST(n_chunks AS DOUBLE)
             AS mean_chunk_chars
    FROM ({union}) u
    ORDER BY w, mask
    """


def cdc_growing_ingest_sql() -> str:
    """Twin of q288: growing-store CDC ingest over the whole corpus.
    Batch semantics = GLOBAL sequential first-occurrence: a chunk
    instance is new iff no instance of the same packed identity occurs
    at a smaller (doc_id, chunk position) — exactly what the streaming
    side's store-membership + within-batch MIN(doc_id, pos) keeper
    computes under ascending-doc_id arrival (any batching of an ordered
    backlog; pinned by the stream==batch test). Same CDC integer
    arithmetic as ``cdc_chunk_dedup_sql``. UNITS: whitespace-normalized
    characters, 2^21-1 per-chunk cap."""
    return f"""
    WITH {_cdc_char_ctes()},
    {_cdc_cut_ctes(16, 64, with_pos=True)},
    r AS (
      SELECT doc_id, source, k.pos AS pos,
             k.fp * 2097152 + least(k.ln, 2097151) AS packed,
             least(k.ln, 2097151) AS ln
      FROM ck
    ),
    fo AS (
      SELECT source, doc_id, ln,
             CASE WHEN ROW_NUMBER() OVER (PARTITION BY packed
                                          ORDER BY doc_id, pos) = 1
                  THEN 0 ELSE 1 END AS is_dup
      FROM r
    )
    SELECT source,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(1 - is_dup) AS BIGINT) AS new_chunks,
           CAST(SUM(is_dup) AS BIGINT) AS dup_chunks,
           CAST(SUM((1 - is_dup) * ln) AS BIGINT) AS new_chars,
           CAST(SUM(is_dup * ln) AS BIGINT) AS dup_chars,
           CAST(SUM(is_dup * ln) AS DOUBLE)
             / CAST(SUM(ln) AS DOUBLE) AS dup_char_share
    FROM fo GROUP BY source ORDER BY source
    """


def boilerplate_chunks_sql() -> str:
    """Twin of q289: a CDC chunk identity present in >= ``min_sources``
    DISTINCT sources is boilerplate (shared headers/footers/disclaimers
    — template mass, not content); per source, the boilerplate chunk
    count and char share. Same CDC integer arithmetic as
    ``cdc_chunk_dedup_sql``; normalized-char units, 2^21-1 cap."""
    min_sources = 3
    return f"""
    WITH {_cdc_char_ctes()},
    {_cdc_cut_ctes(16, 64)},
    r AS (
      SELECT source,
             k.fp * 2097152 + least(k.ln, 2097151) AS packed,
             least(k.ln, 2097151) AS ln
      FROM ck
    ),
    bp AS (
      SELECT packed, COUNT(DISTINCT source) AS nsrc FROM r GROUP BY packed
    )
    SELECT r.source,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN bp.nsrc >= {min_sources} THEN 1 ELSE 0 END)
                AS BIGINT) AS bp_chunks,
           CAST(SUM(r.ln) AS BIGINT) AS total_chars,
           CAST(SUM(CASE WHEN bp.nsrc >= {min_sources} THEN r.ln ELSE 0 END)
                AS BIGINT) AS bp_chars,
           CAST(SUM(CASE WHEN bp.nsrc >= {min_sources} THEN r.ln ELSE 0 END)
                AS DOUBLE)
             / CAST(SUM(r.ln) AS DOUBLE) AS bp_char_share
    FROM r JOIN bp ON bp.packed = r.packed
    GROUP BY r.source ORDER BY r.source
    """


def intra_doc_repetition_sql() -> str:
    """Twin of q290: within-document chunk repetition — the repeated-
    paragraph/loop signal repetition quality filters key on. Per
    source: docs with any repeated chunk, repeated-char mass/share
    (instances whose identity occurred EARLIER in the same doc), and
    the longest run of consecutive identical chunks. Chunk positions
    come from the CDC cut ordinals; windows partition by doc."""
    return f"""
    WITH {_cdc_char_ctes()},
    {_cdc_cut_ctes(16, 64, with_pos=True)},
    r AS (
      SELECT doc_id, source, k.pos AS pos,
             k.fp * 2097152 + least(k.ln, 2097151) AS packed,
             least(k.ln, 2097151) AS ln
      FROM ck
    ),
    fo AS (
      SELECT doc_id, source, pos, packed, ln,
             CASE WHEN ROW_NUMBER() OVER (PARTITION BY doc_id, packed
                                          ORDER BY pos) = 1
                  THEN 0 ELSE 1 END AS is_rep,
             CASE WHEN lag(packed) OVER (PARTITION BY doc_id
                                         ORDER BY pos) = packed
                  THEN 0 ELSE 1 END AS chg
      FROM r
    ),
    runs AS (
      SELECT doc_id, source,
             SUM(chg) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS grp,
             is_rep, ln
      FROM fo
    ),
    rl AS (
      SELECT doc_id, source, grp, COUNT(*) AS run_len
      FROM runs GROUP BY doc_id, source, grp
    ),
    per_doc AS (
      SELECT doc_id, MAX(source) AS source,
             SUM(is_rep) AS n_rep, SUM(is_rep * ln) AS rep_chars,
             SUM(ln) AS chars
      FROM runs GROUP BY doc_id
    ),
    doc_run AS (
      SELECT doc_id, MAX(run_len) AS max_run FROM rl GROUP BY doc_id
    )
    SELECT p.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN p.n_rep > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_with_repeats,
           CAST(SUM(p.rep_chars) AS BIGINT) AS repeated_chars,
           CAST(SUM(p.chars) AS BIGINT) AS total_chars,
           CAST(SUM(p.rep_chars) AS DOUBLE) / CAST(SUM(p.chars) AS DOUBLE)
             AS repeated_char_share,
           CAST(MAX(dr.max_run) AS BIGINT) AS max_chunk_run
    FROM per_doc p JOIN doc_run dr ON dr.doc_id = p.doc_id
    GROUP BY p.source ORDER BY p.source
    """


def bpe_merge_pairs_sql() -> str:
    """Twin of q291: first-iteration BPE merge-pair counts — adjacent
    CHARACTER-pair frequencies weighted by word frequency, counted over
    the DISTINCT-word table (the classic BPE trick: per-word work is
    bounded by vocabulary size, not corpus size). Deterministic
    (count DESC, pair ASC) top-k; exact integers."""
    return f"""
    WITH d AS (
      SELECT {_NORM_SQL} AS t
      FROM documents
    ),
    w AS (
      SELECT unnest(string_split(t, ' ')) AS word FROM d
    ),
    wf AS (
      SELECT word, COUNT(*) AS freq FROM w WHERE word <> '' GROUP BY word
    ),
    p AS (
      SELECT unnest(list_transform(range(1, length(word)),
                                   i -> substr(word, i, 2))) AS pair,
             freq
      FROM wf WHERE length(word) >= 2
    )
    SELECT pair, CAST(SUM(freq) AS BIGINT) AS pair_count
    FROM p GROUP BY pair
    ORDER BY pair_count DESC, pair
    LIMIT 20
    """


def source_datasheet_sql() -> str:
    """Twin of q293: the per-source dataset DATASHEET — one row per
    source composing the verified stage metrics: doc/token counts,
    quantized mean quality (q280 staging), Gini-Simpson language
    diversity (q213 staging), exact-dup droppable docs (q231's sha256
    canon rule), and near-dup involved docs (banded MinHash pairs)."""
    return f"""
    WITH {_minhash_pairs_core()},
    base AS (
      SELECT doc_id, source, lang,
             CAST(round({_QUALITY_SQL} * 1.0e6) AS BIGINT) AS qk,
             CAST(len(regexp_extract_all(text,
                  '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS BIGINT) AS toks,
             sha256(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
               AS fp
      FROM documents
    ),
    core AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(toks) AS BIGINT) AS total_tokens,
             CAST(SUM(qk) AS BIGINT) AS sum_qk
      FROM base GROUP BY source
    ),
    lc AS (
      SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n
      FROM base GROUP BY source, lang
    ),
    gin AS (
      SELECT source, CAST(SUM(n) AS BIGINT) AS tot,
             CAST(SUM(CAST(n AS DECIMAL(38,0)) * n) AS DECIMAL(38,0)) AS ss
      FROM lc GROUP BY source
    ),
    ranked AS (
      SELECT source,
             ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      FROM base
    ),
    ed AS (
      SELECT source,
             CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_exact_dup_docs
      FROM ranked GROUP BY source
    ),
    nd_ids AS (
      SELECT id_a AS id FROM pairs WHERE est_jaccard >= {MINHASH_THRESHOLD}
      UNION
      SELECT id_b FROM pairs WHERE est_jaccard >= {MINHASH_THRESHOLD}
    ),
    nd AS (
      SELECT b.source, CAST(COUNT(*) AS BIGINT) AS n_neardup_docs
      FROM nd_ids n JOIN base b ON b.doc_id = n.id GROUP BY b.source
    )
    SELECT c.source, c.n_docs, c.total_tokens,
           (CAST(c.sum_qk AS DOUBLE) / 1.0e6) / CAST(c.n_docs AS DOUBLE)
             AS mean_quality,
           CAST(1.0 AS DOUBLE) - CAST(g.ss AS DOUBLE)
             / (CAST(g.tot AS DOUBLE) * CAST(g.tot AS DOUBLE)) AS lang_gini,
           ed.n_exact_dup_docs,
           CAST(ed.n_exact_dup_docs AS DOUBLE) / CAST(c.n_docs AS DOUBLE)
             AS exact_dup_share,
           CAST(COALESCE(nd.n_neardup_docs, 0) AS BIGINT) AS n_neardup_docs
    FROM core c
    JOIN gin g ON g.source = c.source
    JOIN ed ON ed.source = c.source
    LEFT JOIN nd ON nd.source = c.source
    ORDER BY c.source
    """


def ivf_cell_stats_sql() -> str:
    """Twin of q294: whole-corpus IVF cell statistics against the frozen
    even-vec_id centroid seed — per cell: occupancy, share, and the
    DECIMAL-staged mean assigned cosine. Same assignment arithmetic as
    ``ivf_staleness_sql`` (fold cosines, (cos DESC, cid DESC)
    tie-break, centroid-norm zero guard); zero-norm rows are filtered
    at entry exactly like the streaming side; the streaming side's
    partials merge to exactly this."""
    n_centroids = 16
    return f"""
    WITH e0 AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    e AS (
      SELECT vec_id, v FROM e0 WHERE sqrt({_dot("v", "v")}) > 0
    ),
    c0 AS (
      -- centroid seed from the UNFILTERED even wave (the Spark side's
      -- ivf_centroids reads raw rows; only assignment rows are
      -- zero-norm-filtered, and centroid norms carry the `or 1.0` guard)
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid,
             v AS cv
      FROM e0 WHERE vec_id % 2 = 0 ORDER BY vec_id LIMIT {n_centroids}
    ),
    cn AS (
      SELECT cid, cv,
             CASE WHEN sqrt({_dot("cv", "cv")}) = 0 THEN 1.0
                  ELSE sqrt({_dot("cv", "cv")}) END AS ncv
      FROM c0
    ),
    asg AS (
      SELECT vec_id, cid, cos FROM (
        SELECT e.vec_id, c.cid,
               {_dot("e.v", "c.cv")}
                 / (sqrt({_dot("e.v", "e.v")}) * c.ncv) AS cos,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 {_dot("e.v", "c.cv")}
                   / (sqrt({_dot("e.v", "e.v")}) * c.ncv) DESC,
                 c.cid DESC) AS rn
        FROM e CROSS JOIN cn c
      ) WHERE rn = 1
    ),
    g AS (
      SELECT cid, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(round(cos * 1.0e9) AS DECIMAL(38,0))) AS sq
      FROM asg GROUP BY cid
    ),
    t AS (SELECT CAST(COUNT(*) AS BIGINT) AS tot FROM asg),
    grid AS (SELECT CAST(unnest(range({n_centroids})) AS BIGINT) AS cid)
    SELECT grid.cid,
           CAST(COALESCE(g.n, 0) AS BIGINT) AS n_vecs,
           CAST(COALESCE(g.n, 0) AS DOUBLE)
             / CAST((SELECT tot FROM t) AS DOUBLE) AS share,
           CASE WHEN g.n IS NULL THEN NULL
                ELSE CAST(g.sq AS DOUBLE) / 1.0e9 / CAST(g.n AS DOUBLE)
           END AS mean_cos
    FROM grid LEFT JOIN g ON g.cid = grid.cid
    ORDER BY grid.cid
    """


ADAPTIVE_PLAN_GRID = (
    1_000, 10_000, 100_000, 1_000_000, 10_000_000, 100_000_000,
    1_000_000_000,
)


def adaptive_plan_report_sql() -> str:
    """Twin of q295: the adaptive LSH parameterization decision table —
    for a literal corpus-size grid plus THIS corpus's embeddings count,
    the derived plane count (the exact integer CASE ladder of
    ``adaptive_n_planes``), bucket count, expected bucket width, and
    per-task gram flops. Verifies the ladder inside the oracle gate at
    every SF, not just in unit tests."""
    sizes = ", ".join(str(n) for n in ADAPTIVE_PLAN_GRID)
    pows = ", ".join(
        str(1 << i) for i in range(GRAM_MAX_PLANES + 1)
    )
    return f"""
    WITH sizes AS (
      SELECT CAST(unnest([{sizes}]) AS BIGINT) AS n_rows,
             CAST(0 AS BIGINT) AS is_corpus
      UNION ALL
      SELECT CAST(COUNT(*) AS BIGINT), CAST(1 AS BIGINT) FROM embeddings
    ),
    p AS (
      SELECT n_rows, is_corpus,
             CAST({adaptive_n_planes_case_sql('n_rows')} AS BIGINT) AS n_planes
      FROM sizes
    ),
    b AS (
      SELECT n_rows, is_corpus, n_planes,
             CAST(([{pows}])[n_planes + 1] AS BIGINT) AS n_buckets
      FROM p
    )
    SELECT n_rows, is_corpus, n_planes, n_buckets,
           CAST(n_rows AS DOUBLE) / CAST(n_buckets AS DOUBLE)
             AS expected_width,
           (CAST(n_rows AS DOUBLE) / CAST(n_buckets AS DOUBLE))
             * (CAST(n_rows AS DOUBLE) / CAST(n_buckets AS DOUBLE))
             * CAST(64 AS DOUBLE) AS gram_flops_per_task
    FROM b ORDER BY n_rows, is_corpus
    """


def text_embedding_alignment_sql() -> str:
    """Twin of q296: token-space vs vector-space similarity alignment.
    Every banded MinHash candidate pair (threshold 0 — the full
    equi-join candidate set) whose BOTH endpoints carry an embedding
    gets the exact fold cosine; per est-Jaccard octile: pair count,
    mean estimated Jaccard (integer match counts / 32), and the
    DECIMAL-staged mean cosine. est*8 is an exact dyadic multiple
    (matches/4), so the bucketing floor is bit-identical on both
    engines."""
    return f"""
    WITH {_minhash_pairs_core()},
    ev AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             sqrt({_dot("CAST(embedding AS DOUBLE[])",
                        "CAST(embedding AS DOUBLE[])")}) AS nrm
      FROM embeddings
    ),
    pe AS (
      SELECT p.est_jaccard,
             {_dot("a.v", "b.v")} / (a.nrm * b.nrm) AS cos
      FROM pairs p
      JOIN ev a ON a.vec_id = p.id_a
      JOIN ev b ON b.vec_id = p.id_b
    ),
    bkt AS (
      SELECT CAST(least(CAST(floor(est_jaccard * 8.0) AS BIGINT), 7)
                  AS BIGINT) AS est_octile,
             CAST(round(est_jaccard * {MINHASH_NUM_HASHES}) AS BIGINT) AS mk,
             cos
      FROM pe
    )
    SELECT est_octile,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(mk) AS DOUBLE) / {float(MINHASH_NUM_HASHES)}
             / CAST(COUNT(*) AS DOUBLE) AS mean_est_jaccard,
           CAST(SUM(CAST(round(cos * 1.0e9) AS DECIMAL(38,0))) AS DOUBLE)
             / 1.0e9 / CAST(COUNT(*) AS DOUBLE) AS mean_cos
    FROM bkt GROUP BY est_octile ORDER BY est_octile
    """


def lsh_collision_calibration_sql() -> str:
    """Twin of q298: empirical hyperplane-LSH bucket-collision rate vs
    cosine, on the linear consecutive-vec_id pair sample (q270's
    pattern), under the ADAPTIVE plane count (same COUNT(*) CASE ladder
    + 24-bit-code prefix as q226/q269/q281). Cosines are exact folds so
    the (cos+1)*4 octile floors are bit-identical cross-engine; mean
    cosine is DECIMAL-staged."""
    planes = simhash_planes(EMBEDDING_DIM, GRAM_MAX_PLANES, 7)
    return f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    {_adaptive_np_cte()},
    b AS (
      SELECT vec_id, v, sqrt({_dot("v", "v")}) AS nrm,
             substr({_bucket_expr("v", planes)}, 1, np) AS bucket
      FROM e CROSS JOIN nps
    ),
    p AS (
      SELECT {_dot("a.v", "b2.v")} / (a.nrm * b2.nrm) AS cos,
             CASE WHEN a.bucket = b2.bucket THEN 1 ELSE 0 END AS same_b
      FROM b a JOIN b b2 ON b2.vec_id = a.vec_id + 1
    ),
    k AS (
      SELECT CAST(greatest(
                    least(CAST(floor((cos + 1.0) * 4.0) AS BIGINT), 7), 0)
                  AS BIGINT) AS cos_octile,
             same_b, cos
      FROM p
    )
    SELECT cos_octile,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(same_b) AS BIGINT) AS n_same_bucket,
           CAST(SUM(same_b) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             AS collision_rate,
           CAST(SUM(CAST(round(cos * 1.0e9) AS DECIMAL(38,0))) AS DOUBLE)
             / 1.0e9 / CAST(COUNT(*) AS DOUBLE) AS mean_cos
    FROM k GROUP BY cos_octile ORDER BY cos_octile
    """


def bucket_width_audit_sql() -> str:
    """Twin of q299: realized LSH bucket-width audit under the adaptive
    plane count — the runtime verification that the q295 parameter
    table's EXPECTED width holds on real (skewed) data. One row: corpus
    size, derived planes, buckets used, expected vs max vs mean width,
    and the count/row-share of buckets over the GRAM_TARGET_BUCKET
    budget."""
    planes = simhash_planes(EMBEDDING_DIM, GRAM_MAX_PLANES, 7)
    return f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    {_adaptive_np_cte()},
    b AS (
      SELECT substr({_bucket_expr("v", planes)}, 1, np) AS bucket, np
      FROM e CROSS JOIN nps
    ),
    w AS (
      SELECT bucket, CAST(MAX(np) AS BIGINT) AS np,
             CAST(COUNT(*) AS BIGINT) AS width
      FROM b GROUP BY bucket
    )
    SELECT CAST(SUM(width) AS BIGINT) AS n_rows,
           CAST(MAX(np) AS BIGINT) AS n_planes,
           CAST(COUNT(*) AS BIGINT) AS n_buckets_used,
           CAST(SUM(width) AS DOUBLE)
             / CAST(([{", ".join(str(1 << i) for i in range(25))}])
                    [MAX(np) + 1] AS DOUBLE) AS expected_width,
           CAST(MAX(width) AS BIGINT) AS max_width,
           CAST(SUM(width) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             AS mean_width,
           CAST(SUM(CASE WHEN width > {GRAM_TARGET_BUCKET} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_over_budget,
           CAST(SUM(CASE WHEN width > {GRAM_TARGET_BUCKET} THEN width
                         ELSE 0 END) AS DOUBLE)
             / CAST(SUM(width) AS DOUBLE) AS over_budget_row_share
    FROM w
    """


def token_yield_sql() -> str:
    """Twin of q300: effective-token-yield forecast per source — total
    tokens, tokens lost to exact dedup (non-canonical docs, q231's
    sha256 min-doc_id rule), tokens lost to near-dup drop (banded pairs
    over the CANONICAL set, keep-min id_b rule), kept tokens and yield
    share. The number a pretraining-data buyer actually cares about."""
    return f"""
    WITH base AS (
      SELECT doc_id, source, text,
             CAST(len(regexp_extract_all(text,
                  '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS BIGINT) AS toks,
             sha256(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
               AS fp
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, source, text, toks,
             ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      FROM base
    ),
    canon AS (
      SELECT doc_id, source, text, toks FROM ranked WHERE rn = 1
    ),
    {_minhash_pairs_core(src="canon")},
    dropped AS (
      SELECT DISTINCT id_b AS doc_id FROM pairs
      WHERE est_jaccard >= {MINHASH_THRESHOLD}
    ),
    tagged AS (
      SELECT r.source, r.toks,
             CASE WHEN r.rn > 1 THEN 1 ELSE 0 END AS ex_drop,
             CASE WHEN r.rn = 1 AND d.doc_id IS NOT NULL THEN 1
                  ELSE 0 END AS nd_drop
      FROM ranked r LEFT JOIN dropped d ON d.doc_id = r.doc_id
    )
    SELECT source,
           CAST(SUM(toks) AS BIGINT) AS total_tokens,
           CAST(SUM(ex_drop * toks) AS BIGINT) AS exact_dropped_tokens,
           CAST(SUM(nd_drop * toks) AS BIGINT) AS neardup_dropped_tokens,
           CAST(SUM((1 - ex_drop) * (1 - nd_drop) * toks) AS BIGINT)
             AS kept_tokens,
           CAST(SUM((1 - ex_drop) * (1 - nd_drop) * toks) AS DOUBLE)
             / CAST(SUM(toks) AS DOUBLE) AS yield_share
    FROM tagged GROUP BY source ORDER BY source
    """


def ivf_staleness_sql() -> str:
    """Twin of q283: index-staleness audit. Centroids are the
    deterministic ivf_centroids seed over the EVEN-vec_id wave (first
    n by vec_id); both waves assign by (cos DESC, cid DESC) — the
    reverse(array_sort) tie-break — with the centroid-norm zero guard;
    per (cid, wave) counts and DECIMAL-staged sums of round(cos*1e9)
    become occupancy shares and mean assigned-cosines on a LEFT-joined
    cid grid."""
    n_centroids = 16
    return f"""
    WITH e AS (
      SELECT vec_id, vec_id % 2 AS half,
             CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings
    ),
    c0 AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid,
             v AS cv
      FROM e WHERE half = 0 ORDER BY vec_id LIMIT {n_centroids}
    ),
    cn AS (
      SELECT cid, cv,
             CASE WHEN sqrt({_dot("cv", "cv")}) = 0 THEN 1.0
                  ELSE sqrt({_dot("cv", "cv")}) END AS ncv
      FROM c0
    ),
    asg AS (
      SELECT vec_id, half, cid, cos FROM (
        SELECT e.vec_id, e.half, c.cid,
               {_dot("e.v", "c.cv")}
                 / (sqrt({_dot("e.v", "e.v")}) * c.ncv) AS cos,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 {_dot("e.v", "c.cv")}
                   / (sqrt({_dot("e.v", "e.v")}) * c.ncv) DESC,
                 c.cid DESC) AS rn
        FROM e CROSS JOIN cn c
      ) WHERE rn = 1
    ),
    g AS (
      SELECT cid, half, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(round(cos * 1.0e9) AS DECIMAL(38,0))) AS sq
      FROM asg GROUP BY cid, half
    ),
    t AS (SELECT half, CAST(COUNT(*) AS BIGINT) AS tot FROM asg GROUP BY half)
    SELECT grid.cid,
           COALESCE(ga.n, 0) AS n_a,
           COALESCE(gb.n, 0) AS n_b,
           CAST(COALESCE(ga.n, 0) AS DOUBLE)
             / CAST((SELECT tot FROM t WHERE half = 0) AS DOUBLE) AS share_a,
           CAST(COALESCE(gb.n, 0) AS DOUBLE)
             / CAST((SELECT tot FROM t WHERE half = 1) AS DOUBLE) AS share_b,
           CAST(COALESCE(gb.n, 0) AS DOUBLE)
             / CAST((SELECT tot FROM t WHERE half = 1) AS DOUBLE)
           - CAST(COALESCE(ga.n, 0) AS DOUBLE)
             / CAST((SELECT tot FROM t WHERE half = 0) AS DOUBLE)
             AS share_shift,
           CASE WHEN ga.n IS NULL THEN NULL
                ELSE CAST(ga.sq AS DOUBLE) / 1.0e9 / CAST(ga.n AS DOUBLE)
           END AS mean_cos_a,
           CASE WHEN gb.n IS NULL THEN NULL
                ELSE CAST(gb.sq AS DOUBLE) / 1.0e9 / CAST(gb.n AS DOUBLE)
           END AS mean_cos_b,
           CASE WHEN ga.n IS NULL OR gb.n IS NULL THEN NULL
                ELSE CAST(ga.sq AS DOUBLE) / 1.0e9 / CAST(ga.n AS DOUBLE)
                   - CAST(gb.sq AS DOUBLE) / 1.0e9 / CAST(gb.n AS DOUBLE)
           END AS cos_drop
    FROM range(0, {n_centroids}) grid(cid)
    LEFT JOIN (SELECT * FROM g WHERE half = 0) ga ON ga.cid = grid.cid
    LEFT JOIN (SELECT * FROM g WHERE half = 1) gb ON gb.cid = grid.cid
    ORDER BY grid.cid
    """


def vocab_growth_sql() -> str:
    """Twin of q284: vocabulary growth (Heaps-law audit). Token identity
    is the portable per-token char fold (``_tok_hashes``); each token's
    FIRST document (min doc_id) turns prefix-vocabulary counting into
    one conditional aggregate over quartile doc-id cutoffs — no per-
    checkpoint rescan. All counts exact integers; the type-token ratio
    is one pinned division."""
    return f"""
    WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
    tk AS (SELECT doc_id, unnest({_tok_hashes()}) AS th
           FROM documents),
    fo AS (SELECT th, MIN(doc_id) AS fd FROM tk GROUP BY th),
    vr AS (
      SELECT
        CAST(SUM(CASE WHEN fd < (n.n * 1) // 4 THEN 1 ELSE 0 END) AS BIGINT) AS v1,
        CAST(SUM(CASE WHEN fd < (n.n * 2) // 4 THEN 1 ELSE 0 END) AS BIGINT) AS v2,
        CAST(SUM(CASE WHEN fd < (n.n * 3) // 4 THEN 1 ELSE 0 END) AS BIGINT) AS v3,
        CAST(SUM(CASE WHEN fd < (n.n * 4) // 4 THEN 1 ELSE 0 END) AS BIGINT) AS v4
      FROM fo, n
    ),
    dc AS (SELECT doc_id, CAST(len({_tok_hashes()}) AS BIGINT) AS tc
           FROM documents),
    tr AS (
      SELECT
        CAST(SUM(CASE WHEN doc_id < (n.n * 1) // 4 THEN tc ELSE 0 END) AS BIGINT) AS t1,
        CAST(SUM(CASE WHEN doc_id < (n.n * 2) // 4 THEN tc ELSE 0 END) AS BIGINT) AS t2,
        CAST(SUM(CASE WHEN doc_id < (n.n * 3) // 4 THEN tc ELSE 0 END) AS BIGINT) AS t3,
        CAST(SUM(CASE WHEN doc_id < (n.n * 4) // 4 THEN tc ELSE 0 END) AS BIGINT) AS t4
      FROM dc, n
    )
    SELECT CAST(k.k AS BIGINT) AS checkpoint,
           (n.n * k.k) // 4 AS cutoff_doc,
           CASE k.k WHEN 1 THEN t1 WHEN 2 THEN t2 WHEN 3 THEN t3
                    ELSE t4 END AS n_tokens,
           CASE k.k WHEN 1 THEN v1 WHEN 2 THEN v2 WHEN 3 THEN v3
                    ELSE v4 END AS vocab,
           CASE k.k WHEN 1 THEN v1 WHEN 2 THEN v2 - v1
                    WHEN 3 THEN v3 - v2 ELSE v4 - v3 END AS new_vocab,
           CAST(CASE k.k WHEN 1 THEN v1 WHEN 2 THEN v2 WHEN 3 THEN v3
                         ELSE v4 END AS DOUBLE)
             / CAST(CASE k.k WHEN 1 THEN t1 WHEN 2 THEN t2 WHEN 3 THEN t3
                             ELSE t4 END AS DOUBLE) AS type_token_ratio
    FROM range(1, 5) k(k), vr, tr, n
    ORDER BY checkpoint
    """


def split_leakage_audit_sql() -> str:
    """Twin of q285: n-gram contamination of a naive per-document hash
    split. The split is the two-round Mersenne LCG (q239 rule) on
    doc_id; grams are the portable poly k-shingles; per test doc the
    distinct-gram count and the count also present in ANY train doc
    bucket into 11 contamination deciles."""
    (a1, b1), (a2, b2) = _hash_params(2, 31)
    return f"""
    WITH th AS (
      SELECT doc_id, {_tok_hashes()} AS th,
             (({a2} * (({a1} * (doc_id % {_MOD}) + {b1}) % {_MOD})
               + {b2}) % {_MOD}) % 10 AS slot
      FROM documents
    ),
    g AS (
      SELECT doc_id, slot,
             unnest(list_distinct({_grams(8, False)})) AS gram
      FROM th
    ),
    trn AS (SELECT DISTINCT gram FROM g WHERE slot <> 0),
    tg AS (
      SELECT g.doc_id, g.gram,
             CASE WHEN trn.gram IS NULL THEN 0 ELSE 1 END AS shared
      FROM g LEFT JOIN trn ON g.gram = trn.gram
      WHERE g.slot = 0
    ),
    per_doc AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(SUM(shared) AS BIGINT) AS n_shared
      FROM tg GROUP BY doc_id
    )
    SELECT (10 * n_shared) // n_grams AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_test_docs,
           CAST(SUM(n_grams) AS BIGINT) AS tot_grams,
           CAST(SUM(n_shared) AS BIGINT) AS tot_shared,
           CAST(CAST(SUM(n_shared) AS BIGINT) AS DOUBLE)
             / CAST(CAST(SUM(n_grams) AS BIGINT) AS DOUBLE)
             AS mean_contamination
    FROM per_doc GROUP BY 1 ORDER BY 1
    """


def cdc_incremental_sql() -> str:
    """Twin of q286: per-document ingest dedup of the NEW wave
    (``new_source``) against the STATIC chunk store built from every
    other source — the same CDC machinery as ``cdc_chunk_dedup_sql``,
    with store membership via one LEFT equi-join on the packed chunk
    identity. UNITS: ``new_chars``/``dup_chars`` count
    whitespace-normalized CHARACTERS with the 2^21-1 per-chunk length
    cap of the packed encoding — same on both engines."""
    new_source = "src19"

    def chunk_cte(pred: str, tag: str) -> str:
        return (
            _cdc_char_ctes(cols="doc_id", tag=tag, pred=pred)
            + ",\n    "
            + _cdc_cut_ctes(16, 64, cols="doc_id", tag=tag)
            + f""",
    r{tag} AS (
      SELECT doc_id,
             k.fp * 2097152 + least(k.ln, 2097151) AS packed,
             least(k.ln, 2097151) AS ln
      FROM ck{tag}
    )"""
        )

    return f"""
    WITH {chunk_cte(f"source <> '{new_source}'", "s")},
    {chunk_cte(f"source = '{new_source}'", "w")},
    store AS (SELECT DISTINCT packed FROM rs),
    m AS (
      SELECT rw.doc_id, rw.ln,
             CASE WHEN store.packed IS NULL THEN 0 ELSE 1 END AS dup
      FROM rw LEFT JOIN store ON rw.packed = store.packed
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(dup) AS BIGINT) AS dup_chunks,
           CAST(SUM(CASE WHEN dup = 0 THEN ln ELSE 0 END) AS BIGINT)
             AS new_chars,
           CAST(SUM(CASE WHEN dup = 1 THEN ln ELSE 0 END) AS BIGINT)
             AS dup_chars
    FROM m GROUP BY doc_id ORDER BY doc_id
    """


# --- multimodal perceptual-hash dedup (q301-q303) ---------------------------


def _phash_chain(id_cols: str = "media_id", src_cte: str = "m") -> str:
    """CTEs -> ``mfp({id_cols}, phash)`` from a source CTE providing
    ``({id_cols}, hx)`` (hex-encoded payload bytes): pool the bytes into
    72 integer cell sums on floor(g*n/72) boundaries, then one bit per
    horizontally-adjacent cell comparison (bit 63 contributes -2^63 —
    DuckDB rejects ``1::BIGINT << 63``). Integer arithmetic end to end,
    bit-identical to multimodal.media_dhash_kernel."""
    return f"""mb AS (
      SELECT {id_cols}, length(hx) // 2 AS n,
             list_transform(range(0, length(hx) // 2),
               i -> CAST(strpos('0123456789ABCDEF', substr(hx, 2*i+1, 1)) - 1
                         AS BIGINT) * 16
                  + CAST(strpos('0123456789ABCDEF', substr(hx, 2*i+2, 1)) - 1
                         AS BIGINT)) AS byts
      FROM {src_cte}
    ),
    mc AS (
      SELECT {id_cols},
             list_transform(range(0, 72),
               g -> list_reduce(list_prepend(CAST(0 AS BIGINT),
                      byts[(g * n) // 72 + 1 : ((g + 1) * n) // 72]),
                    (acc, x) -> acc + x)) AS cell
      FROM mb
    ),
    mfp AS (
      SELECT {id_cols},
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(0, 64),
                 bb -> CASE WHEN cell[(bb // 8) * 9 + (bb % 8) + 2]
                                 > cell[(bb // 8) * 9 + (bb % 8) + 1]
                            THEN (CASE WHEN bb = 63
                                       THEN CAST(-9223372036854775808
                                                 AS BIGINT)
                                       ELSE CAST(1 AS BIGINT) << bb END)
                            ELSE CAST(0 AS BIGINT) END)),
               (acc, x) -> acc + x) AS phash
      FROM mc
    )"""


def _media_phash_cte() -> str:
    """``m`` + ``mfp(media_id, phash)`` over the synthetic media payloads
    (the documents' UTF-8 text bytes, q36's construction)."""
    return (
        """m AS (
      SELECT doc_id AS media_id, hex(encode(text)) AS hx FROM documents
    ),
    """
        + _phash_chain("media_id", "m")
    )


def media_phash_sql() -> str:
    """Twin of q301: the perceptual fingerprint table itself."""
    return f"WITH {_media_phash_cte()} SELECT media_id, phash FROM mfp"


def _media_hamming_cand_cte(max_hamming: int = 4) -> str:
    """``mcand(id_a, id_b, hamming)`` via the pigeonhole chunk equi-join
    — the similarity.hamming_pairs shape, banded, never all-pairs.
    DuckDB's arithmetic ``>>`` equals the logical shift after the
    ``& mask`` because every chunk tiles within 64 bits."""
    n_chunks = max_hamming + 1
    cb = 64 // n_chunks
    mask = (1 << cb) - 1
    return f"""mch AS (
      SELECT media_id, phash, unnest(range(0, {n_chunks})) AS ci FROM mfp
    ),
    mkv AS (
      SELECT media_id, phash, ci,
             (phash >> (ci * {cb})) & {mask} AS cv
      FROM mch
    ),
    mcand AS (
      SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
             CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming
      FROM mkv a JOIN mkv b
        ON b.ci = a.ci AND b.cv = a.cv AND a.media_id < b.media_id
      WHERE bit_count(xor(a.phash, b.phash)) <= {max_hamming}
    )"""


def media_near_dup_pairs_sql() -> str:
    """Twin of q302: media near-dup pairs within a Hamming radius of the
    dHash fingerprint."""
    return f"""
    WITH {_media_phash_cte()},
    {_media_hamming_cand_cte(4)}
    SELECT id_a, id_b, hamming FROM mcand ORDER BY id_a, id_b
    """


def media_embedding_alignment_sql() -> str:
    """Twin of q303: cross-modal alignment audit — for every media
    near-dup candidate pair (dHash Hamming <= radius) whose BOTH
    endpoints carry an embedding, the exact fold cosine; per Hamming
    distance, the pair count and DECIMAL-staged mean cosine (q296's
    pattern with pixel-space distance replacing token-space Jaccard)."""
    return f"""
    WITH {_media_phash_cte()},
    {_media_hamming_cand_cte(8)},
    ev AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             sqrt({_dot("CAST(embedding AS DOUBLE[])",
                        "CAST(embedding AS DOUBLE[])")}) AS nrm
      FROM embeddings
    ),
    pe AS (
      SELECT c.hamming, {_dot("a.v", "b.v")} / (a.nrm * b.nrm) AS cos
      FROM mcand c
      JOIN ev a ON a.vec_id = c.id_a
      JOIN ev b ON b.vec_id = c.id_b
    )
    SELECT CAST(hamming AS BIGINT) AS hamming,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CAST(round(cos * 1.0e9) AS DECIMAL(38,0))) AS DOUBLE)
             / 1.0e9 / CAST(COUNT(*) AS DOUBLE) AS mean_cos
    FROM pe GROUP BY hamming ORDER BY hamming
    """


def _bpe_units_sql(w: int, where: str = "") -> str:
    """``(source, unit)`` rows, one per BPE unit occurrence in the
    normalized corpus (``bpe._unit_rows``): whitespace words when
    ``w == 1``, else consecutive ``w``-word CHUNKS re-joined with single
    spaces (space is then an ordinary symbol; the trailing chunk may be
    shorter) — byte-identical to the Spark ``slice``/``array_join``
    projection. ``where`` filters documents (the holdout's
    ``doc_id % 2`` halves)."""
    units = "parts"
    if w > 1:
        units = (
            f"list_transform(range(0, CAST(ceil(len(parts) / {w}.0) AS INT)),"
            f" g -> array_to_string(parts[g * {w} + 1 : g * {w} + {w}], ' '))"
        )
    return f"""SELECT source, unit
      FROM (SELECT source, unnest({units}) AS unit
            FROM (SELECT source, string_split({_NORM_SQL}, ' ') AS parts
                  FROM documents {where}))
      WHERE unit <> ''"""


# one symbol per character, spaces included (bpe._CHAR_SYMS)
_BPE_CHAR_SYMS = (
    "list_transform(range(1, length(unit) + 1), i -> substr(unit, i, 1))"
)


def _bpe_round_ctes(
    rounds: int,
    topk: int,
    batch_cap: int | None,
    alpha_den: int | None,
    folds: dict[str, str],
) -> list[str]:
    """THE merge-round template of every BPE twin — the DuckDB replay
    of ``bpe._merge_rounds``. Round ``r`` reads ``s{r-1}(…, freq,
    syms)`` and emits:

    - ``rk{r}``: the ranked pool — freq-weighted adjacent-pair counts,
      ``row_number`` over (count DESC, a, b), ``rn <= topk``;
    - ``g{r}``: greedy DISJOINT selection (``bpe.select_merge_batch``
      / ``select_merge_batch_adaptive``) as a recursive walk down the
      ranked rows carrying the used-symbol list, ``nsel`` (pairs taken
      so far) and ``mx`` (the round's best count). A pair is taken iff
      neither symbol was used by a higher-ranked selected pair. The
      selection policy is the one predicate ``pick``: the fixed cap
      ``nsel < batch_cap`` or the count band ``alpha_den * cnt >= mx``
      (integer guard, exact on both engines). The walk is seeded with
      the top pair, which every pick takes (nothing is used yet, and
      its count is ``mx``), so a one-pair pool needs no walk. Both
      picks are monotone along the ranking (``nsel`` only grows,
      ``cnt`` only falls), so the walk stops at the first row ``pick``
      rejects;
    - ``sel{r}``: the batch (``batch_rank`` = ``nsel`` at the pick),
      and ``mp{r}``: the batch as per-round MAPs (left symbol -> right
      symbol / merged symbol);
    - one fold per entry of ``folds`` (frame prefix -> carried
      columns): ``{f}{r}`` = ``{f}{r-1}`` with the whole batch applied
      in ONE ``list_reduce`` left fold — the fold of
      ``bpe.bpe_apply_merges_expr``. Trainers fold ``s``; the holdout
      encode also folds its own vocab ``h`` with the same maps.

    Fold semantics: at each element, if the accumulator's last symbol
    is a selected pair's left symbol and the element is its right
    symbol, they fuse. Selected pairs are disjoint, so left symbols are
    unique map keys; a merged OUTPUT symbol may still equal another
    pair's left symbol, so within-pass chaining ("t","h","e" -> "the"
    under {("th","e"), ("t","h")}) happens exactly as in the Spark
    fold. A map probe (missing key -> empty list -> NULL -> no merge)
    keeps the per-element cost flat where a scan of the selection
    arrays would grow with the batch (adaptive batches run ~35 pairs).
    An empty pool leaves the frame unchanged, so a vocab exhausted
    before the last round passes through (the Spark loop stops)."""
    if alpha_den is None:
        pick = f"nsel < {batch_cap}"
    else:
        pick = f"{alpha_den} * k.cnt >= mx"
    fresh = "NOT list_contains(used, k.a) AND NOT list_contains(used, k.b)"
    parts = []
    for r in range(1, rounds + 1):
        p = r - 1
        step = "" if topk == 1 else f"""
      UNION ALL
      SELECT k.rn,
             CASE WHEN {fresh} THEN used || [k.a, k.b] ELSE used END,
             nsel + CASE WHEN {fresh} THEN 1 ELSE 0 END,
             mx,
             CASE WHEN {fresh} THEN k.a END,
             CASE WHEN {fresh} THEN k.b END,
             CASE WHEN {fresh} THEN k.cnt END
      FROM g{r} JOIN rk{r} k ON k.rn = g{r}.rn + 1
      WHERE {pick}"""
        parts.append(
            f"""rk{r} AS MATERIALIZED (
      SELECT a, b, cnt, row_number() OVER (ORDER BY cnt DESC, a, b) AS rn
      FROM (SELECT pr.a AS a, pr.b AS b, CAST(SUM(freq) AS BIGINT) AS cnt
            FROM (SELECT freq,
                         unnest(list_transform(range(1, len(syms)),
                           i -> struct_pack(a := syms[i],
                                            b := syms[i + 1]))) AS pr
                  FROM s{p} WHERE len(syms) >= 2)
            GROUP BY pr.a, pr.b)
      QUALIFY rn <= {topk}
    ),
    g{r} AS (
      SELECT rn, [a, b] AS used, 1 AS nsel, cnt AS mx,
             a AS sa, b AS sb, cnt AS sc
      FROM rk{r} WHERE rn = 1{step}
    ),
    sel{r} AS MATERIALIZED (
      SELECT sa AS a, sb AS b, sc AS cnt, nsel AS batch_rank
      FROM g{r} WHERE sa IS NOT NULL
    ),
    mp{r} AS (
      SELECT map(list(a ORDER BY batch_rank), list(b ORDER BY batch_rank))
               AS mb,
             map(list(a ORDER BY batch_rank),
                 list(a || b ORDER BY batch_rank)) AS mm,
             COUNT(*) AS nb
      FROM sel{r}
    )"""
        )
        for f, keep in folds.items():
            parts.append(
                f"""{f}{r} AS MATERIALIZED (
      SELECT {keep},
             CASE WHEN nb = 0 THEN syms ELSE list_reduce(
               list_prepend(CAST([] AS VARCHAR[]),
                            list_transform(syms, x -> [x])),
               (acc, xl) -> CASE WHEN len(acc) > 0
                                  AND mb[acc[-1]][1] = xl[1]
                            THEN acc[1:len(acc) - 1] || mm[acc[-1]]
                            ELSE acc || xl END) END AS syms
      FROM {f}{p} CROSS JOIN mp{r}
    )"""
            )
    return parts


def bpe_trainer_sql(
    rounds: int = BPE_ROUNDS,
    topk: int = BPE_TOPK,
    batch_cap: int | None = BPE_BATCH_CAP,
    alpha_den: int | None = None,
    w: int = 1,
) -> str:
    """Twin of the BPE merge table (``bpe._train_table``; q315, q321,
    q331, and q304 without ``batch_rank``): the shared round template
    over the distinct-unit vocab, one row per selected merge (round,
    batch_rank, pair, count) with the post-round corpus symbol total
    and fertility (symbols per unit), plus the round-0
    one-symbol-per-char baseline. ``alpha_den`` switches the pick from
    the fixed cap to the count band; ``w > 1`` trains on chunks."""
    ctes = [
        f"""s0 AS MATERIALIZED (
      SELECT freq, {_BPE_CHAR_SYMS} AS syms
      FROM (SELECT unit, CAST(COUNT(*) AS BIGINT) AS freq
            FROM ({_bpe_units_sql(w)}) GROUP BY unit)
    ),
    tw AS (SELECT CAST(SUM(freq) AS BIGINT) AS n FROM s0)""",
        *_bpe_round_ctes(rounds, topk, batch_cap, alpha_den, {"s": "freq"}),
    ]
    sels = [
        "SELECT 0 AS round, 0 AS batch_rank, '' AS merge_a, '' AS merge_b, "
        "CAST(0 AS BIGINT) AS pair_count, t.cs FROM tot0 t"
    ]
    for r in range(rounds + 1):
        ctes.append(
            f"tot{r} AS (SELECT CAST(SUM(freq * len(syms)) AS BIGINT) AS cs"
            f" FROM s{r})"
        )
        if r:
            sels.append(
                f"SELECT {r}, batch_rank, a, b, cnt, t.cs "
                f"FROM sel{r} CROSS JOIN tot{r} t"
            )
    ctes_sql = ",\n    ".join(ctes)
    return f"""
    WITH RECURSIVE {ctes_sql}
    SELECT CAST(round AS BIGINT) AS round,
           CAST(batch_rank AS BIGINT) AS batch_rank, merge_a, merge_b,
           pair_count, cs AS corpus_symbols,
           CAST(cs AS DOUBLE) / CAST(tw.n AS DOUBLE) AS fertility
    FROM ({" UNION ALL ".join(sels)}) u CROSS JOIN tw
    ORDER BY round, batch_rank
    """


def bpe_ledger_sql(
    rounds: int = BPE_ROUNDS,
    topk: int = BPE_TOPK,
    batch_cap: int | None = BPE_BATCH_CAP,
    alpha_den: int | None = None,
    w: int = 1,
    holdout: bool = False,
) -> str:
    """Twin of the per-source tokenization ledger
    (``bpe._tokenize_ledger``; q311, q318, q319, q325, q327): the shared
    round template over the GLOBAL distinct-unit vocab (same
    frequencies -> same pools -> same batches as the trainer), final
    per-unit symbol counts joined to per-(source, unit) frequencies:
    units, tokens, tokens per unit (``fertility`` for words,
    ``tokens_per_chunk`` for chunks) and chars per token. With
    ``holdout`` the rounds train on the even-doc_id half and each
    round's batch is also folded into the odd half's own vocab ``h`` —
    the encode of text the trainer never saw — whose ledger is
    reported."""
    unit = "word" if w == 1 else "chunk"
    per_unit = "fertility" if w == 1 else "tokens_per_chunk"
    odd = "WHERE doc_id % 2 = 1" if holdout else ""
    ctes = [
        f"""ws AS MATERIALIZED (
      SELECT source, unit, CAST(COUNT(*) AS BIGINT) AS freq_s
      FROM ({_bpe_units_sql(w, odd)}) GROUP BY source, unit
    )"""
    ]
    if holdout:
        vocab = (
            f"SELECT unit, CAST(COUNT(*) AS BIGINT) AS freq FROM "
            f"({_bpe_units_sql(w, 'WHERE doc_id % 2 = 0')}) GROUP BY unit"
        )
        folds, fin = {"s": "freq", "h": "unit"}, "h"
        ctes.append(
            f"""h0 AS MATERIALIZED (
      SELECT unit, {_BPE_CHAR_SYMS} AS syms
      FROM (SELECT DISTINCT unit FROM ws)
    )"""
        )
    else:
        vocab = (
            "SELECT unit, CAST(SUM(freq_s) AS BIGINT) AS freq FROM ws "
            "GROUP BY unit"
        )
        folds, fin = {"s": "unit, freq"}, "s"
    ctes.append(
        f"""s0 AS MATERIALIZED (
      SELECT {folds["s"]}, {_BPE_CHAR_SYMS} AS syms FROM ({vocab})
    )"""
    )
    ctes.extend(_bpe_round_ctes(rounds, topk, batch_cap, alpha_den, folds))
    ctes_sql = ",\n    ".join(ctes)
    return f"""
    WITH RECURSIVE {ctes_sql},
    fin AS (
      SELECT unit, CAST(len(syms) AS BIGINT) AS n_syms,
             CAST(length(unit) AS BIGINT) AS n_chars
      FROM {fin}{rounds}
    )
    SELECT ws.source,
           CAST(SUM(ws.freq_s) AS BIGINT) AS n_{unit}s,
           CAST(SUM(ws.freq_s * fin.n_syms) AS BIGINT) AS n_tokens,
           CAST(SUM(ws.freq_s * fin.n_syms) AS DOUBLE)
             / CAST(SUM(ws.freq_s) AS DOUBLE) AS {per_unit},
           CAST(SUM(ws.freq_s * fin.n_chars) AS DOUBLE)
             / CAST(SUM(ws.freq_s * fin.n_syms) AS DOUBLE)
             AS chars_per_token
    FROM ws JOIN fin USING (unit)
    GROUP BY ws.source ORDER BY ws.source
    """


def hash_embed_ctes() -> str:
    """CTE chain deriving the hash-projection document embeddings
    (``inference.encode_documents``) bit-for-bit:
    per-DISTINCT-word base-31 Horner hash mod Mersenne-31 (the
    ``_tok_hashes`` scheme), feature-hashed (bucket = h % EMBED_DIM,
    sign from (h // EMBED_DIM) % 2), signed counts summed as INTEGERS
    per (doc, bucket), densified through a map probe, then L2-normalized — the
    only float ops are sqrt(int) and x/norm, the same correctly-rounded
    IEEE ops the Arrow kernel runs. Zero-norm (empty or sign-cancelled)
    docs drop on both engines. Ends with ``ev(doc_id, v)``. The oracle
    works at VOCABULARY cost (hash distinct words, join back); the
    Spark kernel is per-document because a real encoder is — identical
    values either way."""
    from kp_data_pipelines_spark.operators.inference import EMBED_DIM

    return f"""tok AS (
      SELECT doc_id, unnest(string_split(norm, ' ')) AS word
      FROM (SELECT doc_id, {_NORM_SQL} AS norm FROM documents)
      WHERE length(norm) > 0
    ),
    wv AS (
      SELECT word, h % {EMBED_DIM} AS b,
             CASE WHEN (h // {EMBED_DIM}) % 2 = 0 THEN 1 ELSE -1 END AS sgn
      FROM (SELECT word, list_reduce(list_prepend(CAST(0 AS BIGINT),
                     list_transform(range(1, length(word) + 1),
                       i -> CAST(ord(substr(word, i, 1)) AS BIGINT))),
                     (acc, c) -> (acc * 31 + c) % 2147483647) AS h
            FROM (SELECT DISTINCT word FROM tok))
    ),
    bsum AS (
      SELECT t.doc_id, w.b, CAST(SUM(w.sgn) AS BIGINT) AS s
      FROM tok t JOIN wv w USING (word) GROUP BY t.doc_id, w.b
    ),
    dmap AS (
      SELECT doc_id, map(list(b ORDER BY b), list(s ORDER BY b)) AS mp
      FROM bsum GROUP BY doc_id
    ),
    ivec AS (
      SELECT doc_id,
             list_transform(range(0, {EMBED_DIM}),
                            b -> coalesce(mp[b][1], CAST(0 AS BIGINT)))
               AS iv
      FROM dmap
    ),
    ev AS (
      SELECT doc_id,
             list_transform(iv, x -> CAST(x AS DOUBLE) / sqrt(ss)) AS v
      FROM (SELECT doc_id, iv,
                   CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                          list_transform(iv, x -> x * x)),
                          (a, x) -> a + x) AS DOUBLE) AS ss
            FROM ivec)
      WHERE ss > 0
    )"""


def hash_embed_ann_sql() -> str:
    """Twin of q322: embed-at-scale (``hash_embed_ctes``) feeding q40's
    hyperplane-LSH bucket + exact-cosine-top-k consumer. The anchor is
    the smallest surviving doc_id; every dot is the sequential
    ``_dot`` fold so bucket bits and cosines are bit-identical to the
    Spark plan's ``F.aggregate`` / Python-driver query-norm fold."""
    from kp_data_pipelines_spark.operators.inference import EMBED_DIM

    planes = simhash_planes(EMBED_DIM, 6, 7)
    return f"""
    WITH {hash_embed_ctes()},
    anchor AS (SELECT min(doc_id) AS qid FROM ev),
    q AS (SELECT v AS qv FROM ev CROSS JOIN anchor WHERE doc_id = qid),
    cand AS (
      SELECT doc_id, v FROM ev CROSS JOIN anchor WHERE doc_id <> qid
    ),
    bc AS (
      SELECT doc_id, v, {_bucket_expr("v", planes)} AS bucket FROM cand
    ),
    bq AS (SELECT qv, {_bucket_expr("qv", planes)} AS bucket FROM q)
    SELECT doc_id, cos
    FROM (
      SELECT bc.doc_id,
             {_dot("bc.v", "bq.qv")}
               / (sqrt({_dot("bc.v", "bc.v")}) * sqrt({_dot("bq.qv", "bq.qv")}))
               AS cos
      FROM bc JOIN bq ON bc.bucket = bq.bucket
    )
    ORDER BY cos DESC, doc_id
    LIMIT 10
    """


def derived_embedding_dedup_sql() -> str:
    """Twin of q326: SemDeDup over DERIVED vectors — the
    ``hash_embed_ctes`` embeddings sign-sketch-blocked (16-bit block =
    sign bits of the integer counts, so the block key is exact), exact
    cosine inside blocks (the ``cosine_pairs_blocked`` fold: per-row
    norms, sequential dots), higher doc_id of every >= threshold pair
    removed, per-source ledger. The threshold literal is emitted in
    exponent form from the SAME Python float the Spark filter uses
    (q200 rule)."""
    from kp_data_pipelines_spark.operators.inference import EMBED_DIM

    thr = f"{0.95:.17e}"
    return f"""
    WITH {hash_embed_ctes()},
    src AS (SELECT doc_id, source FROM documents),
    blk AS (
      SELECT doc_id, v,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(0, {EMBED_DIM}),
                 j -> CASE WHEN v[j + 1] >= 0 THEN CAST(1 << j AS BIGINT)
                      ELSE CAST(0 AS BIGINT) END)),
               (a, x) -> a + x) AS block,
             sqrt({_dot("v", "v")}) AS nrm
      FROM ev
    ),
    dpairs AS (
      SELECT a.doc_id AS ia, b.doc_id AS ib
      FROM blk a JOIN blk b
        ON a.block = b.block AND a.doc_id < b.doc_id
      WHERE {_dot("a.v", "b.v")} / (a.nrm * b.nrm) >= {thr}
    ),
    rm AS (SELECT DISTINCT ib AS doc_id FROM dpairs),
    pb AS (
      SELECT s.source, CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM dpairs p JOIN src s ON s.doc_id = p.ib GROUP BY s.source
    ),
    base AS (
      SELECT s.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_removed
      FROM ev e JOIN src s USING (doc_id)
      LEFT JOIN rm r ON r.doc_id = e.doc_id
      GROUP BY s.source
    )
    SELECT b.source, b.n_docs,
           COALESCE(pb.n_pairs, 0) AS n_pairs,
           b.n_removed,
           b.n_docs - b.n_removed AS n_kept
    FROM base b LEFT JOIN pb ON pb.source = b.source
    ORDER BY b.source
    """


def decoded_media_dedup_sql() -> str:
    """Twin of q320: the decode -> fingerprint seam as a ledger — per
    (source, kind), payload identity measured at the DECODED layer:
    distinct decoded feature identities (the fake decoder's
    ``kind:sha256(content)[:12]`` token — deterministic, exactly what
    ``multimodal._fake_decode`` emits over the UTF-8 payload) and
    distinct dHash fingerprints OF those feature tokens (the q301
    hex-fold chain applied to the token's UTF-8 bytes). The fingerprint
    column is COARSER than the feature column on these degenerate
    18-byte tokens (documented in test_decode_to_hamming_seam) — the
    gap is the collision pressure a real decoder's full pixel array
    removes."""
    return f"""
    WITH m AS (
      SELECT doc_id AS media_id, source,
             CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
                  WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
             sha256(text) AS content_sha
      FROM documents
    ),
    mh AS (
      SELECT media_id, source, kind, content_sha,
             hex(encode(kind || ':' || substr(content_sha, 1, 12))) AS hx
      FROM m
    ),
    {_phash_chain("media_id", "mh")}
    SELECT mh.source, mh.kind,
           CAST(COUNT(*) AS BIGINT) AS n_media,
           CAST(COUNT(DISTINCT mh.content_sha) AS BIGINT) AS n_features,
           CAST(COUNT(DISTINCT mfp.phash) AS BIGINT) AS n_fps
    FROM mh JOIN mfp USING (media_id)
    GROUP BY mh.source, mh.kind
    ORDER BY mh.source, mh.kind
    """


def decoded_roundtrip_dedup_sql() -> str:
    """Twin of q323: the REAL-codec round trip. The Spark side encodes
    each document's padded text bytes as TWO byte-different PNG
    containers (filters 0 and 4), decodes them with the pure-stdlib PNG
    parser, and ledgers identities at both layers. The oracle cannot
    run a codec — it doesn't have to: the decoder is REAL and LOSSLESS,
    so the decoded feature token is a pure function of the SOURCE
    pixels (``image:{w}x{h}:gray:sha256(pixels)[:16]``), which SQL
    rebuilds from the text (ASCII contract: byte length == char
    length; sha256(VARCHAR) hashes UTF-8 bytes — same bytes the kernel
    hashes). Raw-layer identities replay as 2 x distinct pixel streams
    (deterministic injective encoder; a lossy or nondeterministic codec
    would break BOTH counts and fail parity — that is the
    certification). phash replays through the q320 hex-fold chain over
    the token bytes. Constants import from ``operators.multimodal``."""
    from kp_data_pipelines_spark.operators.multimodal import (
        PNG_ROUNDTRIP_FILTERS,
        PNG_ROUNDTRIP_WIDTH,
    )

    w = PNG_ROUNDTRIP_WIDTH
    nv = len(PNG_ROUNDTRIP_FILTERS)
    return f"""
    WITH px AS (
      SELECT doc_id, source,
             text || repeat(' ',
               CAST(ceil(length(text) / {w}.0) AS INT) * {w}
                 - length(text)) AS pix,
             CAST(ceil(length(text) / {w}.0) AS INT) AS h
      FROM documents WHERE length(text) > 0
    ),
    tok AS (
      SELECT doc_id, source,
             'image:{w}x' || h || ':gray:'
               || substr(sha256(pix), 1, 16) AS feature,
             substr(sha256(pix), 1, 32) AS pixkey
      FROM px
    ),
    m AS (
      SELECT doc_id, source, feature, hex(encode(feature)) AS hx
      FROM tok
    ),
    {_phash_chain("doc_id", "m")}
    SELECT m.source,
           CAST({nv} * COUNT(*) AS BIGINT) AS n_payloads,
           CAST({nv} * COUNT(DISTINCT t.pixkey) AS BIGINT) AS n_raw,
           CAST(COUNT(DISTINCT m.feature) AS BIGINT) AS n_decoded,
           CAST(COUNT(DISTINCT mfp.phash) AS BIGINT) AS n_fps
    FROM m JOIN mfp USING (doc_id) JOIN tok t USING (doc_id)
    GROUP BY m.source
    ORDER BY m.source
    """


def media_shared_segments_sql() -> str:
    """Twin of q305: media pairs sharing content SEGMENTS — fixed-size
    chunk hashes in common. Chunk boundaries are multimodal.chunk_media's
    (ceil(len/cb) chunks, 1-based substring slices); identities are
    sha256 of the chunk. The twin chunks the TEXT where Spark chunks the
    UTF-8 BYTES — identical for the all-ASCII fixture (the q36 oracle's
    standing equivalence); chunk-frequency cap and min-shared floor
    are the shared ``multimodal`` knob constants (the winnowing twin's
    boilerplate guards)."""
    from kp_data_pipelines_spark.operators.multimodal import (
        MEDIA_DF_CAP_MAX,
        MEDIA_DF_CAP_MIN,
        SEGMENT_MIN_SHARED,
    )

    chunk_bytes = 64
    return f"""
    WITH c AS (
      SELECT doc_id AS media_id,
             unnest(range(0, greatest(
               CAST(ceil(length(text) / {float(chunk_bytes)}) AS BIGINT),
               1))) AS ci,
             text
      FROM documents WHERE length(text) > 0
    ),
    hh AS (
      SELECT DISTINCT media_id,
             sha256(substr(text, CAST(ci * {chunk_bytes} + 1 AS INT),
                           {chunk_bytes})) AS ch
      FROM c
    ),
    chdf AS (SELECT ch, COUNT(DISTINCT media_id) AS nm FROM hh GROUP BY ch),
    k AS (
      SELECT media_id, hh.ch FROM hh JOIN chdf ON chdf.ch = hh.ch
      WHERE nm BETWEEN {MEDIA_DF_CAP_MIN} AND {MEDIA_DF_CAP_MAX}
    ),
    p AS (
      SELECT a.media_id AS id_a, b.media_id AS id_b,
             CAST(COUNT(*) AS BIGINT) AS shared_chunks
      FROM k a JOIN k b ON a.ch = b.ch AND a.media_id < b.media_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, shared_chunks FROM p
    WHERE shared_chunks >= {SEGMENT_MIN_SHARED}
    ORDER BY id_a, id_b
    """


def video_frame_overlap_sql() -> str:
    """Twin of q306: media pairs whose sampled FRAMES overlap — frame
    timeline from duration metadata (frame_sample_plan's
    greatest(duration div every, 1) formula, duration = payload chars on
    the fixture), per-frame dHash over the frame window, banded
    Hamming-radius frame matching (2 x 32-bit chunks for radius 1 —
    exact pigeonhole), media-pair rollup with a >= 2-frame floor
    so a single coincidental frame match is not an overlap claim.
    Frame ids pack as media_id * 2^20 + frame_idx (frame counts and doc
    ids are far below 2^20 at every fixture SF)."""
    every = 100
    max_hamming = 1
    n_chunks = max_hamming + 1
    cb = 64 // n_chunks
    mask = (1 << cb) - 1
    return f"""
    WITH fr0 AS (
      SELECT doc_id AS media_id,
             unnest(range(0, greatest(
               CAST(length(text) // {every} AS BIGINT), 1))) AS fi,
             text
      FROM documents WHERE length(text) > 0
    ),
    m AS (
      SELECT media_id * 1048576 + fi AS media_fid,
             hex(encode(substr(text, CAST(fi * {every} + 1 AS INT),
                               {every}))) AS hx
      FROM fr0
    ),
    {_phash_chain("media_fid", "m").replace("mfp", "ffp")},
    fch AS (
      SELECT media_fid, phash, unnest(range(0, {n_chunks})) AS ci FROM ffp
    ),
    fkv AS (
      SELECT media_fid, phash, ci,
             (phash >> (ci * {cb})) & {mask} AS cv
      FROM fch
    ),
    fc AS (
      SELECT DISTINCT a.media_fid AS fa, b.media_fid AS fb
      FROM fkv a JOIN fkv b ON b.ci = a.ci AND b.cv = a.cv
       AND a.media_fid // 1048576 < b.media_fid // 1048576
      WHERE bit_count(xor(a.phash, b.phash)) <= {max_hamming}
    ),
    mp AS (
      SELECT fa // 1048576 AS id_a, fb // 1048576 AS id_b,
             CAST(COUNT(*) AS BIGINT) AS n_frame_matches
      FROM fc GROUP BY 1, 2
    )
    SELECT id_a, id_b, n_frame_matches FROM mp
    WHERE n_frame_matches >= 2
    ORDER BY id_a, id_b
    """


def dup_span_excision_sql() -> str:
    """Twin of q307: exact duplicated-SPAN excision ledger (the Lee et
    al. 2021 "Deduplicating Training Data" ExactSubstr transformation,
    token-granular): corpus-wide duplicated k-gram positions (q260's
    signal) merged per document into MAXIMAL contiguous spans
    (gaps-and-islands: starts within k tokens fuse — overlap or
    adjacency), each span's covered-token count clamped to the doc's
    token count, rolled up per source as an excise-vs-keep ledger.
    Integer arithmetic except the one pinned double division."""
    k = 8
    return f"""
    WITH th AS (
      SELECT doc_id, source, {_tok_hashes()} AS th FROM documents
    ),
    g AS (
      SELECT doc_id, source, len(th) AS n_toks,
             {_grams(k, False)} AS grams
      FROM th
    ),
    s AS MATERIALIZED (
      SELECT doc_id, source, n_toks, i AS pos, grams[i + 1] AS gram
      FROM (SELECT doc_id, source, n_toks, grams,
                   unnest(range(len(grams))) AS i
            FROM g)
    ),
    dfreq AS (
      SELECT gram FROM s GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    dup AS (
      SELECT s.doc_id, s.source, s.n_toks, s.pos
      FROM s JOIN dfreq d ON d.gram = s.gram
    ),
    isl AS (
      SELECT doc_id, n_toks, pos,
             CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id
                                            ORDER BY pos) > {k}
                  THEN 1 ELSE 0 END AS brk
      FROM dup
    ),
    isl2 AS (
      SELECT doc_id, n_toks, pos,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS island
      FROM isl
    ),
    sp AS (
      SELECT doc_id, island,
             LEAST(MAX(pos) + {k}, MAX(n_toks)) - MIN(pos) AS span_toks
      FROM isl2 GROUP BY doc_id, island
    ),
    pd AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_spans,
             CAST(SUM(span_toks) AS BIGINT) AS span_toks,
             CAST(MAX(span_toks) AS BIGINT) AS max_span
      FROM sp GROUP BY doc_id
    ),
    alld AS (
      SELECT g.doc_id, g.source, g.n_toks,
             COALESCE(pd.n_spans, 0) AS n_spans,
             COALESCE(pd.span_toks, 0) AS span_toks,
             COALESCE(pd.max_span, 0) AS max_span
      FROM g LEFT JOIN pd ON pd.doc_id = g.doc_id
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN n_spans > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_with_spans,
           CAST(SUM(n_spans) AS BIGINT) AS n_spans,
           CAST(SUM(span_toks) AS BIGINT) AS excised_tokens,
           CAST(SUM(n_toks) - SUM(span_toks) AS BIGINT) AS kept_tokens,
           CAST(MAX(max_span) AS BIGINT) AS max_span_tokens,
           CAST(SUM(span_toks) AS DOUBLE) / CAST(SUM(n_toks) AS DOUBLE)
             AS excised_share
    FROM alld GROUP BY source ORDER BY source
    """


def dup_span_excision_apply_sql() -> str:
    """Twin of q316: the APPLY step of q307's excision ledger — the
    scrubbed corpus itself. Spans are q307's gaps-and-islands verbatim
    (duplicated k-gram starts fuse when <= k apart; island covers
    [min_pos, least(max_pos + k, n_toks))); the apply keeps every token
    whose 0-based position falls in NO island, reassembles them in
    position order with single spaces, and emits one row per document
    with the kept-text sha256 — the per-doc hash the driver's value
    check pins cross-engine. Islands are pairwise disjoint (a > k gap
    separates them), so covered positions count once."""
    k = 8
    return f"""
    WITH th AS (
      SELECT doc_id, source, {_tok_hashes()} AS th FROM documents
    ),
    g AS (
      SELECT doc_id, source, len(th) AS n_toks,
             {_grams(k, False)} AS grams
      FROM th
    ),
    s AS MATERIALIZED (
      SELECT doc_id, n_toks, i AS pos, grams[i + 1] AS gram
      FROM (SELECT doc_id, n_toks, grams,
                   unnest(range(len(grams))) AS i
            FROM g)
    ),
    dfreq AS (
      SELECT gram FROM s GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    dup AS (
      SELECT s.doc_id, s.n_toks, s.pos
      FROM s JOIN dfreq d ON d.gram = s.gram
    ),
    isl AS (
      SELECT doc_id, n_toks, pos,
             CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id
                                            ORDER BY pos) > {k}
                  THEN 1 ELSE 0 END AS brk
      FROM dup
    ),
    isl2 AS (
      SELECT doc_id, n_toks, pos,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS island
      FROM isl
    ),
    sp AS MATERIALIZED (
      SELECT doc_id, island, MIN(pos) AS sp_start,
             LEAST(MAX(pos) + {k}, MAX(n_toks)) AS sp_end
      FROM isl2 GROUP BY doc_id, island
    ),
    toks AS MATERIALIZED (
      SELECT doc_id, i AS pos, tk[i + 1] AS tok
      FROM (SELECT doc_id, tk, unnest(range(len(tk))) AS i
            FROM (SELECT doc_id,
                         regexp_split_to_array(trim(lower(text)),
                                               '\\s+') AS tk
                  FROM documents))
    ),
    cov AS (
      SELECT DISTINCT t.doc_id, t.pos
      FROM toks t JOIN sp ON sp.doc_id = t.doc_id
       AND t.pos >= sp.sp_start AND t.pos < sp.sp_end
    ),
    kept AS (
      SELECT t.doc_id,
             CAST(COUNT(*) AS BIGINT) AS kept_tokens,
             string_agg(t.tok, ' ' ORDER BY t.pos) AS kept_text
      FROM toks t LEFT JOIN cov c
        ON c.doc_id = t.doc_id AND c.pos = t.pos
      WHERE c.pos IS NULL
      GROUP BY t.doc_id
    ),
    nsp AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans FROM sp
      GROUP BY doc_id
    )
    SELECT g.doc_id, g.source,
           CAST(g.n_toks AS BIGINT) AS n_toks,
           COALESCE(nsp.n_spans, 0) AS n_spans,
           COALESCE(kept.kept_tokens, 0) AS kept_tokens,
           CAST(g.n_toks - COALESCE(kept.kept_tokens, 0) AS BIGINT)
             AS excised_tokens,
           sha256(COALESCE(kept.kept_text, '')) AS kept_sha
    FROM g
    LEFT JOIN nsp ON nsp.doc_id = g.doc_id
    LEFT JOIN kept ON kept.doc_id = g.doc_id
    ORDER BY g.doc_id
    """


def _constellation_lm_ctes(src: str, id_col: str, prefix: str = "") -> str:
    """CTE chain ``{prefix}fr / {prefix}pk / {prefix}lm0 / {prefix}lm
    (id_col, t, key)`` over a source CTE providing ``(id_col, text)`` —
    the SQL twin of ``multimodal.constellation_landmarks`` (frame
    windows, per-frame argmax peak with first-occurrence ties, peak
    pairs at deltas 1..fan packed into integer constellation keys).
    ``prefix`` allows two instances in one query (q312 probes vs
    corpus)."""
    from kp_data_pipelines_spark.operators.multimodal import (
        LANDMARK_MULTIPLICITY_CAP,
    )

    w = 32
    fan = 3
    p = prefix
    leads = ",\n             ".join(
        f"LEAD(p, {d}) OVER win AS p{d}, LEAD(v, {d}) OVER win AS v{d}"
        for d in range(1, fan + 1)
    )
    unions = "\n      UNION ALL\n      ".join(
        f"SELECT {id_col}, t,\n"
        f"             CAST((((p * {w + 1} + p{d}) * {fan} + {d - 1}) * 16\n"
        f"                   + (v // 64) * 4 + (v{d} // 64)) AS BIGINT)"
        f" AS key\n"
        f"      FROM {p}lm0 WHERE p{d} IS NOT NULL"
        for d in range(1, fan + 1)
    )
    return f"""{p}fr AS (
      SELECT {id_col}, i AS t, substr(text, i * {w} + 1, {w}) AS f
      FROM (SELECT {id_col}, text,
                   unnest(range((length(text) + {w - 1}) // {w})) AS i
            FROM {src} WHERE length(text) > 0)
    ),
    {p}pk AS (
      SELECT {id_col}, t, list_max(codes) AS v,
             list_position(codes, list_max(codes)) AS p
      FROM (SELECT {id_col}, t,
                   list_transform(range(1, length(f) + 1),
                                  i -> ord(substr(f, i, 1))) AS codes
            FROM {p}fr)
    ),
    {p}lm0 AS (
      SELECT {id_col}, t, p, v,
             {leads}
      FROM {p}pk
      WINDOW win AS (PARTITION BY {id_col} ORDER BY t)
    ),
    {p}lm AS MATERIALIZED (
      SELECT {id_col}, t, key FROM (
        SELECT {id_col}, t, key,
               ROW_NUMBER() OVER (PARTITION BY {id_col}, key
                                  ORDER BY t) AS mrn
        FROM ({unions})
      ) WHERE mrn <= {LANDMARK_MULTIPLICITY_CAP}
    )"""


def audio_constellation_sql() -> str:
    """Twin of q308: Shazam-style landmark-constellation matching with
    offset-histogram voting. Payload chars frame into 32-char windows;
    each frame's landmark is (argmax char code, code bucket); landmark
    PAIRS at frame deltas 1..3 become integer hash keys; keys seen in
    2..cap media join across media and the per-pair mode of the frame
    OFFSET (t_b - t_a) is the alignment vote. Exact integers end to
    end; ties broken (votes DESC, offset ASC); caps are the shared
    ``multimodal`` knob constants."""
    from kp_data_pipelines_spark.operators.multimodal import (
        CONSTELLATION_MIN_VOTES,
        MEDIA_DF_CAP_MAX,
        MEDIA_DF_CAP_MIN,
    )
    return f"""
    WITH m AS (
      SELECT doc_id AS media_id, text FROM documents
      WHERE length(text) > 0
    ),
    {_constellation_lm_ctes("m", "media_id")},
    kf AS (
      SELECT key FROM lm GROUP BY key
      HAVING COUNT(DISTINCT media_id) BETWEEN {MEDIA_DF_CAP_MIN} AND {MEDIA_DF_CAP_MAX}
    ),
    lmk AS MATERIALIZED (
      SELECT lm.media_id, lm.t, lm.key FROM lm JOIN kf USING (key)
    ),
    votes AS (
      SELECT a.media_id AS id_a, b.media_id AS id_b,
             CAST(b.t - a.t AS BIGINT) AS best_offset,
             CAST(COUNT(*) AS BIGINT) AS votes
      FROM lmk a JOIN lmk b
        ON a.key = b.key AND a.media_id < b.media_id
      GROUP BY 1, 2, 3
    ),
    best AS (
      SELECT id_a, id_b, best_offset, votes,
             ROW_NUMBER() OVER (PARTITION BY id_a, id_b
                                ORDER BY votes DESC, best_offset ASC)
               AS rn
      FROM votes
    )
    SELECT id_a, id_b, best_offset, votes
    FROM best WHERE rn = 1 AND votes >= {CONSTELLATION_MIN_VOTES}
    ORDER BY id_a, id_b
    """


def media_dedup_ledger_sql() -> str:
    """Twin of q309: perceptual media dedup LIFECYCLE ledger — connected
    components over the q302 Hamming-radius pair graph (recursive
    closure over the banded mcand pair core, the q66 shape), canonical
    = min media_id per component, per-source keep-vs-drop char
    accounting. Char units named *_chars (the q282 ADVICE lesson)."""
    return f"""
    WITH RECURSIVE {_media_phash_cte()},
    {_media_hamming_cand_cte(4)},
    sym AS (
      SELECT id_a AS src, id_b AS dst FROM mcand
      UNION SELECT id_b, id_a FROM mcand
    ),
    reach AS (
      SELECT src AS node, src AS r FROM sym
      UNION
      SELECT rr.node, s.dst AS r FROM reach rr JOIN sym s ON rr.r = s.src
    ),
    cc AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node),
    d AS (
      SELECT doc_id AS media_id, source,
             CAST(length(text) AS BIGINT) AS n_chars,
             COALESCE(cc.component, doc_id) AS comp
      FROM documents LEFT JOIN cc ON cc.node = doc_id
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_media,
           CAST(SUM(CASE WHEN media_id = comp THEN 1 ELSE 0 END)
                AS BIGINT) AS n_canonical,
           CAST(SUM(CASE WHEN media_id = comp THEN 0 ELSE 1 END)
                AS BIGINT) AS n_dropped,
           CAST(SUM(CASE WHEN media_id = comp THEN n_chars ELSE 0 END)
                AS BIGINT) AS kept_chars,
           CAST(SUM(CASE WHEN media_id = comp THEN 0 ELSE n_chars END)
                AS BIGINT) AS dropped_chars,
           CAST(SUM(CASE WHEN media_id = comp THEN 0 ELSE n_chars END)
                AS DOUBLE) / CAST(SUM(n_chars) AS DOUBLE)
             AS dup_char_share
    FROM d GROUP BY source ORDER BY source
    """


def media_ingest_ledger_sql() -> str:
    """Twin of q310: the streaming fingerprint-store admission ledger's
    batch equivalent — per source: payload count, admitted (globally
    first-occurrence) fingerprints, exact-fingerprint duplicate
    payloads, and the near-dup pressure on admission (for each admitted
    fingerprint, distinct EARLIER-first fingerprints within the Hamming
    radius; candidates via the single-chunk pigeonhole banding, exact
    after bit_count verification). "Earlier" = smaller first media_id,
    matching the stream's ascending-arrival contract."""
    max_hamming = 4
    n_chunks = max_hamming + 1
    cb = 64 // n_chunks
    mask = (1 << cb) - 1
    return f"""
    WITH {_media_phash_cte()},
    fp1 AS MATERIALIZED (
      SELECT phash, MIN(media_id) AS fid FROM mfp GROUP BY phash
    ),
    fkv AS (
      SELECT phash, fid, ci, (phash >> (ci * {cb})) & {mask} AS cv
      FROM (SELECT phash, fid, unnest(range(0, {n_chunks})) AS ci
            FROM fp1)
    ),
    npair AS (
      SELECT DISTINCT a.phash AS pa, b.phash AS pb
      FROM fkv a JOIN fkv b
        ON b.ci = a.ci AND b.cv = a.cv AND a.fid < b.fid
      WHERE bit_count(xor(a.phash, b.phash)) <= {max_hamming}
    ),
    nnear AS (
      SELECT pb AS phash, CAST(COUNT(*) AS BIGINT) AS n_near
      FROM npair GROUP BY pb
    ),
    d AS (
      SELECT mm.media_id, doc.source, f.fid, mm.phash
      FROM mfp mm
      JOIN documents doc ON doc.doc_id = mm.media_id
      JOIN fp1 f ON f.phash = mm.phash
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_media,
           CAST(SUM(CASE WHEN media_id = fid THEN 1 ELSE 0 END)
                AS BIGINT) AS new_fps,
           CAST(SUM(CASE WHEN media_id <> fid THEN 1 ELSE 0 END)
                AS BIGINT) AS dup_media,
           CAST(SUM(CASE WHEN media_id = fid
                          AND COALESCE(nn.n_near, 0) > 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS near_flagged,
           CAST(SUM(CASE WHEN media_id = fid
                     THEN COALESCE(nn.n_near, 0) ELSE 0 END)
                AS BIGINT) AS near_hits,
           CAST(SUM(CASE WHEN media_id <> fid THEN 1 ELSE 0 END)
                AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             AS dup_media_share
    FROM d LEFT JOIN nnear nn ON nn.phash = d.phash
    GROUP BY source ORDER BY source
    """


def constellation_retrieval_sql() -> str:
    """Twin of q312: clip-to-source retrieval over the constellation
    index — probe clips are frame-ALIGNED substrings (start at a
    multiple of 32) of the 4 smallest sufficiently-long documents; their
    landmark keys join the df-capped corpus landmark table and the
    per-(probe, media, frame-offset) vote histogram's argmax (votes
    DESC, media ASC, offset ASC) identifies the source and alignment;
    the df cap is the shared ``multimodal`` knob constant."""
    from kp_data_pipelines_spark.operators.multimodal import (
        MEDIA_DF_CAP_MAX,
    )
    return f"""
    WITH m AS (
      SELECT doc_id AS media_id, text FROM documents
      WHERE length(text) > 0
    ),
    {_constellation_lm_ctes("m", "media_id")},
    kf AS (
      SELECT key FROM lm GROUP BY key
      HAVING COUNT(DISTINCT media_id) <= {MEDIA_DF_CAP_MAX}
    ),
    lmk AS MATERIALIZED (
      SELECT lm.media_id, lm.t, lm.key FROM lm JOIN kf USING (key)
    ),
    probes AS (
      SELECT doc_id AS probe_id,
             substr(text, 96 + 1, 192) AS text
      FROM documents WHERE length(text) >= 300
      ORDER BY doc_id LIMIT 4
    ),
    {_constellation_lm_ctes("probes", "probe_id", prefix="q")},
    votes AS (
      SELECT q.probe_id, c.media_id,
             CAST(c.t - q.t AS BIGINT) AS offset_frames,
             CAST(COUNT(*) AS BIGINT) AS votes
      FROM qlm q JOIN lmk c ON c.key = q.key
      GROUP BY 1, 2, 3
    ),
    best AS (
      SELECT probe_id, media_id, offset_frames, votes,
             ROW_NUMBER() OVER (PARTITION BY probe_id
               ORDER BY votes DESC, media_id ASC, offset_frames ASC)
               AS rn
      FROM votes
    )
    SELECT probe_id, media_id AS matched_media, offset_frames, votes
    FROM best WHERE rn = 1 ORDER BY probe_id
    """


def _dense_lm_ctes(src: str, id_col: str, prefix: str = "") -> str:
    """CTE chain ``{prefix}pcv / {prefix}pk / {prefix}pe / {prefix}lm0 /
    {prefix}dlm (id_col, t, key)`` over a source CTE providing
    ``(id_col, text)`` — the SQL twin of ``multimodal.dense_landmarks``:
    radius-DENSE_PEAK_RADIUS local-max peaks of the char-code stream
    (two per-doc window maxima; strict-left / tie-right keeps the first
    of an equal run), each anchor's rolling context hash over the
    DENSE_CTX_LEN following chars, and peak pairs at peak-deltas
    1..DENSE_FAN packed into integer keys of (code, next code,
    which-next, clamped char gap, anchor context). The constants import from ``operators.multimodal``
    so the engines can never drift."""
    from kp_data_pipelines_spark.operators.multimodal import (
        DENSE_CTX_LEN,
        DENSE_CTX_MOD,
        DENSE_DELTA_CAP,
        DENSE_FAN,
        DENSE_PEAK_RADIUS,
        LANDMARK_MULTIPLICITY_CAP,
    )

    p = prefix
    leads = ",\n             ".join(
        f"LEAD(t, {d}) OVER win AS t{d}, LEAD(v, {d}) OVER win AS v{d}"
        for d in range(1, DENSE_FAN + 1)
    )
    unions = "\n      UNION ALL\n      ".join(
        f"SELECT {id_col}, t,\n"
        f"             CAST((((v * 1024 + v{d}) * {DENSE_FAN + 1} + {d}) * 512\n"
        f"                  + LEAST(t{d} - t, {DENSE_DELTA_CAP}))"
        f" * {DENSE_CTX_MOD} + cx AS BIGINT) AS key\n"
        f"      FROM {p}lm0 WHERE v{d} IS NOT NULL"
        for d in range(1, DENSE_FAN + 1)
    )
    return f"""{p}pcv AS (
      SELECT {id_col}, i AS t, ord(substr(text, CAST(i AS INT), 1)) AS v
      FROM (SELECT {id_col}, text,
                   unnest(range(1, length(text) + 1)) AS i
            FROM {src} WHERE length(text) > 0)
    ),
    {p}pk AS (
      SELECT {id_col}, t, v,
             MAX(v) OVER (PARTITION BY {id_col} ORDER BY t
               ROWS BETWEEN {DENSE_PEAK_RADIUS} PRECEDING AND 1 PRECEDING) AS lmx,
             MAX(v) OVER (PARTITION BY {id_col} ORDER BY t
               ROWS BETWEEN 1 FOLLOWING AND {DENSE_PEAK_RADIUS} FOLLOWING) AS rmx
      FROM {p}pcv
    ),
    {p}pe AS (
      SELECT e.{id_col}, e.t, e.v,
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(
                   range(1, least({DENSE_CTX_LEN},
                                  length(s.text) - e.t) + 1),
                   j -> CAST(ord(substr(s.text, CAST(e.t + j AS INT), 1))
                             AS BIGINT))),
               (acc, c) -> (acc * 31 + c) % {DENSE_CTX_MOD}) AS cx
      FROM (SELECT {id_col}, t, v FROM {p}pk
            WHERE v > COALESCE(lmx, -1) AND v >= COALESCE(rmx, -1)) e
      JOIN {src} s USING ({id_col})
    ),
    {p}lm0 AS (
      SELECT {id_col}, t, v, cx,
             {leads}
      FROM {p}pe
      WINDOW win AS (PARTITION BY {id_col} ORDER BY t)
    ),
    {p}dlm AS MATERIALIZED (
      SELECT {id_col}, t, key FROM (
        SELECT {id_col}, t, key,
               ROW_NUMBER() OVER (PARTITION BY {id_col}, key
                                  ORDER BY t) AS mrn
        FROM ({unions})
      ) WHERE mrn <= {LANDMARK_MULTIPLICITY_CAP}
    )"""


def dense_landmark_retrieval_sql() -> str:
    """Twin of q317: clip-to-source retrieval over the DENSE
    (content-defined) landmark index — probe clips cut at offsets
    53/90/127/164 (``53 + (doc_id % 4) * 37`` — none a multiple of the
    fixed frame width 32 or its half 16), which q312's frame-aligned
    index cannot retrieve but content-defined peaks reproduce exactly.
    The vote argmax reports the source media AND the clip's char
    offset (t_corpus - t_probe)."""
    from kp_data_pipelines_spark.operators.multimodal import (
        MEDIA_DF_CAP_MAX,
    )
    return f"""
    WITH m AS (
      SELECT doc_id AS media_id, text FROM documents
      WHERE length(text) > 0
    ),
    {_dense_lm_ctes("m", "media_id")},
    dkf AS (
      SELECT key FROM dlm GROUP BY key
      HAVING COUNT(DISTINCT media_id) <= {MEDIA_DF_CAP_MAX}
    ),
    dlmk AS MATERIALIZED (
      SELECT dlm.media_id, dlm.t, dlm.key FROM dlm JOIN dkf USING (key)
    ),
    dprobes AS (
      SELECT doc_id AS probe_id,
             substr(text, CAST(53 + (doc_id % 4) * 37 + 1 AS INT),
                    192) AS text
      FROM documents WHERE length(text) >= 300
      ORDER BY doc_id LIMIT 4
    ),
    {_dense_lm_ctes("dprobes", "probe_id", prefix="q")},
    dvotes AS (
      SELECT q.probe_id, c.media_id,
             CAST(c.t - q.t AS BIGINT) AS offset_chars,
             CAST(COUNT(*) AS BIGINT) AS votes
      FROM qdlm q JOIN dlmk c ON c.key = q.key
      GROUP BY 1, 2, 3
    ),
    dbest AS (
      SELECT probe_id, media_id, offset_chars, votes,
             ROW_NUMBER() OVER (PARTITION BY probe_id
               ORDER BY votes DESC, media_id ASC, offset_chars ASC)
               AS rn
      FROM dvotes
    )
    SELECT probe_id, media_id AS matched_media, offset_chars, votes
    FROM dbest WHERE rn = 1 ORDER BY probe_id
    """


def df_cap_recall_sweep_sql() -> str:
    """Twin of q324: the landmark df-cap's recall/volume tradeoff as a
    measured curve. One corpus landmark table and one probe join (at
    the widest cap); each cap in MEDIA_DF_CAP_SWEEP counts kept keys,
    candidate pairs, retrieved probes, and exact-offset hits — the
    inequality fan (cand.nm <= cap) is oracle-side only; the Spark
    plan uses an explode over a filtered literal array (no BNLJ)."""
    from kp_data_pipelines_spark.operators.multimodal import (
        MEDIA_DF_CAP_SWEEP,
    )

    caps_lit = "[" + ", ".join(str(c) for c in MEDIA_DF_CAP_SWEEP) + "]"
    max_cap = max(MEDIA_DF_CAP_SWEEP)
    return f"""
    WITH m AS (
      SELECT doc_id AS media_id, text FROM documents
      WHERE length(text) > 0
    ),
    {_dense_lm_ctes("m", "media_id")},
    swcaps AS (SELECT unnest({caps_lit}) AS cap),
    knm AS (
      SELECT key, COUNT(DISTINCT media_id) AS nm FROM dlm GROUP BY key
    ),
    kk AS (
      SELECT cap, CAST(COUNT(*) AS BIGINT) AS keys_kept
      FROM swcaps JOIN knm ON knm.nm <= swcaps.cap GROUP BY cap
    ),
    dlmn AS MATERIALIZED (
      SELECT dlm.media_id, dlm.t, dlm.key, knm.nm
      FROM dlm JOIN knm USING (key) WHERE knm.nm <= {max_cap}
    ),
    dprobes AS (
      SELECT doc_id AS probe_id,
             substr(text, CAST(53 + (doc_id % 4) * 37 + 1 AS INT),
                    192) AS text
      FROM documents WHERE length(text) >= 300
      ORDER BY doc_id LIMIT 4
    ),
    {_dense_lm_ctes("dprobes", "probe_id", prefix="q")},
    swcand AS MATERIALIZED (
      SELECT q.probe_id, c.media_id,
             CAST(c.t - q.t AS BIGINT) AS offset_chars, c.nm
      FROM qdlm q JOIN dlmn c ON c.key = q.key
    ),
    swpairs AS (
      SELECT cap, CAST(COUNT(*) AS BIGINT) AS cand_pairs,
             CAST(COUNT(DISTINCT probe_id) AS BIGINT) AS retrieved_probes
      FROM swcaps JOIN swcand ON swcand.nm <= swcaps.cap GROUP BY cap
    ),
    swvotes AS (
      SELECT cap, probe_id, media_id, offset_chars,
             CAST(COUNT(*) AS BIGINT) AS votes
      FROM swcaps JOIN swcand ON swcand.nm <= swcaps.cap
      GROUP BY 1, 2, 3, 4
    ),
    swbest AS (
      SELECT cap, probe_id, media_id, offset_chars,
             ROW_NUMBER() OVER (PARTITION BY cap, probe_id
               ORDER BY votes DESC, media_id ASC, offset_chars ASC) AS rn
      FROM swvotes
    ),
    swhits AS (
      SELECT cap,
             CAST(SUM(CASE WHEN media_id = probe_id
                            AND offset_chars = 53 + (probe_id % 4) * 37
                           THEN 1 ELSE 0 END) AS BIGINT) AS hits
      FROM swbest WHERE rn = 1 GROUP BY cap
    )
    SELECT CAST(s.cap AS BIGINT) AS cap,
           COALESCE(kk.keys_kept, 0) AS keys_kept,
           COALESCE(p.cand_pairs, 0) AS cand_pairs,
           COALESCE(p.retrieved_probes, 0) AS retrieved_probes,
           COALESCE(h.hits, 0) AS hits
    FROM swcaps s
    LEFT JOIN kk ON kk.cap = s.cap
    LEFT JOIN swpairs p ON p.cap = s.cap
    LEFT JOIN swhits h ON h.cap = s.cap
    ORDER BY s.cap
    """


def neardup_edit_distance_sql() -> str:
    """Twin of q313: exact edit-distance verification of the q38
    MinHash candidate pairs — per (est-Jaccard octile x normalized-
    edit-distance decile), the pair count. UNITS: DuckDB's levenshtein
    measures BYTES while Spark's measures CODE POINTS — identical on
    ASCII corpora (this fixture is verified pure ASCII; a non-ASCII
    corpus would need a transliteration stage or a code-point UDF on
    the oracle side, and the Spark side is authoritative)."""
    return f"""
    WITH {_minhash_pairs_core()},
    pe AS (
      SELECT p.est_jaccard,
             CAST(levenshtein(da.text, db.text) AS BIGINT) AS lev,
             GREATEST(length(da.text), length(db.text), 1) AS mx
      FROM pairs p
      JOIN documents da ON da.doc_id = p.id_a
      JOIN documents db ON db.doc_id = p.id_b
      WHERE p.est_jaccard >= {MINHASH_THRESHOLD}
    ),
    edgrid AS (
      SELECT LEAST(CAST(FLOOR(est_jaccard * 8) AS BIGINT), 7)
               AS est_octile,
             LEAST(CAST(FLOOR((CAST(lev AS DOUBLE)
                               / CAST(mx AS DOUBLE)) * 10) AS BIGINT),
                   9) AS ed_decile
      FROM pe
    )
    SELECT est_octile, ed_decile,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM edgrid GROUP BY est_octile, ed_decile
    ORDER BY est_octile, ed_decile
    """


def media_datasheet_sql() -> str:
    """Twin of q314: the per-source MEDIA datasheet — identity stats at
    the three layers the round-8 surface measures (byte sha, perceptual
    dHash, Hamming-radius neighborhood) composed into one table: payload
    count, exact-byte duplicate count, exact-fingerprint duplicate
    count, and the media touched by at least one cross- or in-source
    near-dup pair (the q293 datasheet shape for the multimodal
    store)."""
    return f"""
    WITH {_media_phash_cte()},
    {_media_hamming_cand_cte(4)},
    ids AS (
      SELECT doc_id AS media_id, source, sha256(text) AS sha
      FROM documents
    ),
    nd AS (
      SELECT media_id FROM (
        SELECT id_a AS media_id FROM mcand
        UNION SELECT id_b FROM mcand
      )
    ),
    d AS (
      SELECT i.media_id, i.source, i.sha, f.phash,
             CASE WHEN nd.media_id IS NOT NULL THEN 1 ELSE 0 END
               AS in_near_pair
      FROM ids i
      JOIN mfp f ON f.media_id = i.media_id
      LEFT JOIN nd ON nd.media_id = i.media_id
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_media,
           CAST(COUNT(*) - COUNT(DISTINCT sha) AS BIGINT) AS sha_dups,
           CAST(COUNT(*) - COUNT(DISTINCT phash) AS BIGINT)
             AS phash_dups,
           CAST(SUM(in_near_pair) AS BIGINT) AS neardup_media,
           CAST(SUM(in_near_pair) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             AS neardup_share
    FROM d GROUP BY source ORDER BY source
    """


def ivfpq_adc_sql() -> str:
    """Twin of q328: IVF-PQ with an ADC candidate scan. The codebook ==
    the IVF centroid seed (first 16 candidates by vec_id),
    per-subspace PQ codes replay q155's assignment (L2 sequential fold;
    dist ASC, cid ASC ties), the per-anchor ADC lookup table is the same
    sequential sub-distance fold between the RAW query and each codebook
    entry, and the ADC distance is the left-assoc 8-term sum of LUT
    entries — every float op in the same order as the Spark side, so
    rankings (adc ASC, vec_id ASC) match bit-for-bit. Exact/rerank
    cosines are the standard `_dot` fold (== multi_cosine_kernel)."""
    n_queries = 8
    n_subspaces = 8
    kk = 10
    dim = EMBEDDING_DIM
    sub = dim // n_subspaces

    def l2(s: int, a: str, b: str) -> str:
        lo = s * sub
        return (
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(range(1, {sub + 1}), "
            f"i -> ({a}[{lo}+i] - {b}[{lo}+i]) * ({a}[{lo}+i] - {b}[{lo}+i]))), "
            f"(acc, x) -> acc + x)"
        )

    code_ctes = []
    for s in range(n_subspaces):
        code_ctes.append(
            f"""a{s} AS (
      SELECT vec_id, cid AS code{s} FROM (
        SELECT e.vec_id, c.cid, {l2(s, "e.v", "c.cv")} AS dist,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {l2(s, "e.v", "c.cv")}, c.cid)
                 AS rn
        FROM e CROSS JOIN c
      ) WHERE rn = 1
    )"""
        )
    lut_cols = ", ".join(
        f"{l2(s, 'q.qv', 'c.cv')} AS d{s}" for s in range(n_subspaces)
    )
    code_joins = " ".join(
        f"JOIN a{s} USING (vec_id)" for s in range(n_subspaces)
    )
    lut_joins = " ".join(
        f"JOIN lut l{s} ON l{s}.qid = p.qid AND l{s}.cid = k.code{s}"
        for s in range(n_subspaces)
    )
    adc_sum = " + ".join(f"l{s}.d{s}" for s in range(n_subspaces))
    codes_chain = ",\n    ".join(code_ctes)
    return f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id >= {n_queries}
    ),
    q AS (
      SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < {n_queries}
    ),
    c AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
             v AS cv
      FROM e ORDER BY vec_id LIMIT 16
    ),
    cn AS (
      SELECT cid, cv,
             CASE WHEN sqrt({_dot("cv", "cv")}) = 0 THEN 1.0
                  ELSE sqrt({_dot("cv", "cv")}) END AS ncv
      FROM c
    ),
    assign AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, cn.cid,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 {_dot("e.v", "cn.cv")}
                   / (sqrt({_dot("e.v", "e.v")}) * cn.ncv) DESC,
                 cn.cid DESC) AS rn
        FROM e CROSS JOIN cn
      ) WHERE rn = 1
    ),
    probe AS (
      SELECT qid, cid FROM (
        SELECT q.qid, cn.cid,
               row_number() OVER (PARTITION BY q.qid
                 ORDER BY {_dot("q.qv", "cn.cv")} / cn.ncv DESC, cn.cid)
                 AS prn
        FROM q CROSS JOIN cn
      ) WHERE prn <= 4
    ),
    {codes_chain},
    codes AS MATERIALIZED (
      SELECT e.vec_id, {", ".join(f"code{s}" for s in range(n_subspaces))}
      FROM e {code_joins}
    ),
    lut AS MATERIALIZED (
      SELECT q.qid, c.cid, {lut_cols}
      FROM q CROSS JOIN c
    ),
    adcc AS MATERIALIZED (
      SELECT p.qid, k.vec_id, {adc_sum} AS adc
      FROM codes k
      JOIN assign g ON g.vec_id = k.vec_id
      JOIN probe p ON p.cid = g.cid
      {lut_joins}
    ),
    adcrank AS MATERIALIZED (
      SELECT qid, vec_id,
             row_number() OVER (PARTITION BY qid
                                ORDER BY adc, vec_id) AS rn
      FROM adcc
    ),
    adck AS (SELECT qid, vec_id FROM adcrank WHERE rn <= {kk}),
    surv AS (SELECT qid, vec_id FROM adcrank WHERE rn <= 30),
    rr AS (
      SELECT qid, vec_id FROM (
        SELECT s.qid, s.vec_id,
               row_number() OVER (PARTITION BY s.qid ORDER BY
                 {_dot("e.v", "q.qv")}
                   / (sqrt({_dot("e.v", "e.v")})
                      * sqrt({_dot("q.qv", "q.qv")})) DESC,
                 s.vec_id) AS rn
        FROM surv s
        JOIN e ON e.vec_id = s.vec_id
        JOIN q ON q.qid = s.qid
      ) WHERE rn <= {kk}
    ),
    exact AS (
      SELECT qid, vec_id FROM (
        SELECT q.qid, e.vec_id,
               row_number() OVER (PARTITION BY q.qid ORDER BY
                 {_dot("e.v", "q.qv")}
                   / (sqrt({_dot("e.v", "e.v")})
                      * sqrt({_dot("q.qv", "q.qv")})) DESC,
                 e.vec_id) AS rn
        FROM e CROSS JOIN q
      ) WHERE rn <= {kk}
    )
    SELECT x.qid AS qid,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(SUM(CASE WHEN a.vec_id IS NULL THEN 0 ELSE 1 END)
                AS BIGINT) AS adc_hits,
           CAST(SUM(CASE WHEN r.vec_id IS NULL THEN 0 ELSE 1 END)
                AS BIGINT) AS rr_hits,
           CAST(SUM(CASE WHEN a.vec_id IS NULL THEN 0 ELSE 1 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS recall_adc,
           CAST(SUM(CASE WHEN r.vec_id IS NULL THEN 0 ELSE 1 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS recall_rr
    FROM exact x
    LEFT JOIN adck a ON a.qid = x.qid AND a.vec_id = x.vec_id
    LEFT JOIN rr r ON r.qid = x.qid AND r.vec_id = x.vec_id
    GROUP BY x.qid ORDER BY qid
    """


def learned_quality_sql() -> str:
    """Twin of q329: a LEARNED linear quality classifier over hashed
    unigrams + hashed STRUCTURAL tokens, trained on the q22 heuristic
    gate as weak labels with a LEARNED decision threshold. Features:
    whitespace tokens plus three structural tokens per doc (length
    band, alpha-ratio decile, mean-token-length band — the gate's own
    signal family, hashed through the same char fold into the same
    bucket space). Weights: the Laplace-smoothed NORMALIZED probability
    gap round(1e9*(pp-pn)/(pp+pn)) — monotone in the likelihood ratio
    and bounded, where the raw log-ratio is not cross-engine hashable
    (ln is libm-dependent). Score: exact BIGINT weight sum, normalized
    per token by ONE double divide. Decision threshold: the k-th
    smallest TRAIN score where k = #train negatives (prior-matched
    order statistic — integer-rank exact, ties broken by doc_id;
    at 100 TB this becomes a quantile sketch, here it is the exact
    replayable twin). The train/holdout split is a TWO-round LCG hash
    of doc_id mod 2 (the q239 lesson — bare parity is source-aligned
    on this fixture)."""
    n_buckets = 1024
    (a1, b1) = _hash_params(1, 73)[0]
    (a2, b2) = _hash_params(1, 74)[0]
    m = _MOD
    split = (
        f"(({a2} * (({a1} * (((doc_id % {m}) + {m}) % {m}) + {b1}) % {m})"
        f" + {b2}) % {m}) % 2"
    )
    struct = """list_value(
             'len' || CAST(CASE WHEN length(text) BETWEEN 100 AND 20000
                                THEN 1 ELSE 0 END AS VARCHAR),
             'alpha' || CAST(CAST(floor(
                 CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                      AS DOUBLE)
                 / greatest(CAST(length(text) AS DOUBLE), 1.0) * 10)
                 AS BIGINT) AS VARCHAR),
             'atl' || CAST(CASE WHEN
                 (CAST(length(regexp_replace(text, '\\s+', '', 'g'))
                       AS DOUBLE)
                  / greatest(CASE WHEN trim(text) = '' THEN 0
                             ELSE len(string_split_regex(trim(text),
                                                         '\\s+')) END, 1))
                 BETWEEN 2.0 AND 12.0 THEN 1 ELSE 0 END AS VARCHAR))"""
    fold = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "list_transform(range(1, length(t)+1), "
        "i -> CAST(ord(substr(t, i, 1)) AS BIGINT))), "
        f"(acc, c) -> (acc * 31 + c) % {_MOD})"
    )
    pp = f"CAST(coalesce(t.n_pos, 0) + 1 AS DOUBLE) / CAST(tot_pos + {n_buckets} AS DOUBLE)"
    pn = f"CAST(coalesce(t.n_neg, 0) + 1 AS DOUBLE) / CAST(tot_neg + {n_buckets} AS DOUBLE)"
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_concat(
               regexp_split_to_array(trim(lower(text)), '\\s+'),
               {struct})) AS t
      FROM documents
    ),
    tb AS MATERIALIZED (
      SELECT doc_id, {fold} % {n_buckets} AS bucket FROM toks
    ),
    lab AS MATERIALIZED (
      SELECT doc_id, source,
             CASE WHEN {_QUALITY_SQL} >= 0.8 THEN 1 ELSE 0 END AS label,
             {split} AS split_bit
      FROM documents
    ),
    trainb AS (
      SELECT bucket,
             CAST(SUM(l.label) AS BIGINT) AS n_pos,
             CAST(SUM(1 - l.label) AS BIGINT) AS n_neg
      FROM tb JOIN lab l USING (doc_id)
      WHERE l.split_bit = 0
      GROUP BY bucket
    ),
    tot AS (
      SELECT CAST(SUM(n_pos) AS BIGINT) AS tot_pos,
             CAST(SUM(n_neg) AS BIGINT) AS tot_neg
      FROM trainb
    ),
    grid AS (SELECT unnest(range(0, {n_buckets})) AS bucket),
    w AS MATERIALIZED (
      SELECT g.bucket,
             CAST(round(1000000000.0 * ({pp} - {pn}) / ({pp} + {pn}))
                  AS BIGINT) AS w
      FROM grid g LEFT JOIN trainb t USING (bucket) CROSS JOIN tot
    ),
    scores AS MATERIALIZED (
      SELECT tb.doc_id,
             CAST(SUM(w.w) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS score
      FROM tb JOIN w USING (bucket)
      GROUP BY tb.doc_id
    ),
    ktr AS (
      SELECT CAST(SUM(1 - label) AS BIGINT) AS k
      FROM lab WHERE split_bit = 0
    ),
    thr AS (
      -- k = 0 (no train negatives) must mirror the Spark fallback
      -- th = -infinity (everything classifies positive), not an
      -- empty CTE that would annihilate `d` through the CROSS JOIN
      SELECT coalesce(
               (SELECT score FROM (
                  SELECT s.score,
                         row_number() OVER (ORDER BY s.score, s.doc_id)
                           AS rn
                  FROM scores s JOIN lab l USING (doc_id)
                  WHERE l.split_bit = 0
                ) CROSS JOIN ktr WHERE rn = k),
               CAST('-infinity' AS DOUBLE)) AS th
    ),
    d AS (
      SELECT l.source, l.label,
             CASE WHEN s.score > thr.th THEN 1 ELSE 0 END AS pred,
             l.split_bit AS is_holdout
      FROM lab l JOIN scores s USING (doc_id) CROSS JOIN thr
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(label) AS BIGINT) AS n_gate_pos,
           CAST(SUM(pred) AS BIGINT) AS n_pred_pos,
           CAST(SUM(CASE WHEN label = pred THEN 1 ELSE 0 END) AS BIGINT)
             AS n_agree,
           CAST(SUM(CASE WHEN label = pred THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS agreement_rate,
           CAST(SUM(is_holdout) AS BIGINT) AS n_holdout,
           CAST(SUM(CASE WHEN is_holdout = 1 AND label = pred
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_holdout_agree,
           CASE WHEN SUM(is_holdout) = 0 THEN NULL
                ELSE CAST(SUM(CASE WHEN is_holdout = 1 AND label = pred
                              THEN 1 ELSE 0 END) AS DOUBLE)
                     / CAST(SUM(is_holdout) AS DOUBLE)
           END AS holdout_agreement_rate
    FROM d GROUP BY source ORDER BY source
    """

def wav_decoded_constellation_sql() -> str:
    """Twin of q330: the REAL audio codec round trip + landmarks over
    the DECODED samples. The Spark side encodes each document's bytes
    as TWO byte-different RIFF/WAVE containers of identical 8-bit PCM
    (plain + JUNK-chunk re-container), decodes them with the stdlib
    ``wave`` parser, ledgers identities at both layers, then builds
    constellation landmarks over the decoded sample stream of ONE
    representative per decoded identity. The oracle cannot run the
    codec — it doesn't have to: the decoder is REAL and LOSSLESS, so
    the decoded feature token is a pure function of the SOURCE samples
    (``audio:1x{rate}x{n}:sha256(samples)[:16]``, samples == text
    bytes under the ASCII contract) and the decoded char stream IS the
    text — which is exactly what parity certifies (a parser that
    misread the JUNK chunk or dropped a sample would shift every sha
    and landmark and fail the value hash). Raw-layer identities replay
    as 2 x distinct sample streams (deterministic injective encoder
    per variant). Constants import from ``operators.multimodal``."""
    from kp_data_pipelines_spark.operators.multimodal import (
        WAV_ROUNDTRIP_RATE,
        WAV_ROUNDTRIP_VARIANTS,
    )

    nv = WAV_ROUNDTRIP_VARIANTS
    rate = WAV_ROUNDTRIP_RATE
    return f"""
    WITH tok AS MATERIALIZED (
      SELECT doc_id, source, text,
             'audio:1x{rate}x' || length(text) || ':'
               || substr(sha256(text), 1, 16) AS feature
      FROM documents WHERE length(text) > 0
    ),
    reps AS (
      SELECT source, feature, MIN(doc_id) AS rep_doc
      FROM tok GROUP BY source, feature
    ),
    m AS (
      SELECT r.source, CAST({nv} * r.rep_doc AS BIGINT) AS media_id,
             t.text
      FROM reps r JOIN tok t ON t.doc_id = r.rep_doc
    ),
    {_constellation_lm_ctes("m", "media_id")},
    lstats AS (
      SELECT m.source,
             CAST(COUNT(*) AS BIGINT) AS n_landmarks,
             CAST(COUNT(DISTINCT lm.key) AS BIGINT) AS n_keys
      FROM lm JOIN m USING (media_id)
      GROUP BY m.source
    ),
    led AS (
      SELECT source,
             CAST({nv} * COUNT(*) AS BIGINT) AS n_payloads,
             CAST({nv} * COUNT(DISTINCT text) AS BIGINT) AS n_raw,
             CAST(COUNT(DISTINCT feature) AS BIGINT) AS n_decoded
      FROM tok GROUP BY source
    )
    SELECT led.source, led.n_payloads, led.n_raw, led.n_decoded,
           CAST(coalesce(l.n_landmarks, 0) AS BIGINT) AS n_landmarks,
           CAST(coalesce(l.n_keys, 0) AS BIGINT) AS n_keys
    FROM led LEFT JOIN lstats l USING (source)
    ORDER BY led.source
    """


def pq_refine_sql() -> str:
    """Twin of q332: per-subspace Lloyd refinement of the PQ codebook.
    Round r's per-subspace assignments (L2 sequential fold; dist ASC,
    cid ASC ties — the q155 lane) double as the error measurement for
    codebook r; (code, dim) means aggregate QUANTIZED (round(x*1e6)
    staged through DECIMAL(38,0) — kmeans_refine's order-independent
    cross-engine-exact lane) with empty cells carrying the previous
    sub-centroid via COALESCE over the full (cid, dim) grid. Total
    reconstruction error per round is the quantized BIGINT-exact sum
    of per-row subspace-ordered error sums."""
    n_subspaces = 8
    n_iter = 2
    dim = EMBEDDING_DIM
    sub = dim // n_subspaces

    def l2(s: int, cb: str) -> str:
        lo = s * sub
        return (
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(range(1, {sub + 1}), "
            f"i -> (e.v[{lo}+i] - {cb}.cv[{lo}+i])"
            f" * (e.v[{lo}+i] - {cb}.cv[{lo}+i]))), "
            f"(acc, x) -> acc + x)"
        )

    parts = [
        f"""e AS MATERIALIZED (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    cb0 AS MATERIALIZED (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
               AS cid,
             v AS cv
      FROM e ORDER BY vec_id LIMIT 16
    ),
    g AS (SELECT unnest(range({dim})) AS pos)"""
    ]
    err_sels = []
    for r in range(n_iter + 1):
        for s in range(n_subspaces):
            parts.append(
                f"""a{r}_{s} AS (
      SELECT vec_id, cid AS code{s}, dist AS d{s} FROM (
        SELECT e.vec_id, c.cid, {l2(s, "c")} AS dist,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {l2(s, "c")}, c.cid) AS rn
        FROM e CROSS JOIN cb{r} c
      ) WHERE rn = 1
    )"""
            )
        joins = " ".join(
            f"JOIN a{r}_{s} USING (vec_id)" for s in range(n_subspaces)
        )
        esum = " + ".join(f"d{s}" for s in range(n_subspaces))
        parts.append(
            f"""err{r} AS (
      SELECT CAST(SUM(CAST(round(({esum}) * 1000000.0)
                           AS DECIMAL(38,0))) AS DOUBLE)
               / 1000000.0 AS total_err
      FROM e {joins}
    )"""
        )
        err_sels.append(
            f"SELECT CAST({r} AS BIGINT) AS round, err{r}.total_err, "
            f"err{r}.total_err / b.base AS err_ratio "
            f"FROM err{r} CROSS JOIN "
            f"(SELECT total_err AS base FROM err0) b"
        )
        if r == n_iter:
            break
        case_code = "CASE (pos // {sub}) ".format(sub=sub) + " ".join(
            f"WHEN {s} THEN code{s}" for s in range(n_subspaces)
        ) + " END"
        joins_c = " ".join(
            f"JOIN a{r}_{s} USING (vec_id)" for s in range(n_subspaces)
        )
        parts.append(
            f"""m{r + 1} AS (
      SELECT code, pos,
             CAST(SUM(CAST(round(val * 1000000.0) AS DECIMAL(38,0)))
                  AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) / 1000000.0 AS m
      FROM (
        SELECT px.vec_id, px.pos, px.val, {case_code} AS code
        FROM (SELECT e.vec_id, g.pos, e.v[g.pos + 1] AS val
              FROM e CROSS JOIN g) px
        {joins_c}
      )
      GROUP BY code, pos
    )"""
        )
        parts.append(
            f"""cb{r + 1} AS MATERIALIZED (
      SELECT c.cid,
             list(COALESCE(m.m, c.cv[g.pos + 1]) ORDER BY g.pos) AS cv
      FROM cb{r} c CROSS JOIN g
      LEFT JOIN m{r + 1} m ON m.code = c.cid AND m.pos = g.pos
      GROUP BY c.cid
    )"""
        )
    ctes = ",\n    ".join(parts)
    union = " UNION ALL ".join(err_sels)
    return (
        "\n    WITH "
        + ctes
        + f"\n    SELECT * FROM ({union}) u ORDER BY round\n    "
    )
