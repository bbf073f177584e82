"""Similarity search + near-duplicate detection at corpus scale (north star).

- ``cosine_topk``: brute-force cosine top-k against a query vector — the
  correctness baseline. All arithmetic in double via JVM higher-order
  functions (zip_with/aggregate); no Python in the loop. At 100 TB this is
  one scan + a top-k (TakeOrdered) — no shuffle of the full table.
- ``lsh_bucket_cosine_topk``: scale path — random-hyperplane (SimHash-style)
  bucketing prunes candidates before exact scoring.
- ``minhash_near_dups``: MinHash + LSH banding for Jaccard near-dup pairs.
- ``simhash64``: 64-bit SimHash fingerprint for Hamming-distance dedup.

All candidate generation is expressed as joins on bucket keys (shuffle on
band hash), never a cross join.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


_PARTITION_PROBE_CACHE: dict[tuple, int] = {}


def ensure_parallelism(df: DataFrame, min_partitions: int = 8) -> DataFrame:
    """Guarantee a minimum partition count before CPU-heavy per-row stages.

    A small single-file scan arrives as ONE partition, serializing all
    signature/verification work onto one core; at real scale inputs carry
    hundreds of partitions and this is a no-op. The repartition shuffles
    only the projected columns (id + text), not the full table.

    The partition probe (``df.rdd.getNumPartitions``) pays a full
    physical-planning + RDD-conversion pass (~120 ms/call on the
    driver), so its result is memoized per ANALYZED-plan ``semanticHash``
    — semantically equal plans physically plan identically in one
    session, so the cached count is exactly what the probe would return
    (unlike an input-files key, this distinguishes post-shuffle frames
    from raw scans). The common catalog shapes (one table, narrow
    projection) repeat across dozens of queries, so the probe runs once
    per shape per process instead of once per query."""
    try:
        # key includes the session: scan split sizing depends on session
        # parallelism, so the same plan can partition differently across
        # sessions (e.g. the vanilla parity session in one process).
        # The JVM session's UUID is never reused, so the cache holds no
        # reference to the session and cannot alias a later one.
        # Split-sizing confs are assumed fixed within a session's
        # lifetime — true for every session this package builds; a
        # caller mutating spark.sql.files.* mid-session would at worst
        # skip a result-neutral repartition.
        key = (
            df.sparkSession._jsparkSession.sessionUUID(),
            df._jdf.queryExecution().analyzed().semanticHash(),
        )
    except Exception:
        key = None
    if key is not None and key in _PARTITION_PROBE_CACHE:
        n = _PARTITION_PROBE_CACHE[key]
    else:
        n = df.rdd.getNumPartitions()
        if key is not None:
            _PARTITION_PROBE_CACHE[key] = n
    if n < min_partitions:
        return df.repartition(min_partitions)
    return df


def with_cosine(df: DataFrame, vec_col: str, query: list[float]) -> DataFrame:
    """Attach ``cosine``, the similarity vs a constant query vector (double math)."""
    q = F.array(*[F.lit(float(x)) for x in query])
    qn = math.sqrt(sum(float(x) * float(x) for x in query))
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    dot = _dot(v, q)
    vn = F.sqrt(_dot(v, v))
    return df.withColumn("cosine", dot / (vn * F.lit(qn)))


def cosine_topk(
    df: DataFrame, vec_col: str, id_col: str, query: list[float]
) -> DataFrame:
    """Brute-force cosine top-10: one scan, TakeOrdered(10) — the baseline
    ANN oracle. Deterministic tie-break on id."""
    scored = with_cosine(df, vec_col, query)
    return scored.orderBy(F.desc("cosine"), F.col(id_col)).limit(10)


def simhash_planes(dim: int, n_planes: int = 16, seed: int = 7) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (LCG — no numpy dependency in
    the plan; planes are tiny driver-side constants broadcast as literals)."""
    planes = []
    state = seed
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) % (2**31)
            row.append((state / 2**31) * 2.0 - 1.0)
        planes.append(row)
    return planes


def with_hyperplane_bucket(
    df: DataFrame,
    vec_col: str,
    planes: list[list[float]],
    out: str = "bucket",
    multiprobe: int = 1,
) -> DataFrame:
    """Random-hyperplane LSH bucket id: sign-bit string over the planes.

    ``multiprobe=1`` (default): one string code per row, unchanged.
    ``multiprobe=m > 1``: ``out`` becomes ``array<string>`` of the m
    probe codes nearest the row's vector — the exact code first, then
    the codes obtained by flipping the plane with the j-th SMALLEST
    |margin| (|dot(v, plane)|), j = 1..m-1, ascending margin with
    plane-index tie-break. This is standard multi-probe LSH: when a
    recall audit (q265/q268 pattern) says a single bucket misses too
    many true neighbors, the query side probes the m most likely
    buckets — an exploded equi-join domain — instead of re-indexing
    the corpus with fewer planes. The margin folds are the same
    sequential ``F.aggregate`` dots as the bucket bits, so probe order
    is bit-identical to a DuckDB list_reduce twin. The per-plane dot
    array is materialized ONCE in its own projection (interpreted-HOF
    rule) and derived columns come off it."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    dots = [_dot(v, F.array(*[F.lit(p) for p in plane])) for plane in planes]
    if multiprobe <= 1:
        bits = [
            F.when(d >= 0, F.lit("1")).otherwise(F.lit("0")) for d in dots
        ]
        return df.withColumn(out, F.concat(*bits))
    n = len(planes)
    staged = df.withColumn("__mp_dots", F.array(*dots))
    d = F.col("__mp_dots")
    exact = F.concat_ws(
        "",
        F.transform(
            d, lambda x: F.when(x >= 0, F.lit("1")).otherwise(F.lit("0"))
        ),
    )
    ranked = F.transform(
        d, lambda x, i: F.struct(F.abs(x).alias("mg"), i.alias("ix"))
    )
    flips = F.transform(
        F.slice(F.array_sort(ranked), 1, multiprobe - 1), lambda s: s["ix"]
    )
    staged = (
        staged.withColumn("__mp_exact", exact).withColumn("__mp_flips", flips)
    )
    e = F.col("__mp_exact")
    probes = F.concat(
        F.array(e),
        F.transform(
            F.col("__mp_flips"),
            lambda ix: F.concat(
                F.substring(e, F.lit(1), ix),
                F.when(
                    F.substring(e, ix + 1, F.lit(1)) == "1", F.lit("0")
                ).otherwise(F.lit("1")),
                F.substring(e, ix + 2, F.lit(n)),
            ),
        ),
    )
    return staged.withColumn(out, probes).drop(
        "__mp_dots", "__mp_exact", "__mp_flips"
    )


def lsh_bucket_cosine_topk(
    df: DataFrame, vec_col: str, id_col: str, query: list[float]
) -> DataFrame:
    """Scale-path ANN: score only vectors whose 6-plane hyperplane bucket
    matches the query's bucket (expected candidate reduction 2^6), then
    exact cosine top-10 within candidates. Recall < 1 by construction."""
    dim = len(query)
    planes = simhash_planes(dim, 6)
    bucketed = with_hyperplane_bucket(df, vec_col, planes)
    qbits = "".join(
        "1" if sum(a * b for a, b in zip(plane, query)) >= 0 else "0" for plane in planes
    )
    candidates = bucketed.filter(F.col("bucket") == qbits).drop("bucket")
    return cosine_topk(candidates, vec_col, id_col, query)


# Anchor-block width for the per-bucket gram kernels below: per-task peak
# is block x |bucket| float64s (~32 MB per 1k bucket members at 4096), so
# memory stays flat as buckets widen instead of growing |bucket|^2.
_GRAM_BLOCK = 4096

# Bucket-width budget for the per-bucket gram kernels: the plane count is
# DERIVED from the indexed-corpus row count so the EXPECTED bucket width
# (n / 2^planes) never exceeds this. Per-bucket gram time is
# O(width^2 * dim) — at width 64 x dim 64 that is ~0.26 Mflop per bucket,
# and because 2^planes grows with n the per-task cost stays ~flat as the
# corpus grows (until GRAM_MAX_PLANES caps it at 2^24 buckets ~ 1e9 rows
# at budget 64). Recall loss from narrower buckets is recovered on the
# QUERY side with multi-probe (``with_hyperplane_bucket(multiprobe=m)``,
# q277), not by re-widening the index.
GRAM_TARGET_BUCKET = 64
GRAM_MIN_PLANES = 4
GRAM_MAX_PLANES = 24


def adaptive_n_planes(n_rows: int) -> int:
    """Smallest plane count p in [GRAM_MIN_PLANES, GRAM_MAX_PLANES] with
    n_rows <= GRAM_TARGET_BUCKET * 2^p — i.e. expected LSH bucket width stays
    within the gram-kernel budget. Pure integer comparisons so the SQL
    ladder twin (``adaptive_n_planes_case_sql``) is exactly equivalent;
    ``simhash_planes`` is prefix-stable (the first p planes of a longer
    generation are identical), so both engines can derive p independently
    and land on identical bucket codes."""
    p = GRAM_MIN_PLANES
    while p < GRAM_MAX_PLANES and n_rows > (GRAM_TARGET_BUCKET << p):
        p += 1
    return p


def adaptive_n_planes_case_sql(count_expr: str) -> str:
    """SQL CASE-ladder twin of ``adaptive_n_planes`` over an integer
    count expression — same integer thresholds, so DuckDB computes the
    identical plane count from COUNT(*) at any scale factor."""
    whens = " ".join(
        f"WHEN {count_expr} <= {GRAM_TARGET_BUCKET << p} THEN {p}"
        for p in range(GRAM_MIN_PLANES, GRAM_MAX_PLANES)
    )
    return f"(CASE {whens} ELSE {GRAM_MAX_PLANES} END)"


def bucket_knn_agreement(
    bucketed: DataFrame,
    id_col: str,
    label_col: str,
    vec_col: str,
) -> DataFrame:
    """Per-anchor 5-NN label agreement WITHIN each LSH ``bucket``, as one
    ``applyInPandas`` over bucket groups: each bucket's gram matrix is
    accumulated DIM-SEQUENTIALLY (``dots += c_i * c_j`` per dim — the
    exact left fold of ``F.aggregate``/``zip_with``, vectorized across
    the bucket, never ``V @ V.T``'s pairwise reorder), so every cosine
    is the same IEEE double the interpreted expression produces and
    neighbor RANKINGS match the DuckDB fold twin bit-for-bit. Replaces
    the pair-explode shape (bucket self-join -> |bucket|^2 rows -> fold
    cosine per pair -> per-anchor window): the vectors cross the Arrow
    boundary once per bucket member, not once per PAIR, and the 1.5M-row
    window shuffle disappears — the kernel emits k rows' worth of
    agreement counts already reduced to one row per anchor. Ordering
    twin: lexsort by (-cos, candidate id) == the window's
    (desc cos, id); float ties compare exactly. Scale: work is
    O(|bucket|^2 * dim) vectorized; bucket width is capped by the plane
    count (more planes / multi-probe at larger corpora), and each bucket
    is one task — the q226 caller's 2^planes buckets bound the skew.
    Memory is bounded: the gram matrix is computed in ANCHOR BLOCKS of
    ``_GRAM_BLOCK`` rows (block x |bucket| floats per block, ~32 MB at
    4096 x 1M/2^16 — never |bucket|^2 at once); each block still
    accumulates dim-sequentially so every cosine is the identical IEEE
    double. Zero-norm rows get the centroid-style ``or 1.0`` norm guard
    (cosine 0, ranks last deterministically) so NaN can never enter the
    lexsort — the fold twin would produce NaN there, so keep zero
    vectors out of oracle-compared inputs (testdata embeddings have
    none)."""
    out_schema = (
        f"{id_col} long, {label_col} long, n_neighbors long, n_same_label long"
    )

    def _per_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n == 0:
            return pd.DataFrame(
                columns=[id_col, label_col, "n_neighbors", "n_same_label"]
            )
        ids = pdf[id_col].to_numpy()
        labels = pdf[label_col].to_numpy()
        V = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
        d = V.shape[1]
        vsq = np.zeros(n)
        for j in range(d):  # sequential over dims == the JVM fold order
            c = V[:, j]
            vsq = vsq + c * c
        nrm = np.sqrt(vsq)
        nrm[nrm == 0.0] = 1.0  # zero-norm guard: cos 0, never NaN
        n_nb = np.zeros(n, dtype=np.int64)
        n_same = np.zeros(n, dtype=np.int64)
        for lo in range(0, n, _GRAM_BLOCK):
            hi = min(lo + _GRAM_BLOCK, n)
            dots = np.zeros((hi - lo, n))
            for j in range(d):  # dim-sequential per block == the fold
                c = V[:, j]
                dots = dots + c[lo:hi, None] * c[None, :]
            cos = dots / (nrm[lo:hi, None] * nrm[None, :])
            for bi, i in enumerate(range(lo, hi)):
                # (desc cos, asc id), self excluded — the window twin
                order = np.lexsort((ids, -cos[bi]))
                top = [j for j in order if ids[j] != ids[i]][:5]
                n_nb[i] = len(top)
                n_same[i] = int(np.sum(labels[top] == labels[i]))
        return pd.DataFrame(
            {
                id_col: ids,
                label_col: labels,
                "n_neighbors": n_nb,
                "n_same_label": n_same,
            }
        )

    return bucketed.groupBy("bucket").applyInPandas(_per_bucket, out_schema)


def bucket_hard_negatives(
    bucketed: DataFrame,
    id_col: str,
    label_col: str,
    vec_col: str,
) -> DataFrame:
    """Per-anchor top-3 nearest DIFFERENT-label neighbors within each
    LSH ``bucket`` — contrastive-training hard negatives, emitted directly
    as (anchor, negative, rank) rows. Same gram-matrix kernel as
    ``bucket_knn_agreement``: the bucket's cosine matrix accumulates
    DIM-SEQUENTIALLY (the exact F.aggregate fold order, so every cosine
    is the identical IEEE double the interpreted pair-explode produces
    and neighbor RANKINGS match the DuckDB twin bit-for-bit — pinned by
    test_hard_negative_kernel_matches_jvm), ranking is lexsort by
    (-cos, id) == the window's (desc cos, id). Emits k rows per anchor,
    never the |bucket|^2 pair explode; bucket width is capped by the
    plane count at larger corpora. Gram matrix is computed in ANCHOR
    BLOCKS of ``_GRAM_BLOCK`` rows (memory O(block x |bucket|), never
    |bucket|^2 at once; dim-sequential per block so cosines stay
    bit-identical) and norms carry the ``or 1.0`` zero-norm guard
    (cosine 0, never NaN in the lexsort)."""
    out_schema = (
        f"{id_col} long, {label_col} long, neg_id long, neg_label long, "
        "neg_rank long"
    )
    cols = [id_col, label_col, "neg_id", "neg_label", "neg_rank"]

    def _per_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n == 0:
            return pd.DataFrame(columns=cols)
        ids = pdf[id_col].to_numpy()
        labels = pdf[label_col].to_numpy()
        V = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
        d = V.shape[1]
        vsq = np.zeros(n)
        for j in range(d):  # sequential over dims == the JVM fold order
            c = V[:, j]
            vsq = vsq + c * c
        nrm = np.sqrt(vsq)
        nrm[nrm == 0.0] = 1.0  # zero-norm guard: cos 0, never NaN
        rows = []
        for lo in range(0, n, _GRAM_BLOCK):
            hi = min(lo + _GRAM_BLOCK, n)
            dots = np.zeros((hi - lo, n))
            for j in range(d):  # dim-sequential per block == the fold
                c = V[:, j]
                dots = dots + c[lo:hi, None] * c[None, :]
            cos = dots / (nrm[lo:hi, None] * nrm[None, :])
            for bi, i in enumerate(range(lo, hi)):
                # (desc cos, asc id) — the window twin's order
                order = np.lexsort((ids, -cos[bi]))
                negs = [j for j in order if labels[j] != labels[i]][:3]
                for r, j in enumerate(negs, start=1):
                    rows.append(
                        (int(ids[i]), int(labels[i]), int(ids[j]),
                         int(labels[j]), r)
                    )
        return pd.DataFrame(rows, columns=cols)

    return bucketed.groupBy("bucket").applyInPandas(_per_bucket, out_schema)


# ---------------------------------------------------------------------------
# MinHash + LSH near-duplicate pairs (Jaccard over word shingles)
# ---------------------------------------------------------------------------

_MERSENNE = (1 << 31) - 1  # Mersenne-31: a*h+b stays < 2^62 (no ANSI overflow)

# The near-dup configuration of the MinHash family, read by every caller
# and by the DuckDB twins (oracles.py): 32 signature slots split into 16
# bands of 2 rows; word 3-gram shingles and an estimated-Jaccard cut of
# 0.4 unless a caller passes its own. The gram hash is always the
# polynomial fold (textops.with_poly_shingles), so the twins recompute
# every signature.
MINHASH_NUM_HASHES = 32
MINHASH_BANDS = 16
MINHASH_SHINGLE_K = 3
MINHASH_THRESHOLD = 0.4
assert MINHASH_NUM_HASHES % MINHASH_BANDS == 0, (
    "bands must evenly divide the signature: a remainder silently drops "
    "slots from banding"
)


def _hash_params(num_hashes: int, seed: int = 11) -> list[tuple[int, int]]:
    """LCG-derived (a, b) universal-hash parameters."""
    state = seed
    out = []
    for _ in range(num_hashes):
        state = (6364136223846793005 * state + 1442695040888963407) % (1 << 63)
        a = state % (_MERSENNE - 1) + 1
        state = (6364136223846793005 * state + 1442695040888963407) % (1 << 63)
        b = state % _MERSENNE
        out.append((a, b))
    return out


def minhash_signature(shingle_hashes):
    """Array of ``MINHASH_NUM_HASHES`` MinHash values over a *pre-hashed*
    shingle array (long values in [0, Mersenne-31)).

    Each slot is ``min((a*h + b) mod p)`` — pure int64 arithmetic, bounded
    to avoid ANSI overflow. The caller must materialize the hashed-shingle
    array in its OWN projection stage (see ``minhash_near_dups``): Spark's
    CollapseProject keeps a non-cheap expression referenced N times in a
    separate stage, so the string hashing runs once per row, not N times.
    """
    # Spark's higher-order functions are CodegenFallback (interpreted), so a
    # per-slot transform pays num_hashes * n_shingles interpreted lambda
    # calls per row. Instead: Arrow-batch the pre-hashed shingle arrays into
    # a vectorized numpy kernel — one (num_hashes x n) broadcasted
    # min-reduction per row. a, h < 2^31 so a*h + b < 2^62 stays in int64.
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    params = _hash_params(MINHASH_NUM_HASHES)
    A = np.array([p[0] for p in params], dtype=np.int64)[:, None]
    B = np.array([p[1] for p in params], dtype=np.int64)[:, None]

    @pandas_udf(ArrayType(LongType()))
    def _sig(batch: pd.Series) -> pd.Series:
        def one(hs):
            h = np.asarray(hs, dtype=np.int64)[None, :]
            if h.size == 0:
                return np.full(len(A), _MERSENNE - 1, dtype=np.int64)
            return ((A * h + B) % _MERSENNE).min(axis=1)

        return batch.map(one)

    return _sig(shingle_hashes)


def _minhash_banded(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = MINHASH_SHINGLE_K,
) -> DataFrame:
    """Shared signature stage: (id, sig, band_idx, band_hash) rows, one
    per band per document. Stage 1 computes gram hashes once per row;
    stage 2 folds them into [0, p) for the universal hashes."""
    from kp_data_pipelines_spark.operators.textops import with_poly_shingles

    rows_per_band = MINHASH_NUM_HASHES // MINHASH_BANDS
    hashed = with_poly_shingles(
        ensure_parallelism(df.select(id_col, text_col)), text_col, "__g", shingle_k
    ).select(
        F.col(id_col),
        F.transform(
            F.array_distinct("__g"), lambda g: F.pmod(g, F.lit(_MERSENNE))
        ).alias("__sh"),
    )
    sig = hashed.select(
        F.col(id_col), minhash_signature(F.col("__sh")).alias("sig")
    )
    return sig.select(
        id_col,
        "sig",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(F.slice("sig", i * rows_per_band + 1, rows_per_band))
                    for i in range(MINHASH_BANDS)
                ]
            )
        ).alias("band_idx", "band_hash"),
    )


def _est_jaccard(sig_a: str, sig_b: str):
    """Signature agreement rate: the MinHash estimate of Jaccard."""
    agree = F.size(
        F.filter(F.zip_with(sig_a, sig_b, lambda x, y: x == y), lambda v: v)
    )
    return agree.cast("double") / F.lit(float(MINHASH_NUM_HASHES))


def minhash_incremental(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Incremental corpus dedup: score each NEW document against the
    EXISTING corpus only (bipartite banding join — no new×new or old×old
    pairs), the shape of a daily ingest pipeline: signatures for the
    existing corpus are computed once (at scale: persisted with the
    corpus), each incoming shard joins against them by band bucket.

    Returns one row per new document: (id, n_matches, dup_of = smallest
    matching corpus id or NULL, keep = no match >= MINHASH_THRESHOLD). The
    same banding guarantees as ``minhash_near_dups``."""
    nb = _minhash_banded(new_df, id_col, text_col)
    cb = _minhash_banded(corpus_df, id_col, text_col)
    cand = (
        nb.alias("n")
        .join(
            cb.alias("c"),
            (F.col("n.band_idx") == F.col("c.band_idx"))
            & (F.col("n.band_hash") == F.col("c.band_hash")),
        )
        .select(
            F.col(f"n.{id_col}").alias("new_id"),
            F.col(f"c.{id_col}").alias("corpus_id"),
            F.col("n.sig").alias("sig_n"),
            F.col("c.sig").alias("sig_c"),
        )
        .dropDuplicates(["new_id", "corpus_id"])
    )
    matches = (
        cand.withColumn("est_jaccard", _est_jaccard("sig_n", "sig_c"))
        .filter(F.col("est_jaccard") >= MINHASH_THRESHOLD)
        .groupBy("new_id")
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.min("corpus_id").alias("dup_of"),
        )
    )
    ids = new_df.select(F.col(id_col))
    return (
        ids.join(matches, ids[id_col] == matches["new_id"], "left")
        .select(
            id_col,
            F.coalesce("n_matches", F.lit(0).cast("long")).alias("n_matches"),
            "dup_of",
            F.col("dup_of").isNull().alias("keep"),
        )
    )


def minhash_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = MINHASH_SHINGLE_K,
    jaccard_threshold: float = MINHASH_THRESHOLD,
) -> DataFrame:
    """MinHash/LSH near-duplicate pairs.

    shingle -> minhash signature -> split into ``MINHASH_BANDS`` bands ->
    candidate pairs = equi-join on (band_index, band_hash) -> verify with
    estimated Jaccard (signature agreement rate) >= threshold.

    The only shuffle keys are band hashes — at 100 TB this is the standard
    banding trick: no pairwise comparison outside shared buckets. Returns
    (id_a, id_b, est_jaccard) with id_a < id_b.

    The band-bucket key is xxhash64: it only gates candidates — a
    collision adds a candidate that the est_jaccard verify then judges,
    so the result set is hash-agnostic and the DuckDB twin compares band
    slices directly.
    """
    # Lazy checkpoint: the banded signature table feeds BOTH sides of
    # the candidate self-join, and the planner broadcasts one side at
    # bench scale — two different Exchange shapes, so nothing reuses
    # and the two Arrow kernels (gram hash + signature) run twice
    # (measured: 4 ArrowEvalPython nodes in q38's plan). Pinning runs
    # the signature pass once; every consumer (q38/q66/q146/q231/q272/
    # q278/q292/...) inherits the halving. At cluster scale this is
    # also the natural place the signature table would be persisted.
    banded = _minhash_banded(df, id_col, text_col, shingle_k).localCheckpoint(
        eager=False
    )
    return minhash_pairs_from_banded(banded, id_col, jaccard_threshold)


def minhash_pairs_from_banded(
    banded: DataFrame, id_col: str, jaccard_threshold: float
) -> DataFrame:
    """The candidate + verify half of ``minhash_near_dups`` over an
    already-built banded signature table — exposed so callers that need
    pairs over SUBSETS of one corpus (q292's prior-wave vs full-corpus
    graphs) can compute the signature pass once and derive both pair
    sets from it (signatures are doc-intrinsic, so filtering the banded
    table IS the banded table of the filtered corpus)."""
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.withColumn("est_jaccard", _est_jaccard("sig_a", "sig_b"))
        .filter(F.col("est_jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def simhash64_from_hashes(hashed_col) -> "F.Column":
    """64-bit SimHash (signed long) from a pre-hashed shingle array.

    Per-bit majority vote of shingle hashes. Spark's higher-order functions
    evaluate interpreted (CodegenFallback), so 64 per-bit filter passes cost
    64*n interpreted lambda calls per row; instead the vote runs as a
    vectorized numpy kernel over Arrow batches: unpack each hash into an
    (n, 64) bit matrix, column-sum, majority-vote -> repack to one int64."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    @pandas_udf(LongType())
    def _simhash(batch: pd.Series) -> pd.Series:
        shifts = np.arange(64, dtype=np.uint64)

        def one(hs):
            h = np.asarray(hs, dtype=np.int64).astype(np.uint64)
            if h.size == 0:
                return 0
            ones = ((h[:, None] >> shifts) & np.uint64(1)).sum(axis=0)
            bits = (ones * 2 > h.size).astype(np.uint64)
            return int((bits << shifts).sum(dtype=np.uint64).astype(np.int64))

        return batch.map(one)

    return _simhash(hashed_col)


def with_simhash(df: DataFrame, text_col: str, out: str = "simhash") -> DataFrame:
    """Attach a 64-bit SimHash fingerprint over word 2-shingles.

    Two projection stages (gram hashes once, then the vectorized bit vote)
    so the expensive array work runs once per row. The gram hash is the
    62-bit polynomial fold (textops.with_poly_shingles bits64), so the
    DuckDB twin recomputes every fingerprint (the top two bits vote 0 —
    still a valid SimHash)."""
    from kp_data_pipelines_spark.operators.textops import with_poly_shingles

    hashed = with_poly_shingles(df, text_col, "__sh_hashes", 2, bits64=True)
    return hashed.withColumn(out, simhash64_from_hashes(F.col("__sh_hashes"))).drop(
        "__sh_hashes"
    )


def cosine_pairs_blocked(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    block_col: str,
    threshold: float = 0.3,
) -> DataFrame:
    """EXACT cosine pairs within a blocking key (cluster label, IVF cell,
    LSH bucket, ...): equi-join on the block, exact cosine >= threshold.

    This is the verification half of every ANN/near-dup pipeline — the
    shuffle is keyed on the block column, so at 100 TB pairwise work stays
    inside blocks. The dot product is a SEQUENTIAL left fold so the result
    is bit-reproducible (and oracle-matchable) across engines.
    Returns (id_a, id_b, block, cosine), id_a < id_b."""
    # Norms are per-ROW quantities: compute them once in the projection
    # stage (N folds), not per pair (N^2 folds). The arithmetic stays the
    # same sequential fold, so results remain bit-identical to computing
    # them pairwise — and to the oracle.
    proj = ensure_parallelism(
        df.select(
            F.col(id_col),
            F.col(block_col),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
        ),
        min_partitions=32,
    )
    e = proj.withColumn("__n", F.sqrt(_dot(F.col("__v"), F.col("__v"))))
    a, b = e.alias("a"), e.alias("b")
    dot = _dot(F.col("a.__v"), F.col("b.__v"))
    cos = dot / (F.col("a.__n") * F.col("b.__n"))
    return (
        a.join(
            b,
            (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .filter(cos >= threshold)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col(f"a.{block_col}").alias("block"),
            F.round(cos, 6).alias("cosine"),
        )
    )


def hamming_block_keys(
    fp_col: str, max_hamming: int, agree_blocks: int = 1
):
    """The pigeonhole banding keys of ``hamming_pairs`` as a reusable
    array Column: split the 64-bit fingerprint into ``max_hamming +
    agree_blocks`` blocks and emit one ``xxhash64(combo_id, block
    values...)`` key per ``agree_blocks``-sized block combination. Two
    fingerprints within the radius must share at least one key, so ANY
    pair of tables keyed this way (self-join, batch-vs-store probe)
    finds all within-radius pairs with an equi-join + exact bit_count
    verification.

    When 64 isn't divisible by the block count, the leftover high bits
    FOLD INTO THE LAST block (it is simply wider) — the blocks still
    partition all 64 bits, so d differing bits spoil at most d blocks
    and the pigeonhole guarantee is unchanged, but no bit is excluded
    from every key (uncovered bits only cost candidate PRECISION, never
    recall; covering them keeps two fingerprints differing only in the
    high bits out of each other's buckets). A block spanning the full
    64 bits (max_hamming=0, agree_blocks=1 — exact-match keying) is the
    fingerprint itself, unmasked."""
    from itertools import combinations

    n_blocks = max_hamming + agree_blocks
    block_bits = 64 // n_blocks
    if block_bits < 1:
        raise ValueError("max_hamming + agree_blocks must be <= 64")
    blocks = []
    for i in range(n_blocks):
        start = i * block_bits
        # last block absorbs the 64 - n_blocks*block_bits leftover bits
        width = block_bits if i < n_blocks - 1 else 64 - start
        b = F.shiftrightunsigned(fp_col, start)
        if width < 64:
            b = b.bitwiseAND(F.lit((1 << width) - 1))
        blocks.append(b)
    return F.array(
        *[
            F.xxhash64(F.lit(cid), *[blocks[i] for i in combo])
            for cid, combo in enumerate(
                combinations(range(n_blocks), agree_blocks)
            )
        ]
    )


def hamming_pairs(
    fp_df: DataFrame,
    id_col: str,
    fp_col: str = "fp",
    max_hamming: int = 3,
    agree_blocks: int = 1,
) -> DataFrame:
    """Near-dup pairs within a Hamming radius over ANY 64-bit fingerprint
    column (SimHash, media dHash, ...) — EXACT given the fingerprints,
    via the pigeonhole banding trick.

    Split the 64-bit fingerprint into ``max_hamming + agree_blocks``
    blocks: two fingerprints within Hamming distance d must agree
    exactly on at least ``agree_blocks`` of them (d differing bits can
    spoil at most d blocks; when 64 isn't evenly divisible the leftover
    high bits FOLD into the last block, so the blocks partition all 64
    bits — no bit is uncovered), so candidates = equi-join on
    each ``agree_blocks``-sized block COMBINATION key and verification =
    bit_count(xor) <= d. Combination keys are ``xxhash64(combo_id,
    block values...)`` — a hash collision can only add a candidate the
    exact verification then discards, so hashing is free correctness-
    wise and spreads the shuffle over the full 64-bit key space.

    ``agree_blocks=1`` is the classic d+1-chunk scheme (q43); its join
    keys take only 2^(64/(d+1)) distinct values — 4096 at d=4 — which
    at 10^8+ rows makes every key a mega-bucket and the candidate join
    quadratic-per-bucket. ``agree_blocks=2`` (Manku et al.'s multi-
    block tables, the web-scale simhash dedup layout) squares the key
    space for C(d+2, 2) keys per row — the knob to turn BEFORE fp
    volume makes single-block buckets exceed the q299-style width
    budget. Returns (id_a, id_b, hamming), id_a < id_b."""
    fp = fp_df.select(id_col, F.col(fp_col).alias("fp"))
    keys = hamming_block_keys("fp", max_hamming, agree_blocks)
    keyed = fp.select(id_col, "fp", F.explode(keys).alias("bkey"))
    cand = (
        keyed.alias("a")
        .join(
            keyed.alias("b"),
            (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.fp").alias("fp_a"),
            F.col("b.fp").alias("fp_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_hamming_pairs(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """SimHash near-dup pairs within Hamming radius 3: fingerprint the
    text, then the generic pigeonhole chunk-banding join
    (``hamming_pairs``)."""
    fp = with_simhash(
        ensure_parallelism(df.select(id_col, text_col)), text_col, "fp"
    ).select(id_col, "fp")
    return hamming_pairs(fp, id_col, "fp", 3)


def _winnow_kernel(k: int, w: int):
    """Arrow-batched winnowing fingerprinter (Schleimer et al., the MOSS
    local fingerprinting scheme): char k-gram polynomial hashes (base 31
    mod Mersenne-31, the q44 rolling-hash family), then per window of
    ``w`` consecutive gram hashes select the minimum (rightmost on
    ties); the distinct selected hashes are the document's fingerprints.
    Guarantees: any shared substring of length >= k + w - 1 yields at
    least one shared fingerprint — substring-level dedup, robust to
    insertions/reorders that break whole-doc hashes. All integer
    arithmetic; the DuckDB twin recomputes every fingerprint."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    p = 2147483647
    powv = np.ones(k, dtype=np.int64)
    for i in range(1, k):
        powv[i] = (powv[i - 1] * 31) % p
    powv = powv[::-1].copy()  # pow[0] multiplies the leftmost char

    @pandas_udf(ArrayType(LongType()))
    def _fps(batch: pd.Series) -> pd.Series:
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
            if n < k:
                acc = 0
                for c in codes:  # short doc: one fingerprint over it all
                    acc = (acc * 31 + int(c)) % p
                out.append([acc])
                continue
            win = np.lib.stride_tricks.sliding_window_view(codes, k)
            h = ((win * powv[None, :]) % p).sum(axis=1) % p
            m = h.size
            if m <= w:
                hw = h[None, :]
            else:
                hw = np.lib.stride_tricks.sliding_window_view(h, w)
            # rightmost minimum per window (the winnowing tie rule)
            width = hw.shape[1]
            rel = width - 1 - np.argmin(hw[:, ::-1], axis=1)
            sel = rel + np.arange(hw.shape[0])
            out.append(np.unique(h[sel]))
        return pd.Series(out)

    return _fps


def winnow_fingerprint_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Substring-level near-dup pairs via winnowing fingerprints (20-gram
    hashes, window 8): docs sharing >= 3 selected k-gram hashes.
    Fingerprints seen in more than 20 documents are dropped before
    pairing (the standard 'common code' filter) — that bound caps
    per-fingerprint join fan-out at 20^2, so the equi-join on the hash
    value stays skew-safe at corpus scale. Text is whitespace-normalized
    and lowercased first. Returns (id_a, id_b, n_shared)."""
    norm = F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")))
    fps = (
        ensure_parallelism(df.select(id_col, norm.alias("__t")))
        .select(id_col, F.explode(_winnow_kernel(20, 8)(F.col("__t"))).alias("fp"))
    )
    rare = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") <= 20)
        .select("fp")
    )
    kept = fps.join(rare, "fp")
    return (
        kept.alias("a")
        .join(
            kept.alias("b"),
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 3)
    )


def _pq_kernel(seed_vecs, n_subspaces: int, sub_dim: int):
    """Vectorized PQ assignment, bit-identical to the expression fold:
    each subspace distance accumulates dim-sequentially across (row,
    code) pairs, ties take the lowest code id (np.argmin first-min ==
    ascending array_sort head), and the error sums subspaces in order."""
    from pyspark.sql.functions import pandas_udf

    C = np.array(seed_vecs, dtype=np.float64)  # (n_codes, dim)

    @pandas_udf("codes string, recon_err double")
    def _pq(batch: pd.Series) -> pd.DataFrame:
        if batch.empty:
            return pd.DataFrame({"codes": [], "recon_err": []})
        V = np.array([np.asarray(v, dtype=np.float64) for v in batch])
        n = V.shape[0]
        codes = np.zeros((n, n_subspaces), dtype=np.int64)
        err = np.zeros(n)
        for s in range(n_subspaces):
            lo = s * sub_dim
            D = np.zeros((n, C.shape[0]))
            for j in range(sub_dim):  # sequential over dims == JVM fold
                diff = V[:, lo + j][:, None] - C[None, :, lo + j]
                D = D + diff * diff
            best = np.argmin(D, axis=1)  # first min -> lowest code id
            codes[:, s] = best
            err = err + D[np.arange(n), best]  # subspace-order sum
        return pd.DataFrame(
            {
                "codes": ["-".join(str(c) for c in row) for row in codes],
                "recon_err": err,
            }
        )

    return _pq


def _pq_seed(df: DataFrame, vec_col: str, id_col: str):
    """The deterministic PQ codebook seed: the sub-vector width for 8
    subspaces and the first 16 vectors by id; None when no vector is
    set."""
    first = df.select(vec_col).filter(F.col(vec_col).isNotNull()).first()
    if first is None:
        return None
    return len(first[0]) // 8, df.orderBy(id_col).limit(16).select(vec_col).collect()


def product_quantize(df: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """Product quantization (the FAISS-style ANN compressor): split each
    vector into 8 contiguous sub-vectors, snap each to its nearest
    codebook entry (L2), emit the code word and the exact reconstruction
    error. Codebooks here are the deterministic seed (the first 16
    vectors' sub-vectors, by id) — at scale they'd pass through
    kmeans_refine per subspace; the assignment/storage shape is identical
    either way. Memory win: dim doubles -> 8 bytes per vector. All
    distance folds are sequential (oracle-exact); the per-row error is a
    fixed-order sum over subspaces, not a cross-row aggregate. Runs the
    Arrow kernel. Returns (id, codes 'c0-c1-...', recon_err)."""
    seed = _pq_seed(df, vec_col, id_col)
    if seed is None:
        return df.sparkSession.createDataFrame(
            [], f"{id_col} long, codes string, recon_err double"
        )
    sub_dim, seed_rows = seed
    q = _pq_kernel(
        [[float(x) for x in r[0]] for r in seed_rows], 8, sub_dim
    )(F.col(vec_col)).alias("__q")
    return df.select(F.col(id_col), q).select(
        id_col,
        F.col("__q.codes").alias("codes"),
        F.col("__q.recon_err").alias("recon_err"),
    )


def product_quantize_expr(df: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """The interpreted JVM expression twin of ``product_quantize``: the
    same codes and errors from F.aggregate distance folds, the reference
    the kernel is pinned against."""
    n_subspaces = 8
    sub_dim, seed_rows = _pq_seed(df, vec_col, id_col)
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    code_cols, err_cols = [], []
    for s in range(n_subspaces):
        lo = s * sub_dim
        sub = F.slice(v, lo + 1, sub_dim)
        scored = F.array(
            *[
                F.struct(
                    F.aggregate(
                        F.zip_with(
                            sub,
                            F.array(
                                *[
                                    F.lit(float(r[0][lo + j]))
                                    for j in range(sub_dim)
                                ]
                            ),
                            lambda x, y: (x - y) * (x - y),
                        ),
                        F.lit(0.0),
                        lambda acc, e: acc + e,
                    ).alias("dist"),
                    F.lit(cid).alias("cid"),
                )
                for cid, r in enumerate(seed_rows)
            ]
        )
        best = F.array_sort(scored)[0]  # min dist, then min cid
        code_cols.append(best["cid"].alias(f"__c{s}"))
        err_cols.append(best["dist"].alias(f"__d{s}"))
    coded = df.select(F.col(id_col), *code_cols, *err_cols)
    err = F.col("__d0")
    for s in range(1, n_subspaces):
        err = err + F.col(f"__d{s}")
    return coded.select(
        id_col,
        F.concat_ws(
            "-", *[F.col(f"__c{s}") for s in range(n_subspaces)]
        ).alias("codes"),
        err.alias("recon_err"),
    )


def power_iteration_top_pc(df: DataFrame, vec_col: str) -> list[float]:
    """Top principal direction of the (uncentered) embedding Gram matrix
    via three rounds of distributed power iteration — PCA's workhorse at
    corpus scale.

    Each round applies y = sum_rows v * (v . x) WITHOUT materializing the
    dim x dim covariance: one scan computes the per-row scalar v . x
    (sequential fold), then per-dimension contributions aggregate as
    QUANTIZED integers (round(v_d * s * 1e6) staged through
    DECIMAL(38,0)) — order-independent and bit-identical in any engine —
    and the driver normalizes the dim-sized result (the k-means split:
    only k*dim doubles ever leave the cluster). Deterministic start
    x0 = [1/8]*dim (unit for dim=64; exactly representable). Returns the
    final unit vector as a Python list.

    Cross-engine bound: the decimal->double cast is portable while the
    per-dimension |sum| < 2^53. With |v_d| <= 1 and |v.x| <= sqrt(dim),
    that holds up to ~2^53/(1e6*sqrt(dim)) rows (~1.1e9 at dim=64); past
    that, drop quantization to 1e4 or shard the corpus and merge partial
    directions — the signed sums rule out the unsigned q106/q115 hi/lo
    split (see kmeans_refine)."""
    first = df.select(vec_col).filter(F.col(vec_col).isNotNull()).first()
    if first is None:
        return []
    dim = len(first[0])
    x = [1.0 / 8.0] * dim
    for _ in range(3):
        xlit = F.array(*[F.lit(v) for v in x])
        v = F.transform(F.col(vec_col), lambda e: e.cast("double"))
        s = _dot(v, xlit)
        rows = (
            df.withColumn("__s", s)
            .select("__s", F.posexplode(vec_col))
            .groupBy("pos")
            .agg(
                (
                    F.sum(
                        F.round(
                            F.col("col").cast("double")
                            * F.col("__s")
                            * F.lit(1000000.0)
                        ).cast("decimal(38,0)")
                    ).cast("double")
                    / F.lit(1000000.0)
                ).alias("y")
            )
            .collect()
        )
        ys = [r["y"] for r in sorted(rows, key=lambda r: r["pos"])]
        norm = math.sqrt(sum(y * y for y in ys))
        x = [y / norm for y in ys]
    return x


def bloom_contamination(docs: DataFrame, bench: DataFrame) -> DataFrame:
    """Bloom-style benchmark decontamination: score each probe document
    (``doc_id``, ``text``) by the fraction of its 3-gram shingles whose 3
    Bloom buckets (of 4096) ALL appear in the benchmark set's bucket table.

    Scale shape: the 'filter' is materialized as a distinct bucket TABLE
    (at most 4096 rows — broadcastable at any corpus size), so the
    probe is a keyed broadcast join per hash function, never a driver-side
    bitset. False positives behave exactly like a real Bloom filter
    (bucket collisions), with rate ~ (1 - e^{-kn/m})^k; exact-overlap
    decontamination (q68) is the no-collision reference. All arithmetic is
    integer (portable poly gram hashes + LCG bucket hashes), so a DuckDB
    twin reproduces every score. Returns
    (id, n_grams, n_hits, contamination)."""
    from kp_data_pipelines_spark.operators.textops import with_poly_shingles

    n_hashes = 3
    params = _hash_params(n_hashes, 29)

    def buckets(gram_col):
        return F.array(
            *[((F.lit(a) * gram_col + F.lit(b)) % _MERSENNE) % 4096 for a, b in params]
        )

    def grams_of(df):
        return with_poly_shingles(
            ensure_parallelism(df.select("doc_id", "text")), "text", "__g", 3
        ).select("doc_id", F.explode(F.array_distinct("__g")).alias("gram"))

    bench_buckets = (
        grams_of(bench)
        .select(F.explode(buckets(F.col("gram"))).alias("bucket"))
        .distinct()
    )
    probe = grams_of(docs).select(
        "doc_id",
        "gram",
        F.posexplode(buckets(F.col("gram"))).alias("hash_idx", "bucket"),
    )
    matched = (
        probe.join(F.broadcast(bench_buckets), "bucket")
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("n_set"))
        .filter(F.col("n_set") == n_hashes)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    totals = grams_of(docs).groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams")
    )
    return (
        totals.join(matched, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            (
                F.coalesce("n_hits", F.lit(0)).cast("double")
                / F.col("n_grams").cast("double")
            ).alias("contamination"),
        )
    )


def ivf_centroids(df: DataFrame, vec_col: str, n_centroids: int = 16):
    """Deterministic IVF 'training': take the first ``n_centroids`` vectors
    ordered by ``vec_id`` as centroids. Pass the result through
    ``kmeans_refine`` for true Lloyd rounds when cell balance matters; the
    assignment and probe machinery below is identical either way. Returns
    a driver-side list of (centroid_id, vector)."""
    rows = df.orderBy("vec_id").limit(n_centroids).select(vec_col).collect()
    return [(i, [float(x) for x in r[0]]) for i, r in enumerate(rows)]


def kmeans_refine(
    df: DataFrame,
    vec_col: str,
    centroids,
    n_iter: int = 5,
) -> list:
    """Distributed Lloyd iterations over seed ``centroids`` (the missing
    half of ``ivf_centroids``' deterministic seed). Per round: assign
    every vector to its nearest centroid JVM-side (literal fold over the
    k tiny centroids — no shuffle), then recompute each centroid as the
    per-dimension mean via posexplode + groupBy(cell, dim). The shuffle
    carries k*dim partial sums, not vectors; centroids live on the driver
    between rounds (k*dim floats — the standard k-means split at any
    scale).

    Means aggregate QUANTIZED: round(x*10^6) staged through DECIMAL(38,0)
    inside the SUM, reconstructed in double as (sum/count)/10^6 — order-
    independent AND cross-engine-exact (the multiply+round is the same
    float op in DuckDB; double→DECIMAL casts of arbitrary mantissas are
    not portable, CLAUDE.md), so the refined centroids (and every
    assignment derived from them) are bit-identical across partitionings,
    reruns, and the q143 oracle twin. Empty cells keep their previous
    centroid.

    Cross-engine bound: the final decimal->double cast is only guaranteed
    portable while |per-(cell,dim) sum| < 2^53 — i.e. while no cell holds
    more than ~2^53/10^6 ≈ 9.0e9 vectors (|component| <= 1 after
    normalization). Beyond that DuckDB's HUGEINT->double cast can differ
    by 1 ulp (CLAUDE.md). At 100 TB keep cells under ~9e9 rows (raise k,
    or drop quantization to 10^4 for a ~9e11 bound); the q106/q115 hi/lo
    split does not apply directly because these sums are signed."""
    cents = [(cid, list(vec)) for cid, vec in centroids]
    for _ in range(n_iter):
        cell = _nearest_centroid_kernel(cents)(F.col(vec_col))
        means = (
            df.withColumn("__cell", cell)
            .select("__cell", F.posexplode(vec_col))
            .groupBy("__cell", "pos")
            .agg(
                (
                    F.sum(
                        F.round(F.col("col") * F.lit(1000000.0)).cast(
                            "decimal(38,0)"
                        )
                    ).cast("double")
                    / F.count(F.lit(1)).cast("double")
                    / F.lit(1000000.0)
                ).alias("m")
            )
            .collect()
        )
        by_cell: dict = {}
        for r in means:
            by_cell.setdefault(r["__cell"], {})[r["pos"]] = r["m"]
        cents = [
            (
                cid,
                [by_cell[cid][i] for i in range(len(old))]
                if cid in by_cell
                else old,
            )
            for cid, old in cents
        ]
    return cents


def _nearest_centroid_kernel(centroids):
    """Vectorized nearest-centroid assignment, bit-identical to
    ``_nearest_centroids_expr(..., 1)[0]``: every dot product and norm
    accumulates DIM-SEQUENTIALLY (acc = acc + v_d*c_d — the exact left
    fold of F.aggregate/zip_with), vectorized across the batch rows, so
    each (row, centroid) cosine is the same IEEE double the interpreted
    expression produces — and the same the DuckDB twins fold. ~6x on
    k=16/dim=64 assignment (the interpreted fold pays k*dim lambda calls
    per row). Tie-break mirrors reverse(array_sort(struct(cos, cid))):
    max cos, then max cid. Zero-norm rows yield NaN cosines in both
    implementations (centroid norms carry the `or 1.0` guard; row norms
    do not) — keep zero vectors out of ANN inputs."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import IntegerType

    cids = np.array([cid for cid, _ in centroids], dtype=np.int64)
    C = np.array([list(vec) for _, vec in centroids], dtype=np.float64)
    ncs = np.array(
        [math.sqrt(sum(x * x for x in vec)) or 1.0 for _, vec in centroids]
    )

    @pandas_udf(IntegerType())
    def _assign(batch: pd.Series) -> pd.Series:
        if batch.empty:
            return pd.Series([], dtype="int32")
        V = np.array([np.asarray(v, dtype=np.float64) for v in batch])
        n, d = V.shape
        k = C.shape[0]
        dots = np.zeros((n, k))
        vsq = np.zeros(n)
        for j in range(d):  # sequential over dims == the JVM fold order
            col = V[:, j]
            dots = dots + col[:, None] * C[None, :, j]
            vsq = vsq + col * col
        cos = dots / (np.sqrt(vsq)[:, None] * ncs[None, :])
        # argmax keeps the FIRST max; reverse the cid axis to keep the
        # LARGEST cid on exact float ties (the array_sort tie-break)
        idx = (k - 1) - np.argmax(cos[:, ::-1], axis=1)
        return pd.Series(cids[idx].astype("int32"))

    return _assign


def multi_cosine_kernel(ref_vecs, guard_norms: bool = False):
    """Vectorized cosine-vs-k-reference-vectors: returns array<double>
    with one cosine per reference vector (in ``ref_vecs`` order),
    bit-identical to the interpreted expression
    ``_dot(v, lit(ref)) / (sqrt(_dot(v, v)) * lit(norm(ref)))``: every
    dot product and the row norm accumulate DIM-SEQUENTIALLY
    (acc = acc + v_d*r_d — the exact left fold of F.aggregate/zip_with,
    vectorized across the batch), and the reference norms are the same
    driver-side ``math.sqrt(sum(x*x))`` Python fold the expression
    embeds as a literal — so per-(row, ref) cosines equal the JVM fold
    and the DuckDB ``list_reduce`` twin exactly (pinned by
    test_multi_cosine_kernel_matches_jvm). The expression form pays
    k*dim interpreted lambda calls per row; this kernel none. Unlike
    ``_nearest_centroid_kernel`` the reference norms are UNGUARDED
    (no ``or 1.0``) — the twin of the per-anchor query expression, not
    of centroid assignment — pass ``guard_norms=True`` for the
    centroid-style ``or 1.0`` zero-norm guard."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, DoubleType

    R = np.array([list(v) for v in ref_vecs], dtype=np.float64)
    rns = np.array(
        [
            (math.sqrt(sum(x * x for x in v)) or 1.0)
            if guard_norms
            else math.sqrt(sum(x * x for x in v))
            for v in ref_vecs
        ]
    )

    @pandas_udf(ArrayType(DoubleType()))
    def _cos(batch: pd.Series) -> pd.Series:
        if batch.empty:
            return pd.Series([], dtype=object)
        V = np.array([np.asarray(v, dtype=np.float64) for v in batch])
        n, d = V.shape
        k = R.shape[0]
        dots = np.zeros((n, k))
        vsq = np.zeros(n)
        for j in range(d):  # sequential over dims == the JVM fold order
            col = V[:, j]
            dots = dots + col[:, None] * R[None, :, j]
            vsq = vsq + col * col
        cos = dots / (np.sqrt(vsq)[:, None] * rns[None, :])
        return pd.Series([[float(x) for x in row] for row in cos])

    return _cos


def _nearest_centroids_expr(vec_col: str, centroids, nprobe: int):
    """Array of the ``nprobe`` nearest centroid ids (by cosine) as a literal
    fold — centroids are tiny driver constants, broadcast in the plan."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    vn = F.sqrt(_dot(v, v))
    scored = F.array(
        *[
            F.struct(
                (
                    _dot(v, F.array(*[F.lit(x) for x in cvec]))
                    / (vn * F.lit(math.sqrt(sum(x * x for x in cvec)) or 1.0))
                ).alias("cos"),
                F.lit(cid).alias("cid"),
            )
            for cid, cvec in centroids
        ]
    )
    top = F.slice(F.reverse(F.array_sort(scored)), 1, nprobe)
    return F.transform(top, lambda s: s["cid"])


def ivf_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: list[float],
    n_centroids: int = 16,
    nprobe: int = 4,
    refine_iters: int = 0,
) -> DataFrame:
    """IVF-Flat ANN over ``vec_id``-keyed vectors: assign every vector to
    its nearest centroid (one scan), probe the query's ``nprobe`` nearest
    centroid cells, exact cosine top-10 within the probed cells. At scale
    the assignment is written once as a partition column, so a query
    prunes to nprobe/n_centroids of the data.
    ``refine_iters`` > 0 runs that many distributed Lloyd rounds
    (``kmeans_refine``) over the deterministic seed before assigning —
    better-balanced cells at the cost of refine_iters extra scans."""
    centroids = ivf_centroids(df, vec_col, n_centroids)
    if refine_iters:
        centroids = kmeans_refine(df, vec_col, centroids, n_iter=refine_iters)
    assigned = df.withColumn(
        "__cell", _nearest_centroid_kernel(centroids)(F.col(vec_col))
    )
    probe_cells = [
        cid
        for cid, _ in sorted(
            centroids,
            key=lambda c: -(
                sum(a * b for a, b in zip(query, c[1]))
                / (math.sqrt(sum(x * x for x in c[1])) or 1.0)
            ),
        )[:nprobe]
    ]
    candidates = assigned.filter(F.col("__cell").isin(probe_cells)).drop("__cell")
    return cosine_topk(candidates, vec_col, id_col, query)


def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """EXACT 3-gram Jaccard near-dup pairs (Jaccard >= t = 0.35) via prefix
    filtering (PPJoin-style).

    Scale shape (no cross join, no nested-loop):
    1. grams -> xxhash64 -> array_sort = a canonical total order over the
       gram universe (any fixed order makes prefix filtering exact).
    2. Each doc explodes only its PREFIX — the first
       ``|g| - ceil(t*|g|) + 1`` ordered grams. Two sets with Jaccard >= t
       MUST share at least one prefix gram, so the candidate equi-join on
       the gram value has no false negatives.
    3. Candidate pairs are pruned inside the join with PPJoin's length
       filter (J >= t forces min(|a|,|b|) >= t*max(|a|,|b|)) and positional
       filter (at the pair's first shared prefix gram, the remaining-suffix
       overlap bound min(|a|-pa, |b|-pb) must reach the required overlap
       ceil(t/(1+t)*(|a|+|b|))) — both are safe for ANY shared occurrence,
       because the first occurrence always satisfies them for a true pair
       and pairs survive if any occurrence passes.
    4. Survivors (id_a < id_b, deduped) are verified exactly with
       array_intersect / array_union over the full hashed-gram arrays.

    Every join is keyed (gram hash, then id) — at 100 TB these are plain
    hash-shuffle joins; candidate volume is bounded by shared-prefix pairs,
    not n^2. Jaccard is computed over xxhash64'd distinct grams (collision
    probability ~2^-64 — negligible)."""
    from pyspark import StorageLevel

    from kp_data_pipelines_spark.operators.textops import with_hashed_shingles

    threshold = 0.35
    g = with_hashed_shingles(
        ensure_parallelism(df.select(id_col, text_col)), text_col, 3
    ).select(
        F.col(id_col),
        F.array_sort(F.array_distinct("__g")).alias("grams"),
    )
    # the gram-array subtree feeds FOUR consumers (both prefix sides of the
    # candidate join + both verify sides); persist materializes the
    # tokenize+hash pipeline once instead of per-consumer (~10% at sf0.1
    # where the join dominates; grows with text volume per doc).
    # MEMORY_AND_DISK is evictable and spills, so it holds at corpus scale.
    g = g.persist(StorageLevel.MEMORY_AND_DISK)
    sz = F.size("grams")
    # epsilon guards double overshoot when t*sz is mathematically integral
    # (e.g. 0.55*20 -> 11.000000000000002, ceil 12 would SHORTEN the prefix
    # and lose exactness); under-shoot only ever lengthens the prefix,
    # which adds candidates but never drops a true pair
    prefix_len = (
        sz - F.ceil(sz * F.lit(float(threshold)) - F.lit(1e-9)).cast("int") + 1
    )
    pref = g.select(
        F.col(id_col),
        sz.alias("sz"),
        F.posexplode(F.slice("grams", F.lit(1), prefix_len)).alias("pos", "gram"),
    )
    t = F.lit(float(threshold))
    sa, sb = F.col("a.sz"), F.col("b.sz")
    length_ok = F.least(sa, sb) >= t * F.greatest(sa, sb) - F.lit(1e-9)
    # required overlap o >= t/(1+t)*(sa+sb); suffix bound from this
    # occurrence (pos is 0-based, so sa - pos grams remain incl. the match)
    pos_ok = (
        F.least(sa - F.col("a.pos"), sb - F.col("b.pos")).cast("double")
        >= t / (F.lit(1.0) + t) * (sa + sb) - F.lit(1e-9)
    )
    cand = (
        pref.alias("a")
        .join(
            pref.alias("b"),
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & length_ok
            & pos_ok,
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    ga = g.select(F.col(id_col).alias("id_a"), F.col("grams").alias("grams_a"))
    gb = g.select(F.col(id_col).alias("id_b"), F.col("grams").alias("grams_b"))
    inter = F.size(F.array_intersect("grams_a", "grams_b")).cast("double")
    union = F.size(F.array_union("grams_a", "grams_b")).cast("double")
    return (
        cand.join(ga, "id_a")
        .join(gb, "id_b")
        .select("id_a", "id_b", (inter / union).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def pq_refine_codebooks(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    n_subspaces: int = 8,
    n_codes: int = 16,
    n_iter: int = 2,
) -> tuple[list, list[float]]:
    """Per-subspace Lloyd refinement of a PQ codebook — the TRAINING
    step ``product_quantize``'s docstring defers ("at scale they'd pass
    through kmeans_refine per subspace"; reference seam: the q155/q328
    compression story). Returns ``(codebooks, errs)``: the codebook TRAJECTORY
    ``[cb_0, cb_1, …, cb_n_iter]`` (each ``n_codes`` full-dim vectors;
    sub-parts refined independently), cb_0 being the deterministic seed
    (first ``n_codes`` rows by ``id_col``).

    Per round: ONE pass assigns every vector's subvectors to their
    nearest codes (the ``_pq_kernel`` Arrow kernel — dist ASC, cid ASC
    ties, bit-matched to the q155 twin), then ONE posexplode + keyed
    aggregate computes each (subspace, code, dim) mean QUANTIZED
    (round(x*1e6) staged through DECIMAL(38,0), reconstructed in
    double — ``kmeans_refine``'s order-independent, cross-engine-exact
    lane), with empty codes keeping their previous sub-centroid. The
    shuffle carries n_subspaces*n_codes*sub_dim partial sums, never
    vectors; codebooks live on the driver between rounds (n_codes*dim
    doubles) — the standard k-means split at any scale. Same
    cross-engine sum bound as ``kmeans_refine``: exact while no
    (subspace, code) cell exceeds ~2^53/1e6 assigned rows.

    and the per-round total quantized reconstruction error measured by
    each round's assignment pass — i.e. ``errs[r]`` is the corpus error
    under ``cb_r`` (the codebook the pass assigns against). The
    error total rides in the SAME aggregate job as the cell means via
    ``GROUPING SETS ((s, code, pos), ())`` — no extra kernel pass and
    no checkpoint (pinning the wide assignment frame was measured
    slower); the grand-total row counts each vector's error at its
    ``pos == 0`` exploded row. Precondition of that fusion: vectors are
    non-null and non-empty (a NULL/empty embedding would contribute no
    exploded rows, hence no error term, where a per-row pass would
    still see the row) — ``read_table`` embeddings satisfy this, and
    the seed collect above would misbehave on such rows anyway."""
    first = df.select(vec_col).filter(F.col(vec_col).isNotNull()).first()
    if first is None:
        return [], []
    dim = len(first[0])
    sub_dim = dim // n_subspaces
    seed_rows = (
        df.orderBy(id_col).limit(n_codes).select(vec_col).collect()
    )
    cb = [[float(x) for x in r[0]] for r in seed_rows]
    out = [cb]
    errs: list[float] = []
    for _ in range(n_iter):
        codes = _pq_kernel(cb, n_subspaces, sub_dim)(
            F.col(vec_col)
        ).alias("__pq")
        assigned = df.select(F.col(vec_col).alias("__v"), codes).select(
            "__v",
            F.split(F.col("__pq.codes"), "-").alias("__c"),
            F.col("__pq.recon_err").alias("__e"),
        )
        exploded = (
            assigned.select(
                F.posexplode(
                    F.transform(F.col("__v"), lambda x: x.cast("double"))
                ).alias("pos", "val"),
                "__c",
                "__e",
            )
            .select(
                (F.col("pos") / sub_dim).cast("int").alias("s"),
                F.col("pos").alias("pos"),
                "val",
                "__c",
                "__e",
            )
            .select(
                "s",
                "pos",
                "val",
                F.element_at(
                    F.col("__c"),
                    (F.col("s") + 1).cast("int"),
                )
                .cast("int")
                .alias("code"),
                "__e",
            )
        )
        mean_expr = (
            F.sum(
                F.round(F.col("val") * F.lit(1000000.0)).cast(
                    "decimal(38,0)"
                )
            ).cast("double")
            / F.count(F.lit(1)).cast("double")
            / F.lit(1000000.0)
        ).alias("m")
        # GROUPING SETS ((s, code, pos), ()) fuses the round's
        # total reconstruction error into the SAME aggregate job as
        # the cell means — one kernel pass, no extra job, and no
        # checkpoint of the wide (vector, codes) frame (pinning it
        # was measured SLOWER: materializing full vectors costs
        # more than the saved pass). Each vector's __e repeats once
        # per dimension in the exploded stream, so the grand total
        # counts it only at pos == 0 — identical value set (and
        # identical quantized-decimal sum) to a per-row pass.
        rows = (
            exploded.groupingSets(
                [["s", "code", "pos"], []], "s", "code", "pos"
            )
            .agg(
                mean_expr,
                (
                    F.sum(
                        F.when(
                            F.col("pos") == 0,
                            F.round(
                                F.col("__e") * F.lit(1000000.0)
                            ).cast("decimal(38,0)"),
                        )
                    ).cast("double")
                    / F.lit(1000000.0)
                ).alias("terr"),
                F.grouping_id().alias("gid"),
            )
            .collect()
        )
        means = [r for r in rows if not r["gid"]]
        tot = next((r["terr"] for r in rows if r["gid"]), None)
        errs.append(float(tot) if tot is not None else 0.0)
        by_cell: dict = {}
        for r in means:
            by_cell[(int(r["code"]), int(r["pos"]))] = r["m"]
        cb = [
            [
                by_cell.get((cid, d), vec[d])
                for d in range(dim)
            ]
            for cid, vec in enumerate(cb)
        ]
        out.append(cb)
    return out, errs
