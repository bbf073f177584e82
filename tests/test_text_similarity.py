"""Tests for north-star operators: text analysis, dedup family, similarity."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from kp_data_pipelines_spark import oracles
from kp_data_pipelines_spark.operators.similarity import (
    cosine_topk,
    lsh_bucket_cosine_topk,
    minhash_near_dups,
    ngram_jaccard_pairs,
    simhash_hamming_pairs,
    with_simhash,
)
from kp_data_pipelines_spark.operators.textops import (
    doc_fingerprint,
    lang_id,
    quality_score,
    regex_token_count,
    whitespace_token_count,
)


def test_token_counts(spark):
    df = spark.createDataFrame([("hello world, 42 times",)], ["text"])
    row = df.select(
        whitespace_token_count("text").alias("ws"),
        regex_token_count("text").alias("bpe"),
    ).collect()[0]
    assert row["ws"] == 4
    # hello / world / , / 42 / times
    assert row["bpe"] == 5


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        [("the cat and the dog of it",), ("der hund und die katze",), ("zzz qqq",)],
        ["text"],
    )
    vals = [r[0] for r in df.select(lang_id("text")).collect()]
    assert vals == ["en", "de", "und"]


def test_quality_score_bounds(spark):
    df = spark.createDataFrame([("word " * 50,), ("!!",)], ["text"])
    vals = [r[0] for r in df.select(quality_score("text")).collect()]
    assert all(0.0 <= v <= 1.0 for v in vals)
    assert vals[0] > vals[1]


def test_doc_fingerprint_normalizes_whitespace(spark):
    df = spark.createDataFrame([("a  b\tc",), ("A b C",)], ["text"])
    vals = [r[0] for r in df.select(doc_fingerprint("text")).collect()]
    assert vals[0] == vals[1]


def _vecs(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),   # closest to 0
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),  # opposite
        (4, [0.7, 0.7, 0.0]),
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_cosine_topk_ordering(spark):
    df = _vecs(spark)
    out = cosine_topk(df.filter(F.col("vec_id") != 0), "embedding", "vec_id", [1.0, 0.0, 0.0])
    ids = [r["vec_id"] for r in out.collect()]
    assert ids == [1, 4, 2, 3]
    cos = [r["cosine"] for r in out.collect()]
    assert math.isclose(cos[0], 0.9 / math.sqrt(0.81 + 0.01), rel_tol=1e-9)


def test_lsh_topk_subset_of_brute_force(spark):
    df = _vecs(spark)
    out = lsh_bucket_cosine_topk(
        df.filter(F.col("vec_id") != 0), "embedding", "vec_id", [1.0, 0.0, 0.0]
    )
    ids = [r["vec_id"] for r in out.collect()]
    # candidates are a bucket-pruned subset; whatever returns must be ranked
    # consistently with brute force
    brute = [1, 4, 2, 3]
    assert ids == [i for i in brute if i in ids]


def test_minhash_finds_near_duplicate(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tonight")
    other = "completely different words in this unrelated document about spark engines"
    df = spark.createDataFrame([(1, base), (2, near), (3, other)], ["doc_id", "text"])
    pairs = minhash_near_dups(df, "doc_id", "text", shingle_k=3,
                              jaccard_threshold=0.3)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got
    assert all(p == (1, 2) for p in got)


@pytest.mark.parametrize(
    "operator, twin",
    [
        (
            lambda docs: minhash_near_dups(docs, "doc_id", "text"),
            oracles.minhash_near_dups_sql,
        ),
        (
            lambda docs: with_simhash(docs, "text").select("doc_id", "simhash"),
            oracles.simhash_sql,
        ),
        (
            lambda docs: simhash_hamming_pairs(docs, "doc_id", "text"),
            oracles.simhash_hamming_pairs_sql,
        ),
    ],
    ids=["minhash_near_dups", "with_simhash", "simhash_hamming_pairs"],
)
def test_dedup_defaults_match_twins(spark, operator, twin):
    """The near-dup operators at their own defaults compute exactly what
    their DuckDB twins compute at theirs: one configuration, two engines."""
    import duckdb

    from conftest import SF_DIR
    from kp_data_pipelines_spark.sources.readers import read_table
    from tools.parity import value_hash

    docs = read_table(spark, SF_DIR, "documents")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/documents.parquet')"
    )
    got = operator(docs).toPandas()
    want = con.sql(twin()).df()
    assert len(got) == len(want) > 0
    assert value_hash(got) == value_hash(want)


def test_ngram_jaccard_exact(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e"), (3, "x y z w v")], ["doc_id", "text"]
    )
    pairs = ngram_jaccard_pairs(df, "doc_id", "text")
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert got == {(1, 2): 1.0}


def test_simhash_similar_texts_close(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away home"
    near = base.replace("home", "now")
    other = "entirely unrelated content about database engines and shuffle partitions"
    df = spark.createDataFrame([(1, base), (2, near), (3, other)], ["doc_id", "text"])
    out = with_simhash(df, "text", out="sh").select("doc_id", "sh").collect()
    sh = {r["doc_id"]: r["sh"] for r in out}

    def hamming(a, b):
        return bin((a & (2**64 - 1)) ^ (b & (2**64 - 1))).count("1")

    assert hamming(sh[1], sh[2]) < hamming(sh[1], sh[3])


# ---------------------------------------------------------------------------
# Round-1 batch 3: embedding near-dups, hamming pairs, rolling hash, IVF
# ---------------------------------------------------------------------------


def test_cosine_pairs_blocked_exact(spark):
    from kp_data_pipelines_spark.operators.similarity import cosine_pairs_blocked

    df = spark.createDataFrame(
        [
            (1, "x", [1.0, 0.0]),
            (2, "x", [1.0, 0.01]),
            (3, "y", [1.0, 0.0]),  # same vector, different block -> no pair
            (4, "x", [0.0, 1.0]),  # orthogonal -> below threshold
        ],
        ["vec_id", "label", "embedding"],
    )
    rows = cosine_pairs_blocked(df, "vec_id", "embedding", "label", 0.9).collect()
    assert {(r["id_a"], r["id_b"]) for r in rows} == {(1, 2)}
    assert abs(rows[0]["cosine"] - 0.99995) < 1e-4


def test_simhash_hamming_pairs(spark):
    from kp_data_pipelines_spark.operators.similarity import simhash_hamming_pairs

    # a 100-word doc and the same doc with its last word changed: their
    # fingerprints differ in exactly 3 bits, the edge of the radius
    words = [f"w{i}" for i in range(100)]
    base = " ".join(words)
    near = " ".join(words[:-1] + ["cottage"])
    other = "entirely unrelated content about database engines and shuffle partitions"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], ["doc_id", "text"]
    )
    rows = simhash_hamming_pairs(df, "doc_id", "text").collect()
    found = {(r["id_a"], r["id_b"]) for r in rows}
    assert (1, 2) in found
    assert (1, 3) not in found and (2, 3) not in found


def test_rolling_hash_deterministic(spark):
    from kp_data_pipelines_spark.operators.textops import rolling_hash

    df = spark.createDataFrame([("hello world",), ("hello world",), ("",)], ["text"])
    vals = [r["h"] for r in df.select(rolling_hash("text").alias("h")).collect()]
    # reference value cross-checked against DuckDB's list_reduce fold
    assert vals[0] == vals[1] == 1835087470
    assert vals[2] == 0


def test_ivf_topk_finds_exact_neighbors(spark):
    from kp_data_pipelines_spark.operators.similarity import cosine_topk, ivf_topk

    import random

    rng = random.Random(3)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)], i % 4) for i in range(200)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    query = rows[0][1]
    exact = [r["vec_id"] for r in cosine_topk(df, "embedding", "vec_id", query).collect()]
    approx = [
        r["vec_id"]
        for r in ivf_topk(
            df, "embedding", "vec_id", query, n_centroids=8, nprobe=8
        ).collect()
    ]
    # nprobe == n_centroids probes every cell -> must equal exact top-k
    assert approx == exact


def test_kmeans_refine_separates_blobs(spark):
    from kp_data_pipelines_spark.operators.similarity import (
        ivf_centroids,
        kmeans_refine,
        _nearest_centroids_expr,
    )

    # two tight blobs on orthogonal axes; seed takes the first 2 vectors
    # (both from blob A) — only the Lloyd rounds can separate the blobs
    rows = [(i, [10.0 + (i % 3) * 0.1, 0.0]) for i in range(20)] + [
        (100 + i, [0.0, 5.0 + (i % 3) * 0.1]) for i in range(20)
    ]
    df = spark.createDataFrame(rows, "vec_id long, vec array<double>")
    seed = ivf_centroids(df, "vec", 2)
    refined = kmeans_refine(df, "vec", seed, n_iter=4)
    assigned = df.select(
        "vec_id", _nearest_centroids_expr("vec", refined, 1)[0].alias("cell")
    ).collect()
    cells_a = {r["cell"] for r in assigned if r["vec_id"] < 100}
    cells_b = {r["cell"] for r in assigned if r["vec_id"] >= 100}
    assert len(cells_a) == 1 and len(cells_b) == 1 and cells_a != cells_b
    # deterministic across reruns/partitionings (decimal means)
    again = kmeans_refine(df.repartition(7), "vec", seed, n_iter=4)
    assert again == refined


def test_chunk_documents_overlap_and_tail(spark):
    from kp_data_pipelines_spark.operators.textops import chunk_documents

    t = [f"t{i}" for i in range(60)]
    df = spark.createDataFrame(
        [(1, " ".join(t)), (2, "a b"), (3, "only")], "doc_id long, text string"
    )
    rows = {
        (r["doc_id"], r["chunk_id"]): (r["chunk_tokens"], r["chunk_text"])
        for r in chunk_documents(df).collect()
    }
    # doc 1: 60 tokens, size 32, stride 24 -> 1 + ceil((60-32)/24) = 3
    # chunks (starts 0, 24, 48) covering t0..t59; consecutive chunks
    # share 8 tokens
    assert {k for k in rows if k[0] == 1} == {(1, 0), (1, 1), (1, 2)}
    assert rows[(1, 0)] == (32, " ".join(t[0:32]))
    assert rows[(1, 1)] == (32, " ".join(t[24:56]))
    assert rows[(1, 2)] == (12, " ".join(t[48:60]))
    # short docs: one chunk, possibly shorter than chunk_size
    assert rows[(2, 0)] == (2, "a b")
    assert rows[(3, 0)] == (1, "only")


def test_bloom_contamination_scores(spark):
    from kp_data_pipelines_spark.operators.similarity import bloom_contamination

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    probe = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),  # identical
            (2, "completely different words entirely here now okay then"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in bloom_contamination(probe, bench).collect()
    }
    assert out[1]["contamination"] == 1.0  # every gram is in the filter
    assert out[2]["contamination"] < 0.5  # only chance collisions
    assert out[1]["n_hits"] == out[1]["n_grams"]


def test_poly_shingles_kernel_matches_jvm(spark):
    """The vectorized numpy kernel and the interpreted JVM fold must
    produce IDENTICAL arrays (integer mod arithmetic — also what the
    DuckDB twins recompute), including non-ASCII, repeated whitespace,
    short docs, empty and NULL text."""
    from kp_data_pipelines_spark.operators.textops import (
        with_poly_shingles,
        with_poly_shingles_expr,
    )
    from kp_data_pipelines_spark.sources.readers import read_table

    edge = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "  repeated   whitespace\tand\nnewlines  "),
            (3, "tiny"),
            (4, "two words"),
            (5, ""),
            (6, None),
            (7, "naïve café über žluťoučký 北京 emoji 🙂 mix"),
            (8, "x " * 200),
        ],
        "doc_id long, text string",
    )
    docs = read_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    for df in (edge, docs):
        for k, bits64 in ((3, False), (2, True), (5, False)):
            kern = {
                r["doc_id"]: r["g"]
                for r in with_poly_shingles(
                    df, "text", "g", k, bits64=bits64
                ).collect()
            }
            jvm = {
                r["doc_id"]: r["g"]
                for r in with_poly_shingles_expr(
                    df, "text", "g", k, bits64=bits64
                ).collect()
            }
            assert kern == jvm, (k, bits64)


def test_minhash_incremental_flags_known_dup(spark):
    from kp_data_pipelines_spark.operators.similarity import minhash_incremental

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (2, "one two three four five six seven eight nine ten"),
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (11, "completely unrelated words that match nothing at all here"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in minhash_incremental(
            new, corpus, "doc_id", "text"
        ).collect()
    }
    assert out[10]["dup_of"] == 1 and out[10]["keep"] is False
    assert out[11]["dup_of"] is None and out[11]["keep"] is True
    assert out[11]["n_matches"] == 0


def test_power_iteration_finds_dominant_direction(spark):
    import math

    from kp_data_pipelines_spark.operators.similarity import (
        power_iteration_top_pc,
    )

    # vectors overwhelmingly along axis 1 -> PC must align with axis 1
    rows = [([0.1, 5.0, 0.05],) for _ in range(50)] + [([0.2, 4.0, 0.1],)] * 30
    df = spark.createDataFrame(rows, "vec array<float>")
    pc = power_iteration_top_pc(df, "vec")
    assert abs(pc[1]) > 0.99
    assert abs(math.sqrt(sum(x * x for x in pc)) - 1.0) < 1e-12
    # deterministic across partitionings (quantized integer aggregation)
    assert power_iteration_top_pc(df.repartition(7), "vec") == pc


def test_nearest_centroid_kernel_matches_expr(spark):
    """The vectorized assignment must agree with the interpreted
    expression fold on every vector (same IEEE fold order, same
    tie-break) — the invariant that keeps q45/q143 oracle parity."""
    from pyspark.sql import functions as F

    from kp_data_pipelines_spark.operators.similarity import (
        _nearest_centroid_kernel,
        _nearest_centroids_expr,
        ivf_centroids,
    )
    from kp_data_pipelines_spark.sources.readers import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = ivf_centroids(emb, "embedding", 8)
    kern = {
        r["vec_id"]: r["c"]
        for r in emb.select(
            "vec_id", _nearest_centroid_kernel(cents)(F.col("embedding")).alias("c")
        ).collect()
    }
    expr = {
        r["vec_id"]: r["c"]
        for r in emb.select(
            "vec_id", _nearest_centroids_expr("embedding", cents, 1)[0].alias("c")
        ).collect()
    }
    assert kern == expr


def test_winnowing_catches_embedded_passage(spark):
    """A passage copied into different surrounding text must share
    fingerprints (guarantee: any shared run >= k+w-1 chars); unrelated
    docs must not reach the 3 shared fingerprints a pair needs."""
    from kp_data_pipelines_spark.operators.similarity import (
        winnow_fingerprint_pairs,
    )

    passage = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [
            (1, f"intro text before {passage} and some trailing words"),
            (2, f"{passage} embedded at the start of a different document"),
            (3, "totally unrelated content with no overlap whatsoever here"),
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["n_shared"]
        for r in winnow_fingerprint_pairs(df, "doc_id", "text").collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 3
    assert not any(3 in p for p in pairs)


def test_product_quantize_kernel_matches_expr(spark):
    from kp_data_pipelines_spark.operators.similarity import (
        product_quantize,
        product_quantize_expr,
    )
    from kp_data_pipelines_spark.sources.readers import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    kern = {
        r["vec_id"]: (r["codes"], r["recon_err"])
        for r in product_quantize(emb, "embedding", "vec_id").collect()
    }
    expr = {
        r["vec_id"]: (r["codes"], r["recon_err"])
        for r in product_quantize_expr(emb, "embedding", "vec_id").collect()
    }
    assert kern == expr


def test_portable_hll_accuracy(spark):
    """q157's raw HLL must land within the standard error envelope
    (1.04/sqrt(64) ~ 13%; allow 3 sigma) of the true weekly distincts."""
    from kp_data_pipelines_spark.catalog import QUERIES

    rows = QUERIES["q157_portable_hll"](
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert rows
    for r in rows:
        rel = abs(r["hll_estimate"] - r["true_distinct"]) / max(
            r["true_distinct"], 1
        )
        assert rel < 3 * 1.04 / (64 ** 0.5), (r["week"], rel)


def test_char_fold_kernel_matches_expression(spark):
    """Pin char_fold_hashes (vectorized Arrow kernel) to the
    rolling_hash expression fold bit-for-bit on real corpus text plus
    edge rows (empty, null, non-ASCII, long doc) — the license for
    using the kernel in oracle-hashed q101."""
    from pyspark.sql import functions as F

    from kp_data_pipelines_spark.operators.textops import (
        char_fold_hashes,
        rolling_hash,
    )
    from kp_data_pipelines_spark.sources.readers import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents").select(
        "text"
    )
    edge = spark.createDataFrame(
        [("",), ("ünïcode tëst",), (None,), ("x" * 4096,)], "text string"
    )
    df = docs.unionByName(edge)
    rows = df.select(
        char_fold_hashes("text", (31, 1000003)).alias("k"),
        rolling_hash("text").alias("e1"),
        "text",
    ).collect()
    assert rows

    def fold(text, base):  # the JVM fold of rolling_hash, at any base
        acc = 0
        for ch in text:
            acc = (acc * base + ord(ch)) % 2147483647
        return acc

    for r in rows:
        if r["k"] is None:
            assert r["e1"] is None and r["text"] is None
        else:
            assert r["k"][0] == r["e1"] and r["k"][1] == fold(r["text"], 1000003)


def test_bucket_knn_kernel_matches_jvm(spark):
    """The per-bucket gram-matrix Arrow kernel (q226's engine) must
    reproduce the interpreted pair-explode + per-anchor-window shape
    EXACTLY: dim-sequential accumulation == the F.aggregate fold, and
    lexsort by (-cos, id) == the window's (desc cos, id) — including
    exact float ties from duplicated vectors, where only the id
    tiebreak decides which neighbor makes the top-k cut."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from kp_data_pipelines_spark.operators.similarity import (
        _dot,
        bucket_knn_agreement,
        simhash_planes,
        with_hyperplane_bucket,
    )
    from kp_data_pipelines_spark.sources.readers import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    e = emb.select("vec_id", "label", v.alias("v"))
    # duplicate two vectors under fresh ids: exact cosine ties by design
    dup = e.filter(F.col("vec_id") < 2).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "label", "v"
    )
    e = e.unionByName(dup)
    be = with_hyperplane_bucket(e, "v", simhash_planes(64, 4, 7))

    k = 5
    kern = {
        r["vec_id"]: (r["n_neighbors"], r["n_same_label"])
        for r in bucket_knn_agreement(be, "vec_id", "label", "v").collect()
    }

    # interpreted twin: bucket self-join, fold cosines, per-anchor window
    nrm = be.withColumn("nrm", F.sqrt(_dot(F.col("v"), F.col("v"))))
    a = nrm.select(
        F.col("vec_id").alias("anchor"),
        F.col("label").alias("alabel"),
        F.col("v").alias("av"),
        F.col("nrm").alias("na"),
        "bucket",
    )
    b = nrm.select(
        F.col("vec_id").alias("nb"),
        F.col("label").alias("nlabel"),
        F.col("v").alias("bv"),
        F.col("nrm").alias("nb_n"),
        "bucket",
    )
    cos = _dot(F.col("av"), F.col("bv")) / (F.col("na") * F.col("nb_n"))
    cand = (
        a.join(b, "bucket")
        .filter(F.col("nb") != F.col("anchor"))
        .select("anchor", "alabel", "nb", "nlabel", cos.alias("cos"))
    )
    wk = Window.partitionBy("anchor").orderBy(F.desc("cos"), "nb")
    jvm = {
        r["anchor"]: (r["n_neighbors"], r["n_same_label"])
        for r in cand.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= k)
        .groupBy("anchor")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_neighbors"),
            F.sum(
                F.when(F.col("nlabel") == F.col("alabel"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_same_label"),
        )
        .collect()
    }
    # kernel also emits isolated anchors (0 neighbors); the join twin drops them
    kern_nonzero = {i: t for i, t in kern.items() if t[0] > 0}
    assert kern_nonzero == jvm


def test_hard_negative_kernel_matches_jvm(spark):
    """q269's bucket_hard_negatives kernel must reproduce the interpreted
    pair-explode + per-anchor-window shape EXACTLY (dim-sequential gram
    accumulation == the F.aggregate fold; lexsort by (-cos, id) == the
    window's (desc cos, id)) — including exact float ties from
    duplicated vectors, where only the id tiebreak decides rank order."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from kp_data_pipelines_spark.operators.similarity import (
        _dot,
        bucket_hard_negatives,
        simhash_planes,
        with_hyperplane_bucket,
    )
    from kp_data_pipelines_spark.sources.readers import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    e = emb.select("vec_id", "label", v.alias("v"))
    # duplicate two vectors under fresh ids AND a different label:
    # exact cosine ties that land in the different-label top-k by design
    dup = e.filter(F.col("vec_id") < 2).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        (F.col("label") + 1).alias("label"),
        "v",
    )
    e = e.unionByName(dup)
    be = with_hyperplane_bucket(e, "v", simhash_planes(64, 4, 7))

    k = 3
    kern = {
        (r["vec_id"], r["neg_rank"]): (r["neg_id"], r["neg_label"])
        for r in bucket_hard_negatives(be, "vec_id", "label", "v").collect()
    }

    # interpreted twin: bucket self-join on different labels, fold
    # cosines, per-anchor window
    nrm = be.withColumn("nrm", F.sqrt(_dot(F.col("v"), F.col("v"))))
    a = nrm.select(
        F.col("vec_id").alias("anchor"),
        F.col("label").alias("alabel"),
        F.col("v").alias("av"),
        F.col("nrm").alias("na"),
        "bucket",
    )
    b = nrm.select(
        F.col("vec_id").alias("nb"),
        F.col("label").alias("nlabel"),
        F.col("v").alias("bv"),
        F.col("nrm").alias("nb_n"),
        "bucket",
    )
    cos = _dot(F.col("av"), F.col("bv")) / (F.col("na") * F.col("nb_n"))
    cand = (
        a.join(b, "bucket")
        .filter(F.col("nlabel") != F.col("alabel"))
        .select("anchor", "nb", "nlabel", cos.alias("cos"))
    )
    wk = Window.partitionBy("anchor").orderBy(F.desc("cos"), "nb")
    jvm = {
        (r["anchor"], r["rn"]): (r["nb"], r["nlabel"])
        for r in cand.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= k)
        .collect()
    }
    assert kern == jvm
    assert len(kern) > 0


def test_multi_cosine_kernel_matches_jvm(spark):
    """multi_cosine_kernel (q265/q266/q268's engine) must equal the
    interpreted expression _dot(v, lit(ref)) / (sqrt(_dot(v,v)) *
    lit(norm_ref)) BIT-FOR-BIT for every (row, ref) — dim-sequential
    accumulation == the F.aggregate fold, reference norms the same
    driver-side Python fold, guarded and unguarded variants both."""
    import math

    from pyspark.sql import functions as F

    from kp_data_pipelines_spark.operators.similarity import (
        _dot,
        multi_cosine_kernel,
    )
    from kp_data_pipelines_spark.sources.readers import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    refs = [
        [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 3)
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    ]
    for guard in (False, True):
        kern = {
            r["vec_id"]: list(r["k"])
            for r in emb.select(
                "vec_id",
                multi_cosine_kernel(refs, guard_norms=guard)(
                    F.col("embedding")
                ).alias("k"),
            ).collect()
        }
        v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
        vn = F.sqrt(_dot(v, v))
        exprs = [
            (
                _dot(v, F.array(*[F.lit(x) for x in ref]))
                / (
                    vn
                    * F.lit(
                        (math.sqrt(sum(x * x for x in ref)) or 1.0)
                        if guard
                        else math.sqrt(sum(x * x for x in ref))
                    )
                )
            ).alias(f"c{i}")
            for i, ref in enumerate(refs)
        ]
        jvm = {
            r["vec_id"]: [r[f"c{i}"] for i in range(len(refs))]
            for r in emb.select("vec_id", *exprs).collect()
        }
        assert kern == jvm


def test_multiprobe_buckets_flip_lowest_margin_planes(spark):
    """with_hyperplane_bucket(multiprobe=m): probe 1 is the exact code;
    probe j>1 flips the plane with the (j-1)-th smallest |margin|
    (ascending |dot|, plane-index ties) — pinned against a pure-Python
    sequential-fold reference, and probe 1 must equal the single-probe
    column (backward compatibility)."""
    import random

    from kp_data_pipelines_spark.operators.similarity import (
        simhash_planes,
        with_hyperplane_bucket,
    )

    random.seed(3)
    dim, n_planes, m = 8, 6, 4
    planes = simhash_planes(dim, n_planes, seed=7)
    rows = [
        (i, [random.uniform(-1, 1) for _ in range(dim)]) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    got = {
        r["vec_id"]: r["probes"]
        for r in with_hyperplane_bucket(
            df, "embedding", planes, out="probes", multiprobe=m
        ).collect()
    }
    single = {
        r["vec_id"]: r["bucket"]
        for r in with_hyperplane_bucket(df, "embedding", planes).collect()
    }

    def seqdot(v, p):
        acc = 0.0
        for a, b in zip(v, p):
            acc = acc + a * b
        return acc

    for vid, v in rows:
        dots = [seqdot(v, p) for p in planes]
        exact = "".join("1" if d >= 0 else "0" for d in dots)
        order = sorted(range(n_planes), key=lambda i: (abs(dots[i]), i))
        want = [exact]
        for ix in order[: m - 1]:
            c = list(exact)
            c[ix] = "0" if c[ix] == "1" else "1"
            want.append("".join(c))
        assert got[vid] == want, vid
        assert single[vid] == exact, vid
        assert len(set(got[vid])) == m  # probes pairwise distinct


def test_cdc_kernel_matches_stepwise_reference(spark):
    """The vectorized CDC kernel (window cuts + exponent-weight chunk
    folds) must equal the stepwise Horner reference — the arithmetic the
    DuckDB twin of q282 recomputes — including non-ASCII, short-, empty-
    and NULL text, and docs whose final position is itself a cut."""
    from pyspark.sql import functions as F

    from kp_data_pipelines_spark.operators.textops import _cdc_kernel
    from kp_data_pipelines_spark.sources.readers import read_table

    P, W, MASK = 2147483647, 16, 64

    def ref(s):
        if s is None:
            return None
        codes = [ord(c) for c in s]
        n = len(codes)
        if n == 0:
            return []
        cuts = []
        for i in range(W, n + 1):  # 1-based window end
            acc = 0
            for j in range(i - W, i):
                acc = (acc * 31 + codes[j]) % P
            if acc % MASK == 0:
                cuts.append(i)
        bounds = [0] + cuts + [n]
        out = []
        for a, b in zip(bounds, bounds[1:]):
            if b <= a:
                continue
            acc = 0
            for j in range(a, b):
                acc = (acc * 31 + codes[j]) % P
            out.append(acc * 2097152 + min(b - a, 2097151))
        return out

    edge = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog " * 20),
            (2, "tiny"),
            (3, ""),
            (4, None),
            (5, "naïve café über žluťoučký 北京 emoji 🙂 mix " * 10),
            (6, "a" * 300),
        ],
        "doc_id long, text string",
    )
    docs = read_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    for df in (edge, docs):
        got = {
            r["doc_id"]: r["ck"]
            for r in df.select(
                "doc_id", _cdc_kernel(W, MASK)(F.col("text")).alias("ck")
            ).collect()
        }
        want = {
            r["doc_id"]: ref(r["text"]) for r in df.select("doc_id", "text").collect()
        }
        assert got == want
    # at least one multi-chunk doc actually exercised the cut path
    assert any(v and len(v) > 1 for v in want.values())


def test_cdc_chunks_are_edit_local(spark):
    """The CDC property that justifies chunk-level dedup: an edit near
    the START of a document only disturbs chunk fingerprints locally —
    chunks past the resynchronization point are IDENTICAL (fixed-size
    blocks would shift every downstream block). Uses a long synthetic
    doc, prepends a small edit, and asserts the packed-chunk multisets
    share a large common suffix."""
    from pyspark.sql import functions as F

    from kp_data_pipelines_spark.operators.textops import _cdc_kernel

    # varied (non-periodic) content — a repeated phrase has at most
    # ~period distinct window hashes and may never hit a cut boundary
    base = " ".join(str((i * 2654435761) % 1000003) for i in range(1500))
    edited = "EDIT! " + base
    df = spark.createDataFrame(
        [(1, base), (2, edited)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: list(r["ck"])
        for r in df.select(
            "doc_id", _cdc_kernel(16, 64)(F.col("text")).alias("ck")
        ).collect()
    }
    a, b = got[1], got[2]
    assert len(a) > 10, "doc long enough to have many chunks"
    # common suffix length: everything after resynchronization matches
    k = 0
    while k < min(len(a), len(b)) and a[-1 - k] == b[-1 - k]:
        k += 1
    assert k >= len(a) - 3, (len(a), len(b), k)
    # and the multisets differ only near the head
    assert a != b


def test_bpe_apply_kernel_matches_expr(spark):
    """The Arrow encode kernel over one batch (bpe_encode_all_kernel)
    and the interpreted JVM aggregate fold the trainer applies
    (bpe_apply_merges_expr) must produce IDENTICAL symbol arrays —
    including the within-pass chain-merge case (a merged output symbol
    equal to another selected pair's left symbol) and repeated-symbol
    runs. Holdout encoding (q319/q327) relies on this pin to tokenize
    exactly as training did."""
    from pyspark.sql import functions as F

    from kp_data_pipelines_spark.operators.bpe import (
        bpe_apply_merges_expr,
        bpe_encode_all_kernel,
    )

    rows = [
        (1, list("the quick")),
        (2, list("ththth")),
        (3, list("aaa")),
        (4, ["th", "e", "t", "h", "e"]),  # chain-merge territory
        (5, []),
        (6, None),
        (7, list("tttthhhh")),
    ]
    df = spark.createDataFrame(rows, "id long, syms array<string>")
    for merges in (
        [("t", "h")],
        [("t", "h"), ("e", " ")],
        [("th", "e"), ("t", "h")],  # t+h -> "th" then chains with "e"
        [("a", "a")],
    ):
        kern = {
            r["id"]: r["s"]
            for r in df.select(
                "id", bpe_encode_all_kernel([merges])(F.col("syms")).alias("s")
            ).collect()
        }
        expr = {
            r["id"]: r["s"]
            for r in df.select(
                "id", bpe_apply_merges_expr(F.col("syms"), merges).alias("s")
            ).collect()
        }
        # the expr fold maps NULL input to [] (aggregate over null stays
        # null only pre-seed); align on non-null rows and check null row
        for i in (1, 2, 3, 4, 5, 7):
            assert kern[i] == expr[i], (merges, i, kern[i], expr[i])


def test_bpe_select_merge_batch_disjoint_greedy():
    """Greedy disjoint selection: skip any pair touching a used symbol,
    honor the cap, keep ranked order."""
    from kp_data_pipelines_spark.operators.bpe import select_merge_batch

    ranked = [
        ("e", "s", 10),
        ("s", "t", 9),  # s used -> skipped
        ("t", "h", 8),
        ("e", "r", 7),  # e used -> skipped
        ("a", "n", 6),
    ]
    assert select_merge_batch(ranked) == [
        ("e", "s", 10),
        ("t", "h", 8),
        ("a", "n", 6),
    ]
    assert select_merge_batch(ranked, batch_cap=2) == [
        ("e", "s", 10),
        ("t", "h", 8),
    ]
    assert select_merge_batch([]) == []


def test_bpe_batched_trainer_reaches_64_merges(spark):
    """The whole point of batching: 8 rounds train >= 64 merges on the
    sf0.001 fixture (q304's one-merge rounds would need >= 64 jobs),
    with fertility monotonically non-increasing round over round."""
    from kp_data_pipelines_spark.operators.bpe import train_bpe_batched
    from kp_data_pipelines_spark.sources.readers import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents").select(
        "text"
    )
    out = train_bpe_batched(spark, docs).collect()
    merges = [r for r in out if r["round"] > 0]
    assert len(merges) >= 64, len(merges)
    # fertility after each round never rises
    by_round = {}
    for r in out:
        by_round[r["round"]] = r["fertility"]
    ferts = [by_round[k] for k in sorted(by_round)]
    assert all(a >= b for a, b in zip(ferts, ferts[1:])), ferts


def test_bpe_encode_all_matches_per_round(spark):
    """The fused one-pass encode kernel must equal R chained per-round
    JVM folds (the trainer's apply step) — same fold sequence per word,
    one Arrow round trip."""
    from pyspark.sql import functions as F

    from kp_data_pipelines_spark.operators.bpe import (
        bpe_apply_merges_expr,
        bpe_encode_all_kernel,
    )

    batches = [
        [("t", "h", 9), ("e", "r", 7)],
        [("th", "e", 5)],
        [("the", "r", 3)],
    ]
    rows = [
        (1, list("the quick")),
        (2, list("thermal")),
        (3, ["th", "e", "r"]),
        (4, []),
        (5, None),
        (6, list("ttthhh")),
    ]
    df = spark.createDataFrame(rows, "id long, syms array<string>")
    chained = df
    for batch in batches:
        merges = [(a, b) for a, b, _ in batch]
        chained = chained.withColumn(
            "syms", bpe_apply_merges_expr(F.col("syms"), merges)
        )
    want = {r["id"]: r["syms"] for r in chained.collect()}
    got = {
        r["id"]: r["s"]
        for r in df.select(
            "id", bpe_encode_all_kernel(batches)(F.col("syms")).alias("s")
        ).collect()
    }
    assert got == want


def test_bpe_select_merge_batch_adaptive_band():
    """Adaptive selection: the count band (alpha_den * cnt >= max)
    gates entry, disjointness still applies, and there is NO fixed
    batch cap — everything in-band and disjoint is taken."""
    from kp_data_pipelines_spark.operators.bpe import (
        select_merge_batch_adaptive,
    )

    ranked = [
        ("e", "s", 640),
        ("s", "t", 639),   # s used -> skipped
        ("t", "h", 300),
        ("a", "n", 11),
        ("o", "u", 10),    # 64*10 >= 640 -> in band (boundary)
        ("x", "y", 9),     # 64*9 < 640 -> below band
        ("p", "q", 9),     # below band too
    ]
    assert select_merge_batch_adaptive(ranked, alpha_den=64) == [
        ("e", "s", 640),
        ("t", "h", 300),
        ("a", "n", 11),
        ("o", "u", 10),
    ]
    # a tighter band (alpha_den=2) keeps only the top cluster: 639 is
    # in band but shares "s"; 300 is below 640/2
    assert select_merge_batch_adaptive(ranked, alpha_den=2) == [
        ("e", "s", 640),
    ]
    assert select_merge_batch_adaptive([]) == []


def test_bpe_adaptive_trainer_reaches_512_merges(spark):
    """The round-9 verdict's #1 ask: the adaptive trainer must train
    >= 512 merges on the fixture (word units cap at ~107, so this also
    pins that chunk units + the count band actually lift the ceiling),
    with fertility monotonically non-increasing round over round."""
    from kp_data_pipelines_spark.operators.bpe import train_bpe_adaptive
    from kp_data_pipelines_spark.sources.readers import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents").select(
        "text"
    )
    out = train_bpe_adaptive(spark, docs).collect()
    merges = [r for r in out if r["round"] > 0]
    assert len(merges) >= 512, len(merges)
    by_round = {}
    for r in out:
        by_round[r["round"]] = r["fertility"]
    ferts = [by_round[k] for k in sorted(by_round)]
    assert all(a >= b for a, b in zip(ferts, ferts[1:])), ferts


def test_bpe_adaptive_trainer_empty_corpus(spark):
    """The chunk-unit path shares the word-unit trainer's empty-corpus
    contract: one round-0 row, NULL corpus_symbols and fertility."""
    from kp_data_pipelines_spark.operators.bpe import train_bpe_adaptive

    for rows in ([], [("",), ("   ",)]):
        docs = spark.createDataFrame(rows, "text string")
        out = train_bpe_adaptive(spark, docs).collect()
        assert len(out) == 1
        r = out[0]
        assert (r["round"], r["batch_rank"], r["merge_a"]) == (0, 0, "")
        assert r["corpus_symbols"] is None and r["fertility"] is None


def test_merge_table_artifact_roundtrip(spark, tmp_path):
    """The tokenizer DEPLOYMENT artifact: train -> save (atomic FS
    write, no Spark job) -> load -> encode must equal encoding with the
    in-memory batches; a foreign/truncated artifact fails loudly."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from kp_data_pipelines_spark.operators.bpe import (
        bpe_encode_all_kernel,
        load_merge_table,
        save_merge_table,
        train_merge_batches,
    )
    from kp_data_pipelines_spark.sources.readers import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents").select(
        "text"
    )
    batches = train_merge_batches(spark, docs)
    path = str(tmp_path / "tokenizer.json")
    save_merge_table(spark, batches, path)
    loaded = load_merge_table(spark, path)
    assert loaded == batches
    df = spark.createDataFrame(
        [(1, list("the query table")), (2, list("zzz"))],
        "id long, syms array<string>",
    )
    want = {
        r["id"]: r["s"]
        for r in df.select(
            "id", bpe_encode_all_kernel(batches)(F.col("syms")).alias("s")
        ).collect()
    }
    got = {
        r["id"]: r["s"]
        for r in df.select(
            "id", bpe_encode_all_kernel(loaded)(F.col("syms")).alias("s")
        ).collect()
    }
    assert got == want
    # overwrite is atomic (the marker-file OVERWRITE rename path)
    save_merge_table(spark, batches[:1], path)
    assert load_merge_table(spark, path) == batches[:1]
    # a foreign JSON (written through the same FS path, so the local
    # Hadoop CRC sidecar stays consistent) must fail loudly
    import json

    from kp_data_pipelines_spark.streaming.state_io import write_marker

    bad = str(tmp_path / "bad.json")
    write_marker(spark, bad, json.dumps({"format": "something-else"}))
    with _pytest.raises(ValueError, match="kp-bpe-merges"):
        load_merge_table(spark, bad)


def test_adaptive_tokenize_compresses_past_batched(spark):
    """The point of training >=512 merges: the adaptive chunk
    tokenizer's chars-per-token must beat the ~80-merge word
    tokenizer's on every source (5.8 vs 3.6 on the fixture), with
    MORE total characters covered per token even though chunk units
    also encode the spaces word units never see."""
    from kp_data_pipelines_spark.operators.bpe import (
        tokenize_corpus_adaptive,
        tokenize_corpus_batched,
    )
    from kp_data_pipelines_spark.sources.readers import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents").select(
        "source", "text"
    )
    adaptive = {
        r["source"]: r["chars_per_token"]
        for r in tokenize_corpus_adaptive(spark, docs).collect()
    }
    batched = {
        r["source"]: r["chars_per_token"]
        for r in tokenize_corpus_batched(spark, docs).collect()
    }
    assert set(adaptive) == set(batched)
    for src, cpt in adaptive.items():
        assert cpt > batched[src], (src, cpt, batched[src])


def test_bpe_trainer_empty_corpus_matches_oracle_shape(spark):
    """Empty / all-whitespace corpus: the trainer must return the
    round-0 row with NULL corpus_symbols and fertility (what the
    DuckDB twin's SUM-over-zero-rows emits), not crash on
    float(None)."""
    from kp_data_pipelines_spark.operators.bpe import train_bpe_batched

    for rows in ([], [("",), ("   ",)]):
        docs = spark.createDataFrame(rows, "text string")
        out = train_bpe_batched(spark, docs).collect()
        assert len(out) == 1
        r = out[0]
        assert (r["round"], r["batch_rank"], r["merge_a"]) == (0, 0, "")
        assert r["corpus_symbols"] is None and r["fertility"] is None
