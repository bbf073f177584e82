"""Throughput probe: generate a ~1M-doc corpus ON THE EXECUTORS (no
input files, via the synthetic_corpus DataSource) and push it through
the text-pipeline hot path — exact dedup, language ID, token counting,
quality scoring, template-prefix grouping — printing rows/sec per stage.

Usage: python tools/stress.py [n_partitions rows_per_partition]
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from kp_data_pipelines_spark.operators.dedup import row_fingerprint  # noqa: E402
from kp_data_pipelines_spark.operators.textops import (  # noqa: E402
    lang_id,
    quality_score,
    regex_token_count,
)
from kp_data_pipelines_spark.session import get_spark  # noqa: E402
from kp_data_pipelines_spark.sources.corpus_source import (  # noqa: E402
    SyntheticCorpusDataSource,
)


def main() -> int:
    parts = int(sys.argv[1]) if len(sys.argv) > 1 else 32
    rows = int(sys.argv[2]) if len(sys.argv) > 2 else 32_000
    spark = get_spark()
    spark.dataSource.register(SyntheticCorpusDataSource)
    docs = (
        spark.read.format("synthetic_corpus")
        .option("partitions", parts)
        .option("rows_per_partition", rows)
        .load()
    )
    n = parts * rows
    out: dict[str, float] = {}

    def stage(name, df):
        t = time.time()
        cnt = df.count()
        dt = time.time() - t
        out[name] = round(n / dt)
        print(f"{name}: {cnt} rows out, {dt:.1f}s, {out[name]} docs/sec")

    stage("generate+count", docs)
    stage(
        "exact_dedup",
        row_fingerprint(docs.select("doc_id", "text"), ["text"]).dropDuplicates(
            ["row_hash"]
        ),
    )
    stage(
        "lang_id+tokens+quality",
        docs.select(
            "doc_id",
            lang_id("text").alias("lang"),
            regex_token_count("text").alias("toks"),
            quality_score("text").alias("q"),
        ).filter(F.col("q") > 0.5),
    )
    # Shingle hashing, both gram hashes: the polynomial kernel is the
    # one MinHash and SimHash use (the 100 TB near-dup path); xxhash64
    # stays for q41/q68's short documents (SCALE.md §11).
    from kp_data_pipelines_spark.operators.textops import (
        with_hashed_shingles,
        with_poly_shingles,
    )

    stage(
        "shingles_xxhash64",
        with_hashed_shingles(docs.select("doc_id", "text"), "text", 3).filter(F.size("__g") > 0),
    )
    stage(
        "shingles_portable_poly",
        with_poly_shingles(
            docs.select("doc_id", "text"), "text", "__g", 3
        ).filter(F.size("__g") > 0),
    )
    stage(
        "template_prefix_groups",
        docs.groupBy(
            F.concat_ws(" ", F.slice(F.split("text", " "), 1, 10)).alias("p")
        ).count().filter(F.col("count") >= 2),
    )
    # q235's repetition-rule path: token explode + two hash aggregates +
    # a per-doc lead() window for bigrams — the heaviest per-doc fan-out
    # in the round-4 additions (one row per token, ~token-count x docs).
    from pyspark.sql import Window

    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    wl = Window.partitionBy("doc_id").orderBy("pos")
    rep = (
        toks.withColumn("nxt", F.lead("tok").over(wl))
        .filter(F.col("nxt").isNotNull())
        .groupBy("doc_id", F.concat_ws(" ", "tok", "nxt").alias("bg"))
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top"), F.sum("c").alias("nb"))
        .filter(F.col("top") * 5 > F.col("nb"))
    )
    stage("repetition_rules_bigrams", rep)

    # Round-8/9 probes (SCALE.md §11): the CDC chunking kernel, the media
    # dHash kernel, and the adaptive-plane LSH bucket path at a 1M-row
    # population — evidence the derived knobs (GRAM_TARGET_BUCKET budget,
    # q299's realized-width alarm) hold where sf0.1 cannot show it.
    from kp_data_pipelines_spark.operators.multimodal import (
        with_media_dhash,
    )
    from kp_data_pipelines_spark.operators.similarity import (
        GRAM_TARGET_BUCKET,
        adaptive_n_planes,
        simhash_planes,
        with_hyperplane_bucket,
    )
    from kp_data_pipelines_spark.operators.textops import with_cdc_chunks

    t = time.time()
    n_chunks = with_cdc_chunks(
        docs.select("doc_id", "text"), "text"
    ).count()
    dt = time.time() - t
    out["cdc_kernel"] = round(n / dt)
    print(
        f"cdc_kernel: {n_chunks} chunks, {dt:.1f}s, "
        f"{out['cdc_kernel']} docs/sec, {round(n_chunks / dt)} chunks/sec"
    )

    t = time.time()
    cnt = (
        with_media_dhash(
            docs.select("doc_id", F.encode("text", "UTF-8").alias("content")),
            "content",
        )
        .filter(F.col("phash").isNotNull())
        .count()
    )
    dt = time.time() - t
    out["media_dhash_kernel"] = round(n / dt)
    print(
        f"media_dhash_kernel: {cnt} fingerprints, {dt:.1f}s, "
        f"{out['media_dhash_kernel']} docs/sec"
    )

    # synthetic 64-dim embeddings, generated once OFF the timed region
    emb = docs.select(
        "doc_id",
        F.expr(
            "transform(sequence(1, 64), i -> "
            "CAST(pmod(xxhash64(doc_id, i), 1000000) AS DOUBLE) "
            "/ 500000.0 - 1.0)"
        ).alias("v"),
    ).localCheckpoint(eager=True)
    n_planes = adaptive_n_planes(n)
    t = time.time()
    w = (
        with_hyperplane_bucket(emb, "v", simhash_planes(64, n_planes, 7))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("width"))
    )
    st = w.agg(
        F.count(F.lit(1)).alias("buckets_used"),
        F.max("width").alias("max_width"),
        F.avg("width").alias("mean_width"),
        F.sum(
            F.when(F.col("width") > GRAM_TARGET_BUCKET, 1).otherwise(0)
        ).alias("over_budget_buckets"),
        F.sum(
            F.when(F.col("width") > GRAM_TARGET_BUCKET, F.col("width"))
            .otherwise(0)
        ).alias("over_budget_rows"),
    ).first()
    dt = time.time() - t
    out["lsh_adaptive_bucket"] = round(n / dt)
    out["lsh_over_budget_row_share"] = round(
        st["over_budget_rows"] / n, 4
    )
    print(
        f"lsh_adaptive_bucket: planes={n_planes}, "
        f"buckets={st['buckets_used']}, max_width={st['max_width']}, "
        f"mean_width={st['mean_width']:.1f}, "
        f"over_budget_buckets={st['over_budget_buckets']}, "
        f"over_budget_row_share={out['lsh_over_budget_row_share']}, "
        f"{dt:.1f}s, {out['lsh_adaptive_bucket']} docs/sec"
    )

    # Constellation landmark construction (q308/q312): frame explode +
    # one interpreted 32-element peak fold per frame + per-doc LEAD
    # windows + the 3-delta key union — the sequence-fingerprint index
    # build cost per corpus pass.
    from kp_data_pipelines_spark.operators.multimodal import (
        constellation_landmarks,
    )

    t = time.time()
    n_lm = constellation_landmarks(
        docs.select("doc_id", "text").filter(F.length("text") > 0),
        "doc_id",
        "text",
    ).count()
    dt = time.time() - t
    out["constellation_landmarks"] = round(n / dt)
    print(
        f"constellation_landmarks: {n_lm} landmarks, {dt:.1f}s, "
        f"{out['constellation_landmarks']} docs/sec, "
        f"{round(n_lm / dt)} landmarks/sec"
    )

    # Round-9 probes: the dense (content-defined) peak kernel behind
    # q317's alignment-robust landmarks, and one batched-BPE merge
    # application (the training loop's JVM fold, bpe_apply_merges_expr)
    # over a 1M-DISTINCT-word vocab — the vocabulary-bounded unit the
    # round-count model multiplies.
    from kp_data_pipelines_spark.operators.bpe import (
        bpe_apply_merges_expr,
    )
    from kp_data_pipelines_spark.operators.multimodal import (
        dense_landmarks,
    )

    t = time.time()
    n_dlm = dense_landmarks(
        docs.select("doc_id", "text").filter(F.length("text") > 0),
        "doc_id",
        "text",
    ).count()
    dt = time.time() - t
    out["dense_landmarks"] = round(n / dt)
    print(
        f"dense_landmarks: {n_dlm} landmarks, {dt:.1f}s, "
        f"{out['dense_landmarks']} docs/sec, "
        f"{round(n_dlm / dt)} landmarks/sec"
    )

    # the synthetic corpus draws from a 27-word list, so its real vocab
    # is trivially small (a BPE round there is free, which IS the
    # vocabulary-bounded point) — stress the fold on a 1M-DISTINCT-word
    # vocab instead: hash-derived ~12-char words, one row per doc_id
    vocab = docs.select(
        F.expr(
            "transform(sequence(1, 12), i -> "
            "substring('abcdefghijklmnopqrstuvwxyz', "
            "1 + cast(pmod(xxhash64(doc_id, i), 26) as int), 1))"
        ).alias("syms")
    ).localCheckpoint(eager=True)
    n_vocab = vocab.count()
    # pairwise-DISJOINT 12-pair batch (24 distinct letters): the
    # trainer's greedy disjoint selection only ever emits batches where
    # no symbol repeats, and the fold's lookup maps assume it — a
    # repeating-symbol list would probe fold states production never
    # produces (round-9 ADVICE)
    merges = [("a", "b"), ("c", "d"), ("e", "f"), ("g", "h"), ("i", "j"),
              ("k", "l"), ("m", "n"), ("o", "p"), ("q", "r"), ("s", "t"),
              ("u", "v"), ("w", "x")]
    t = time.time()
    n_syms = (
        vocab.select(
            bpe_apply_merges_expr(F.col("syms"), merges).alias("s")
        )
        .agg(F.sum(F.size("s")))
        .first()[0]
    )
    dt = time.time() - t
    out["bpe_apply_round"] = round(n_vocab / dt)
    print(
        f"bpe_apply_round: vocab={n_vocab}, {n_syms} symbols out, "
        f"{dt:.1f}s, {out['bpe_apply_round']} words/sec"
    )

    # Round-10 kernels: the hash-projection embedding encoder (q322's
    # iterator pandas_udf, per-document) and the pure-stdlib PNG
    # round trip (q323's encode -> parse+unfilter, per-document).
    from kp_data_pipelines_spark.operators.inference import (
        encode_documents,
    )

    t = time.time()
    n_emb = encode_documents(docs.select("doc_id", "text")).count()
    dt = time.time() - t
    # rate is per PRODUCED vector (empty-text docs drop), so the
    # printed row count and the throughput share a denominator
    out["hash_embed_encode"] = round(n_emb / dt)
    print(
        f"hash_embed_encode: {n_emb} vectors, {dt:.1f}s, "
        f"{out['hash_embed_encode']} vectors/sec"
    )

    from kp_data_pipelines_spark.operators.multimodal import (
        decoded_media_dhash,
        png_roundtrip_media,
    )

    t = time.time()
    n_fp = decoded_media_dhash(
        png_roundtrip_media(
            docs.select("doc_id", F.lit("s").alias("source"), "text"),
            filters=(4,),
        ),
        decoder="stdlib",
    ).count()
    dt = time.time() - t
    # per PRODUCED fingerprint: multi-filter roundtrips fan out and
    # empty docs drop, so dividing by input docs would misstate it
    out["png_roundtrip_decode"] = round(n_fp / dt)
    print(
        f"png_roundtrip_decode: {n_fp} containers encoded+decoded+hashed, "
        f"{dt:.1f}s, {out['png_roundtrip_decode']} containers/sec"
    )

    print(json.dumps({"metric": "stress_docs_per_sec", "n_docs": n, **out}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
