"""Tests for multimodal plumbing and the batch-inference (X4) operator."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kp_data_pipelines_spark.operators.inference import batch_inference
from kp_data_pipelines_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    extract_media_features,
    frame_sample_plan,
)


@pytest.fixture()
def media(spark):
    rows = [
        (1, "image", b"\x89PNGfakebytes", "image/png", 64, 64, -1),
        (2, "audio", b"RIFFfakewav", "audio/wav", -1, -1, 2500),
        (3, "video", b"\x00\x00ftypfakemp4", "video/mp4", 640, 480, 3500),
        (4, "image", None, "image/png", -1, -1, -1),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_extract_media_features_fake_decoder(media):
    out = extract_media_features(media)
    rows = {r["media_id"]: r for r in out.collect()}
    assert set(rows) == {1, 2, 3, 4}
    assert rows[1]["feature"].startswith("image:")
    assert rows[1]["n_bytes"] == 13
    assert rows[4]["n_bytes"] == 0
    assert len(rows[2]["content_sha"]) == 64
    # deterministic: same content -> same feature
    again = {r["media_id"]: r["feature"] for r in extract_media_features(media).collect()}
    assert again == {k: v["feature"] for k, v in rows.items()}


def test_frame_sample_plan(media):
    out = frame_sample_plan(media, every_ms=1000)
    rows = out.collect()
    # only the video row, duration 3500ms -> frames at 0,1000,2000
    assert {r["media_id"] for r in rows} == {3}
    assert sorted(r["frame_ts_ms"] for r in rows) == [0, 1000, 2000]


def test_batch_inference_pipeline(spark):
    df = spark.createDataFrame(
        [(1, "short text"), (2, " ".join(["w"] * 50))], ["id", "text"]
    )
    out = batch_inference(df, "text")
    rows = {r["id"]: r for r in out.collect()}
    assert rows[1]["final"] == "short"
    assert rows[2]["final"] == "long"
    assert rows[1]["analysis"] == "tokens=2 uniq=2"
    assert rows[2]["analysis"] == "tokens=50 uniq=1"


def test_chunk_media_roundtrip(spark):
    """Chunking is lossless: concatenating a blob's chunks in order
    reconstructs the original bytes; sizes and offsets line up."""
    from kp_data_pipelines_spark.operators.multimodal import chunk_media

    rows = [
        (1, b"a" * 160),
        (2, b"xyz"),
        (3, b""),
        (4, bytes(range(256)) * 10),
    ]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    out = chunk_media(df).collect()
    by_id = {}
    for r in sorted(out, key=lambda r: (r["media_id"], r["chunk_idx"])):
        by_id.setdefault(r["media_id"], bytearray()).extend(r["chunk"] or b"")
        assert r["offset"] == r["chunk_idx"] * 64
    for mid, content in rows:
        assert bytes(by_id[mid]) == content, mid
    # each blob yields ceil(len/64) chunks (min 1)
    import math
    counts = {}
    for r in out:
        counts[r["media_id"]] = counts.get(r["media_id"], 0) + 1
    for mid, content in rows:
        assert counts[mid] == max(1, math.ceil(len(content) / 64))


def _assert_generate_contract(generate):
    """The model contract: pd.Series[str] -> pd.Series[str], same
    length, one non-null string per input, deterministic."""
    import pandas as pd

    texts = pd.Series(["hello world", "", "a b c"])
    out = generate(texts)
    assert isinstance(out, pd.Series)
    assert len(out) == len(texts)
    assert all(isinstance(v, str) for v in out)
    again = generate(texts)
    assert out.tolist() == again.tolist()


def test_fake_model_contract():
    from kp_data_pipelines_spark.operators.inference import _fake_model

    _assert_generate_contract(_fake_model())


def _assert_encoder_contract(encode):
    """The encoder contract: pd.Series[str|None] -> pd.Series[list|None],
    same length, None stays None, every non-null output a unit-norm
    float list of one consistent width, deterministic."""
    import math

    import pandas as pd

    texts = pd.Series(["hello world hello", None, "a b c d e f g"])
    out = encode(texts)
    assert isinstance(out, pd.Series) and len(out) == len(texts)
    assert out[1] is None
    vecs = [out[0], out[2]]
    dims = {len(v) for v in vecs}
    assert len(dims) == 1
    for v in vecs:
        assert all(isinstance(x, float) for x in v)
        assert abs(math.sqrt(sum(x * x for x in v)) - 1.0) < 1e-9
    again = encode(texts)
    assert [again[0], again[2]] == vecs


def test_hash_encoder_contract():
    from kp_data_pipelines_spark.operators.inference import _hash_encoder

    _assert_encoder_contract(_hash_encoder())


def test_encode_documents_drops_empty_and_normalizes(spark):
    """encode_documents: whitespace-only text drops (both engines do),
    surviving vectors are unit-norm, and normalization means leading/
    trailing/case/multi-space variants of the same text embed
    identically."""
    import math

    from kp_data_pipelines_spark.operators.inference import (
        encode_documents,
    )

    df = spark.createDataFrame(
        [
            (1, "Hello   World"),
            (2, "  hello world "),
            (3, "   "),
            (4, None),
            (5, "completely different text here"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r["embedding"]
        for r in encode_documents(df).collect()
    }
    assert set(rows) == {1, 2, 5}
    assert rows[1] == rows[2]
    assert rows[1] != rows[5]
    for v in rows.values():
        assert abs(math.sqrt(sum(x * x for x in v)) - 1.0) < 1e-9


def test_png_codec_roundtrip_all_filters():
    """The pure-stdlib PNG codec: every scanline filter type round-trips
    real pixels exactly, different filters give byte-different
    containers, and out-of-profile input fails loudly."""
    from kp_data_pipelines_spark.operators.codecs import (
        png_decode_gray,
        png_encode_gray,
    )

    pix = bytes((x * 7 + 13) % 256 for x in range(32 * 5))
    containers = []
    for ft in range(5):
        data = png_encode_gray(pix, 32, 5, ft)
        assert png_decode_gray(data) == (32, 5, pix), ft
        containers.append(data)
    assert len(set(containers)) == 5
    with pytest.raises(ValueError, match="signature"):
        png_decode_gray(b"not a png at all")
    with pytest.raises(ValueError, match="pixels"):
        png_encode_gray(pix, 32, 4, 0)


def test_stdlib_wav_decode_through_dhash_seam(spark):
    """A REAL audio container through decoded_media_dhash: the same
    PCM byte stream re-containered (mono vs stereo framing) gives
    byte-different WAVs whose decoded-sample digests match inside the
    feature token. stdlib `wave` is a genuine RIFF/WAVE codec — this
    runs in-sandbox, not env-gated."""
    from kp_data_pipelines_spark.operators.codecs import wav_encode_pcm16
    from kp_data_pipelines_spark.operators.multimodal import (
        decoded_media_dhash,
    )

    pcm = bytes((x * 31) % 256 for x in range(2000))
    wav_a = wav_encode_pcm16(pcm, 1, 8000)
    # byte-different container of the SAME samples: stereo layout is a
    # different frame count over identical PCM bytes
    wav_b = wav_encode_pcm16(pcm, 2, 8000)
    assert wav_a != wav_b
    df = spark.createDataFrame(
        [(1, "audio", wav_a), (2, "audio", wav_b)],
        "media_id long, kind string, content binary",
    )
    rows = {
        r["media_id"]: r
        for r in decoded_media_dhash(df, decoder="stdlib").collect()
    }
    # raw layer differs, decoded PCM digest matches inside the token
    assert rows[1]["content_sha"] != rows[2]["content_sha"]
    assert rows[1]["feature"].split(":")[-1] == rows[2]["feature"].split(":")[-1]
    assert rows[1]["feature"].startswith("audio:1x8000x1000:")
    assert rows[2]["feature"].startswith("audio:2x8000x500:")


def test_png_reencode_collapses_at_decoded_layer(spark):
    """The q323 invariant end-to-end on a controlled frame: filter-0 and
    filter-4 containers of the same pixels are distinct raw identities
    but ONE decoded identity and ONE fingerprint."""
    from kp_data_pipelines_spark.operators.multimodal import (
        decoded_media_dhash,
        png_roundtrip_media,
    )

    df = spark.createDataFrame(
        [(10, "web", "hello png world"), (11, "web", "hello png world"),
         (12, "lib", "another text entirely")],
        "doc_id long, source string, text string",
    )
    media = png_roundtrip_media(df)
    assert media.count() == 6
    fp = decoded_media_dhash(media, decoder="stdlib")
    rows = fp.collect()
    assert len(rows) == 6
    # doc 10 and 11 share text -> same pixels -> containers collide
    # ACROSS docs per filter; 2 raw identities for the pair, 1 decoded
    web = [r for r in rows if r["media_id"] // 2 in (10, 11)]
    assert len({r["content_sha"] for r in web}) == 2
    assert len({r["feature"] for r in web}) == 1
    assert len({r["phash"] for r in web}) == 1
    lib = [r for r in rows if r["media_id"] // 2 == 12]
    assert len({r["content_sha"] for r in lib}) == 2
    assert len({r["feature"] for r in lib}) == 1


def test_stdlib_video_is_explicit_stub():
    """Video has no stdlib codec: the decoder raises, naming it."""
    from kp_data_pipelines_spark.operators.multimodal import DECODERS

    with pytest.raises(NotImplementedError, match="stdlib"):
        DECODERS["stdlib"](b"\x00\x00ftyp", "video")


def test_media_dhash_kernel_matches_jvm(spark):
    """The Arrow numpy dHash kernel and the interpreted JVM expression
    twin must produce IDENTICAL fingerprints (integer cell sums +
    gradient bits — also what the DuckDB q301 oracle recomputes),
    including payloads smaller than the 72-cell grid, empty and NULL
    payloads, and constant bytes (no gradient -> fingerprint 0)."""
    from kp_data_pipelines_spark.operators.multimodal import (
        with_media_dhash,
        with_media_dhash_expr,
    )
    from kp_data_pipelines_spark.sources.readers import read_table

    edge = spark.createDataFrame(
        [
            (1, bytearray(b"the quick brown fox jumps over the lazy dog")),
            (2, bytearray(b"tiny")),          # fewer bytes than cells
            (3, bytearray(b"")),              # empty payload
            (4, None),                        # null payload
            (5, bytearray(b"\x00" * 500)),    # constant bytes, no gradient
            (6, bytearray(bytes(range(256)) * 7)),  # full byte range
            (7, bytearray(b"\xff" * 71)),     # one byte short of the grid
        ],
        "media_id long, content binary",
    )
    docs = read_table(spark, "/root/testdata/sf0.001", "documents").select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "UTF-8").alias("content"),
    )
    for df in (edge, docs):
        kern = {
            r["media_id"]: r["phash"]
            for r in with_media_dhash(df, "content").collect()
        }
        expr = {
            r["media_id"]: r["phash"]
            for r in with_media_dhash_expr(df, "content").collect()
        }
        assert kern == expr
    # pinned edge semantics
    kern = {
        r["media_id"]: r["phash"]
        for r in with_media_dhash(edge, "content").collect()
    }
    assert kern[3] == 0 and kern[5] == 0  # no gradient -> 0
    assert kern[4] is None                # null stays null


def test_hamming_pairs_generic_matches_bruteforce(spark):
    """The pigeonhole chunk-banding join over an arbitrary fingerprint
    column must return EXACTLY the brute-force Hamming-radius pair set
    — including fingerprints that differ only in bit 63 (outside every
    chunk when 64 % (d+1) != 0: uncovered bits must not lose pairs)."""
    from kp_data_pipelines_spark.operators.similarity import hamming_pairs

    fps = [
        (1, 0),
        (2, 1),                      # d(1,2)=1
        (3, -9223372036854775808),   # bit 63 only: d(1,3)=1
        (4, -9223372036854775807),   # bits 63+0: d(1,4)=2, d(3,4)=1
        (5, 255),                    # d(1,5)=8
        (6, 255),                    # exact dup of 5
    ]
    df = spark.createDataFrame(fps, "media_id long, fp long")
    for d in (1, 2, 6):
        for k in (1, 2):  # classic chunks and Manku 2-block combinations
            got = {
                (r["id_a"], r["id_b"]): r["hamming"]
                for r in hamming_pairs(
                    df, "media_id", "fp", d, agree_blocks=k
                ).collect()
            }
            want = {}
            for i, (ia, fa) in enumerate(fps):
                for ib, fb in fps[i + 1:]:
                    h = bin((fa ^ fb) & ((1 << 64) - 1)).count("1")
                    if h <= d:
                        want[(ia, ib)] = h
            assert got == want, (d, k, got, want)


def test_constellation_landmarks_match_duckdb_twin(spark):
    """multimodal.constellation_landmarks == oracles.
    _constellation_lm_ctes row-for-row on real fixture text (the
    q308/q312 shared kernel pin — frame windows, argmax peaks with
    first-occurrence ties, delta-paired integer keys)."""
    import duckdb

    from kp_data_pipelines_spark import oracles
    from kp_data_pipelines_spark.operators.multimodal import (
        constellation_landmarks,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .filter(F.length("text") > 0)
        .orderBy("doc_id")
        .limit(25)
        # empty payload: the helper must emit ZERO rows for it (Spark's
        # sequence(0, -1) descends — the guard keeps both engines at
        # range(0) semantics)
        .unionByName(
            spark.createDataFrame(
                [(999_999, "")], "doc_id long, text string"
            )
        )
    )
    got = sorted(
        tuple(r)
        for r in constellation_landmarks(docs, "doc_id", "text").collect()
    )
    assert not any(r[0] == 999_999 for r in got)
    rows = [(r["doc_id"], r["text"]) for r in docs.collect()]
    con = duckdb.connect()
    con.execute("CREATE TABLE m(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO m VALUES (?, ?)", rows)
    sql = (
        "WITH "
        + oracles._constellation_lm_ctes("m", "doc_id")
        + " SELECT doc_id, t, key FROM lm"
    )
    want = sorted(
        (int(a), int(b), int(c)) for a, b, c in con.sql(sql).fetchall()
    )
    assert got == want and len(got) > 0


def test_dense_peaks_kernel_matches_expr(spark):
    """The Arrow peak kernel and the interpreted JVM slice-max twin must
    agree on positions AND values — including equal-run ties (first
    kept), short texts, all-equal texts, empty and NULL. BMP-only
    fixture: the kernel counts code POINTS (like DuckDB ord); the JVM
    twin splits UTF-16 units, so they diverge only on astral-plane
    chars (the documents fixture is verified ASCII — q313 contract)."""
    from pyspark.sql import functions as F

    from kp_data_pipelines_spark.operators.multimodal import (
        dense_peaks_kernel,
        with_dense_peaks_expr,
    )
    from kp_data_pipelines_spark.sources.readers import read_table

    edge = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "aaaaaaaaaa"),
            (3, "abz" * 20),
            (4, "z"),
            (5, ""),
            (6, None),
            (7, "zz yy zz yy zz"),
            (8, "naïve café über žluťoučký 北京 mix"),  # BMP non-ASCII
        ],
        "doc_id long, text string",
    )
    docs = read_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    for df in (edge, docs):
        kern = {
            r["doc_id"]: (r["pk"]["pos"], r["pk"]["val"], r["pk"]["ctx"])
            if r["pk"] is not None
            else None
            for r in df.select(
                "doc_id", dense_peaks_kernel()(F.col("text")).alias("pk")
            ).collect()
        }
        expr = {
            r["doc_id"]: (r["pk"]["pos"], r["pk"]["val"], r["pk"]["ctx"])
            if r["pk"] is not None
            else None
            for r in with_dense_peaks_expr(df, "text").collect()
        }
        assert kern == expr


def test_dense_retrieval_hits_exact_offsets(spark):
    """q317's whole claim: probes cut at NON-frame-aligned offsets
    (53/90/127/164 — none a multiple of 32 or 16) still retrieve their
    source media at the exact char offset, because content-defined
    peaks are alignment-invariant."""
    from kp_data_pipelines_spark.catalog import QUERIES

    rows = QUERIES["q317_dense_landmark_retrieval"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(rows) == 4
    for r in rows:
        assert r["matched_media"] == r["probe_id"]
        assert r["offset_chars"] == 53 + (r["probe_id"] % 4) * 37
        assert r["votes"] >= 4


def test_decode_to_hamming_seam(spark):
    """The decode -> dHash -> hamming_pairs path runs END TO END on the
    (deterministic fake) decoder: byte-identical payloads decode to the
    same feature token, fingerprint identically, and surface as a
    Hamming-0 pair. (The fake token is a 12-hex digest — a degenerate
    18-byte dHash input on which DISTINCT tokens may also collide. The
    pinned contract here is the executed plumbing, not toy-input
    precision.) With the ``stdlib`` decoder the identical plan catches
    re-encoded duplicates (q323, test_png_reencode_collapses_at_decoded_layer)."""
    from kp_data_pipelines_spark.operators.multimodal import (
        decoded_media_dhash,
    )
    from kp_data_pipelines_spark.operators.similarity import hamming_pairs

    rows = [
        (1, "image", b"\x89PNGpayloadAAAA" * 20, "image/png", 64, 64, -1),
        (2, "image", b"\x89PNGpayloadAAAA" * 20, "image/png", 64, 64, -1),
        (3, "image", b"\x89PNGotherBBBBBB" * 20, "image/png", 64, 64, -1),
        (4, "audio", b"RIFFwavpayload" * 30, "audio/wav", -1, -1, 900),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    fp = decoded_media_dhash(df)
    got = {r["media_id"]: r for r in fp.collect()}
    assert got[1]["phash"] == got[2]["phash"]
    assert got[1]["content_sha"] == got[2]["content_sha"]
    assert got[3]["content_sha"] != got[1]["content_sha"]
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in hamming_pairs(
            fp, "media_id", "phash", max_hamming=0
        ).collect()
    }
    assert pairs[(1, 2)] == 0


def test_wav_junk_chunk_roundtrip():
    """q330's re-container variant: wav_add_junk_chunk must produce a
    byte-DIFFERENT container whose stdlib decode is IDENTICAL to the
    plain encode's — the decoded-layer-collapse premise. Also pins the
    loud failures: non-RIFF input and a container with no data chunk."""
    import pytest

    from kp_data_pipelines_spark.operators.codecs import (
        wav_add_junk_chunk,
        wav_decode,
        wav_encode_pcm8,
    )

    samples = b"the quick brown fox jumps over the lazy dog 0123456789"
    plain = wav_encode_pcm8(samples, 8000)
    junked = wav_add_junk_chunk(plain)
    assert plain != junked and len(junked) > len(plain)
    assert wav_decode(plain) == wav_decode(junked)
    ch, rate, nf, pcm = wav_decode(junked)
    assert (ch, rate, nf, pcm) == (1, 8000, len(samples), samples)
    with pytest.raises(ValueError, match="not a RIFF/WAVE"):
        wav_add_junk_chunk(b"\x89PNG not a wav")
    with pytest.raises(ValueError, match="no data chunk"):
        wav_add_junk_chunk(b"RIFF\x04\x00\x00\x00WAVE")


def test_wav_roundtrip_collapse_and_decoded_landmarks(spark):
    """q330's pipeline invariants on a tiny in-memory corpus: every
    document yields two byte-different containers that collapse to one
    decoded identity (n_raw == 2 * n_decoded), duplicate TEXTS collapse
    further at the decoded layer, and wav_decoded_chars returns exactly
    the source text (the lossless-decode contract the oracle replay
    rests on)."""
    from pyspark.sql import functions as F

    from kp_data_pipelines_spark.operators.multimodal import (
        decoded_media_dhash,
        wav_decoded_chars,
        wav_roundtrip_media,
    )

    rows = [
        (0, "s1", "alpha beta gamma " * 8),
        (1, "s1", "alpha beta gamma " * 8),  # exact dup of doc 0
        (2, "s1", "delta epsilon zeta " * 8),
        (3, "s2", "eta theta iota " * 8),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    media = wav_roundtrip_media(docs).localCheckpoint(eager=False)
    assert media.count() == 8  # two containers per doc
    shas = media.select("media_id", F.sha2("content", 256).alias("s")).collect()
    assert len({r["s"] for r in shas}) == 6  # dup texts collapse raw too
    fp = decoded_media_dhash(media, decoder="stdlib")
    feats = {r["media_id"]: r["feature"] for r in fp.collect()}
    assert feats[0] == feats[1] == feats[2] == feats[3]  # docs 0+1, both variants
    assert feats[4] != feats[0]
    dec = media.select("media_id", wav_decoded_chars(F.col("content")).alias("t"))
    got = {r["media_id"]: r["t"] for r in dec.collect()}
    for did, _src, txt in rows:
        assert got[did * 2] == txt and got[did * 2 + 1] == txt
