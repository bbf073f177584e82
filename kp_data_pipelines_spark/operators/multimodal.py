"""Multimodal column plumbing (north star).

Images/audio/video are opaque ``binary`` columns with typed metadata
structs. The Spark-side contract — schema, partitioning, Arrow batch shape,
UDF signatures — is real and tested. ``DECODERS`` holds the two decoders
the catalog runs: ``fake`` (a deterministic digest token for every kind,
q36/q320) and ``stdlib`` (real PNG and WAV decode with the pure-stdlib
codecs of ``codecs.py``, q323/q330). Video has no decoder.

Scale notes: media rows are large and skew partition sizes — everything
here goes through ``mapInPandas`` (Arrow batches, no per-row Python
dispatch), and ``chunk_media`` bounds every row at a fixed chunk size.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),  # image | audio | video
        StructField("content", BinaryType()),
        StructField("mime", StringType()),
        StructField("width", IntegerType()),  # -1 when unknown/not applicable
        StructField("height", IntegerType()),
        StructField("duration_ms", LongType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("n_bytes", LongType()),
        StructField("content_sha", StringType()),
        StructField("feature", StringType()),
    ]
)


def _fake_decode(content: bytes, kind: str) -> str:
    """Deterministic stand-in for a codec: stable digest-derived token."""
    import hashlib

    return f"{kind}:{hashlib.sha256(content or b'').hexdigest()[:12]}"


def _stdlib_decode(content: bytes, kind: str) -> str:
    """REAL codecs with zero external deps (executed in-sandbox, not
    env-gated): images via the pure-stdlib PNG decoder
    (``codecs.png_decode_gray`` — zlib inflate + the full five-filter
    scanline pipeline of the public spec), audio via the stdlib
    ``wave`` RIFF/WAVE parser. The feature token carries the DECODED
    samples' digest, so byte-different re-encodes of the same content
    (a PNG re-filtered, a WAV re-containered) collapse to ONE decoded
    identity — the decode-layer dedup story q323 certifies against its
    oracle. Video has no stdlib codec and raises."""
    import hashlib

    from kp_data_pipelines_spark.operators.codecs import (
        png_decode_gray,
        wav_decode,
    )

    if kind == "image":
        w, h, pix = png_decode_gray(content)
        return f"image:{w}x{h}:gray:{hashlib.sha256(pix).hexdigest()[:16]}"
    if kind == "audio":
        ch, rate, nf, pcm = wav_decode(content)
        return (
            f"audio:{ch}x{rate}x{nf}:"
            f"{hashlib.sha256(pcm).hexdigest()[:16]}"
        )
    raise NotImplementedError(f"no stdlib {kind} codec")


# Decode registry — which kinds are REAL per entry:
#   fake    deterministic digest token, every kind (q36, q320)
#   stdlib  REAL image (pure-stdlib PNG: grayscale-8 profile) and REAL
#           audio (RIFF/WAVE via `wave`); video raises (q323, q330)
DECODERS = {
    "fake": _fake_decode,
    "stdlib": _stdlib_decode,
}


def extract_media_features(df: DataFrame, decoder: str = "fake") -> DataFrame:
    """Decode/feature-extract media content via Arrow-batched mapInPandas.

    One Python worker call per Arrow batch (not per row); binary payloads
    stay in Arrow buffers end-to-end. A single-file scan is spread to at
    least 8 partitions first so decode work parallelizes (no-op at scale,
    where media tables arrive with many partitions)."""
    from kp_data_pipelines_spark.operators.similarity import ensure_parallelism

    df = ensure_parallelism(df)
    decode = DECODERS[decoder]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in it:
            content = pdf["content"]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": content.map(lambda b: len(b) if b is not None else 0),
                    "content_sha": content.map(
                        lambda b: hashlib.sha256(b or b"").hexdigest()
                    ),
                    "feature": [
                        decode(b, k) for b, k in zip(content, pdf["kind"])
                    ],
                }
            )

    return df.mapInPandas(batches, schema=FEATURE_SCHEMA)


def frame_sample_plan(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling plumbing: explode a per-row frame timeline from
    duration metadata (decode of each frame is the stubbed step). Output is
    one row per (media_id, frame_ts_ms) — the unit of downstream work."""
    n_frames = F.greatest((F.col("duration_ms") / every_ms).cast("int"), F.lit(1))
    return (
        df.filter(F.col("kind") == "video")
        .select(
            "media_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), n_frames - 1), lambda i: i * every_ms
                )
            ).alias("frame_ts_ms"),
        )
    )


def chunk_media(df: DataFrame) -> DataFrame:
    """Split opaque ``content`` blobs into 64-byte chunks ENTIRELY JVM-side:
    chunk boundaries come from a generated index sequence and the slice is
    ``substring`` on the binary column — no Python boundary, no UDF. One
    row per (media_id, chunk_idx) with the chunk payload + offset/length
    metadata.

    CEILING: this chunks an already-loaded COLUMN, so each payload must
    first exist as ONE row — and a Spark row tops out around 2 GB
    (byte-array / Arrow / parquet-page limits). Use it for payloads that
    already live in a table (the fixture's documents-as-media) and are
    well under that bound. File-resident media of any size needs a
    source that plans chunk offset ranges from file metadata and reads
    each range directly, so that no row exceeds a chunk; this package has
    no such source."""
    n_chunks = F.greatest(F.ceil(F.length("content") / F.lit(64)).cast("int"), F.lit(1))
    offset = F.col("chunk_idx") * 64 + 1  # substring is 1-based
    return (
        df.select(
            "media_id",
            F.length("content").cast("long").alias("total_bytes"),
            F.col("content"),
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
        )
        .select(
            "media_id",
            "chunk_idx",
            "total_bytes",
            (offset - 1).cast("long").alias("offset"),
            F.expr("substring(content, chunk_idx * 64 + 1, 64)").alias("chunk"),
        )
        .withColumn("chunk_len", F.length("chunk").cast("long"))
    )


# --- candidate-cap knobs (shared by the media queries + oracle twins) ------
#
# Named here (the GRAM_TARGET_BUCKET pattern) instead of inline literals at
# the catalog call sites, so a re-tuning touches ONE place and the DuckDB
# twins (which import these as defaults) can never drift. Derivations:
#
# - MEDIA_DF_CAP_MIN/MAX (2..20): a chunk/landmark key must appear in >= 2
#   media to witness a pair; keys in > 20 media are boilerplate (container
#   headers, silence frames) whose pairwise expansion is C(n,2)-quadratic —
#   20 caps a single key's join fanout at C(20,2)=190 pairs while keeping
#   every genuinely-shared segment (fixture near-dup groups are <= 6 wide;
#   production boilerplate keys reach 10^6 media and MUST be dropped).
# - LANDMARK_MULTIPLICITY_CAP (8): rows per (media, key) — a periodic
#   payload repeats ONE key across its whole timeline and would square its
#   frame count through the key equi-join (two 10 MB constant payloads =
#   10^11 candidate rows); 8 earliest occurrences keep offset-vote evidence
#   (>= CONSTELLATION_MIN_VOTES matchable anchors) while bounding per-key
#   fanout at (df_cap x 8)^2 regardless of payload length.
# - CONSTELLATION_MIN_VOTES (4): landmarks agreeing on one frame offset
#   before a pair is reported — 1-2 agreeing keys arise by chance on coarse
#   4-bucket codes; 4 on a common offset is the Wang-2003 "time-aligned
#   spike" criterion at this key entropy.
# - SEGMENT_MIN_SHARED (2): distinct shared chunk identities before q305
#   reports a pair — one shared 64-byte chunk can be coincidence/boilerplate
#   that survived the df cap; two distinct shared chunks can't.
MEDIA_DF_CAP_MIN = 2
MEDIA_DF_CAP_MAX = 20
# q324's measured sweep grid around MEDIA_DF_CAP_MAX — the knob's data
# (retrieval hits vs candidate volume per cap), imported by the oracle
# twin. Spans half-of-starvation-fix (5) to 2x the production cap (40).
MEDIA_DF_CAP_SWEEP = (5, 10, 20, 40)
LANDMARK_MULTIPLICITY_CAP = 8
CONSTELLATION_MIN_VOTES = 4
SEGMENT_MIN_SHARED = 2

# Dense (content-defined) landmark knobs — dense_landmarks:
# - DENSE_PEAK_RADIUS (8): a position is a peak iff its code strictly
#   exceeds the previous 8 and is >= the next 8 — peaks land every ~2r+1
#   chars on mixed text (one per ~17 chars), denser than one per 32-char
#   frame, and the definition depends ONLY on local content, so a clip cut
#   at ANY offset reproduces its interior peaks exactly (the alignment
#   robustness fixed-frame windows lack).
# - DENSE_FAN (3): each peak pairs with its next 1..3 peaks — the Shazam
#   fan-out; 3 keys/anchor triples the vote evidence per true overlap at
#   3x the landmark rows (linear, never quadratic).
# - DENSE_DELTA_CAP (511): peak-gap values above 511 chars clamp into one
#   bucket so the key stays a compact BIGINT; fixture gaps are < 100.
# - DENSE_CTX_LEN/MOD (4 chars -> 10 bits): a rolling-hash of the 4 chars
#   AFTER the anchor peak folds into the key — content-defined, so still
#   alignment-invariant for interior anchors. Without it the key space is
#   (peak code x peak code x fan x gap) and on a low-alphabet corpus the
#   few thousand distinct keys ALL exceed the df cap once the corpus
#   passes a few thousand docs (observed at sf0.1: every corpus key
#   dropped, retrieval starved). The 10 context bits multiply key entropy
#   1024x, the Wang-2003 move of widening the hash until keys are
#   near-unique.
DENSE_PEAK_RADIUS = 8
DENSE_FAN = 3
DENSE_DELTA_CAP = 511
DENSE_CTX_LEN = 4
DENSE_CTX_MOD = 1024


def shared_segment_pairs(chunks: DataFrame) -> DataFrame:
    """Media pairs sharing >= ``SEGMENT_MIN_SHARED`` distinct content
    chunks — q305's pair stage as a reusable operator over any chunk
    stream with ``chunk_media``'s schema. Chunk identity
    is sha256 of the chunk bytes; identities seen in MEDIA_DF_CAP_MIN..
    MEDIA_DF_CAP_MAX media join pairwise (the boilerplate guard); pairs
    report their shared-chunk count. Input needs (media_id, chunk).
    Returns (id_a, id_b, shared_chunks), id_a < id_b."""
    hh = chunks.select(
        "media_id", F.sha2("chunk", 256).alias("ch")
    ).dropDuplicates(["media_id", "ch"])
    chdf = hh.groupBy("ch").agg(F.countDistinct("media_id").alias("nm"))
    k = hh.join(
        chdf.filter(
            (F.col("nm") >= MEDIA_DF_CAP_MIN)
            & (F.col("nm") <= MEDIA_DF_CAP_MAX)
        ),
        "ch",
    ).select("media_id", "ch")
    p = (
        k.alias("a")
        .join(
            k.alias("b"),
            (F.col("a.ch") == F.col("b.ch"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .groupBy(
            F.col("a.media_id").alias("id_a"),
            F.col("b.media_id").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_chunks"))
    )
    return p.filter(F.col("shared_chunks") >= SEGMENT_MIN_SHARED)


# --- perceptual fingerprints (media near-dup dedup) ------------------------
#
# dHash-style gradient fingerprint over opaque media bytes: pool the byte
# stream into an 8x9 grid of integer cell sums (the "resize" of classic
# dHash, with byte values standing in for decoded pixel luma — swap the
# byte array for a real decoder's pixel array when a codec is wired in),
# then emit one bit per horizontally-adjacent cell comparison (8 rows x 8
# comparisons = 64 bits). All integer arithmetic, so the Arrow kernel, the
# interpreted JVM expression twin, and the DuckDB oracle agree bit-for-bit.
# Reference basis: the reference's only media gesture is a directory
# traversal stub (Protocol Data Gathering.ipynb:23-33); this is north-star
# surface (near-dup detection for image/audio/video payloads at 100 TB).

_DHASH_ROWS, _DHASH_COLS = 8, 9  # 72 pooled cells -> 8 x 8 gradient bits
_DHASH_CELLS = _DHASH_ROWS * _DHASH_COLS
_I64_MIN = -(1 << 63)


def _dhash_from_cells(cells) -> int:
    """Pack the 64 gradient bits (cell[r][c+1] > cell[r][c]) into a signed
    64-bit int, bit b = r*8 + c; bit 63 contributes -2^63 (two's
    complement) so the value fits BIGINT on every engine."""
    fp = 0
    for r in range(_DHASH_ROWS):
        for c in range(_DHASH_COLS - 1):
            if cells[r * _DHASH_COLS + c + 1] > cells[r * _DHASH_COLS + c]:
                b = r * 8 + c
                fp += _I64_MIN if b == 63 else (1 << b)
    return fp


def media_dhash_kernel():
    """Arrow-batched numpy dHash over a binary column: bytes -> 72 exact
    integer cell sums (cumsum differences over floor(g*n/72) boundaries;
    empty cells sum to 0) -> packed 64-bit gradient fingerprint. Integer
    arithmetic end to end — bit-identical to the interpreted JVM
    expression twin (pinned by test_media_dhash_kernel_matches_jvm) and
    the DuckDB oracle."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    @pandas_udf(LongType())
    def _dhash(batch: pd.Series) -> pd.Series:
        out = []
        for buf in batch:
            if buf is None:
                out.append(None)
                continue
            b = np.frombuffer(bytes(buf), np.uint8).astype(np.int64)
            n = b.size
            cs = np.concatenate(([0], np.cumsum(b)))
            bounds = (np.arange(_DHASH_CELLS + 1, dtype=np.int64) * n) // _DHASH_CELLS
            cells = cs[bounds[1:]] - cs[bounds[:-1]]
            out.append(_dhash_from_cells(cells.tolist()))
        return pd.Series(out, dtype="object").astype("Int64")

    return _dhash


def with_media_dhash(df: DataFrame, content_col: str) -> DataFrame:
    """Attach ``phash``, the dHash perceptual fingerprint of a binary
    media column, with the Arrow numpy kernel."""
    return df.withColumn("phash", media_dhash_kernel()(F.col(content_col)))


def with_media_dhash_expr(df: DataFrame, content_col: str) -> DataFrame:
    """The interpreted JVM expression twin of ``with_media_dhash`` — the
    same ``phash``, the reference the kernel is pinned against."""
    hx = f"hex({content_col})"
    # sequence(1, 0) DESCENDS in Spark — guard the empty-payload case
    byts = (
        f"if(length({hx}) < 2, array(), "
        f"transform(sequence(1, length({hx}) div 2), "
        f"i -> cast(conv(substring({hx}, 2 * i - 1, 2), 16, 10) as bigint)))"
    )
    df = df.withColumn(
        "__mm_bytes",
        F.expr(f"case when {content_col} is null then null else {byts} end"),
    )
    cells = (
        f"transform(sequence(0, {_DHASH_CELLS - 1}), g -> aggregate("
        f"slice(__mm_bytes, (g * size(__mm_bytes)) div {_DHASH_CELLS} + 1, "
        f"((g + 1) * size(__mm_bytes)) div {_DHASH_CELLS} "
        f"- (g * size(__mm_bytes)) div {_DHASH_CELLS}), "
        f"0L, (acc, x) -> acc + x))"
    )
    df = df.withColumn(
        "__mm_cells",
        F.expr(f"case when __mm_bytes is null then null else {cells} end"),
    )
    fp = (
        "aggregate(transform(sequence(0, 63), bb -> "
        "if(element_at(__mm_cells, cast((bb div 8) * 9 + (bb % 8) + 2 as int)) > "
        "element_at(__mm_cells, cast((bb div 8) * 9 + (bb % 8) + 1 as int)), "
        f"if(bb = 63, {_I64_MIN}L, shiftleft(1L, bb)), 0L)), "
        "0L, (acc, x) -> acc + x)"
    )
    return df.withColumn(
        "phash", F.expr(f"case when __mm_cells is null then null else {fp} end")
    ).drop("__mm_bytes", "__mm_cells")


def decoded_media_dhash(df: DataFrame, decoder: str = "fake") -> DataFrame:
    """The decode -> fingerprint SEAM as one executed path: run a
    ``DECODERS`` entry (``extract_media_features`` — Arrow mapInPandas,
    ``fake`` or ``stdlib``) and dHash the DECODED feature bytes instead
    of the raw container bytes. q301 fingerprints raw payload bytes
    (fine for byte-identical dedup, blind to re-encodes), while this
    path fingerprints what the decoder SAW: with the ``stdlib`` PNG/WAV
    codecs (q323, q330) the feature token carries the decoded samples'
    digest, so byte-different re-encodes of the same pixels or PCM
    collapse to one ``feature``. Returns (media_id,
    kind, content_sha, feature, phash); feeds
    ``similarity.hamming_pairs`` unchanged
    (test_decode_to_hamming_seam pins the end-to-end path on the fake
    decoder)."""
    feats = extract_media_features(df, decoder=decoder)
    return with_media_dhash(
        feats.withColumn("__fb", F.encode("feature", "UTF-8")), "__fb"
    ).select("media_id", "kind", "content_sha", "feature", "phash")


# q323's PNG round-trip parameters — imported by the oracle twin so the
# engines cannot drift. Filters (0, 4): None and Paeth, the simplest and
# the most involved scanline filter, so the EXECUTED decode path
# exercises the full unfilter pipeline, not just the trivial case.
PNG_ROUNDTRIP_WIDTH = 32
PNG_ROUNDTRIP_FILTERS = (0, 4)


def png_roundtrip_media(
    df: DataFrame, filters: tuple[int, ...] = PNG_ROUNDTRIP_FILTERS
) -> DataFrame:
    """Emit ``len(filters)`` REAL PNG containers per document (``doc_id``,
    ``source``, ``text``) — the text's UTF-8 bytes as an 8-bit grayscale
    pixel stream (PNG_ROUNDTRIP_WIDTH-column
    rows, space-padded to fill the last row), each encoded with a
    different scanline filter (``codecs.png_encode_gray``). The
    variants are byte-DIFFERENT containers of IDENTICAL pixels: the
    re-encoded-duplicate shape a decoded-layer dedup must collapse and
    a raw-layer dedup cannot. Arrow mapInPandas, one pass; media_id =
    id * len(filters) + variant. ASCII-text contract (the q313 fixture
    guarantee): byte length == char length, so the DuckDB twin can
    rebuild the pixel stream as a VARCHAR."""
    from kp_data_pipelines_spark.operators.codecs import png_encode_gray
    from kp_data_pipelines_spark.operators.similarity import (
        ensure_parallelism,
    )

    nv = len(filters)
    width = PNG_ROUNDTRIP_WIDTH
    src = ensure_parallelism(
        df.select("doc_id", "source", "text").filter(F.length("text") > 0)
    )

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows: dict[str, list] = {
                "media_id": [], "source": [], "kind": [], "content": [],
            }
            for did, source, txt in zip(pdf["doc_id"], pdf["source"], pdf["text"]):
                b = txt.encode("utf-8")
                h = (len(b) + width - 1) // width
                pix = b + b" " * (width * h - len(b))
                for v, ft in enumerate(filters):
                    rows["media_id"].append(int(did) * nv + v)
                    rows["source"].append(source)
                    rows["kind"].append("image")
                    rows["content"].append(
                        png_encode_gray(pix, width, h, ft)
                    )
            yield pd.DataFrame(rows)

    return src.mapInPandas(
        gen, "media_id long, source string, kind string, content binary"
    )


# q330's WAV round-trip parameters — imported by the oracle twin so the
# engines cannot drift. 8-bit PCM (one byte per sample) keeps the decoded
# stream VARCHAR-replayable; two variants = plain container + JUNK-chunk
# re-container (identical samples, byte-different bytes).
WAV_ROUNDTRIP_RATE = 8000
WAV_ROUNDTRIP_VARIANTS = 2


def wav_roundtrip_media(df: DataFrame) -> DataFrame:
    """Emit TWO real RIFF/WAVE containers per document (``doc_id``,
    ``source``, ``text``) — the text's
    bytes as an 8-bit PCM sample stream (``codecs.wav_encode_pcm8``),
    variant 0 the plain stdlib ``wave`` encode and variant 1 the same
    encode re-containered with an inserted RIFF ``JUNK`` metadata chunk
    (``codecs.wav_add_junk_chunk``). The variants are byte-DIFFERENT
    containers of IDENTICAL samples — the audio analog of q323's PNG
    re-filtering. Arrow mapInPandas, one pass; media_id =
    id * 2 + variant. ASCII-text contract (the q313 fixture guarantee):
    sample bytes == text bytes, so the DuckDB twin rebuilds the decoded
    stream as the text itself."""
    from kp_data_pipelines_spark.operators.codecs import (
        wav_add_junk_chunk,
        wav_encode_pcm8,
    )
    from kp_data_pipelines_spark.operators.similarity import (
        ensure_parallelism,
    )

    nv = WAV_ROUNDTRIP_VARIANTS
    src = ensure_parallelism(
        df.select("doc_id", "source", "text").filter(F.length("text") > 0)
    )

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows: dict[str, list] = {
                "media_id": [], "source": [], "kind": [], "content": [],
            }
            for did, source, txt in zip(pdf["doc_id"], pdf["source"], pdf["text"]):
                plain = wav_encode_pcm8(txt.encode("utf-8"), WAV_ROUNDTRIP_RATE)
                for v, payload in enumerate(
                    (plain, wav_add_junk_chunk(plain))
                ):
                    rows["media_id"].append(int(did) * nv + v)
                    rows["source"].append(source)
                    rows["kind"].append("audio")
                    rows["content"].append(payload)
            yield pd.DataFrame(rows)

    return src.mapInPandas(
        gen, "media_id long, source string, kind string, content binary"
    )


def wav_decoded_chars(content_col) -> "F.Column":
    """Decode a RIFF/WAVE payload (stdlib ``wave``) and render the PCM
    sample VALUES as a char stream — the decoded-layer payload q330
    feeds to ``constellation_landmarks`` (landmarks over what the
    decoder heard, not over container bytes). 8-bit profile: one
    sample per byte, chr(sample) per char."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import StringType

    from kp_data_pipelines_spark.operators.codecs import wav_decode

    @pandas_udf(StringType())
    def _decode(batch: pd.Series) -> pd.Series:
        def one(b):
            if b is None:
                return None
            _ch, _rate, _nf, pcm = wav_decode(bytes(b))
            return "".join(map(chr, pcm))

        return batch.map(one)

    return _decode(content_col)


def constellation_landmarks(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Shazam-style landmark constellation keys over a char-stream
    payload (Wang 2003): frame the payload into 32-char windows,
    take each frame's peak (argmax char code, first-occurrence ties),
    and pair it with the next 1..3 frames' peaks into integer
    constellation keys (peak position x peak position x delta x coarse
    code buckets). Returns ``(id_col, t, key)`` — one row per landmark,
    ``t`` the anchor frame index. Shared by q308 (cross-media matching)
    and q312 (clip retrieval); the DuckDB twin is
    ``oracles._constellation_lm_ctes``.

    Scale shape: frame explode linear in payload chars; the interpreted
    32-element peak fold is materialized ONCE per frame via stepwise
    projections; LEAD windows are per-payload. The production key packs
    quantized spectral peaks into the same integer contract.

    Per-(id, key) multiplicity is capped at 8 (earliest frames kept,
    deterministic — (id, key, t) is unique because the key encodes the
    delta): a periodic/constant payload repeats ONE key across its
    whole timeline, and without the cap a downstream key equi-join
    (q308/q312) would square that multiplicity per matching pair —
    10^11 rows for two 10 MB constant payloads. With the cap, per-key
    join fanout is bounded by (distinct-id cap x 8)^2 regardless of
    payload length. Empty payloads are filtered here (not at call
    sites): Spark's sequence(0, -1) would DESCEND and emit phantom
    frames the DuckDB twin's range() never produces."""
    from pyspark.sql import Window

    w, fan = 32, 3
    df = df.filter(F.length(text_col) > 0)
    nfr = F.expr(
        f"CAST((length({text_col}) + {w - 1}) div {w} AS INT)"
    )
    fr = df.select(
        id_col, text_col, F.explode(F.sequence(F.lit(0), nfr - 1)).alias("t")
    ).select(
        id_col,
        "t",
        F.expr(f"substring({text_col}, t * {w} + 1, {w})").alias("f"),
    )
    codes = F.transform(
        F.filter(F.split(F.col("f"), ""), lambda c: c != ""), F.ascii
    )
    pk = (
        fr.select(id_col, "t", codes.alias("codes"))
        .select(id_col, "t", "codes", F.array_max("codes").alias("v"))
        .select(
            id_col,
            "t",
            "v",
            F.array_position("codes", F.col("v")).alias("p"),
        )
    )
    win = Window.partitionBy(id_col).orderBy("t")
    lm0 = pk.select(
        id_col,
        "t",
        "p",
        "v",
        *[
            c
            for d in range(1, fan + 1)
            for c in (
                F.lead("p", d).over(win).alias(f"p{d}"),
                F.lead("v", d).over(win).alias(f"v{d}"),
            )
        ],
    )
    # One null-filtered array explode instead of a fan-way union: a
    # union re-evaluates the whole lm0 subtree (explode + LEAD window —
    # and upstream of THAT, the caller's scan) once PER BRANCH, tripling
    # the plan (measured on q308: 60 Exchanges before, guide §2.4 /
    # §7.2 "duplicated subtrees"). A missing d-th next frame makes the
    # key expression NULL (p{d}/v{d} are NULL), so filtering the key
    # array reproduces the old per-branch isNotNull filters exactly —
    # same row multiset, one subtree.
    keys = F.array(
        *[
            F.expr(
                f"CAST((((p * {w + 1} + p{d}) * {fan} + {d - 1}) * 16"
                f" + (v div 64) * 4 + (v{d} div 64)) AS BIGINT)"
            )
            for d in range(1, fan + 1)
        ]
    )
    lm = lm0.select(
        id_col,
        "t",
        F.explode(F.filter(keys, lambda k: k.isNotNull())).alias("key"),
    )
    wcap = Window.partitionBy(id_col, "key").orderBy("t")
    return (
        lm.withColumn("__mrn", F.row_number().over(wcap))
        .filter(F.col("__mrn") <= LANDMARK_MULTIPLICITY_CAP)
        .drop("__mrn")
    )


# --- dense (content-defined) landmarks — alignment-robust retrieval --------
#
# constellation_landmarks frames the payload into fixed w-char windows, so
# a clip cut at a non-multiple of w sees DIFFERENT frames than the corpus
# and its landmarks miss (q312 documents this). Real audio fingerprinting
# anchors on CONTENT-DEFINED peaks (local maxima of the spectrum), which a
# shifted clip reproduces exactly. dense_landmarks is that design over the
# char-code stream: a position is a peak iff its code strictly exceeds the
# previous DENSE_PEAK_RADIUS codes and is >= the next DENSE_PEAK_RADIUS
# (strict-left/tie-right keeps the FIRST of an equal run — deterministic on
# every engine); peaks pair with their next 1..DENSE_FAN peaks into integer
# keys of (code, next code, which-next, clamped gap). Interior peaks of a
# clip cut at ANY offset are identical to the source's, so retrieval works
# on arbitrary cuts — the q317 fixture probes at offsets 53/90/127/164
# (none a multiple of the old frame width or its halves).


def dense_peaks_kernel():
    """Arrow-batched numpy peak finder: text -> (pos[], val[], ctx[])
    struct of the radius-DENSE_PEAK_RADIUS local maxima (1-based positions, Unicode
    code points, and the 10-bit content-defined context hash that
    entropy-widens the landmark key space — the q317 starvation fix).
    Pure integer comparisons — pinned bit-identical to the
    interpreted JVM expression twin (``dense_peaks_expr``) and the
    DuckDB window-max twin by test_dense_peaks_kernel_matches_expr."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("pos array<integer>, val array<integer>, ctx array<integer>")
    def _peaks(batch: pd.Series) -> pd.DataFrame:
        poss, vals, ctxs = [], [], []
        for t in batch:
            if t is None or len(t) == 0:
                poss.append(None if t is None else [])
                vals.append(None if t is None else [])
                ctxs.append(None if t is None else [])
                continue
            c = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32).astype(
                np.int64
            )
            n = c.size
            lm = np.full(n, -1, dtype=np.int64)
            rm = np.full(n, -1, dtype=np.int64)
            for j in range(1, DENSE_PEAK_RADIUS + 1):
                if j < n:
                    np.maximum(lm[j:], c[:-j], out=lm[j:])
                    np.maximum(rm[:-j], c[j:], out=rm[:-j])
            idx = np.nonzero((c > lm) & (c >= rm))[0]
            # rolling context hash of the DENSE_CTX_LEN chars after each
            # peak (clamped at text end) — integer mod arithmetic, exact
            # on every engine
            ctx = np.zeros(idx.size, dtype=np.int64)
            for j in range(1, DENSE_CTX_LEN + 1):
                valid = idx + j < n
                ctx[valid] = (
                    ctx[valid] * 31 + c[idx[valid] + j]
                ) % DENSE_CTX_MOD
            poss.append((idx + 1).astype("int32").tolist())
            vals.append(c[idx].astype("int32").tolist())
            ctxs.append(ctx.astype("int32").tolist())
        return pd.DataFrame({"pos": poss, "val": vals, "ctx": ctxs})

    return _peaks


def with_dense_peaks_expr(df: DataFrame, text_col: str) -> DataFrame:
    """The interpreted JVM expression twin of ``dense_peaks_kernel``:
    per-position slice maxima over the char-code array, materialized
    stepwise (the with_media_dhash_expr pattern) so the code array folds
    once per row. O(len * 2r) interpreted HOF work — the pin-test
    reference, never the hot path. Adds a struct column ``pk``
    (pos/val/ctx: array<int>)."""
    r = DENSE_PEAK_RADIUS
    codes = (
        f"transform(filter(split({text_col}, ''), c -> c != ''), "
        f"c -> ascii(c))"
    )
    df = df.withColumn(
        "__dp_codes",
        F.expr(
            f"case when {text_col} is null then null else {codes} end"
        ),
    )
    peaks = (
        f"filter(sequence(1, size(__dp_codes)), p -> "
        f"element_at(__dp_codes, p) > coalesce(array_max(slice(__dp_codes, "
        f"greatest(p - {r}, 1), p - greatest(p - {r}, 1))), -1) AND "
        f"element_at(__dp_codes, p) >= coalesce(array_max(slice(__dp_codes, "
        f"p + 1, least({r}, size(__dp_codes) - p))), -1))"
    )
    df = df.withColumn(
        "__dp_peaks",
        F.expr(
            f"case when __dp_codes is null then null "
            f"when size(__dp_codes) = 0 then array() else {peaks} end"
        ),
    )
    ctx_fold = (
        f"cast(aggregate(transform(sequence(1, least({DENSE_CTX_LEN}, "
        f"size(__dp_codes) - p)), j -> element_at(__dp_codes, p + j)), "
        f"0L, (acc, c) -> (acc * 31 + c) % {DENSE_CTX_MOD}) as int)"
    )
    return df.withColumn(
        "pk",
        F.expr(
            # NULL text -> struct of NULL arrays (a pandas_udf struct
            # return can't emit a NULL struct row, so the kernel yields
            # (null, null, null) fields — align the twin on that).
            # sequence(1, 0) DESCENDS: a last-char peak (no following
            # chars) must yield ctx 0 via the explicit size guard.
            "case when __dp_peaks is null then "
            "named_struct('pos', cast(null as array<int>), "
            "'val', cast(null as array<int>), "
            "'ctx', cast(null as array<int>)) else "
            "named_struct('pos', __dp_peaks, "
            "'val', transform(__dp_peaks, "
            "p -> element_at(__dp_codes, p)), "
            f"'ctx', transform(__dp_peaks, p -> "
            f"case when size(__dp_codes) - p <= 0 then 0 else "
            f"{ctx_fold} end)) end"
        ),
    ).drop("__dp_codes", "__dp_peaks")


def dense_landmarks(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Content-defined landmark keys: radius-DENSE_PEAK_RADIUS local-max
    peaks of the char-code stream, each paired with its next
    1..DENSE_FAN peaks
    into BIGINT keys ``(((v * 1024 + v_d) * 4 + d) * 512 +
    min(gap, DENSE_DELTA_CAP)) * DENSE_CTX_MOD + ctx`` where ``ctx``
    is the rolling hash of the DENSE_CTX_LEN chars after the anchor —
    all components content-defined, so the whole key is alignment-
    invariant for interior anchors. Returns (id_col, t, key) with
    ``t`` the anchor peak's 1-based char position — so a corpus hit's
    ``t_corpus - t_probe`` IS the clip's char offset in the source.
    Per-(id, key) multiplicity capped at LANDMARK_MULTIPLICITY_CAP
    (earliest anchors kept) exactly like constellation_landmarks.

    Scale shape: ONE Arrow pass per payload emits only its peaks
    (~len/(DENSE_PEAK_RADIUS+1) rows, content-bounded); the pairing is a per-payload
    LEAD window over peak rows; no per-char row ever shuffles. The
    DuckDB twin computes the same peaks with two per-doc window maxima
    over the char stream (``oracles._dense_lm_ctes``)."""
    from pyspark.sql import Window

    df = df.filter(F.length(text_col) > 0)
    pk = (
        df.select(
            id_col, dense_peaks_kernel()(F.col(text_col)).alias("pk")
        )
        .select(
            id_col,
            F.explode(F.arrays_zip("pk.pos", "pk.val", "pk.ctx")).alias("z"),
        )
        .select(
            id_col,
            F.col("z.pos").cast("long").alias("t"),
            F.col("z.val").cast("long").alias("v"),
            F.col("z.ctx").cast("long").alias("cx"),
        )
    )
    win = Window.partitionBy(id_col).orderBy("t")
    lm0 = pk.select(
        id_col,
        "t",
        "v",
        "cx",
        *[
            c
            for d in range(1, DENSE_FAN + 1)
            for c in (
                F.lead("t", d).over(win).alias(f"t{d}"),
                F.lead("v", d).over(win).alias(f"v{d}"),
            )
        ],
    )
    # Same single-explode shape as constellation_landmarks: the old
    # fan-way union re-evaluated lm0 — including the dense-peaks Arrow
    # kernel feeding it — once per branch (q317's before plan carried
    # 18 ArrowEvalPython nodes; guide §2.4/§7.2). NULL v{d}/t{d} (no
    # d-th next peak) nulls the key expression, so the array filter is
    # exactly the old isNotNull branch filter. NOTE t{d} - t must stay
    # inside the NULL-propagating arithmetic: least(NULL, cap) would
    # SKIP the null, but (v * 1024 + v{d}) is already NULL then, and
    # NULL * anything is NULL — key is NULL iff the branch was absent.
    keys = F.array(
        *[
            F.expr(
                f"CAST((((v * 1024 + v{d}) * {DENSE_FAN + 1} + {d}) * 512"
                f" + least(t{d} - t, {DENSE_DELTA_CAP}))"
                f" * {DENSE_CTX_MOD} + cx AS BIGINT)"
            )
            for d in range(1, DENSE_FAN + 1)
        ]
    )
    lm = lm0.select(
        id_col,
        "t",
        F.explode(F.filter(keys, lambda k: k.isNotNull())).alias("key"),
    )
    wcap = Window.partitionBy(id_col, "key").orderBy("t")
    return (
        lm.withColumn("__mrn", F.row_number().over(wcap))
        .filter(F.col("__mrn") <= LANDMARK_MULTIPLICITY_CAP)
        .drop("__mrn")
    )
