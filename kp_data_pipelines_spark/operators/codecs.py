"""Pure-stdlib media codecs behind the ``stdlib`` entry of
``multimodal.DECODERS`` (q323, q330): real codecs that need no
dependency outside the Python standard library.

- PNG (public spec, RFC 2083 / W3C): a grayscale-8 encoder/decoder over
  ``zlib`` — signature, IHDR/IDAT/IEND chunk framing with CRC32, and the
  full five-filter scanline pipeline (None/Sub/Up/Average/Paeth) on both
  sides. The decoder accepts ANY non-interlaced 8-bit grayscale PNG,
  not just this encoder's output.
- WAV (RIFF/WAVE): the stdlib ``wave`` module reads/writes real PCM
  containers.

The scope is deliberately narrow (grayscale-8, non-interlaced; PCM WAV)
— these are seam-certification codecs, not a media library. Other
formats and video have no decoder here.

Reference basis: the reference has no media surface at all; this is
north-star 100 TB multimodal plumbing (SURVEY.md §6).
"""

from __future__ import annotations

import struct
import zlib

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def png_encode_gray(
    pixels: bytes, width: int, height: int, filter_type: int = 0
) -> bytes:
    """Encode an 8-bit grayscale pixel stream (row-major, len ==
    width*height) as a real non-interlaced PNG, applying the SAME
    scanline filter to every row. Different ``filter_type`` values
    produce byte-DIFFERENT containers of IDENTICAL pixels — exactly the
    re-encoded-duplicate shape the decoded-layer dedup exists to catch
    (q323). Deterministic: fixed zlib level, fixed chunk layout."""
    if len(pixels) != width * height:
        raise ValueError(f"need {width * height} pixels, got {len(pixels)}")
    if filter_type not in (0, 1, 2, 3, 4):
        raise ValueError(f"unknown PNG filter {filter_type}")
    raw = bytearray()
    prev = bytes(width)
    for y in range(height):
        row = pixels[y * width : (y + 1) * width]
        raw.append(filter_type)
        if filter_type == 0:
            raw.extend(row)
        elif filter_type == 1:  # Sub
            raw.extend(
                (row[x] - (row[x - 1] if x else 0)) & 0xFF
                for x in range(width)
            )
        elif filter_type == 2:  # Up
            raw.extend((row[x] - prev[x]) & 0xFF for x in range(width))
        elif filter_type == 3:  # Average
            raw.extend(
                (row[x] - (((row[x - 1] if x else 0) + prev[x]) >> 1)) & 0xFF
                for x in range(width)
            )
        else:  # Paeth
            raw.extend(
                (
                    row[x]
                    - _paeth(
                        row[x - 1] if x else 0,
                        prev[x],
                        prev[x - 1] if x else 0,
                    )
                )
                & 0xFF
                for x in range(width)
            )
        prev = row
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    return (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + _chunk(b"IEND", b"")
    )


def png_decode_gray(data: bytes) -> tuple[int, int, bytes]:
    """Decode a non-interlaced 8-bit grayscale PNG: parse the chunk
    stream, inflate the concatenated IDATs, reverse the per-scanline
    filter (all five types), return (width, height, pixels). Raises
    ValueError on ANY malformed or out-of-profile input — truncation,
    bad CRC, missing IHDR/IDAT, corrupt deflate stream — a real
    parser's loud-failure contract with ONE exception type, so
    registry consumers can tell bad input from bugs."""
    if data[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("not a PNG (bad signature)")
    pos = len(_PNG_SIG)
    width = height = -1
    idat = bytearray()
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        if pos + 12 + length > len(data):
            raise ValueError("truncated PNG (chunk exceeds data)")
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(
            ">I", data[pos + 8 + length : pos + 12 + length]
        )
        if zlib.crc32(tag + payload) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {tag!r} CRC mismatch")
        if tag == b"IHDR":
            if length != 13:
                raise ValueError("malformed PNG IHDR")
            width, height, depth, ctype, comp, filt, interlace = (
                struct.unpack(">IIBBBBB", payload)
            )
            if (depth, ctype, comp, filt, interlace) != (8, 0, 0, 0, 0):
                raise ValueError(
                    "unsupported PNG profile (need 8-bit grayscale, "
                    f"non-interlaced): depth={depth} color={ctype} "
                    f"interlace={interlace}"
                )
        elif tag == b"IDAT":
            idat.extend(payload)
        elif tag == b"IEND":
            break
        pos += 12 + length
    if width < 0:
        raise ValueError("PNG missing IHDR")
    if not idat:
        raise ValueError("PNG missing IDAT")
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as e:
        raise ValueError(f"PNG IDAT inflate failed: {e}") from e
    if len(raw) != (width + 1) * height:
        raise ValueError(
            f"PNG data length {len(raw)} != {(width + 1) * height}"
        )
    out = bytearray()
    prev = bytes(width)
    for y in range(height):
        ft = raw[y * (width + 1)]
        line = bytearray(raw[y * (width + 1) + 1 : (y + 1) * (width + 1)])
        if ft == 1:  # Sub
            for x in range(1, width):
                line[x] = (line[x] + line[x - 1]) & 0xFF
        elif ft == 2:  # Up
            for x in range(width):
                line[x] = (line[x] + prev[x]) & 0xFF
        elif ft == 3:  # Average
            for x in range(width):
                left = line[x - 1] if x else 0
                line[x] = (line[x] + ((left + prev[x]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for x in range(width):
                left = line[x - 1] if x else 0
                ul = prev[x - 1] if x else 0
                line[x] = (line[x] + _paeth(left, prev[x], ul)) & 0xFF
        elif ft != 0:
            raise ValueError(f"unknown PNG scanline filter {ft}")
        out.extend(line)
        prev = bytes(line)
    return width, height, bytes(out)


def wav_encode_pcm16(
    samples: bytes, n_channels: int = 1, framerate: int = 8000
) -> bytes:
    """Write a real RIFF/WAVE container (stdlib ``wave``) around a
    16-bit PCM sample-byte stream."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(n_channels)
        w.setsampwidth(2)
        w.setframerate(framerate)
        w.writeframes(samples)
    return buf.getvalue()


def wav_decode(data: bytes) -> tuple[int, int, int, bytes]:
    """Parse a real RIFF/WAVE container (stdlib ``wave``): returns
    (n_channels, framerate, n_frames, pcm_bytes)."""
    import io
    import wave

    with wave.open(io.BytesIO(data), "rb") as w:
        return (
            w.getnchannels(),
            w.getframerate(),
            w.getnframes(),
            w.readframes(w.getnframes()),
        )


def wav_encode_pcm8(samples: bytes, framerate: int) -> bytes:
    """Write a real mono RIFF/WAVE container (stdlib ``wave``) around an
    8-bit PCM sample-byte stream — one byte per sample, so an ASCII
    byte stream round-trips as its own sample values (the
    VARCHAR-replayable profile q330's oracle needs; 16-bit PCM would
    interleave \\x00 high bytes, which DuckDB's sha256(VARCHAR)
    cannot hash)."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)
        w.setframerate(framerate)
        w.writeframes(samples)
    return buf.getvalue()


def wav_add_junk_chunk(data: bytes) -> bytes:
    """Insert a RIFF ``JUNK`` padding chunk (the standard alignment /
    reserved-space chunk of the RIFF spec) before the ``data`` chunk
    and patch the RIFF size — a byte-DIFFERENT container of IDENTICAL
    samples. The stdlib ``wave`` reader (and any spec-conforming RIFF
    parser) skips unknown chunks, so ``wav_decode`` of the result
    yields exactly the original PCM: the re-containered-duplicate
    shape a decoded-layer dedup must collapse and a raw-layer dedup
    cannot (q330; the PNG analog is re-filtering, q323)."""
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE container")
    payload = b"kp-roundtrip-meta "  # RIFF chunks are word-aligned
    chunk = b"JUNK" + len(payload).to_bytes(4, "little") + payload
    pos = 12
    while pos + 8 <= len(data):
        cid = data[pos : pos + 4]
        sz = int.from_bytes(data[pos + 4 : pos + 8], "little")
        if cid == b"data":
            break
        pos += 8 + sz + (sz & 1)
    else:
        raise ValueError("RIFF/WAVE container has no data chunk")
    out = data[:pos] + chunk + data[pos:]
    riff = int.from_bytes(data[4:8], "little") + len(chunk)
    return out[:4] + riff.to_bytes(4, "little") + out[8:]
