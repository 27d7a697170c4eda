"""Multimodal (image/audio/video) column plumbing.

Media is carried as opaque ``binary`` columns plus typed metadata — the
schema, partitioning, Arrow batch shape, and UDF signatures are real and
tested.  The codec layer sniffs the payload's magic bytes:

* **PNG** payloads are decoded for REAL — chunk walk, per-chunk CRC32
  verification, IHDR parse, IDAT zlib-decompress and scanline defilter —
  by the pure-stdlib :func:`parse_png_meta` (no image libraries in this
  container, and none needed for this format);
* **WAV** (RIFF/WAVE PCM) payloads are likewise parsed for real by
  :func:`parse_wav_meta` (fmt-chunk fields, exact duration);
* **baseline JPEG** payloads get a REAL pixel decode too — marker walk,
  DQT/DHT tables, Huffman entropy decode, dequantize, IDCT — via
  :mod:`pgferry_spark.multimodal.jpeg` (:func:`decode_gray_pixels`
  dispatches; the pipeline consumes the luma plane); the metadata path
  (:func:`parse_jpeg_meta`) stays the cheap header-only SOF scan;
* any OTHER format (progressive JPEG, MP4 frames, opaque blobs — whose
  codecs genuinely are absent here) falls back to a deterministic
  pseudo-metadata fake so the Spark-side plumbing stays fully testable
  with stable expectations — swap ``_decode_bytes``'s fallback for
  PIL/libav on a real cluster, nothing else changes.

Design for 100 TB of media:

* ``mapInPandas`` streams Arrow record batches through Python — decode cost
  amortizes per-batch, not per-row;
* binary payloads stay in the executor; only extracted features shuffle;
* `spark.sql.files.maxPartitionBytes` bounds per-task media volume, so a
  task never holds more than one batch of frames in memory.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("media_type", StringType(), False),  # image | audio | video
        StructField("payload", BinaryType(), True),
        StructField("mime", StringType(), True),
        StructField("byte_len", LongType(), True),
    ]
)


def attach_fake_media(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Derive a deterministic binary payload column from existing data (the
    test stand-in for reading real media files): payload = md5 bytes of the
    text, typed by id modulo."""
    payload = F.unhex(F.md5(F.col(text_col)))
    mtype = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col(id_col) % 3 + 1).cast("int"),
    )
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        mtype.alias("media_type"),
        payload.alias("payload"),
        F.concat(F.lit("application/x-fake-"), mtype).alias("mime"),
        F.length(payload).cast("long").alias("byte_len"),
    )


PNG_SIG = b"\x89PNG\r\n\x1a\n"


def encode_png_gray(width: int, height: int, pixels: bytes) -> bytes:
    """Pure-stdlib 8-bit grayscale PNG encoder (signature + IHDR + one
    zlib-compressed IDAT of filter-0 scanlines + IEND, CRC32 per chunk).
    Real, spec-conformant bytes — the in-test media generator for the
    real-decode path; any external PNG reader opens its output."""
    if len(pixels) != width * height:
        raise ValueError(f"need {width * height} pixels, got {len(pixels)}")

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    raw = b"".join(
        b"\x00" + pixels[y * width : (y + 1) * width] for y in range(height)
    )
    return (
        PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


def png_pixels(payload: bytes) -> tuple[int, int, int, int, bytes]:
    """REAL PNG decode core (stdlib only): walks the chunk stream verifying
    every CRC32, parses IHDR, inflates the concatenated IDATs and strips
    the per-scanline filter bytes (filter 0; others raise — this decoder
    qualifies pipeline-generated media, it is not a general renderer).
    Returns ``(width, height, bit_depth, color_type, pixels)`` with
    ``pixels`` the raw row-major grayscale bytes."""
    if payload[: len(PNG_SIG)] != PNG_SIG:
        raise ValueError("not a PNG: bad signature")
    pos = len(PNG_SIG)
    width = height = bit_depth = color_type = None
    idat = b""
    while pos < len(payload):
        # every length/CRC read is bounds-checked BEFORE unpack: a
        # truncated chunk header must be a ValueError, not a leaked
        # struct.error (found by the parser-totality fuzz)
        if pos + 12 > len(payload):
            raise ValueError("truncated PNG chunk header")
        (clen,) = struct.unpack(">I", payload[pos : pos + 4])
        if pos + 12 + clen > len(payload):
            raise ValueError("PNG chunk length beyond payload")
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + clen]
        (crc,) = struct.unpack(">I", payload[pos + 8 + clen : pos + 12 + clen])
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"CRC mismatch in {ctype!r} chunk")
        if ctype == b"IHDR":
            if len(data) < 10:
                raise ValueError("short IHDR")
            width, height, bit_depth, color_type = struct.unpack(">IIBB", data[:10])
            if width > 1 << 15 or height > 1 << 15:
                raise ValueError("PNG dimensions beyond decoder bound")
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + clen
    if width is None:
        raise ValueError("no IHDR chunk")
    if bit_depth != 8 or color_type != 0:
        raise ValueError(f"unsupported PNG variant ({bit_depth=}, {color_type=})")
    # inflate with the IHDR-derived ceiling: a zlib bomb cannot allocate
    # past the declared raster (itself capped above), and zlib errors
    # surface as the contract ValueError
    expected = height * (width + 1)
    try:
        dec = zlib.decompressobj()
        raw = dec.decompress(idat, expected)
        if dec.decompress(b"", 1):
            raise ValueError("IDAT inflates beyond declared raster")
    except zlib.error as ex:
        raise ValueError(f"bad IDAT stream: {ex}") from None
    if len(raw) != expected:
        raise ValueError("decompressed scanline length mismatch")
    pixels = bytearray()
    for y in range(height):
        line = raw[y * (width + 1) : (y + 1) * (width + 1)]
        if line[0] != 0:
            raise ValueError(f"unsupported scanline filter {line[0]}")
        pixels += line[1:]
    return width, height, bit_depth, color_type, bytes(pixels)


def parse_png_meta(payload: bytes) -> dict:
    """Metadata view of :func:`png_pixels`:
    ``width/height/bit_depth/color_type/pixel_sum`` where ``pixel_sum``
    is the sum of the decoded pixel bytes — a value that can only be
    right if signature, chunk framing, CRCs, DEFLATE and scanline layout
    were all actually decoded."""
    width, height, bit_depth, color_type, pixels = png_pixels(payload)
    return {
        "width": width,
        "height": height,
        "bit_depth": bit_depth,
        "color_type": color_type,
        "pixel_sum": sum(pixels),
    }


def encode_wav_pcm16(
    samples: list[int], sample_rate: int = 8000, channels: int = 1
) -> bytes:
    """Pure-stdlib PCM16 WAV encoder (RIFF/WAVE + fmt + data chunks)."""
    data = b"".join(struct.pack("<h", s) for s in samples)
    block_align = channels * 2
    fmt = struct.pack(
        "<HHIIHH", 1, channels, sample_rate, sample_rate * block_align,
        block_align, 16,
    )
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def parse_wav_meta(payload: bytes) -> dict:
    """REAL WAV parse (stdlib only): RIFF framing, fmt-chunk fields, exact
    ``duration_ms = data_bytes / byte_rate`` — the metadata an audio
    segmentation pass actually needs."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    rate = channels = bits = byte_rate = data_len = None
    while pos + 8 <= len(payload):
        ctype = payload[pos : pos + 4]
        (clen,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        if ctype == b"fmt ":
            _, channels, rate, byte_rate, _, bits = struct.unpack(
                "<HHIIHH", payload[pos + 8 : pos + 24]
            )
        elif ctype == b"data":
            data_len = clen
        pos += 8 + clen + (clen & 1)
    if rate is None or data_len is None:
        raise ValueError("missing fmt/data chunk")
    return {
        "sample_rate": rate,
        "channels": channels,
        "bits": bits,
        "duration_ms": int(data_len * 1000 // byte_rate),
    }


def parse_wav_data_range(payload: bytes) -> dict:
    """REAL WAV parse returning the DATA chunk's absolute byte position
    alongside the fmt fields — what a segment-level RANGE READER needs:
    sample k of a PCM stream lives at exactly ``data_offset +
    k*block_align``, so any time slice maps to one bounded byte range
    with no decode step at all (PCM is its own index)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    rate = channels = bits = block_align = None
    data_off = data_len = None
    while pos + 8 <= len(payload):
        ctype = payload[pos : pos + 4]
        (clen,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        if ctype == b"fmt ":
            _, channels, rate, _, block_align, bits = struct.unpack(
                "<HHIIHH", payload[pos + 8 : pos + 24]
            )
        elif ctype == b"data":
            data_off, data_len = pos + 8, clen
        pos += 8 + clen + (clen & 1)
    if rate is None or data_off is None:
        raise ValueError("missing fmt/data chunk")
    if data_off + data_len > len(payload):
        raise ValueError("data chunk extends past payload end")
    return {
        "sample_rate": rate,
        "channels": channels,
        "bits": bits,
        "block_align": block_align,
        "data_offset": data_off,
        "data_len": data_len,
    }


def parse_jpeg_meta(payload: bytes) -> dict:
    """REAL JPEG header parse (stdlib only): walk the marker stream to the
    first SOF0–SOF15 frame header and return ``width/height/precision/
    n_components`` — the metadata a curation pass needs, extracted the
    way ``file(1)``/exif tools do it.  For pixel DECODE (huffman+IDCT of
    baseline JPEG) see :mod:`pgferry_spark.multimodal.jpeg` — this
    header-only parse stays the cheap metadata path."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG: missing SOI marker")
    pos = 2
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"marker desync at byte {pos}")
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI
            break
        if 0xD0 <= marker <= 0xD7 or marker == 0x01:  # standalone
            pos += 2
            continue
        (seglen,) = struct.unpack(">H", payload[pos + 2 : pos + 4])
        # SOF0..SOF15 except DHT(C4)/JPG(C8)/DAC(CC)
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            if pos + 10 > len(payload):
                raise ValueError(f"truncated SOF header at byte {pos}")
            precision, height, width, ncomp = struct.unpack(
                ">BHHB", payload[pos + 4 : pos + 10]
            )
            return {
                "width": width,
                "height": height,
                "precision": precision,
                "n_components": ncomp,
            }
        if marker == 0xDA:  # SOS: entropy data follows, no SOF seen
            break
        pos += 2 + seglen
    raise ValueError("no SOF frame header found")


def parse_mp4_meta(payload: bytes) -> dict:
    """REAL MP4/ISO-BMFF box parse (stdlib only): top-level box walk +
    moov/mvhd descent for ``major_brand`` and exact ``duration_ms =
    duration / timescale`` — the container metadata a video pipeline
    keys frame-sampling on. Stream DECODE is out of scope (no codec in
    this container)."""
    if len(payload) < 12 or payload[4:8] != b"ftyp":
        raise ValueError("not an ISO-BMFF payload (no ftyp box)")
    brand = payload[8:12].decode("ascii", "replace")
    pos = 0
    duration_ms = None
    while pos + 8 <= len(payload):
        (size,) = struct.unpack(">I", payload[pos : pos + 4])
        btype = payload[pos + 4 : pos + 8]
        header = 8
        if size == 1:
            # 64-bit largesize follows the type — standard for >4 GiB mdat,
            # exactly the case a 100 TB media lake hits
            if pos + 16 > len(payload):
                raise ValueError(f"truncated largesize box at {pos}")
            (size,) = struct.unpack(">Q", payload[pos + 8 : pos + 16])
            header = 16
        elif size == 0:
            # box extends to end of file (legal for the final box)
            size = len(payload) - pos
        if size < header:
            raise ValueError(f"bad box size {size} at {pos}")
        if btype == b"moov":
            inner = pos + header
            end = pos + size
            while inner + 8 <= end:
                (isz,) = struct.unpack(">I", payload[inner : inner + 4])
                if isz == 0:  # inner box runs to the end of moov
                    isz = end - inner
                elif isz == 1:
                    if inner + 16 > end:
                        break
                    (isz,) = struct.unpack(">Q", payload[inner + 8 : inner + 16])
                if payload[inner + 4 : inner + 8] == b"mvhd":
                    version = payload[inner + 8]
                    if version == 1:
                        timescale, duration = struct.unpack(
                            ">IQ", payload[inner + 28 : inner + 40]
                        )
                    else:
                        timescale, duration = struct.unpack(
                            ">II", payload[inner + 20 : inner + 28]
                        )
                    duration_ms = int(duration * 1000 // timescale)
                    break
                inner += max(isz, 8)
        pos += size
    if duration_ms is None:
        raise ValueError("no moov/mvhd box found")
    return {"major_brand": brand, "duration_ms": duration_ms}


def _decode_bytes(payload: bytes) -> dict:
    """Codec dispatch: REAL metadata decode for PNG (header + CRC + pixel
    verification), JPEG (SOF marker scan) and MP4 (mvhd box walk);
    deterministic pseudo-metadata only for formats with neither a codec
    nor a parseable header here (swap the fallback for PIL/libav on a
    real cluster — the Spark-side plumbing is format-agnostic)."""
    if payload is None:
        return {"width": None, "height": None, "n_frames": None, "checksum": None}
    if payload[: len(PNG_SIG)] == PNG_SIG:
        # real media lakes contain truncated/RGB/16-bit/interlaced PNGs this
        # grayscale-qualifying decoder doesn't cover — they must degrade to
        # the deterministic fallback (like the JPEG/MP4 branches), never
        # fail the whole Arrow batch
        try:
            meta = parse_png_meta(payload)
            return {
                "width": meta["width"],
                "height": meta["height"],
                "n_frames": 1,
                "checksum": format(meta["pixel_sum"], "016x"),
            }
        except (ValueError, struct.error, zlib.error, IndexError):
            pass
    # JPEG/MP4 magic is only 2-4 bytes, so arbitrary binary payloads can
    # collide with it (1/65536 per doc for SOI — a real rate over a large
    # corpus of opaque blobs); a payload that LOOKS like one but doesn't
    # parse falls through to the deterministic fallback instead of
    # failing the whole batch
    if payload[:2] == b"\xff\xd8":
        try:
            meta = parse_jpeg_meta(payload)
            return {
                "width": meta["width"],
                "height": meta["height"],
                "n_frames": 1,
                "checksum": hashlib.sha256(payload).hexdigest()[:16],
            }
        except (ValueError, struct.error, IndexError):
            pass
    if len(payload) >= 12 and payload[4:8] == b"ftyp":
        try:
            meta = parse_mp4_meta(payload)
            return {
                "width": None,
                "height": None,
                # frame-sampling key: one "frame" per second of duration
                "n_frames": max(1, meta["duration_ms"] // 1000),
                "checksum": hashlib.sha256(payload).hexdigest()[:16],
            }
        except (ValueError, struct.error, IndexError):
            pass
    # hash the payload's hex form (not the raw bytes): same determinism, and
    # the fake metadata becomes reproducible in ANSI SQL (sha256 over VARCHAR)
    # so the correctness oracle can verify the full mapInPandas plumbing
    digest = hashlib.sha256(payload.hex().encode("ascii")).digest()
    return {
        "width": 16 + digest[0] % 240,
        "height": 16 + digest[1] % 240,
        "n_frames": 1 + digest[2] % 30,
        "checksum": digest.hex()[:16],
    }


_META_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("media_type", StringType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("n_frames", IntegerType(), True),
        StructField("checksum", StringType(), True),
    ]
)


def decode_image_meta(df: DataFrame) -> DataFrame:
    """Feature-extraction over Arrow batches: binary payload → metadata.
    Fans the Python decode out across cores when the input arrives
    under-partitioned (single parquet file → one partition → one decoder)."""
    from ..utils import fan_out

    df = fan_out(df, "media_id")

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = [_decode_bytes(p) for p in pdf["payload"]]
            out = pd.DataFrame(
                {
                    "media_id": pdf["media_id"].values,
                    "media_type": pdf["media_type"].values,
                    "width": [m["width"] for m in metas],
                    "height": [m["height"] for m in metas],
                    "n_frames": [m["n_frames"] for m in metas],
                    "checksum": [m["checksum"] for m in metas],
                }
            )
            yield out

    return df.mapInPandas(decode, schema=_META_SCHEMA)


def attach_real_images(df: DataFrame, id_col: str, content_col=None) -> DataFrame:
    """Generate REAL PNG payloads deterministically from an id column
    (Arrow-batched :func:`encode_png_gray` in the executors): with
    content key ``c`` (default the id itself), the image is
    ``(8 + c%16) × (8 + c%8)`` 8-bit grayscale with pixel ``(x, y) =
    first byte of md5("c:x:y")``.  The in-repo stand-in for reading a
    media lake — every payload is a spec-conformant PNG, and because the
    pixel law is a pure md5 function of the key the downstream REAL
    decodes (:func:`image_meta_real`, :func:`image_ahash`) are
    verifiable by ANSI-SQL oracles that recompute the expected values
    from the key alone.  md5 pixels (not an arithmetic ramp) on purpose:
    aHash is exactly brightness-shift invariant and coarse on linear
    gradients, so ramp-law images collapsed onto a handful of mosaics
    and the near-dup graph went quadratic (measured 5M pairs at sf0.1);
    pseudo-random pixels put unrelated keys at hamming ≈ 32 so only
    engineered twins pair.  Pass ``content_col`` (a Column, e.g.
    ``id // 3``) to give several ids IDENTICAL images — the duplicate
    structure the near-dup operators need test data for."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for c in pdf["__content"]:
                c = int(c)
                w, h = 8 + c % 16, 8 + c % 8
                px = bytes(
                    hashlib.md5(f"{c}:{x}:{y}".encode()).digest()[0]
                    for y in range(h) for x in range(w)
                )
                payloads.append(encode_png_gray(w, h, px))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].values,
                    "media_type": "image",
                    "payload": payloads,
                    "mime": "image/png",
                    "byte_len": [len(p) for p in payloads],
                }
            )

    from ..utils import fan_out

    content = (F.col(id_col) if content_col is None else content_col).cast("long")
    base = fan_out(
        df.select(
            F.col(id_col).cast("long").alias("media_id"),
            content.alias("__content"),
        ),
        "media_id",
    )
    gen_schema = StructType(MEDIA_SCHEMA.fields)
    return base.mapInPandas(gen, schema=gen_schema)


def attach_real_jpegs(df: DataFrame, id_col: str, content_col=None) -> DataFrame:
    """Generate REAL baseline-JPEG payloads deterministically from an id
    column — the JPEG sibling of :func:`attach_real_images`, built so the
    DECODED pixels are SQL-recomputable: with content key ``c`` the image
    is ``(1 + c%3) × (1 + c%2)`` constant 8×8 blocks (block ``(bx, by)``
    value = first byte of ``md5("c:bx:by")``), encoded with the all-ones
    quantization table.  Constant blocks are DC-only, and DC survives
    unit quantization exactly, so ``encode → Huffman stream → decode``
    is BIT-EXACT (pinned by test_jpeg) — which lets an arithmetic ANSI
    oracle certify the full JPEG entropy-decode+IDCT path the way the
    PNG oracles certify inflate/defilter."""
    from .jpeg import QUANT_UNIT, encode_jpeg_gray

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for c in pdf["__content"]:
                c = int(c)
                bw, bh = 1 + c % 3, 1 + c % 2
                px = bytearray(bw * 8 * bh * 8)
                for by in range(bh):
                    for bx in range(bw):
                        v = hashlib.md5(f"{c}:{bx}:{by}".encode()).digest()[0]
                        for y in range(by * 8, by * 8 + 8):
                            row = y * bw * 8
                            for x in range(bx * 8, bx * 8 + 8):
                                px[row + x] = v
                payloads.append(
                    encode_jpeg_gray(bw * 8, bh * 8, bytes(px), quant=QUANT_UNIT)
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].values,
                    "media_type": "image",
                    "payload": payloads,
                    "mime": "image/jpeg",
                    "byte_len": [len(p) for p in payloads],
                }
            )

    from ..utils import fan_out

    content = (F.col(id_col) if content_col is None else content_col).cast("long")
    base = fan_out(
        df.select(
            F.col(id_col).cast("long").alias("media_id"),
            content.alias("__content"),
        ),
        "media_id",
    )
    return base.mapInPandas(gen, schema=StructType(MEDIA_SCHEMA.fields))


def attach_real_videos(df: DataFrame, id_col: str, content_col=None) -> DataFrame:
    """Generate REAL minimal MP4 payloads deterministically from an id
    column — the video sibling of :func:`attach_real_jpegs`: with
    content key ``c`` the file holds ``3 + c%5`` samples, sample ``i``
    sized ``16 + first_byte(md5("c:i")) % 64`` bytes, indexed by a full
    ``stbl`` sample table (stts/stsc/stsz/stco) with the mdat-first
    layout — so every sample's byte range is an arithmetic function of
    the key that an ANSI oracle replays."""
    from .mp4 import encode_mp4_sampled

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for c in pdf["__content"]:
                c = int(c)
                n = 3 + c % 5
                samples = [
                    # deterministic "frame" bytes, truncated to the
                    # md5-derived per-sample size law the oracle replays
                    (hashlib.md5(f"{c}:{i}:body".encode()).digest() * 6)[
                        : 16 + hashlib.md5(f"{c}:{i}".encode()).digest()[0] % 64
                    ]
                    for i in range(n)
                ]
                payloads.append(encode_mp4_sampled(samples))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].values,
                    "media_type": "video",
                    "payload": payloads,
                    "mime": "video/mp4",
                    "byte_len": [len(p) for p in payloads],
                }
            )

    from ..utils import fan_out

    content = (F.col(id_col) if content_col is None else content_col).cast("long")
    base = fan_out(
        df.select(
            F.col(id_col).cast("long").alias("media_id"),
            content.alias("__content"),
        ),
        "media_id",
    )
    return base.mapInPandas(gen, schema=StructType(MEDIA_SCHEMA.fields))


def attach_real_audio(df: DataFrame, id_col: str, content_col=None) -> DataFrame:
    """Generate REAL PCM16 WAV payloads deterministically from an id
    column — the audio sibling of :func:`attach_real_videos`: with
    content key ``c`` the clip is mono 8 kHz with ``2000 + (c%7)*1000``
    samples (0.25–1 s), canonical 44-byte header, sample values a cheap
    deterministic ramp (the ORACLE law is the byte-range geometry, not
    the waveform)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for c in pdf["__content"]:
                c = int(c)
                n = 2000 + (c % 7) * 1000
                samples = [((c + i * 37) % 65536) - 32768 for i in range(n)]
                payloads.append(encode_wav_pcm16(samples, sample_rate=8000))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].values,
                    "media_type": "audio",
                    "payload": payloads,
                    "mime": "audio/wav",
                    "byte_len": [len(p) for p in payloads],
                }
            )

    from ..utils import fan_out

    content = (F.col(id_col) if content_col is None else content_col).cast("long")
    base = fan_out(
        df.select(
            F.col(id_col).cast("long").alias("media_id"),
            content.alias("__content"),
        ),
        "media_id",
    )
    return base.mapInPandas(gen, schema=StructType(MEDIA_SCHEMA.fields))


_AUDIO_INDEX_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("seg_idx", IntegerType(), True),
        StructField("byte_offset", LongType(), True),
        StructField("byte_len", LongType(), True),
        StructField("t_start_ms", LongType(), True),
        StructField("t_end_ms", LongType(), True),
    ]
)


def audio_segment_index(df: DataFrame, segment_ms: int = 250) -> DataFrame:
    """REAL audio range indexing over Arrow batches: each WAV payload's
    fmt/data chunks are parsed (:func:`parse_wav_data_range`) and the
    clip explodes to one row per fixed-length segment with its EXACT
    byte range — PCM is its own index (sample k sits at ``data_offset +
    k*block_align``), so a transcription pipeline's workers each range-
    read one segment of a multi-hour recording, no full-object fetch.
    The time twin of :func:`audio_segments` (which reports windows
    only); oracle-certified on the deterministic generator's geometry."""
    from ..utils import fan_out

    df = fan_out(df, "media_id")

    def index(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, offs, lens, t0s, t1s = [], [], [], [], [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                info = parse_wav_data_range(p)
                ba = info["block_align"]
                rate = info["sample_rate"]
                n = info["data_len"] // ba
                seg = rate * segment_ms // 1000
                dur_ms = n * 1000 // rate
                i = 0
                start = 0
                while start < n:
                    cnt = min(seg, n - start)
                    ids.append(mid)
                    idxs.append(i)
                    offs.append(info["data_offset"] + start * ba)
                    lens.append(cnt * ba)
                    t0s.append(i * segment_ms)
                    t1s.append(min(dur_ms, (i + 1) * segment_ms))
                    i += 1
                    start += seg
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "seg_idx": idxs,
                    "byte_offset": offs,
                    "byte_len": lens,
                    "t_start_ms": t0s,
                    "t_end_ms": t1s,
                }
            )

    return df.mapInPandas(index, schema=_AUDIO_INDEX_SCHEMA)


_FRAME_INDEX_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("frame_idx", IntegerType(), True),
        StructField("byte_offset", LongType(), True),
        StructField("byte_len", LongType(), True),
        StructField("t_ms", LongType(), True),
    ]
)


def video_frame_index(df: DataFrame) -> DataFrame:
    """REAL container indexing over Arrow batches: every payload's
    ``stbl`` sample table is parsed (:func:`~pgferry_spark.multimodal.
    mp4.parse_mp4_samples` — the stsc chunk-run algorithm, ranges
    validated) and exploded to one row per frame with its EXACT byte
    range and start time.  This is the index that turns "decode frame k
    of a 40 GB object" into a bounded range read per task at 100 TB —
    the frame-decode step itself stays quarantined (no video codec
    here), but the plumbing that feeds it is real and oracle-checked."""
    from ..utils import fan_out

    from .mp4 import parse_mp4_samples

    df = fan_out(df, "media_id")

    def index(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, offs, lens, ts = [], [], [], [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                info = parse_mp4_samples(p)
                scale = info["timescale"]
                for i, (off, size, t_units) in enumerate(info["samples"]):
                    ids.append(mid)
                    idxs.append(i)
                    offs.append(off)
                    lens.append(size)
                    ts.append(t_units * 1000 // scale)
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "frame_idx": idxs,
                    "byte_offset": offs,
                    "byte_len": lens,
                    "t_ms": ts,
                }
            )

    return df.mapInPandas(index, schema=_FRAME_INDEX_SCHEMA)


_REAL_META_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("bit_depth", IntegerType(), True),
        StructField("color_type", IntegerType(), True),
        StructField("pixel_sum", LongType(), True),
    ]
)


_PIXELSUM_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("pixel_sum", LongType(), True),
    ]
)


def image_pixelsum_real(df: DataFrame) -> DataFrame:
    """Codec-agnostic REAL pixel decode over Arrow batches: every payload
    goes through :func:`decode_gray_pixels` (PNG chunk/CRC/inflate or
    baseline-JPEG Huffman+IDCT) and reports ``(width, height,
    pixel_sum)`` — values that can only be right if the bytes were
    genuinely decoded.  Paired with :func:`attach_real_jpegs`' exact
    pixel law, this is the oracle-checkable certificate of the JPEG
    decode path."""
    from ..utils import fan_out

    df = fan_out(df, "media_id")

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ws, hs, sums = [], [], []
            for p in pdf["payload"]:
                w, h, px = decode_gray_pixels(p)
                ws.append(w)
                hs.append(h)
                sums.append(sum(px))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].values,
                    "width": ws,
                    "height": hs,
                    "pixel_sum": sums,
                }
            )

    return df.mapInPandas(decode, schema=_PIXELSUM_SCHEMA)


def image_meta_real(df: DataFrame) -> DataFrame:
    """REAL image decode over Arrow batches: every payload goes through the
    full :func:`parse_png_meta` path (signature, chunk CRCs, IHDR, IDAT
    inflate, scanline defilter, pixel sum).  Output metadata can only be
    correct if the bytes were genuinely decoded — which is exactly what
    the ``image_meta_real`` oracle certifies by recomputing the expected
    values arithmetically."""
    from ..utils import fan_out

    df = fan_out(df, "media_id")

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = [parse_png_meta(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].values,
                    "width": [m["width"] for m in metas],
                    "height": [m["height"] for m in metas],
                    "bit_depth": [m["bit_depth"] for m in metas],
                    "color_type": [m["color_type"] for m in metas],
                    "pixel_sum": [m["pixel_sum"] for m in metas],
                }
            )

    return df.mapInPandas(decode, schema=_REAL_META_SCHEMA)


def ahash_bits(width: int, height: int, pixels: bytes, grid: int = 8) -> str:
    """Perceptual average-hash over REAL decoded pixels: the image
    partitions into a ``grid×grid`` block mosaic (integer boundaries
    ``(b·dim)//grid`` — requires dim ≥ grid so every block is non-empty)
    and bit ``by·grid+bx`` is 1 iff that block's mean exceeds the global
    mean. Returned as a '0'/'1' string (no 64-bit sign pitfalls across
    engines). The comparison is exact integer math —
    ``block_sum·(w·h) > total_sum·block_px`` — so the hash is
    reproducible bit-for-bit by an arithmetic SQL oracle, with no float
    threshold ambiguity."""
    if width < grid or height < grid:
        raise ValueError(f"image {width}x{height} smaller than {grid}x{grid} grid")
    total = sum(pixels)
    npx = width * height
    out = []
    for by in range(grid):
        y0, y1 = (by * height) // grid, ((by + 1) * height) // grid
        for bx in range(grid):
            x0, x1 = (bx * width) // grid, ((bx + 1) * width) // grid
            bsum = sum(
                pixels[y * width + x] for y in range(y0, y1) for x in range(x0, x1)
            )
            bpx = (y1 - y0) * (x1 - x0)
            out.append("1" if bsum * npx > total * bpx else "0")
    return "".join(out)


_AHASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("ahash_bits", StringType(), True),
        StructField("n_set_bits", IntegerType(), True),
    ]
)


def image_ahash(df: DataFrame, grid: int = 8) -> DataFrame:
    """Perceptual-hash extraction over Arrow batches: every payload goes
    through the full REAL decode (:func:`png_pixels`) and then
    :func:`ahash_bits` — the standard near-duplicate-image fingerprint
    (two images whose hashes differ in ≤ a few bits are visual twins).
    Downstream, hamming-banded self-joins find near-dup pairs exactly
    like the simhash family; the hash itself is the per-image map-only
    step that scales to any corpus."""
    from ..utils import fan_out

    df = fan_out(df, "media_id")

    def hasher(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            bits = []
            for p in pdf["payload"]:
                w, h, px = decode_gray_pixels(p)
                bits.append(ahash_bits(w, h, px, grid))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].values,
                    "ahash_bits": bits,
                    "n_set_bits": [b.count("1") for b in bits],
                }
            )

    return df.mapInPandas(hasher, schema=_AHASH_SCHEMA)


def image_near_dup_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    bands: int = 4,
    grid: int = 8,
    release_cache: bool = False,
) -> DataFrame:
    """Near-duplicate image pairs by banded perceptual hash: compute the
    64-bit aHash from REAL decoded pixels, split it into ``bands`` equal
    slices, bucket-join on any identical (band, slice) — never
    |images|² — then verify exact hamming distance ≤ ``max_hamming``
    over the full hash.  Returns ``(id_a, id_b, hamming)``, id_a < id_b.

    Recall guarantee by pigeonhole: a pair within hamming ``bands − 1``
    ALWAYS shares at least one clean band, so recall is exact for
    ``max_hamming ≤ bands − 1`` (the default 3/4 configuration);
    larger thresholds trade recall like any banding scheme.  The verify
    is JVM register math — each 16-bit slice parses once via
    ``conv(…, 2, 10)`` and hamming is Σ ``bit_count(xor)`` — and the
    hash table is persisted so the expensive decode runs once, not once
    per join side.  Scale shape mirrors the simhash family: candidates
    linear in bucket collisions, hot buckets implausible for perceptual
    hashes of non-degenerate corpora (an all-flat-image corpus should
    be exact-deduped first).

    ``release_cache=True`` materializes the pair list eagerly and
    unpersists the hash table before returning (the looping-driver
    posture); default False keeps the lazy, plan-assertable form with
    the cache left to the caller/LRU."""
    if grid * grid != 64:
        # the band slicing below is written for a 64-bit hash; a different
        # grid would silently read past the bit string and emit an empty
        # (not wrong — EMPTY) join, which is worse than an error
        raise ValueError(
            f"banded near-dup needs a 64-bit hash: grid {grid} gives "
            f"{grid * grid} bits"
        )
    if 64 % bands:
        raise ValueError(f"64 bits not divisible into {bands} bands")
    width = 64 // bands
    hashes = image_ahash(df, grid).persist()

    def slices(side: str):
        cols = [F.col("media_id").alias(f"id_{side}")] + [
            F.conv(F.substring("ahash_bits", b * width + 1, width), 2, 10)
            .cast("long")
            .alias(f"{side}{b}")
            for b in range(bands)
        ]
        band_structs = F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band_id"),
                    F.col(f"{side}{b}").alias("band_val"),
                )
                for b in range(bands)
            ])
        ).alias("bb")
        d = hashes.select(*cols)
        return d.select(
            f"id_{side}", *[f"{side}{b}" for b in range(bands)], band_structs
        ).select(
            f"id_{side}", *[f"{side}{b}" for b in range(bands)],
            F.col("bb.band_id").alias("band_id"),
            F.col("bb.band_val").alias("band_val"),
        )

    a, b = slices("a"), slices("b")
    cand = (
        a.join(b, ["band_id", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .drop("band_id", "band_val")
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = sum(
        (
            F.bit_count(
                F.col(f"a{i}").bitwiseXOR(F.col(f"b{i}"))
            )
            for i in range(bands)
        ),
        F.lit(0),
    )
    out = (
        cand.select("id_a", "id_b", hamming.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )
    if release_cache:
        # long-lived-driver posture: materialize the (small) pair list and
        # free the decoded hash table immediately; see utils.checkpoint_release
        from ..utils import checkpoint_release

        return checkpoint_release(out, hashes)
    return out


def decode_gray_pixels(payload: bytes) -> tuple[int, int, bytes]:
    """Unified REAL pixel decode: grayscale PNG (:func:`png_pixels`) or
    baseline JPEG luma (:func:`~pgferry_spark.multimodal.jpeg.
    decode_jpeg_gray`).  Returns ``(width, height, gray_pixels)``;
    raises ``ValueError`` for anything else (progressive JPEG, RGB PNG,
    MP4, opaque) — the callers' quarantine contract."""
    if payload[: len(PNG_SIG)] == PNG_SIG:
        w, h, _, _, px = png_pixels(payload)
        return w, h, px
    if payload[:2] == b"\xff\xd8":
        from .jpeg import decode_jpeg_gray

        return decode_jpeg_gray(payload)
    raise ValueError("no pixel codec for payload")


def frame_sample(df: DataFrame, every_n: int = 5) -> DataFrame:
    """Video frame sampling: one output row per sampled frame index. The
    frame *decode* is stubbed; the explode shape (row fan-out proportional
    to n_frames/every_n) is the real scale concern and is exercised here."""
    meta = decode_image_meta(df.filter(F.col("media_type") == "video"))
    idx = F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_n))
    return meta.select(
        "media_id",
        F.explode(idx).alias("frame_idx"),
        "checksum",
    )


def audio_segments(df: DataFrame, segment_ms: int = 5000) -> DataFrame:
    """Audio segmentation: one row per fixed-length segment window —
    ``(media_id, seg_idx, t_start_ms, t_end_ms)`` with the tail clipped to
    the clip duration. RIFF/WAVE payloads get a REAL duration parse
    (:func:`parse_wav_meta`); other formats fall back to a deterministic
    pseudo-duration from the payload digest (SQL-reproducible, so the
    oracle gate covers the full mapInPandas plumbing). The real scale
    concern — Arrow-batched metadata extraction followed by a
    duration-proportional row fan-out, the same shape a whisper-style
    transcription pipeline feeds — is fully exercised either way."""
    from ..utils import fan_out

    audio = fan_out(df.filter(F.col("media_type") == "audio"), "media_id")

    dur_schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("duration_ms", IntegerType(), True),
        ]
    )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            durs = []
            for p in pdf["payload"]:
                if p is None:
                    durs.append(None)
                    continue
                if p[:4] == b"RIFF":
                    # REAL WAV: exact duration from the fmt/data chunks. A
                    # RIFF that is not a parseable WAVE (an AVI, a truncated
                    # file) degrades to the deterministic fallback instead
                    # of failing the whole Arrow batch
                    try:
                        durs.append(parse_wav_meta(p)["duration_ms"])
                        continue
                    except (ValueError, struct.error, ZeroDivisionError):
                        pass
                digest = hashlib.sha256(p.hex().encode("ascii")).digest()
                durs.append(500 + int.from_bytes(digest[3:5], "big") % 30000)
            yield pd.DataFrame(
                {"media_id": pdf["media_id"].values, "duration_ms": durs}
            )

    meta = audio.mapInPandas(decode, schema=dur_schema)
    seg = F.lit(segment_ms)
    idx = F.sequence(
        F.lit(0), F.ceil(F.col("duration_ms") / seg).cast("int") - 1
    )
    return meta.select(
        "media_id",
        F.explode(idx).alias("seg_idx"),
        "duration_ms",
    ).select(
        "media_id",
        F.col("seg_idx").cast("int").alias("seg_idx"),
        (F.col("seg_idx") * seg).cast("int").alias("t_start_ms"),
        F.least((F.col("seg_idx") + 1) * seg, F.col("duration_ms"))
        .cast("int")
        .alias("t_end_ms"),
    )


# --------------------------------------------------------------------------
# EXIF metadata + GPS scrub (round 7) — the image-side PII gate
# --------------------------------------------------------------------------

_EXIF_META_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("make", StringType(), True),
        StructField("model", StringType(), True),
        StructField("orientation", IntegerType(), True),
        StructField("dt", StringType(), True),
        StructField("has_gps", BooleanType(), True),
        StructField("lat_ref", StringType(), True),
        StructField("lat_deg", IntegerType(), True),
        StructField("lat_min", IntegerType(), True),
        StructField("lat_sec", IntegerType(), True),
        StructField("lon_ref", StringType(), True),
        StructField("lon_deg", IntegerType(), True),
        StructField("lon_min", IntegerType(), True),
        StructField("lon_sec", IntegerType(), True),
        StructField("exposure_den", IntegerType(), True),
        StructField("iso", IntegerType(), True),
    ]
)


def attach_exif_jpegs(df: DataFrame, id_col: str, content_col=None) -> DataFrame:
    """REAL JPEGs with REAL EXIF APP1 blocks, deterministic from the id —
    the metadata sibling of :func:`attach_real_jpegs`: content key ``c``
    yields Make ``Cam{c%5}``, Model ``M{c%7}``, orientation ``1+c%8``,
    DateTime ``2026:01:{1+c%28} 00:00:00``, byte order alternating
    little/big endian by ``c%2``, and (iff ``c%3 != 2``) a GPS IFD with
    DMS triples ``lat=(c%90, c%60, c*7%60)`` / ``lon=(c%180, c*3%60,
    c*11%60)`` and hemisphere refs by parity, and (iff ``c%5 != 4``) an
    EXIF sub-IFD (0x8769) with ExposureTime ``1/(10+c%990)`` and ISO
    ``100*(1+c%32)`` — the fields ``strip_gps`` must carry through, so
    the scrub oracle certifies sub-IFD preservation, not just GPS
    removal.  Every field an arithmetic function an ANSI oracle replays,
    every byte a spec-shaped TIFF IFD."""
    from .exif import encode_exif_tiff, insert_exif_app1
    from .jpeg import QUANT_UNIT, encode_jpeg_gray

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for c in pdf["__content"]:
                c = int(c)
                v = hashlib.md5(f"exif:{c}".encode()).digest()[0]
                base = encode_jpeg_gray(8, 8, bytes([v]) * 64, quant=QUANT_UNIT)
                gps = None
                if c % 3 != 2:
                    gps = {
                        "lat": (c % 90, c % 60, c * 7 % 60),
                        "lat_ref": "N" if c % 2 == 0 else "S",
                        "lon": (c % 180, c * 3 % 60, c * 11 % 60),
                        "lon_ref": "E" if c % 2 == 0 else "W",
                    }
                exif = None
                if c % 5 != 4:
                    exif = {
                        "exposure": (1, 10 + c % 990),
                        "iso": 100 * (1 + c % 32),
                    }
                tiff = encode_exif_tiff(
                    f"Cam{c % 5}", f"M{c % 7}", 1 + c % 8,
                    f"2026:01:{1 + c % 28:02d} 00:00:00",
                    gps=gps, big_endian=bool(c % 2), exif=exif,
                )
                payloads.append(insert_exif_app1(base, tiff))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].values,
                    "media_type": "image",
                    "payload": payloads,
                    "mime": "image/jpeg",
                    "byte_len": [len(p) for p in payloads],
                }
            )

    from ..utils import fan_out

    content = (F.col(id_col) if content_col is None else content_col).cast("long")
    base = fan_out(
        df.select(
            F.col(id_col).cast("long").alias("media_id"),
            content.alias("__content"),
        ),
        "media_id",
    )
    return base.mapInPandas(gen, schema=StructType(MEDIA_SCHEMA.fields))


def _exif_rows(pdf: pd.DataFrame, parse) -> pd.DataFrame:
    rows = []
    for mid, p in zip(pdf["media_id"], pdf["payload"]):
        m = parse(p)
        gps = (m or {}).get("gps")
        rows.append(
            (
                int(mid),
                None if m is None else m["make"],
                None if m is None else m["model"],
                None if m is None else m["orientation"],
                None if m is None else m["datetime"],
                gps is not None,
                gps["lat_ref"] if gps else None,
                gps["lat"][0] if gps else None,
                gps["lat"][1] if gps else None,
                gps["lat"][2] if gps else None,
                gps["lon_ref"] if gps else None,
                gps["lon"][0] if gps else None,
                gps["lon"][1] if gps else None,
                gps["lon"][2] if gps else None,
                m["exposure"][1] if m and m["exposure"] else None,
                m["iso"] if m else None,
            )
        )
    return pd.DataFrame(rows, columns=[f.name for f in _EXIF_META_SCHEMA.fields])


def image_exif_meta(df: DataFrame) -> DataFrame:
    """Parse each payload's Exif APP1 (real TIFF IFD walk, both endians,
    allocation-bounded) into typed metadata columns, GPS as the raw DMS
    integers cameras store. Arrow-batched map-only pass."""
    from .exif import parse_exif

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _exif_rows(pdf, parse_exif)

    return df.mapInPandas(run, schema=_EXIF_META_SCHEMA)


def exif_gps_scrub(df: DataFrame) -> DataFrame:
    """Strip GPS IFDs and RE-PARSE the scrubbed bytes — the output rows
    are the post-scrub metadata, so a green oracle row certifies both
    the removal (has_gps false, GPS columns NULL) and the preservation
    of every other field through the re-encode. Map-only; the scrubbed
    payloads never leave the executor."""
    from .exif import parse_exif, strip_gps

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.assign(payload=[strip_gps(p) for p in pdf["payload"]])
            yield _exif_rows(pdf, parse_exif)

    return df.mapInPandas(run, schema=_EXIF_META_SCHEMA)
