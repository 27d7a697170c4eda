"""Image, audio, video and EXIF entries over the attached fake media."""

from __future__ import annotations

from pyspark.sql import functions as F

from pgferry_spark.entries.common import lake_table as _t
from pgferry_spark.entries.registry import register
from pgferry_spark.multimodal import (
    attach_fake_media,
    decode_image_meta,
    frame_sample,
)


media_cte = """
        WITH m AS (
          SELECT CAST(doc_id AS BIGINT) AS media_id,
                 CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                      ELSE 'video' END AS media_type,
                 sha256(md5(text)) AS d
          FROM documents
        ),
        meta AS (
          SELECT media_id, media_type,
                 CAST(16 + ('0x' || substr(d, 1, 2))::INT % 240 AS INTEGER) AS width,
                 CAST(16 + ('0x' || substr(d, 3, 2))::INT % 240 AS INTEGER) AS height,
                 CAST(1 + ('0x' || substr(d, 5, 2))::INT % 30 AS INTEGER) AS n_frames,
                 substr(d, 1, 16) AS checksum
          FROM m
        )
    """


@register("multimodal_meta", oracle=lambda: media_cte
        + "SELECT media_id, media_type, width, height, n_frames, checksum FROM meta")
def _multimodal_meta(spark, sf):
    """Multimodal decode plumbing (mapInPandas; stubbed codec)."""
    d = _t(spark, sf, "documents")
    media = attach_fake_media(d, "doc_id", "text")
    return decode_image_meta(media)


@register("frame_sample", oracle=lambda: media_cte
        + """
            SELECT media_id, CAST(unnest(range(0, n_frames, 5)) AS INTEGER) AS frame_idx,
                   checksum
            FROM meta WHERE media_type = 'video'
        """)
def _frame_sample(spark, sf):
    d = _t(spark, sf, "documents")
    media = attach_fake_media(d, "doc_id", "text")
    return frame_sample(media, every_n=5)


@register("audio_segments", oracle=lambda: media_cte
        + """
            , dur AS (
              SELECT media_id,
                     CAST(500 + ('0x' || substr(d, 7, 4))::INT % 30000 AS INTEGER)
                       AS duration_ms
              FROM m WHERE media_type = 'audio'
            )
            SELECT media_id,
                   CAST(unnest(range(CAST(ceil(duration_ms / 5000.0) AS BIGINT)))
                        AS INTEGER) AS seg_idx,
                   CAST(unnest(range(CAST(ceil(duration_ms / 5000.0) AS BIGINT))) * 5000
                        AS INTEGER) AS t_start_ms,
                   CAST(least((unnest(range(CAST(ceil(duration_ms / 5000.0) AS BIGINT))) + 1)
                              * 5000, duration_ms) AS INTEGER) AS t_end_ms
            FROM dur
        """)
def _audio_segments(spark, sf):
    """Audio segmentation windows (5 s, tail-clipped) from Arrow-batched
    pseudo-duration decode — the transcription-pipeline fan-out shape."""
    from pgferry_spark.multimodal.ops import audio_segments

    d = _t(spark, sf, "documents")
    media = attach_fake_media(d, "doc_id", "text")
    return audio_segments(media, segment_ms=5000)


@register("image_meta_real", oracle="""
            SELECT CAST(doc_id AS BIGINT) AS media_id,
                   CAST(8 + doc_id % 16 AS INT) AS width,
                   CAST(8 + doc_id % 8 AS INT) AS height,
                   CAST(8 AS INT) AS bit_depth,
                   CAST(0 AS INT) AS color_type,
                   CAST(list_sum(flatten(list_transform(
                         range(0, 8 + doc_id % 8),
                         y -> list_transform(range(0, 8 + doc_id % 16),
                                             x -> ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR)), 1, 2))::BIGINT)
                       ))) AS BIGINT) AS pixel_sum
            FROM documents
        """)
def _image_meta_real(spark, sf):
    """REAL image bytes through the multimodal path: spec-conformant PNGs
    are generated in the executors (pure-stdlib encoder, pixel law a pure
    function of doc_id), then decoded for real — signature, chunk CRC32s,
    IHDR, IDAT inflate, scanline defilter, pixel sum. The oracle
    recomputes every output column arithmetically from doc_id, so a green
    row certifies the whole encode→decode byte round-trip, not a fake."""
    from pgferry_spark.multimodal.ops import attach_real_images, image_meta_real

    d = _t(spark, sf, "documents")
    return image_meta_real(attach_real_images(d, "doc_id"))


# constant 8x8 blocks + unit quantization: the decoded JPEG pixel
# law is exactly 64 * md5-first-byte per block, SQL-recomputable
@register("image_meta_jpeg", oracle="""
            SELECT CAST(doc_id AS BIGINT) AS media_id,
                   CAST(8 * (1 + doc_id % 3) AS INT) AS width,
                   CAST(8 * (1 + doc_id % 2) AS INT) AS height,
                   CAST(list_sum(flatten(list_transform(
                         range(0, 1 + doc_id % 2),
                         by -> list_transform(range(0, 1 + doc_id % 3),
                                              bx -> 64 * ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(bx AS VARCHAR) || ':' || CAST(by AS VARCHAR)), 1, 2))::BIGINT)
                       ))) AS BIGINT) AS pixel_sum
            FROM documents
        """)
def _image_meta_jpeg(spark, sf):
    """REAL baseline-JPEG bytes through the multimodal path: executors
    generate spec-conformant JPEGs whose decoded pixels are a pure
    function of doc_id (constant 8x8 blocks + all-ones quantization —
    DC-only blocks make the Huffman+IDCT round trip BIT-exact), then
    decode them for real (marker walk, DQT/DHT, entropy decode, IDCT).
    The oracle recomputes width/height/pixel_sum arithmetically from
    doc_id, so a green row certifies the whole JPEG encode→decode path —
    the same certificate image_meta_real gives the PNG codec."""
    from pgferry_spark.multimodal.ops import (
        attach_real_jpegs,
        image_pixelsum_real,
    )

    d = _t(spark, sf, "documents")
    return image_pixelsum_real(attach_real_jpegs(d, "doc_id"))


# mdat-first layout: frame i's byte range = 28 + cumsum of the
# md5-derived earlier sample sizes; stts delta 40 at timescale
# 1000 makes t_ms = 40 * frame_idx
@register("video_frame_index", oracle="""
            WITH base AS (
              SELECT doc_id, 3 + doc_id % 5 AS n FROM documents
            ),
            s AS (
              SELECT doc_id, CAST(i AS INT) AS frame_idx,
                     16 + ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 2))::BIGINT % 64 AS sz
              FROM base, unnest(range(n)) AS u(i)
            )
            SELECT CAST(doc_id AS BIGINT) AS media_id, frame_idx,
                   CAST(28 + COALESCE(SUM(sz) OVER (
                          PARTITION BY doc_id ORDER BY frame_idx
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                        ), 0) AS BIGINT) AS byte_offset,
                   CAST(sz AS BIGINT) AS byte_len,
                   CAST(frame_idx * 40 AS BIGINT) AS t_ms
            FROM s
        """)
def _video_frame_index(spark, sf):
    """REAL MP4 container indexing: executors generate minimal
    conforming ISO-BMFF files (full stbl sample table, mdat-first
    layout) whose per-frame byte ranges are a pure function of doc_id,
    then parse them back with the real stsc chunk-run algorithm and
    explode to one row per frame with its exact byte range + start
    time — the bounded-range-read index a 100 TB video pipeline hands
    its decode tasks. The oracle recomputes every offset/size/time
    arithmetically from doc_id."""
    from pgferry_spark.multimodal.ops import (
        attach_real_videos,
        video_frame_index,
    )

    d = _t(spark, sf, "documents")
    return video_frame_index(attach_real_videos(d, "doc_id"))


# canonical 44-byte WAV header; mono PCM16 at 8 kHz: 250 ms
# segments are 2000 samples = 4000 bytes, n = 2000 + (c%7)*1000
@register("audio_segment_index", oracle="""
            WITH base AS (
              SELECT doc_id, 2000 + (doc_id % 7) * 1000 AS n FROM documents
            ),
            seg AS (
              SELECT doc_id, n, CAST(i AS INT) AS seg_idx
              FROM base, unnest(range((n + 1999) // 2000)) AS u(i)
            )
            SELECT CAST(doc_id AS BIGINT) AS media_id, seg_idx,
                   CAST(44 + seg_idx * 4000 AS BIGINT) AS byte_offset,
                   CAST(2 * LEAST(2000, n - seg_idx * 2000) AS BIGINT) AS byte_len,
                   CAST(seg_idx * 250 AS BIGINT) AS t_start_ms,
                   CAST(LEAST(n // 8, (seg_idx + 1) * 250) AS BIGINT) AS t_end_ms
            FROM seg
        """)
def _audio_segment_index(spark, sf):
    """REAL WAV range indexing: executors generate canonical-header
    PCM16 WAVs whose geometry is a pure function of doc_id, parse the
    fmt/data chunks back, and explode to one row per 250 ms segment
    with its EXACT byte range — PCM is its own index (sample k at
    data_offset + k*block_align), so transcription workers range-read
    segments instead of fetching whole objects. The oracle recomputes
    every offset/length/time arithmetically from doc_id."""
    from pgferry_spark.multimodal.ops import (
        attach_real_audio,
        audio_segment_index,
    )

    d = _t(spark, sf, "documents")
    return audio_segment_index(attach_real_audio(d, "doc_id"))


# aHash oracle: all 64 block comparisons in exact integer math
# (block_sum * (w*h) > total_sum * block_px — no float threshold), the
# generator's pixel law replayed arithmetically per block
def _ahash_block(b: int, key: str = "doc_id") -> str:
    bx, by = b % 8, b // 8
    bsum = (
        f"list_sum(flatten(list_transform("
        f"range(({by}*h)//8, ({by + 1}*h)//8), "
        f"y -> list_transform(range(({bx}*w)//8, ({bx + 1}*w)//8), "
        f"x -> ('0x' || substr(md5(CAST({key} AS VARCHAR) || ':' || "
        f"CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR)), 1, 2))::BIGINT))))"
    )
    bpx = (
        f"((({by + 1}*h)//8 - ({by}*h)//8)"
        f" * (({bx + 1}*w)//8 - ({bx}*w)//8))"
    )
    return f"({bsum} * (w*h) > ts * {bpx})"


def _ahash_concat(key: str = "doc_id") -> str:
    return ", ".join(
        f"CASE WHEN {_ahash_block(b, key)} THEN '1' ELSE '0' END"
        for b in range(64)
    )


# every column recomputed arithmetically from doc_id alone: a green
# row proves the Spark side's REAL PNG encode->decode round trip
# (signature, chunk CRC32s, IHDR, IDAT inflate, defilter, pixel sum)
# reproduced the generator's pixel law exactly
@register("image_ahash_real", oracle=lambda: f"""
            WITH d AS (SELECT doc_id, 8 + doc_id % 16 AS w, 8 + doc_id % 8 AS h
                       FROM documents),
            t AS (SELECT doc_id, w, h,
                         CAST(list_sum(flatten(list_transform(range(0, h),
                               y -> list_transform(range(0, w),
                                    x -> ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR)), 1, 2))::BIGINT)))) AS BIGINT) AS ts
                  FROM d),
            bits AS (SELECT doc_id, concat({_ahash_concat()}) AS ahash_bits FROM t)
            SELECT CAST(doc_id AS BIGINT) AS media_id, ahash_bits,
                   CAST(length(replace(ahash_bits, '0', '')) AS INT) AS n_set_bits
            FROM bits
        """)
def _image_ahash_real(spark, sf):
    """Perceptual average-hash over REAL decoded PNG pixels: 8×8 block
    mosaic, bit = block mean > global mean — the near-duplicate-image
    fingerprint, computed from actual bytes (full CRC/inflate/defilter
    decode) and certified by an arithmetic oracle that replays all 64
    block comparisons in exact integer math."""
    from pgferry_spark.multimodal.ops import attach_real_images, image_ahash

    d = _t(spark, sf, "documents")
    return image_ahash(attach_real_images(d, "doc_id"))


# hash, banding, and hamming all replayed from the content key
# c = doc_id - doc_id%3 (groups of 3 share one identical image)
@register("image_near_dup", oracle=lambda: f"""
            WITH d AS (SELECT doc_id, doc_id - doc_id % 3 AS c FROM documents),
            g AS (SELECT doc_id, c, 8 + c % 16 AS w, 8 + c % 8 AS h FROM d),
            t AS (SELECT doc_id, c, w, h,
                         CAST(list_sum(flatten(list_transform(range(0, h),
                               y -> list_transform(range(0, w),
                                    x -> ('0x' || substr(md5(CAST(c AS VARCHAR) || ':' || CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR)), 1, 2))::BIGINT)))) AS BIGINT) AS ts
                  FROM g),
            bits AS (SELECT doc_id, concat({_ahash_concat("c")}) AS b FROM t),
            bl AS (SELECT doc_id, b, band_id,
                          substr(b, band_id * 16 + 1, 16) AS band_val
                   FROM bits CROSS JOIN (SELECT unnest(range(4)) AS band_id)),
            cand AS (
              SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
                              x.b AS ba, y.b AS bb
              FROM bl x JOIN bl y USING (band_id, band_val)
              WHERE x.doc_id < y.doc_id
            )
            SELECT id_a, id_b,
                   CAST(len(list_filter(range(64),
                        i -> substr(ba, i + 1, 1) <> substr(bb, i + 1, 1)))
                        AS INT) AS hamming
            FROM cand
            WHERE len(list_filter(range(64),
                  i -> substr(ba, i + 1, 1) <> substr(bb, i + 1, 1))) <= 3
        """)
def _image_near_dup(spark, sf):
    """Near-duplicate image pairs: REAL PNG decode → 64-bit aHash →
    4-band bucket join → exact hamming ≤ 3 verify (pigeonhole-exact
    recall at this threshold). The content key groups every 3 doc_ids
    onto one identical image so the duplicate structure exists; the
    oracle replays hash, banding, and hamming arithmetically."""
    from pgferry_spark.multimodal.ops import attach_real_images, image_near_dup_pairs

    d = _t(spark, sf, "documents")
    media = attach_real_images(
        d, "doc_id", content_col=F.col("doc_id") - F.col("doc_id") % 3
    )
    return image_near_dup_pairs(media, max_hamming=3, bands=4)


# EXIF oracle: the shared deterministic-field arithmetic (see
# multimodal/ops.attach_exif_jpegs); the two entries differ only in the
# GPS columns (parsed values vs post-scrub NULLs).
_EXIF_ORACLE_BASE = """
    SELECT CAST(doc_id AS BIGINT) AS media_id,
           'Cam' || CAST(doc_id % 5 AS STRING) AS make,
           'M' || CAST(doc_id % 7 AS STRING) AS model,
           CAST(1 + doc_id % 8 AS INT) AS orientation,
           '2026:01:' || lpad(CAST(1 + doc_id % 28 AS STRING), 2, '0')
               || ' 00:00:00' AS dt,
"""


_EXIF_GPS_COLS = """
           doc_id % 3 <> 2 AS has_gps,
           CASE WHEN doc_id % 3 <> 2 THEN
             (CASE WHEN doc_id % 2 = 0 THEN 'N' ELSE 'S' END) END AS lat_ref,
           CASE WHEN doc_id % 3 <> 2 THEN CAST(doc_id % 90 AS INT) END AS lat_deg,
           CASE WHEN doc_id % 3 <> 2 THEN CAST(doc_id % 60 AS INT) END AS lat_min,
           CASE WHEN doc_id % 3 <> 2 THEN CAST(doc_id * 7 % 60 AS INT) END AS lat_sec,
           CASE WHEN doc_id % 3 <> 2 THEN
             (CASE WHEN doc_id % 2 = 0 THEN 'E' ELSE 'W' END) END AS lon_ref,
           CASE WHEN doc_id % 3 <> 2 THEN CAST(doc_id % 180 AS INT) END AS lon_deg,
           CASE WHEN doc_id % 3 <> 2 THEN CAST(doc_id * 3 % 60 AS INT) END AS lon_min,
           CASE WHEN doc_id % 3 <> 2 THEN CAST(doc_id * 11 % 60 AS INT) END AS lon_sec
"""


# EXIF sub-IFD fields: IDENTICAL in both
# entries — the scrub must preserve them, so a green exif_gps_scrub row
# certifies unknown-to-the-scrub tag survival, not just GPS removal.
_EXIF_SUBIFD_COLS = """
           , CASE WHEN doc_id % 5 <> 4 THEN CAST(10 + doc_id % 990 AS INT) END
               AS exposure_den,
           CASE WHEN doc_id % 5 <> 4 THEN CAST(100 * (1 + doc_id % 32) AS INT) END
               AS iso
"""


# EXIF metadata round-trip + GPS scrub: every field recomputed
# arithmetically from doc_id (attach_exif_jpegs contract)
@register("image_exif_meta", oracle=lambda: _EXIF_ORACLE_BASE + _EXIF_GPS_COLS
        + _EXIF_SUBIFD_COLS + " FROM documents")
def _image_exif_meta(spark, sf):
    """REAL EXIF through the multimodal path: executors build JPEGs with
    spec-shaped TIFF IFD APP1 blocks (both byte orders, GPS sub-IFD on
    2/3 of rows) whose every field is an arithmetic function of doc_id,
    then parse them back with the real IFD walker — the oracle
    recomputes the fields from doc_id, so a green row certifies the
    encode→parse byte round trip (the image_meta_jpeg pattern applied
    to metadata)."""
    from pgferry_spark.multimodal.ops import attach_exif_jpegs, image_exif_meta

    d = _t(spark, sf, "documents")
    return image_exif_meta(attach_exif_jpegs(d, "doc_id"))


_EXIF_GPS_NULLS = """
           FALSE AS has_gps,
           CAST(NULL AS STRING) AS lat_ref,
           CAST(NULL AS INT) AS lat_deg,
           CAST(NULL AS INT) AS lat_min,
           CAST(NULL AS INT) AS lat_sec,
           CAST(NULL AS STRING) AS lon_ref,
           CAST(NULL AS INT) AS lon_deg,
           CAST(NULL AS INT) AS lon_min,
           CAST(NULL AS INT) AS lon_sec
"""


@register("exif_gps_scrub", oracle=lambda: _EXIF_ORACLE_BASE + _EXIF_GPS_NULLS
        + _EXIF_SUBIFD_COLS + " FROM documents")
def _exif_gps_scrub(spark, sf):
    """The image-side PII gate: copy the full IFD0 tree minus only the
    GPS pointer (unknown tags and the 0x8769 EXIF sub-IFD
    survive) and re-parse the scrubbed bytes — green
    means GPS is gone AND every other field, including the sub-IFD's
    ExposureTime/ISO, survived the surgery. Map-only Arrow pass;
    payloads never leave the executor."""
    from pgferry_spark.multimodal.ops import attach_exif_jpegs, exif_gps_scrub

    d = _t(spark, sf, "documents")
    return exif_gps_scrub(attach_exif_jpegs(d, "doc_id"))
