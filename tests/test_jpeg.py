"""Baseline JPEG codec (multimodal/jpeg.py): pure stdlib+numpy encode +
decode, and its wiring into the ahash pixel pipeline.

Closes VERDICT r5 Next #7 (the JPEG pixel-decode gap): PNG had a full
pixel path; JPEG was metadata-only.  Round-trip laws replace external
golden files (no image libraries exist in this container to produce
them): an all-ones quantization table makes encode→decode EXACT for the
DCT-integer pixel laws used here, so any defect in marker framing,
Huffman tables, zig-zag, dequantize, or IDCT shows up as a pixel
mismatch.
"""

import struct

import numpy as np
import pytest

from pgferry_spark.multimodal.jpeg import (
    QUANT_LUMA,
    QUANT_UNIT,
    decode_jpeg_gray,
    encode_jpeg_gray,
    encode_jpeg_ycbcr,
)
from pgferry_spark.multimodal.ops import (
    decode_gray_pixels,
    encode_png_gray,
    parse_jpeg_meta,
)


def _gradient(w, h, a=3, b=5):
    xx, yy = np.meshgrid(np.arange(w), np.arange(h))
    return ((xx * a + yy * b) % 256).astype(np.uint8)


def _noise(w, h, seed=0):
    return np.random.default_rng(seed).integers(0, 256, size=(h, w), dtype=np.uint8)


def _max_err(px: bytes, img: np.ndarray) -> int:
    return int(
        np.abs(np.frombuffer(px, np.uint8).astype(int) - img.astype(int).ravel()).max()
    )


class TestGrayRoundTrip:
    # With an all-ones quantization table the ONLY loss is rounding the
    # DCT coefficients to integers, which perturbs pixels by at most ±2;
    # a constant block (DC only) round-trips bit-exactly.  Both laws
    # would break on any defect in framing/Huffman/zig-zag/IDCT.

    def test_unit_quant_constant_exact(self):
        img = np.full((16, 24), 137, dtype=np.uint8)
        enc = encode_jpeg_gray(24, 16, img.tobytes(), quant=QUANT_UNIT)
        w, h, px = decode_jpeg_gray(enc)
        assert (w, h) == (24, 16) and px == img.tobytes()

    def test_unit_quant_gradient_near_exact(self):
        img = _gradient(37, 23)
        enc = encode_jpeg_gray(37, 23, img.tobytes(), quant=QUANT_UNIT)
        w, h, px = decode_jpeg_gray(enc)
        assert (w, h) == (37, 23)
        assert _max_err(px, img) <= 2

    def test_unit_quant_noise_near_exact(self):
        # noise maximizes AC activity: every run-length/ZRL/EOB path fires
        img = _noise(24, 16, seed=3)
        enc = encode_jpeg_gray(24, 16, img.tobytes(), quant=QUANT_UNIT)
        assert _max_err(decode_jpeg_gray(enc)[2], img) <= 2

    def test_standard_quant_bounded_error(self):
        # true smooth ramp (no mod-256 wrap edges): Annex K quantization
        # keeps a smooth image visually intact
        xx, yy = np.meshgrid(np.arange(64), np.arange(48))
        img = np.clip(xx * 2 + yy * 2, 0, 255).astype(np.uint8)
        enc = encode_jpeg_gray(64, 48, img.tobytes(), quant=QUANT_LUMA)
        w, h, px = decode_jpeg_gray(enc)
        err = np.abs(
            np.frombuffer(px, np.uint8).astype(int)
            - img.astype(int).ravel()
        )
        assert err.max() <= 32 and err.mean() < 4  # lossy but sane

    def test_non_multiple_of_8_dims(self):
        for w, h in [(1, 1), (8, 8), (9, 7), (17, 33)]:
            img = _gradient(w, h, 7, 11)
            enc = encode_jpeg_gray(w, h, img.tobytes(), quant=QUANT_UNIT)
            dw, dh, px = decode_jpeg_gray(enc)
            assert (dw, dh) == (w, h) and _max_err(px, img) <= 2

    def test_restart_markers(self):
        img = _noise(40, 24, seed=9)  # 15 MCUs
        enc = encode_jpeg_gray(
            40, 24, img.tobytes(), quant=QUANT_UNIT, restart_interval=4
        )
        assert b"\xff\xd0" in enc  # RST0 actually emitted
        assert _max_err(decode_jpeg_gray(enc)[2], img) <= 2

    def test_meta_parser_agrees(self):
        enc = encode_jpeg_gray(29, 21, _gradient(29, 21).tobytes())
        meta = parse_jpeg_meta(enc)
        assert (meta["width"], meta["height"]) == (29, 21)
        assert meta["n_components"] == 1 and meta["precision"] == 8


class TestColorDecode:
    @pytest.mark.parametrize("sampling", [(1, 1), (2, 2), (2, 1), (1, 2)])
    def test_luma_exact_across_samplings(self, sampling):
        # chroma blocks must be entropy-decoded (stream position!) then
        # discarded; any slip corrupts every later luma block
        w, h = 29, 21
        y = _gradient(w, h, 4, 7)
        cb = _gradient(w, h, 2, 1)
        cr = _gradient(w, h, 1, 3)
        enc = encode_jpeg_ycbcr(
            w, h, y.tobytes(), cb.tobytes(), cr.tobytes(),
            sampling=sampling, quant=QUANT_UNIT,
        )
        meta = parse_jpeg_meta(enc)
        assert meta["n_components"] == 3
        dw, dh, px = decode_jpeg_gray(enc)
        assert (dw, dh) == (w, h) and px == y.tobytes()

    def test_noise_chroma_does_not_perturb_luma(self):
        w, h = 18, 26
        y = _gradient(w, h)
        cb = _noise(w, h, seed=1)
        cr = _noise(w, h, seed=2)
        enc = encode_jpeg_ycbcr(
            w, h, y.tobytes(), cb.tobytes(), cr.tobytes(),
            sampling=(2, 2), quant=QUANT_UNIT,
        )
        assert decode_jpeg_gray(enc)[2] == y.tobytes()


class TestRejects:
    def test_progressive_raises(self):
        enc = bytearray(encode_jpeg_gray(16, 16, _gradient(16, 16).tobytes()))
        i = enc.find(b"\xff\xc0")
        enc[i + 1] = 0xC2  # SOF0 -> SOF2 (progressive)
        with pytest.raises(ValueError, match="SOF2"):
            decode_jpeg_gray(bytes(enc))

    def test_not_a_jpeg_raises(self):
        with pytest.raises(ValueError):
            decode_jpeg_gray(b"\x89PNG\r\n\x1a\nnope")

    def test_missing_sos_raises(self):
        with pytest.raises(ValueError):
            decode_jpeg_gray(b"\xff\xd8\xff\xd9")

    def test_wrong_pixel_count_raises(self):
        with pytest.raises(ValueError):
            encode_jpeg_gray(8, 8, b"\x00" * 63)

    def test_dimension_bomb_rejected_before_allocation(self):
        # a tiny payload declaring a 65535x65535 frame must raise
        # ValueError (quarantine contract), not attempt a ~34 GB
        # allocation and escape as MemoryError
        enc = bytearray(encode_jpeg_gray(8, 8, b"\x80" * 64))
        i = enc.find(b"\xff\xc0")
        struct.pack_into(">HH", enc, i + 5, 65535, 65535)
        with pytest.raises(ValueError):
            decode_jpeg_gray(bytes(enc))

    def test_larger_image_decodes_quickly(self):
        # guards the bit-reader accumulator mask: without it the decode
        # of a few thousand blocks degrades to quadratic bigint shifts
        import time

        img = _noise(256, 256, seed=11)
        enc = encode_jpeg_gray(256, 256, img.tobytes(), quant=QUANT_UNIT)
        t0 = time.perf_counter()
        assert _max_err(decode_jpeg_gray(enc)[2], img) <= 2
        assert time.perf_counter() - t0 < 30


class TestFuzz:
    # The quarantine contract: pixel-path callers catch exactly
    # (ValueError, struct.error, IndexError) — a malformed payload must
    # decode, raise one of those, or nothing; never hang, never escape
    # with a different exception type and sink the whole Arrow batch.
    CAUGHT = (ValueError, struct.error, IndexError)

    def test_byte_flip_mutations_stay_in_contract(self):
        import random

        rng = random.Random(13)
        img = _noise(16, 16, seed=5)
        base = encode_jpeg_gray(16, 16, img.tobytes(), quant=QUANT_UNIT)
        for _ in range(200):
            buf = bytearray(base)
            for _ in range(rng.randrange(1, 4)):
                buf[rng.randrange(len(buf))] ^= 1 << rng.randrange(8)
            try:
                w, h, px = decode_jpeg_gray(bytes(buf))
                assert len(px) == w * h  # if it decodes, shape is coherent
            except self.CAUGHT:
                pass

    def test_truncations_stay_in_contract(self):
        img = _gradient(24, 16)
        base = encode_jpeg_gray(24, 16, img.tobytes(), quant=QUANT_UNIT)
        for cut in range(2, len(base), 7):
            try:
                w, h, px = decode_jpeg_gray(base[:cut])
                assert len(px) == w * h
            except self.CAUGHT:
                pass

    def test_color_stream_mutations_stay_in_contract(self):
        import random

        rng = random.Random(29)
        y = _gradient(16, 16)
        base = encode_jpeg_ycbcr(
            16, 16, y.tobytes(), y.tobytes(), y.tobytes(),
            sampling=(2, 2), quant=QUANT_UNIT,
        )
        for _ in range(100):
            buf = bytearray(base)
            buf[rng.randrange(len(buf))] ^= 0xFF
            try:
                w, h, px = decode_jpeg_gray(bytes(buf))
                assert len(px) == w * h
            except self.CAUGHT:
                pass


class TestDispatch:
    def test_decode_gray_pixels_png_and_jpeg(self):
        img = _gradient(12, 9)
        png = encode_png_gray(12, 9, img.tobytes())
        jpg = encode_jpeg_gray(12, 9, img.tobytes(), quant=QUANT_UNIT)
        assert decode_gray_pixels(png) == (12, 9, img.tobytes())
        assert decode_gray_pixels(jpg) == (12, 9, img.tobytes())

    def test_decode_gray_pixels_opaque_raises(self):
        with pytest.raises(ValueError):
            decode_gray_pixels(b"\x00\x01\x02\x03 opaque blob")

class TestSparkWiring:
    def _media(self, spark, rows):
        return spark.createDataFrame(
            rows,
            "media_id: long, media_type: string, payload: binary,"
            " mime: string, byte_len: long",
        )

    def test_attach_real_jpegs_pixelsum_law(self, spark):
        """The generator's decoded-pixel law: constant 8x8 blocks survive
        the unit-quant Huffman round trip bit-exactly, so pixel_sum ==
        sum over blocks of 64 * md5-first-byte — the arithmetic the
        image_meta_jpeg oracle replays in SQL."""
        import hashlib

        from pgferry_spark.multimodal.ops import (
            attach_real_jpegs,
            image_pixelsum_real,
        )

        base = spark.createDataFrame(
            [(i,) for i in range(12)], "doc_id: long"
        )
        out = {
            r["media_id"]: r
            for r in image_pixelsum_real(attach_real_jpegs(base, "doc_id")).collect()
        }
        for c in range(12):
            bw, bh = 1 + c % 3, 1 + c % 2
            want = sum(
                64 * hashlib.md5(f"{c}:{bx}:{by}".encode()).digest()[0]
                for by in range(bh) for bx in range(bw)
            )
            r = out[c]
            assert (r["width"], r["height"]) == (bw * 8, bh * 8)
            assert r["pixel_sum"] == want

    def test_image_ahash_jpeg_payloads(self, spark):
        from pgferry_spark.multimodal.ops import ahash_bits, image_ahash

        img = _gradient(24, 16, 5, 9)
        jpg = encode_jpeg_gray(24, 16, img.tobytes(), quant=QUANT_UNIT)
        media = self._media(
            spark, [(1, "image", jpg, "image/jpeg", len(jpg))]
        )
        row = image_ahash(media).collect()[0]
        # unit-quant JPEG decodes to the exact pixels, so the hash equals
        # the pure-function hash of the source image
        assert row["ahash_bits"] == ahash_bits(24, 16, img.tobytes())
