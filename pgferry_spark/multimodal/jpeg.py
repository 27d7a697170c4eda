"""Baseline JPEG codec — pure stdlib+numpy, no image libraries.

The r5 gap: the multimodal pipeline had a REAL pixel path for PNG only;
JPEG payloads were metadata-parsed (SOF scan) but quarantined with NULL
output in ahash.  This module closes it for BASELINE JPEG (ITU
T.81 SOF0/SOF1, Huffman entropy coding): a spec-conformant grayscale
encoder (the in-test media generator, like ``encode_png_gray``) and a
decoder that handles 1-component grayscale and 3-component YCbCr with
arbitrary sampling factors (4:4:4, 4:2:0, 4:2:2 — chroma is decoded and
discarded; the pipeline consumes the LUMA plane), restart markers
included.  Progressive (SOF2), arithmetic coding, and 12-bit precision
raise ``ValueError``, the signal a caller quarantines such payloads
on.

Every constant below is from the public spec (ITU-T T.81 Annex K:
example quantization table, typical Huffman tables K.3.3.1/K.3.3.2,
zig-zag order Figure 5).  All per-block transforms run through one
numpy 8×8 DCT basis; only the Huffman bit stream is walked in Python —
the same cost class as the PNG path's per-scanline defilter, applied
inside Arrow batches by the ``multimodal.ops`` callers.
"""

from __future__ import annotations

import struct

import numpy as np

# zig-zag scan order: block index for each of the 64 scan positions
# (T.81 Figure 5)
ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
]

# Annex K example luminance quantization table (quality ~50)
QUANT_LUMA = [
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]

# near-lossless table for round-trip tests: all-ones quantization keeps
# only DCT float rounding as loss
QUANT_UNIT = [1] * 64

# Annex K typical luminance Huffman tables: (BITS counts per code length
# 1..16, HUFFVAL symbol list)
DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUMA_VALS = list(range(12))
AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125]
AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8-point DCT-II basis: forward is D @ B @ D.T, inverse
    D.T @ F @ D."""
    n = np.arange(8)
    d = np.cos((2 * n[None, :] + 1) * n[:, None] * np.pi / 16)
    d[0, :] = 1.0
    d *= np.where(n[:, None] == 0, np.sqrt(1 / 8), np.sqrt(2 / 8))
    return d


_D = _dct_matrix()


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) per the T.81 canonical construction."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _decode_table(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) -> symbol, for the bit-serial decoder — the
    canonical-code walk inverted."""
    return {
        (length, code): sym
        for sym, (code, length) in _canonical_codes(bits, vals).items()
    }


def _seg(marker: int, payload: bytes) -> bytes:
    """One marker segment: FF <marker> <len+2> <payload>."""
    return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload


def _header_segments(quant: list[int], sof_body: bytes) -> list[bytes]:
    """SOI + DQT(zig-zag, 8-bit, id 0) + SOF0 + the Annex K DC/AC DHT
    pair — the header framing both encoders share."""
    zz_q = bytes(quant[ZIGZAG[k]] for k in range(64))
    return [
        bytes([0xFF, 0xD8]),  # SOI
        _seg(0xDB, bytes([0x00]) + zz_q),
        _seg(0xC0, sof_body),
        _seg(0xC4, bytes([0x00]) + bytes(DC_LUMA_BITS) + bytes(DC_LUMA_VALS)),
        _seg(0xC4, bytes([0x10]) + bytes(AC_LUMA_BITS) + bytes(AC_LUMA_VALS)),
    ]


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, length: int) -> None:
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.out.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits per spec


def _category(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length()


def _write_block(
    w: "_BitWriter",
    block: np.ndarray,
    q: np.ndarray,
    dc_codes: dict,
    ac_codes: dict,
    pred: int,
) -> int:
    """DCT + quantize + Huffman-encode one level-shifted 8x8 block;
    returns the new DC predictor."""
    coefs = _D @ block @ _D.T
    # half-away-from-zero: deterministic across platforms
    zz = np.floor(np.abs(coefs / q) + 0.5) * np.sign(coefs)
    flat = zz.reshape(64)[ZIGZAG].astype(np.int64)
    diff = int(flat[0]) - pred
    pred = int(flat[0])
    s = _category(diff)
    code, length = dc_codes[s]
    w.write(code, length)
    if s:
        w.write(diff if diff > 0 else diff + (1 << s) - 1, s)
    run = 0
    last_nz = 0
    for i in range(63, 0, -1):
        if flat[i]:
            last_nz = i
            break
    for i in range(1, last_nz + 1):
        v = int(flat[i])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_codes[0xF0]  # ZRL
            w.write(code, length)
            run -= 16
        s = _category(v)
        code, length = ac_codes[(run << 4) | s]
        w.write(code, length)
        w.write(v if v > 0 else v + (1 << s) - 1, s)
        run = 0
    if last_nz < 63:
        code, length = ac_codes[0x00]  # EOB
        w.write(code, length)
    return pred


def encode_jpeg_gray(
    width: int,
    height: int,
    pixels: bytes,
    quant: list[int] | None = None,
    restart_interval: int = 0,
) -> bytes:
    """Spec-conformant BASELINE grayscale JPEG (SOF0, one 8-bit
    component, Annex K typical Huffman tables).  Pixels are row-major
    grayscale bytes; blocks pad by edge replication.  ``quant`` is the
    64-entry natural-order quantization table (default: Annex K
    luminance; pass :data:`QUANT_UNIT` for near-lossless round trips).
    ``restart_interval`` > 0 emits DRI + RSTn markers every that many
    MCUs — the decoder's restart path is real and tested."""
    if len(pixels) != width * height:
        raise ValueError(f"need {width * height} pixels, got {len(pixels)}")
    quant = list(quant) if quant is not None else list(QUANT_LUMA)
    img = np.frombuffer(bytes(pixels), dtype=np.uint8).reshape(height, width)
    bw = (width + 7) // 8
    bh = (height + 7) // 8
    padded = np.pad(
        img.astype(np.float64) - 128.0,
        ((0, bh * 8 - height), (0, bw * 8 - width)),
        mode="edge",
    )
    q = np.array(quant, dtype=np.float64).reshape(8, 8)
    dc_codes = _canonical_codes(DC_LUMA_BITS, DC_LUMA_VALS)
    ac_codes = _canonical_codes(AC_LUMA_BITS, AC_LUMA_VALS)

    w = _BitWriter()
    pred = 0
    mcu = 0
    rst = 0
    for by in range(bh):
        for bx in range(bw):
            if restart_interval and mcu and mcu % restart_interval == 0:
                w.flush()
                w.out += bytes([0xFF, 0xD0 + rst])
                rst = (rst + 1) % 8
                pred = 0
            block = padded[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
            pred = _write_block(w, block, q, dc_codes, ac_codes, pred)
            mcu += 1
    w.flush()

    # SOF0: precision 8, 1 component, 1x1 sampling, quant table 0
    parts = _header_segments(
        quant, struct.pack(">BHHB", 8, height, width, 1) + bytes([1, 0x11, 0])
    )
    if restart_interval:
        parts.append(_seg(0xDD, struct.pack(">H", restart_interval)))  # DRI
    parts.append(_seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0])))  # SOS
    parts.append(bytes(w.out))
    parts.append(bytes([0xFF, 0xD9]))  # EOI
    return b"".join(parts)


def encode_jpeg_ycbcr(
    width: int,
    height: int,
    y_plane: bytes,
    cb_plane: bytes,
    cr_plane: bytes,
    sampling: tuple[int, int] = (2, 2),
    quant: list[int] | None = None,
) -> bytes:
    """Baseline 3-component interleaved YCbCr JPEG with (h, v) luma
    sampling factors — (1, 1) is 4:4:4, (2, 2) is 4:2:0, (2, 1) is
    4:2:2.  All three planes arrive FULL resolution; chroma is box-mean
    downsampled by the sampling factors here.  One quant/Huffman table
    set serves all components (legal per T.81; Annex K luminance
    tables).  This is the in-test generator exercising the decoder's
    interleaved-MCU and chroma-consume paths — the shapes real camera
    JPEGs use."""
    sh, sv = sampling
    if sh not in (1, 2, 4) or sv not in (1, 2, 4):
        raise ValueError(f"unsupported sampling factors {sampling}")
    for name, p in (("y", y_plane), ("cb", cb_plane), ("cr", cr_plane)):
        if len(p) != width * height:
            raise ValueError(f"{name} plane: need {width * height} bytes")
    quant = list(quant) if quant is not None else list(QUANT_LUMA)
    q = np.array(quant, dtype=np.float64).reshape(8, 8)
    dc_codes = _canonical_codes(DC_LUMA_BITS, DC_LUMA_VALS)
    ac_codes = _canonical_codes(AC_LUMA_BITS, AC_LUMA_VALS)

    def plane(buf: bytes) -> np.ndarray:
        return (
            np.frombuffer(bytes(buf), dtype=np.uint8)
            .reshape(height, width)
            .astype(np.float64)
        )

    def pad_to(a: np.ndarray, rows: int, cols: int) -> np.ndarray:
        return np.pad(a, ((0, rows - a.shape[0]), (0, cols - a.shape[1])),
                      mode="edge")

    def downsample(a: np.ndarray) -> np.ndarray:
        if sh == 1 and sv == 1:
            return a
        rows = (a.shape[0] + sv - 1) // sv * sv
        cols = (a.shape[1] + sh - 1) // sh * sh
        a = pad_to(a, rows, cols)
        return a.reshape(rows // sv, sv, cols // sh, sh).mean(axis=(1, 3))

    mcux = (width + 8 * sh - 1) // (8 * sh)
    mcuy = (height + 8 * sv - 1) // (8 * sv)
    yp = pad_to(plane(y_plane), mcuy * sv * 8, mcux * sh * 8) - 128.0
    chroma = [
        pad_to(downsample(plane(p)), mcuy * 8, mcux * 8) - 128.0
        for p in (cb_plane, cr_plane)
    ]

    w = _BitWriter()
    preds = [0, 0, 0]
    for my in range(mcuy):
        for mx in range(mcux):
            for bv in range(sv):
                for bh in range(sh):
                    y0 = (my * sv + bv) * 8
                    x0 = (mx * sh + bh) * 8
                    preds[0] = _write_block(
                        w, yp[y0 : y0 + 8, x0 : x0 + 8], q,
                        dc_codes, ac_codes, preds[0],
                    )
            for ci, cp in enumerate(chroma):
                preds[ci + 1] = _write_block(
                    w, cp[my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8], q,
                    dc_codes, ac_codes, preds[ci + 1],
                )
    w.flush()

    sof = struct.pack(">BHHB", 8, height, width, 3) + bytes(
        [1, (sh << 4) | sv, 0, 2, 0x11, 0, 3, 0x11, 0]
    )
    parts = _header_segments(quant, sof)
    parts.append(_seg(0xDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0])))
    parts.append(bytes(w.out))
    parts.append(bytes([0xFF, 0xD9]))
    return b"".join(parts)


class _BitReader:
    """Entropy-stream bit reader with 0xFF00 destuffing; restart markers
    are consumed only via :meth:`restart` at MCU boundaries."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        while self.nbits <= 24:
            if self.pos >= len(self.data):
                # spec: pad past the end with 1-bits (EOI handling)
                self.acc = (self.acc << 8) | 0xFF
                self.nbits += 8
                continue
            b = self.data[self.pos]
            if b == 0xFF:
                nxt = self.data[self.pos + 1] if self.pos + 1 < len(self.data) else 0xD9
                if nxt == 0x00:
                    self.pos += 2
                    self.acc = (self.acc << 8) | 0xFF
                    self.nbits += 8
                    continue
                # a real marker: stop feeding, pad with 1-bits
                self.acc = (self.acc << 8) | 0xFF
                self.nbits += 8
                continue
            self.pos += 1
            self.acc = (self.acc << 8) | b
            self.nbits += 8

    def bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        b = (self.acc >> self.nbits) & 1
        # drop the consumed bit: without this mask acc accumulates every
        # byte ever read (an entropy-stream-sized bigint) and each shift
        # degrades to O(stream) — quadratic decode on real-sized JPEGs
        self.acc &= (1 << self.nbits) - 1
        return b

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def restart(self) -> None:
        """Byte-align and consume an RSTn marker."""
        self.acc = 0
        self.nbits = 0
        while self.pos + 1 < len(self.data):
            if self.data[self.pos] == 0xFF and 0xD0 <= self.data[self.pos + 1] <= 0xD7:
                self.pos += 2
                return
            self.pos += 1
        raise ValueError("expected restart marker, hit end of scan")


def _extend(v: int, s: int) -> int:
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def _huff_decode(reader: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code in entropy stream")


def decode_jpeg_gray(payload: bytes) -> tuple[int, int, bytes]:
    """REAL baseline JPEG decode (stdlib+numpy): marker walk, DQT/DHT
    table build, Huffman entropy decode, dequantize, IDCT, level shift.
    Returns ``(width, height, gray_pixels)`` where the pixels are the
    LUMA plane (component 1 of a YCbCr image; the whole image for
    grayscale) — what the ahash pipeline consumes.  Supports
    SOF0/SOF1 with any sampling factors (chroma blocks are decoded and
    discarded) and restart intervals; progressive/arithmetic/12-bit
    raise ``ValueError`` (the quarantine signal)."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG: missing SOI marker")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    restart_interval = 0
    frame = None
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"marker desync at byte {pos}")
        marker = payload[pos + 1]
        if marker == 0xD9:
            break
        if 0xD0 <= marker <= 0xD7 or marker == 0x01:
            pos += 2
            continue
        (seglen,) = struct.unpack(">H", payload[pos + 2 : pos + 4])
        body = payload[pos + 4 : pos + 2 + seglen]
        if marker == 0xDB:  # DQT: one or more tables
            i = 0
            while i < len(body):
                prec, tid = body[i] >> 4, body[i] & 0x0F
                if prec == 0:
                    vals = list(body[i + 1 : i + 65])
                    i += 65
                else:  # 16-bit entries
                    vals = [
                        struct.unpack(">H", body[i + 1 + 2 * k : i + 3 + 2 * k])[0]
                        for k in range(64)
                    ]
                    i += 129
                nat = np.zeros(64, dtype=np.float64)
                for k in range(64):
                    nat[ZIGZAG[k]] = vals[k]
                qtables[tid] = nat.reshape(8, 8)
        elif marker == 0xC4:  # DHT: one or more tables
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0x0F
                bits = list(body[i + 1 : i + 17])
                n = sum(bits)
                vals = list(body[i + 17 : i + 17 + n])
                htables[(tc, th)] = _decode_table(bits, vals)
                i += 17 + n
        elif marker in (0xC0, 0xC1):  # baseline / extended sequential
            precision, height, width, ncomp = struct.unpack(">BHHB", body[:6])
            if precision != 8:
                raise ValueError(f"unsupported precision {precision}")
            comps = []
            for c in range(ncomp):
                cid, hv, tq = body[6 + 3 * c : 9 + 3 * c]
                h_f, v_f = hv >> 4, hv & 0x0F
                if not (1 <= h_f <= 4 and 1 <= v_f <= 4):
                    # T.81 bounds; also keeps a corrupt 0 factor from
                    # escaping as ZeroDivisionError in the MCU grid math
                    raise ValueError(f"invalid sampling factors {h_f}x{v_f}")
                comps.append({"id": cid, "h": h_f, "v": v_f, "tq": tq})
            frame = (width, height, comps)
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise ValueError(f"unsupported JPEG process (SOF{marker - 0xC0})")
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS: scan header then entropy data
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = body[0]
            scan = []
            for c in range(ns):
                cs, tt = body[1 + 2 * c : 3 + 2 * c]
                scan.append({"cs": cs, "td": tt >> 4, "ta": tt & 0x0F})
            return _decode_scan(
                payload, pos + 2 + seglen, frame, scan, qtables, htables,
                restart_interval,
            )
        pos += 2 + seglen
    raise ValueError("no SOS marker found")


def _decode_scan(payload, data_pos, frame, scan, qtables, htables,
                 restart_interval) -> tuple[int, int, bytes]:
    width, height, comps = frame
    by_id = {c["id"]: c for c in comps}
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = (width + 8 * hmax - 1) // (8 * hmax)
    mcuy = (height + 8 * vmax - 1) // (8 * vmax)
    # sanity-bound DECLARED dimensions before any allocation: a ~25-byte
    # crafted payload can carry a valid SOF announcing 65535x65535, and a
    # multi-GB np.zeros would raise MemoryError — outside the
    # (ValueError, struct.error, IndexError) quarantine contract.  Every
    # block costs at least 2 entropy bits with ANY Huffman tables
    # (shortest possible DC code + EOB); the conservative 1-bit-per-block
    # floor below is safe for all of them.
    n_blocks = mcux * mcuy * sum(c["h"] * c["v"] for c in comps)
    if n_blocks > max(0, len(payload) - data_pos) * 8:
        raise ValueError(
            f"declared frame needs {n_blocks} blocks but only "
            f"{max(0, len(payload) - data_pos)} entropy bytes remain"
        )
    if width * height > 1 << 26:  # 64 Mpx ≈ 512 MB float64 plane cap
        raise ValueError(f"frame {width}x{height} exceeds decoder pixel cap")
    # luma = first frame component; assemble only its plane
    luma_id = comps[0]["id"]
    lc = comps[0]
    plane = np.zeros((mcuy * vmax * 8, mcux * hmax * 8), dtype=np.float64)

    order = []
    for sc in scan:
        # validate every cross-reference explicitly: corrupt streams carry
        # dangling component/table ids, and a KeyError would escape the
        # (ValueError, struct.error, IndexError) quarantine contract the
        # Arrow-batch callers rely on
        c = by_id.get(sc["cs"])
        if c is None:
            raise ValueError(f"scan references unknown component {sc['cs']}")
        if c["tq"] not in qtables:
            raise ValueError(f"missing quantization table {c['tq']}")
        if (0, sc["td"]) not in htables or (1, sc["ta"]) not in htables:
            raise ValueError("missing Huffman table referenced by scan")
        order.append(
            {
                "id": c["id"], "h": c["h"], "v": c["v"],
                "q": qtables[c["tq"]],
                "dc": htables[(0, sc["td"])],
                "ac": htables[(1, sc["ta"])],
            }
        )
    if len(order) == 1 and len(comps) == 1:
        # single-component image: MCU is one block
        mcux = (width + 7) // 8
        mcuy = (height + 7) // 8
        order[0] = {**order[0], "h": 1, "v": 1}
        plane = np.zeros((mcuy * 8, mcux * 8), dtype=np.float64)
        hmax = vmax = 1
        lc = {"h": 1, "v": 1}
    elif len(order) != len(comps):
        raise ValueError("non-interleaved multi-component scan unsupported")

    reader = _BitReader(payload, data_pos)
    preds = {c["id"]: 0 for c in order}
    mcu = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu and mcu % restart_interval == 0:
                reader.restart()
                preds = {c["id"]: 0 for c in order}
            for c in order:
                for bv in range(c["v"]):
                    for bh_ in range(c["h"]):
                        flat = np.zeros(64, dtype=np.float64)
                        s = _huff_decode(reader, c["dc"])
                        diff = _extend(reader.receive(s), s) if s else 0
                        preds[c["id"]] += diff
                        flat[0] = preds[c["id"]]
                        k = 1
                        while k < 64:
                            rs = _huff_decode(reader, c["ac"])
                            r, s = rs >> 4, rs & 0x0F
                            if s == 0:
                                if r == 15:  # ZRL
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("AC coefficient overrun")
                            flat[k] = _extend(reader.receive(s), s)
                            k += 1
                        if c["id"] != luma_id:
                            continue  # chroma: decoded (stream position!) and dropped
                        nat = np.zeros(64, dtype=np.float64)
                        nat[ZIGZAG] = flat
                        block = _D.T @ (nat.reshape(8, 8) * c["q"]) @ _D
                        y0 = (my * lc["v"] + bv) * 8
                        x0 = (mx * lc["h"] + bh_) * 8
                        plane[y0 : y0 + 8, x0 : x0 + 8] = block
            mcu += 1
    out = np.clip(np.round(plane + 128.0), 0, 255).astype(np.uint8)
    return width, height, out[:height, :width].tobytes()
