"""Property-based tests (hypothesis) for the round-8 web/curation layers:
HTML strip, URL canonicalization, and the EXIF tree scrub.

The golden tests pin known cases; these pin the INVARIANTS for every
input: markup never survives extraction, tracking-param/scheme/www
variants of a URL always canonicalize to the same nurl, and strip_gps
preserves every non-GPS tag byte-semantically for arbitrary tag soups.
DuckDB evaluates the shared SQL templates per example (cheap, and the
Spark↔DuckDB template identity is pinned separately in test_html /
test_domains).
"""

import struct

import duckdb
from hypothesis import example, given, settings
from hypothesis import strategies as st

from pgferry_spark.multimodal import exif as X
from pgferry_spark.operators.domains import HOST_SQL, NURL_SQL, QCLEAN_SQL
from pgferry_spark.operators.html import html_strip_ctes

# -- HTML strip: markup never survives ---------------------------------------

words = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz0123456789 .,!?",
    min_size=0, max_size=40,
).map(str.strip)
tagname = st.text(alphabet="abcdefghijklmnopqrstuvwxyz", min_size=1, max_size=8)
attr = st.text(alphabet="abcdefghijklmnopqrstuvwxyz= '", min_size=0, max_size=15)


def _strip(s: str) -> str:
    # staged CTE form: the one-shot expression nests past DuckDB's
    # 128-deep binder cap since the round-9 charref table
    ctes, final = html_strip_ctes("src", "h", "h")
    return duckdb.sql(
        f"WITH src AS (SELECT ? AS h){ctes} SELECT clean_text FROM {final}",
        params=[s],
    ).fetchone()[0]


@settings(max_examples=150, deadline=None)
@given(st.lists(st.tuples(tagname, attr, words), min_size=1, max_size=6))
def test_no_markup_survives_extraction(parts):
    """Arbitrary well-formed tag soup (no entities, no raw '<' in text):
    after extraction no '<tag'-shaped markup remains and every text
    fragment survives in order."""
    html = "".join(f"<{t} {a}>{w}</{t}>" for t, a, w in parts)
    out = _strip(html)
    assert "<" not in out and ">" not in out
    # text content preserved in order (modulo whitespace squeeze)
    pos = 0
    for _, _, w in parts:
        wanted = " ".join(w.split())
        if wanted:
            idx = out.find(wanted, pos)
            assert idx >= 0, (wanted, out)
            pos = idx + len(wanted)


@settings(max_examples=150, deadline=None)
@given(words, tagname)
def test_unclosed_trailing_markup_always_removed(w, t):
    out = _strip(f"{w}<{t} some attr")
    assert "<" not in out


# -- URL canonicalization: variant invariance ---------------------------------

host_label = st.text(alphabet="abcdefghijklmnopqrstuvwxyz0123456789", min_size=1, max_size=8)
pathseg = st.text(alphabet="abcdefghijklmnopqrstuvwxyz0123456789", min_size=0, max_size=8)


def _nurl(url: str) -> str:
    host = HOST_SQL.format(url="u")
    qc = QCLEAN_SQL.format(url="u", g=", 'g'")
    nurl = NURL_SQL.format(url="u", host="host")
    return duckdb.sql(
        f"SELECT {nurl} FROM (SELECT *, {qc} AS __q FROM "
        f"(SELECT *, {host} AS host FROM (SELECT ? AS u)))",
        params=[url],
    ).fetchone()[0]


@settings(max_examples=200, deadline=None)
@given(
    labels=st.lists(host_label, min_size=2, max_size=3),
    path=st.lists(pathseg, min_size=0, max_size=3),
    utm=host_label,
    upper_scheme=st.booleans(),
    www=st.booleans(),
    slash=st.booleans(),
)
def test_nurl_invariant_across_crawl_variants(labels, path, utm, upper_scheme, www, slash):
    """The canonical key is identical across the variants a crawl sees:
    scheme case, www. prefix, trailing slashes, utm_* tracking params,
    and #fragments."""
    host = ".".join(labels)
    p = "/" + "/".join(s for s in path if s)
    base = f"https://{host}{p if p != '/' else ''}"
    variants = [
        base,
        base + "/" if slash else base,
        ("HTTPS://" if upper_scheme else "https://") + host + (p if p != "/" else ""),
        f"https://www.{host}{p if p != '/' else ''}" if www else base,
        base + f"?utm_source={utm}",
        base + "#somefragment",
        base + f"?utm_campaign={utm}#frag",
    ]
    nurls = {_nurl(v) for v in variants}
    assert len(nurls) == 1, (variants, nurls)


@settings(max_examples=200, deadline=None)
@given(labels=st.lists(host_label, min_size=2, max_size=3), q=host_label)
def test_nurl_preserves_real_query_params(labels, q):
    """Non-tracking params are identity-bearing and must survive."""
    host = ".".join(labels)
    a = _nurl(f"https://{host}/p?id={q}")
    b = _nurl(f"https://{host}/p")
    assert a != b


# -- EXIF scrub: arbitrary tag soups ------------------------------------------

# non-pointer, non-GPS tags with fixed-size types the encoder can carry
exif_tag = st.integers(min_value=0x0100, max_value=0x86FF).filter(
    lambda t: t not in (X.TAG_GPS_IFD, X.TAG_EXIF_IFD, X.TAG_INTEROP_IFD)
)
exif_type = st.sampled_from([2, 3, 4, 7])  # ASCII, SHORT, LONG, UNDEFINED


@st.composite
def ifd_entries(draw):
    n = draw(st.integers(min_value=1, max_value=6))
    out = []
    seen = set()
    for _ in range(n):
        tag = draw(exif_tag.filter(lambda t: t not in seen))
        seen.add(tag)
        typ = draw(exif_type)
        if typ == 3:
            cnt = draw(st.integers(min_value=1, max_value=4))
            val = b"".join(
                struct.pack("<H", draw(st.integers(0, 0xFFFF))) for _ in range(cnt)
            )
        elif typ == 4:
            cnt = draw(st.integers(min_value=1, max_value=2))
            val = b"".join(
                struct.pack("<I", draw(st.integers(0, 0xFFFFFFFF))) for _ in range(cnt)
            )
        else:  # ASCII / UNDEFINED: raw bytes, possibly > 4 (external)
            raw = draw(st.binary(min_size=1, max_size=12))
            cnt, val = len(raw), raw
        out.append((tag, typ, cnt, val, None))
    return sorted(out, key=lambda e: e[0])


@settings(max_examples=100, deadline=None)
@given(entries=ifd_entries(), with_gps=st.booleans())
def test_strip_gps_preserves_arbitrary_tag_soup(entries, with_gps):
    from pgferry_spark.multimodal.jpeg import QUANT_UNIT, encode_jpeg_gray

    e = "<"
    tree = list(entries)
    if with_gps:
        tree.append((X.TAG_GPS_IFD, 4, 1, b"", [
            X._tree_ascii(X.TAG_GPS_LAT_REF, "N"),
            (X.TAG_GPS_LAT, 5, 3, X._rational3(e, (1, 2, 3)), None),
        ]))
    tiff = b"II" + struct.pack(e + "HI", 42, 8) + X._encode_ifd_tree(e, tree, 8)
    base = encode_jpeg_gray(8, 8, bytes([9]) * 64, quant=QUANT_UNIT)
    jpeg = X.insert_exif_app1(base, tiff)

    out = X.strip_gps(jpeg)
    got = X._read_ifd_tree(e, X._find_app1_tiff(out), 8)
    want = [t for t in tree if t[0] != X.TAG_GPS_IFD]
    assert [(t, ty, c, v) for t, ty, c, v, _ in got] == [
        (t, ty, c, v) for t, ty, c, v, _ in want
    ]
    if not with_gps:
        assert out == jpeg  # byte-identical passthrough
    else:
        assert X.strip_gps(out) == out  # idempotent


# -- fuzz: the parsers must reject or parse, never hang or alloc-bomb ---------

@settings(max_examples=200, deadline=None)
@given(st.binary(min_size=0, max_size=64))
def test_exif_parser_total_on_random_bytes(blob):
    """parse_exif on arbitrary bytes: returns a dict or None, or raises
    ValueError — never an unbounded allocation, hang, or other
    exception class (the allocation-bound contract)."""
    for payload in (blob, b"\xff\xd8" + blob):
        try:
            out = X.parse_exif(payload)
            assert out is None or isinstance(out, dict)
        except ValueError:
            pass
        try:
            out = X.strip_gps(payload)
            assert isinstance(out, bytes)
        except ValueError:
            pass


@settings(max_examples=150, deadline=None)
@given(st.text(min_size=0, max_size=120))
def test_strip_normalization_contract_on_random_text(s):
    """html_strip on ARBITRARY unicode text: never errors, and the
    output honors the normalization contract — no tabs, no double
    spaces, no spaces adjacent to newlines, no blank lines, trimmed
    ends."""
    out = _strip(s)
    assert "\t" not in out and "\r" not in out
    assert "  " not in out
    assert " \n" not in out and "\n " not in out
    assert "\n\n" not in out
    # contract covers space/tab/CR/LF; exotic unicode spaces pass through
    assert out == out.strip(" \t\n\r")


# -- fuzz: every binary media parser is total on random bytes -----------------

@settings(max_examples=150, deadline=None)
@given(st.binary(min_size=0, max_size=96))
@example(blob=b"\xff\xc0\x00\x00")  # a JPEG SOF marker cut short
def test_media_parsers_total_on_random_bytes(blob):
    """Every multimodal parser either parses or raises ValueError on
    arbitrary bytes — never hangs, never allocates unbounded, never
    leaks another exception class. The same contract the EXIF parser
    carries, swept across the codecs."""
    from pgferry_spark.multimodal import ops as M
    from pgferry_spark.multimodal.mp4 import parse_mp4_samples

    parsers = [
        M.parse_png_meta, M.parse_wav_meta, M.parse_jpeg_meta,
        M.parse_mp4_meta, M.parse_wav_data_range, parse_mp4_samples,
    ]
    # raw garbage + garbage behind each format's magic
    prefixes = [
        b"", b"\x89PNG\r\n\x1a\n", b"RIFF", b"\xff\xd8",
        struct.pack(">I", 24) + b"ftypisom",
    ]
    for prefix in prefixes:
        payload = prefix + blob
        for parse in parsers:
            try:
                out = parse(payload)
                assert out is None or isinstance(out, (dict, list))
            except ValueError:
                pass


# -- WARC framing: round-trip + totality (round 9) ----------------------------

payload_bytes = st.binary(min_size=0, max_size=64)
uri_text = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz0123456789/.:-", min_size=1,
    max_size=24,
)


@settings(max_examples=150, deadline=None)
@given(st.lists(st.tuples(uri_text, payload_bytes), min_size=1, max_size=5))
def test_warc_roundtrip_arbitrary_payloads(recs):
    """encode → index → range-read recovers every payload byte-exactly
    (including empty payloads and payloads containing CRLFCRLF — the
    framing is length-delimited, not sentinel-delimited), and records
    tile the container."""
    from pgferry_spark.sources import warc as W

    records = [
        {"type": "response", "record_id": f"urn:uuid:{i}",
         "uri": u, "payload": p}
        for i, (u, p) in enumerate(recs)
    ]
    blob = W.encode_warc(records)
    idx = W.parse_warc_index(blob)
    assert len(idx) == len(records)
    pos = 0
    for meta, rec in zip(idx, records):
        assert meta["rec_offset"] == pos
        pos += meta["rec_len"]
        got = W.warc_range_read(
            blob, meta["payload_offset"], meta["payload_len"]
        )
        assert got == rec["payload"]
        assert meta["target_uri"] == rec["uri"]
    assert pos == len(blob)


@settings(max_examples=200, deadline=None)
@given(st.binary(min_size=0, max_size=96), st.integers(0, 200))
def test_warc_parser_total_on_random_bytes_and_truncations(blob, cut):
    """parse_warc_index on arbitrary bytes (raw, behind the record
    magic, and on truncations of a VALID container) either parses or
    raises ValueError — never hangs, never allocates past the payload,
    never leaks another exception class."""
    from pgferry_spark.sources import warc as W

    valid = W.encode_warc(
        [{"type": "response", "record_id": "urn:uuid:1",
          "uri": "https://x.org/a", "payload": b"hello world"}]
    )
    for payload in (blob, b"WARC/1.0\r\n" + blob, valid[:cut]):
        try:
            out = W.parse_warc_index(payload)
            assert isinstance(out, list)
        except ValueError:
            pass


@settings(max_examples=150, deadline=None)
@given(st.lists(st.tuples(uri_text, payload_bytes), min_size=1, max_size=5))
def test_warc_gzip_roundtrip_arbitrary_payloads(recs):
    """Round 10: encode_warc_gz → member walk → member-read + slice
    recovers every payload byte-exactly through the deflate round-trip;
    members tile the container; the index dicts carry the member byte
    ranges."""
    from pgferry_spark.sources import warc as W

    records = [
        {"type": "response", "record_id": f"urn:uuid:{i}",
         "uri": u, "payload": p}
        for i, (u, p) in enumerate(recs)
    ]
    blob = W.encode_warc_gz(records)
    idx = W.parse_warc_gz_index(blob)
    assert len(idx) == len(records)
    pos = 0
    for meta, rec in zip(idx, records):
        assert meta["rec_offset"] == pos
        pos += meta["rec_len"]
        rec_bytes = W.warc_member_read(
            blob, meta["rec_offset"], meta["rec_len"]
        )
        got = rec_bytes[
            meta["payload_offset"]
            : meta["payload_offset"] + meta["payload_len"]
        ]
        assert got == rec["payload"]
        assert meta["target_uri"] == rec["uri"]
    assert pos == len(blob)


@settings(max_examples=200, deadline=None)
@given(st.binary(min_size=0, max_size=96), st.integers(0, 250))
def test_warc_gzip_parser_total_on_random_bytes_and_truncations(blob, cut):
    """parse_warc_gz_index on arbitrary bytes (raw, behind the member
    magic, and on truncations of a VALID member container) either
    parses or raises ValueError — never hangs, never inflates past the
    allocation cap, never leaks zlib.error."""
    from pgferry_spark.sources import warc as W

    valid = W.encode_warc_gz(
        [{"type": "response", "record_id": "urn:uuid:1",
          "uri": "https://x.org/a", "payload": b"hello world"}]
    )
    for payload in (blob, b"\x1f\x8b" + blob, valid[:cut]):
        try:
            out = W.parse_warc_gz_index(payload)
            assert isinstance(out, list)
        except ValueError:
            pass


# -- RFC 9309 pattern translation: cross-engine equivalence (round 10) --------

_rule_path = st.text(
    alphabet="abc/.*$?+()[]{}|^%7e2f-_",
    min_size=1, max_size=16,
).map(lambda s: "/" + s)
_url_path = st.text(
    alphabet="abc/.~e27f-_?", min_size=0, max_size=20,
).map(lambda s: "/" + s)


@settings(max_examples=150, deadline=None)
@given(_rule_path, _url_path)
def test_robots_pattern_translation_identical_both_engines(rule, path):
    """robots_pattern_sql + the pct-decode chain evaluate to the SAME
    pattern text on both engines, and the match verdict agrees between
    DuckDB/RE2 and Python's re (the Java-regex stand-in used off-JVM) —
    metachars in rule paths stay literal, '*' and trailing '$' keep
    their RFC meaning, and %-decode commutes."""
    import re as _re

    from pgferry_spark.operators.domains import (
        n_pct_chunks,
        pct_chunk_sql,
        pct_flag_sql,
        robots_pattern_sql,
    )

    def _norm_expr(col):
        x = col
        for i in range(n_pct_chunks()):
            x = f"({pct_chunk_sql(x, pct_flag_sql(x), i)})"
        return x

    expr = robots_pattern_sql(_norm_expr("r"))
    pat, npath = duckdb.sql(
        f"SELECT {expr}, {_norm_expr('p')} FROM (SELECT ? AS r, ? AS p)",
        params=[rule.lower(), path.lower()],
    ).fetchone()
    # RE2 verdict (DuckDB) == Python-re verdict on the same pattern
    duck = duckdb.sql(
        "SELECT regexp_matches(?, ?)", params=[npath, pat]
    ).fetchone()[0]
    assert duck == bool(_re.search(pat, npath))
    # plain rules (no metachars after normalization) degrade to exact
    # prefix semantics
    core = pat[1:]
    if not any(c in core for c in ".*$+?()[]{}|\\"):
        assert duck == npath.startswith(core)


# -- WET/WAT sidecar framing + mojibake repair (round 10, second wave) --------

doc_text = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz é✓.,\n", min_size=0, max_size=48,
)


@settings(max_examples=100, deadline=None)
@given(st.lists(st.tuples(uri_text, doc_text), min_size=1, max_size=5),
       st.integers(0, 10**9))
def test_wet_container_roundtrip_arbitrary_docs(docs, cid):
    """encode_wet → parse recovers every conversion payload byte-exactly;
    the warcinfo leader is always record 0 with the pinned manifest; the
    Refers-To pointer always addresses the source capture id."""
    from pgferry_spark.sources import warc as W

    ds = [{"doc_id": i, "uri": u, "text": t}
          for i, (u, t) in enumerate(docs)]
    blob = W.encode_wet(cid, ds)
    idx = W.parse_warc_index(blob)
    assert idx[0]["warc_type"] == "warcinfo"
    assert idx[0]["record_id"] == f"urn:uuid:info-{cid}"
    body = W.warc_range_read(
        blob, idx[0]["payload_offset"], idx[0]["payload_len"]
    )
    assert body == W.WET_INFO_PAYLOAD
    for meta, d in zip(idx[1:], ds):
        assert meta["warc_type"] == "conversion"
        assert meta["refers_to"] == f"urn:uuid:{d['doc_id']}"
        got = W.warc_range_read(
            blob, meta["payload_offset"], meta["payload_len"]
        )
        assert got.decode("utf-8") == d["text"]


@settings(max_examples=100, deadline=None)
@given(st.lists(st.tuples(uri_text, uri_text), min_size=1, max_size=5),
       st.integers(0, 10**9))
def test_wat_container_roundtrip_arbitrary_envelopes(docs, cid):
    from pgferry_spark.sources import warc as W

    ds = [{"doc_id": i, "uri": u, "wat_json": f'{{"u":"{u}","x":"{x}"}}'}
          for i, (u, x) in enumerate(docs)]
    blob = W.encode_wat(cid, ds)
    idx = W.parse_warc_index(blob)
    assert idx[0]["warc_type"] == "warcinfo"
    for meta, d in zip(idx[1:], ds):
        assert meta["warc_type"] == "metadata"
        assert meta["record_id"] == f"urn:uuid:meta-{d['doc_id']}"
        got = W.warc_range_read(
            blob, meta["payload_offset"], meta["payload_len"]
        )
        assert got.decode("utf-8") == d["wat_json"]


ascii_clean = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126,
                           exclude_characters="'"),
    min_size=0, max_size=48,
)


@settings(max_examples=100, deadline=None)
@given(ascii_clean)
def test_mojibake_repair_identity_on_clean_ascii_both_engines(s):
    """Pure-ASCII text carries none of the three lead chars, so the
    gated repair is the byte identity (DuckDB leg; the Spark leg shares
    the identical SQL string by construction, and the oracle-green
    entries pin the cross-engine agreement)."""
    import duckdb

    from pgferry_spark.operators.encoding import mojibake_repair_sql

    con = duckdb.connect()
    out = con.execute(
        f"SELECT {mojibake_repair_sql('t')} FROM (SELECT ? AS t)", [s]
    ).fetchone()[0]
    assert out == s


@settings(max_examples=100, deadline=None)
@given(ascii_clean, ascii_clean)
def test_mojibake_repair_recovers_every_table_target(prefix, suffix):
    """For EVERY table entry: corrupt(target) embedded in arbitrary
    clean ASCII repairs back to the target (DuckDB leg; the Spark leg
    shares the identical SQL string by construction, and the
    oracle-green entries pin the cross-engine agreement)."""
    import duckdb

    from pgferry_spark.operators.encoding import (
        MOJIBAKE_PAIRS,
        mojibake_repair_sql,
    )

    con = duckdb.connect()
    sql = mojibake_repair_sql("t")
    for moji, ch in MOJIBAKE_PAIRS[:6] + MOJIBAKE_PAIRS[-6:]:
        s = prefix + moji + suffix
        out = con.execute(
            f"SELECT {sql} FROM (SELECT ? AS t)", [s]
        ).fetchone()[0]
        assert out == prefix + ch + suffix, (moji, ch, out)


@settings(max_examples=60, deadline=None)
@given(st.lists(st.tuples(uri_text, doc_text), min_size=1, max_size=4),
       st.integers(0, 10**9))
def test_wet_gzip_members_roundtrip(docs, cid):
    """The .warc.wet.gz transport: every record (leader included) is
    its own deflate member; the member walk recovers each conversion
    payload byte-exactly and the member ranges tile the container."""
    from pgferry_spark.sources import warc as W

    ds = [{"doc_id": i, "uri": u, "text": t}
          for i, (u, t) in enumerate(docs)]
    blob = W.encode_wet(cid, ds, gzip_members=True)
    idx = W.parse_warc_gz_index(blob)
    assert idx[0]["warc_type"] == "warcinfo"
    assert [r["warc_type"] for r in idx[1:]] == ["conversion"] * len(ds)
    pos = 0
    for meta in idx:
        assert meta["rec_offset"] == pos
        rec = W.warc_member_read(blob, meta["rec_offset"], meta["rec_len"])
        pay = rec[meta["payload_offset"]:
                  meta["payload_offset"] + meta["payload_len"]]
        if meta["warc_type"] == "conversion":
            i = int(meta["record_id"].rsplit("-", 1)[-1])
            assert pay.decode("utf-8") == ds[i]["text"]
        pos += meta["rec_len"]
    assert pos == len(blob)


@settings(max_examples=300, deadline=None)
@given(st.binary(max_size=2048), st.text(max_size=20))
def test_sniff_charset_total_and_lawful(blob, header):
    """Totality + invariants of the WHATWG-lite sniff (round 13): any
    (header, bytes) pair resolves without raising; the source names a
    real precedence arm; bom_len is nonzero exactly on the bom arm and
    its bytes really are a BOM; a non-empty header can only lose to a
    BOM; the label is always lowercase."""
    from pgferry_spark.sources.httpmsg import sniff_charset

    label, source, bom_len = sniff_charset(header, blob)
    assert source in ("bom", "header", "meta", "default")
    if source != "header":
        # bom/meta/default labels are produced lowercased; the header
        # arm passes the caller's value through (split_content_type
        # already lowercased it on the real path)
        assert label == label.lower()
    if source == "bom":
        assert bom_len in (2, 3)
        assert blob[:bom_len] in (b"\xef\xbb\xbf", b"\xff\xfe", b"\xfe\xff")
    else:
        assert bom_len == 0
    if header and source not in ("bom",):
        assert (label, source) == (header, "header")
    if source == "default":
        assert label == ""


@settings(max_examples=300, deadline=None)
@given(st.binary(max_size=1500))
def test_sniff_meta_prescan_total_and_bounded(blob):
    """The meta prescan never raises on byte soup and never reads past
    the 1024-byte bound (a declaration planted just past it is
    invisible regardless of the soup before it)."""
    from pgferry_spark.sources.httpmsg import sniff_meta_charset

    sniff_meta_charset(blob)  # total
    planted = blob[:1024].ljust(1024, b" ") + b"<meta charset=koi8-r>"
    got = sniff_meta_charset(planted)
    # only a declaration already inside the first 1024 bytes may win
    if got == "koi8-r":
        assert b"charset" in blob[:1024].lower()


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=40), st.binary(max_size=200))
def test_payload_digest_matches_total_and_sound(declared, body):
    """Digest verification is total on arbitrary declarations and only
    ever True when the named algorithm really reproduces the value."""
    import base64
    import hashlib

    from pgferry_spark.sources.warc import payload_digest_matches

    ok = payload_digest_matches(declared, body)
    if ok:
        algo, _, val = declared.partition(":")
        algo, val = algo.strip().lower(), val.strip()
        if algo == "md5":
            assert val.lower() == hashlib.md5(body).hexdigest()
        else:
            assert algo == "sha1"
            h = hashlib.sha1(body)
            assert val.upper() == base64.b32encode(
                h.digest()
            ).decode() or val.lower() == h.hexdigest()
