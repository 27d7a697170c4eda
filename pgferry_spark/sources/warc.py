"""WARC-style crawl-container record indexing (ISO 28500 geometry).

The round-8 crawl stack (HTML→text, URL gates, link graph, snapshot
merge) ingests pre-split documents; a real 100 TB crawl arrives as
CONCATENATED record containers — WARC files — where each record is a
header block plus a Content-Length-delimited payload.  The operator a
scale ingest needs first is the **record index**: (offset, length) per
record so any downstream task can fetch one document with a bounded
range read instead of scanning the container (the
``video_frame_index`` geometry, applied to text archives — see
``multimodal/ops.py:729``).

This module implements the real byte format, pure stdlib:

* :func:`encode_warc` — concatenate records into a container: per
  record a ``WARC/1.0`` version line, ``WARC-Type`` /
  ``WARC-Record-ID`` / ``WARC-Target-URI`` / ``WARC-Date`` /
  ``Content-Length`` headers, CRLF-CRLF separator, the payload, and
  the spec's two trailing CRLFs;
* :func:`parse_warc_index` — walk the container record by record:
  header block bounded-scanned to its CRLF-CRLF end, header names
  case-insensitive, every declared ``Content-Length`` validated
  against the remaining container BEFORE any slice (the mp4.py
  allocation-bound lesson), trailing CRLF-CRLF enforced;
* :func:`attach_warc` — deterministic container synthesis for the
  container-less test corpus (the ``attach_html``/``attach_urls``
  pattern): documents grouped ``docs_per_container`` at a time in
  doc_id order, each container built by :func:`encode_warc` from the
  shared URL synthesis;
* :func:`warc_record_index` — the Spark operator: one index row per
  record with exact record/payload byte ranges, produced by REAL
  parsing inside Arrow batches (``mapInPandas``).

Round 10 closes the gzip boundary: per-record gzip members — the
actual CommonCrawl transport framing, one deflate member per record —
encode, index and extract through the same operators (stdlib ``zlib``,
no new dependency).  :func:`warc_record_index` /
:func:`warc_payload_extract` detect the ``1f 8b`` member magic per
container and switch to the member walk: ``rec_offset``/``rec_len``
then address the COMPRESSED member (the unit a ranged GET fetches)
while ``payload_offset``/``payload_len`` address within the INFLATED
record (the slice after :func:`warc_member_read` inflates it).  Every
member's uncompressed size is capped (``_MAX_MEMBER_OUT``) BEFORE
allocation — a 100-byte bomb member cannot OOM an executor — and a
member must contain exactly one record, per the WARC application
guideline.

Scale posture: container bytes never leave the executor — the index is
the only shuffled artifact (runs of ~100-byte rows vs multi-GB
containers).  Parsing is a single forward walk, O(container), and each
container is touched exactly once; the payload fetch that follows at
100 TB is offset-addressed, which is the point.

Oracle form: every byte offset is a closed-form function of the
(doc_id, url, text) fields — fixed header template + digit lengths +
payload octet length — so the DuckDB twin replays the arithmetic with
a cumulative window over doc order, and a hash-green row means the
real parser and the arithmetic agree to the byte.
"""

from __future__ import annotations

import zlib
from typing import Iterator

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

_CRLF = b"\r\n"
# fixed capture date: synthesis determinism (real ingest parses whatever
# the record carries — see parse_warc_index, which keeps the raw value)
WARC_DATE = "2026-01-01T00:00:00Z"
_MAX_RECORDS = 1_000_000  # sanity cap: a container holds thousands, not 2^32
_GZ_MAGIC = b"\x1f\x8b"
# allocation bound for one inflated member: a crafted 100-byte member can
# declare gigabytes of output; cap BEFORE the bytes exist (mp4.py lesson).
# 64 MiB >> any sane single crawl record.
_MAX_MEMBER_OUT = 64 * 1024 * 1024


def encode_warc(records: list[dict]) -> bytes:
    """Build a container from ``[{"type", "record_id", "uri", "date",
    "payload"(bytes)}, ...]`` — the ISO 28500 record framing.  Optional
    keys ``refers_to`` (WARC-Refers-To — the record id of the original
    capture) and ``payload_digest`` (WARC-Payload-Digest) emit the two
    headers a REVISIT record carries (ISO 28500 §6.7.2: a re-fetch
    whose payload is unchanged stores a small pointer record instead of
    the payload again — crawl-time storage dedup); optional
    ``content_type`` emits the record Content-Type header (round 11:
    ``application/http; msgtype=response`` marks a payload carrying a
    full HTTP message — see :mod:`.httpmsg`)."""
    out = []
    for r in records:
        payload = r["payload"]
        extra = ""
        if r.get("content_type"):
            extra += f"Content-Type: {r['content_type']}\r\n"
        if r.get("concurrent_to"):
            extra += f"WARC-Concurrent-To: <{r['concurrent_to']}>\r\n"
        if r.get("refers_to"):
            extra += f"WARC-Refers-To: <{r['refers_to']}>\r\n"
        if r.get("payload_digest"):
            extra += f"WARC-Payload-Digest: {r['payload_digest']}\r\n"
        if r.get("profile"):
            extra += f"WARC-Profile: {r['profile']}\r\n"
        if r.get("truncated"):
            # ISO 28500 §5.13: the capture was cut (length policy,
            # timeout, disconnect); Content-Length reflects the STORED
            # (cut) payload, this header names the reason
            extra += f"WARC-Truncated: {r['truncated']}\r\n"
        head = (
            "WARC/1.0\r\n"
            f"WARC-Type: {r['type']}\r\n"
            f"WARC-Record-ID: <{r['record_id']}>\r\n"
            f"WARC-Target-URI: {r['uri']}\r\n"
            f"WARC-Date: {r.get('date', WARC_DATE)}\r\n"
            f"{extra}"
            f"Content-Length: {len(payload)}\r\n"
            "\r\n"
        ).encode("utf-8")
        out.append(head + payload + _CRLF + _CRLF)
    return b"".join(out)


def parse_warc_index(container: bytes) -> list[dict]:
    """One dict per record: ``record_no, rec_offset, rec_len,
    payload_offset, payload_len, warc_type, target_uri, warc_date``.
    Every declared length is validated against the container BEFORE
    slicing; malformed framing raises ValueError."""
    out: list[dict] = []
    pos = 0
    n = len(container)
    while pos < n:
        if len(out) >= _MAX_RECORDS:
            raise ValueError("container declares too many records")
        if container[pos : pos + 5] != b"WARC/":
            raise ValueError(f"bad record magic at {pos}")
        head_end = container.find(_CRLF + _CRLF, pos)
        if head_end < 0 or head_end - pos > 64 * 1024:
            raise ValueError(f"unterminated/oversized header block at {pos}")
        headers: dict[str, str] = {}
        for line in container[pos:head_end].split(_CRLF)[1:]:
            name, _, value = line.partition(b":")
            headers[name.decode("utf-8", "replace").strip().lower()] = (
                value.decode("utf-8", "replace").strip()
            )
        try:
            clen = int(headers["content-length"])
        except (KeyError, ValueError):
            raise ValueError(f"record at {pos}: bad/missing Content-Length")
        payload_off = head_end + 4
        rec_end = payload_off + clen + 4  # payload + two trailing CRLFs
        if clen < 0 or rec_end > n:
            raise ValueError(
                f"record at {pos}: Content-Length {clen} beyond container"
            )
        if container[payload_off + clen : rec_end] != _CRLF + _CRLF:
            raise ValueError(f"record at {pos}: missing trailing CRLFCRLF")
        out.append(
            {
                "record_no": len(out),
                "rec_offset": pos,
                "rec_len": rec_end - pos,
                "payload_offset": payload_off,
                "payload_len": clen,
                "warc_type": headers.get("warc-type", ""),
                "target_uri": headers.get("warc-target-uri", ""),
                "warc_date": headers.get("warc-date", ""),
                "record_id": headers.get("warc-record-id", "").strip("<>"),
                "refers_to": headers.get("warc-refers-to", "").strip("<>"),
                "payload_digest": headers.get("warc-payload-digest", ""),
                "content_type": headers.get("content-type", ""),
                "profile": headers.get("warc-profile", ""),
                "concurrent_to": headers.get(
                    "warc-concurrent-to", ""
                ).strip("<>"),
                "warc_truncated": headers.get("warc-truncated", ""),
            }
        )
        pos = rec_end
    return out


def payload_digest_matches(declared: str, body: bytes) -> bool:
    """Verify an ISO 28500 §5.9 ``WARC-Payload-Digest`` value against
    the given body bytes, speaking BOTH conventions real archives use
    (round 13, read compat): this repo's ``md5:<hex>`` and the
    official CommonCrawl/warcio spelling ``sha1:<RFC 4648 base32>``
    (hex sha1 also accepted — wget emits it).  Unknown algorithms and
    empty declarations verify False — absence of proof, not proof."""
    import base64
    import hashlib

    algo, sep, val = declared.partition(":")
    if not sep or not val:
        return False
    algo = algo.strip().lower()
    val = val.strip()
    if algo == "md5":
        return val.lower() == hashlib.md5(body).hexdigest()
    if algo == "sha1":
        h = hashlib.sha1(body)
        return (
            val.upper() == base64.b32encode(h.digest()).decode()
            or val.lower() == h.hexdigest()
        )
    return False


def encode_warc_gz(records: list[dict]) -> bytes:
    """CommonCrawl transport framing: each record individually deflated
    as one gzip MEMBER, members concatenated.  ``mtime=0`` pins the
    member header so synthesis is deterministic."""
    import gzip

    return b"".join(
        gzip.compress(encode_warc([r]), compresslevel=6, mtime=0)
        for r in records
    )


def _iter_warc_gz_members(
    container: bytes,
) -> Iterator[tuple[dict, bytes]]:
    """Walk concatenated gzip members: yields (index_dict, inflated
    record bytes) per member.  ``rec_offset``/``rec_len`` are the
    COMPRESSED member's byte range (the ranged-GET unit);
    ``payload_offset``/``payload_len`` address within the inflated
    record.  Inflation is capped at ``_MAX_MEMBER_OUT`` before any
    allocation; a member must hold exactly one record."""
    pos = 0
    n = len(container)
    count = 0
    while pos < n:
        if count >= _MAX_RECORDS:
            raise ValueError("container declares too many members")
        if container[pos : pos + 2] != _GZ_MAGIC:
            raise ValueError(f"bad gzip member magic at {pos}")
        d = zlib.decompressobj(wbits=31)
        try:
            rec_bytes = d.decompress(container[pos:], _MAX_MEMBER_OUT)
        except zlib.error as exc:
            raise ValueError(f"member at {pos}: corrupt deflate ({exc})")
        if not d.eof:
            raise ValueError(
                f"member at {pos}: truncated or inflates past "
                f"{_MAX_MEMBER_OUT} bytes"
            )
        consumed = (n - pos) - len(d.unused_data)
        recs = parse_warc_index(rec_bytes)
        if len(recs) != 1:
            raise ValueError(
                f"member at {pos} holds {len(recs)} records (expected 1)"
            )
        rec = dict(recs[0])
        rec["record_no"] = count
        rec["rec_offset"] = pos
        rec["rec_len"] = consumed
        yield rec, rec_bytes
        pos += consumed
        count += 1


def parse_warc_gz_index(container: bytes) -> list[dict]:
    """Index of a gzip-member container (same dict shape as
    :func:`parse_warc_index`; see :func:`_iter_warc_gz_members` for the
    offset semantics)."""
    return [rec for rec, _ in _iter_warc_gz_members(container)]


def _iter_records_with_payloads(
    blob: bytes,
) -> Iterator[tuple[dict, bytes]]:
    """Unified record walk: dispatch on the gzip member magic so the
    index/extract operators serve both transport framings with one
    code path."""
    if blob[:2] == _GZ_MAGIC:
        for rec, rec_bytes in _iter_warc_gz_members(blob):
            yield rec, rec_bytes[
                rec["payload_offset"]
                : rec["payload_offset"] + rec["payload_len"]
            ]
    else:
        for rec in parse_warc_index(blob):
            yield rec, blob[
                rec["payload_offset"]
                : rec["payload_offset"] + rec["payload_len"]
            ]


def container_grouped(df: DataFrame, cid_col: str = "__cid"):
    """``groupBy(container id)`` for the per-container Python build,
    with the build stage's parallelism pinned (round 14 optimization,
    guide §2.5): AQE's byte-based partition coalescing cannot see
    per-row PYTHON cost, and on the tiny-bytes container-id shuffle it
    was measured collapsing the build to ONE partition at the bench
    SFs — every container encoded serially on one core, the dominant
    cost of the whole WARC entry family.  A user-specified
    ``repartition(n, key)`` is exempt from AQE coalescing and the
    ``groupBy`` on the same key reuses the partitioning (no second
    exchange), so the build keeps cluster-wide parallelism at any
    scale; ``n = defaultParallelism`` is cluster-adaptive, not a local
    constant, and group size (not partition size) bounds task memory
    because FlatMapGroupsInPandas streams one group at a time."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, cid_col).groupBy(cid_col)


def attach_warc(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    docs_per_container: int = 8,
    gzip_members: bool = False,
    url_col: str = "url",
) -> DataFrame:
    """Deterministic containers for the container-less test corpus:
    documents grouped ``docs_per_container`` at a time by
    ``id // docs_per_container`` (ascending id within a container),
    each encoded with :func:`encode_warc` over the shared URL synthesis
    (``df`` must already carry ``url_col`` — attach_urls or real crawl
    columns).  Returns ``(container_id, container)`` — one row per
    container, payload built executor-side via applyInPandas (grouped
    by the container key: one shuffle of the raw docs, the same bytes
    any ingest would move once)."""
    schema = StructType(
        [
            StructField("container_id", LongType(), False),
            StructField("container", BinaryType(), False),
        ]
    )

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col)
        recs = [
            {
                "type": "response",
                "record_id": f"urn:uuid:{int(i)}",
                "uri": u,
                "payload": t.encode("utf-8"),
            }
            for i, u, t in zip(pdf[id_col], pdf[url_col], pdf[text_col])
        ]
        enc = encode_warc_gz if gzip_members else encode_warc
        return pd.DataFrame(
            {
                "container_id": [int(pdf["__cid"].iloc[0])],
                "container": [enc(recs)],
            }
        )

    return container_grouped(
        # integer division (div), not a double cast: a 64-bit doc id
        # past 2^53 would lose precision through the float path
        df.withColumn(
            "__cid", F.expr(f"{id_col} div {docs_per_container}")
        )
        .select("__cid", id_col, url_col, text_col)
    ).applyInPandas(build, schema=schema)


def attach_warc_revisits(
    df: DataFrame,
    id_col: str = "capture_id",
    text_col: str = "text",
    url_col: str = "url",
    docs_per_container: int = 8,
) -> DataFrame:
    """Containers with ISO 28500 REVISIT records — crawl-time storage
    dedup, the way real archives avoid re-storing identical payloads:
    per payload digest the FIRST capture (min capture id, corpus-wide)
    stores a full ``response`` record; every later identical capture
    stores a small ``revisit`` record carrying WARC-Refers-To (the
    keeper's record id) + WARC-Payload-Digest and NO payload.

    Scale shape: the keeper election is ONE map-side-combinable
    aggregate on the 16-byte digest (the exact-dedup shuffle) + a slim
    digest equi-join back; the container build then groups captures
    exactly like :func:`attach_warc` — the bytes that never get written
    are the point."""
    schema = StructType(
        [
            StructField("container_id", LongType(), False),
            StructField("container", BinaryType(), False),
        ]
    )
    keyed = df.select(
        F.col(id_col), F.col(url_col).alias("__url"),
        F.col(text_col).alias("__text"),
    ).withColumn("__dig", F.md5(F.col("__text")))
    keepers = keyed.groupBy("__dig").agg(F.min(id_col).alias("__keeper"))
    marked = keyed.join(keepers, "__dig")

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col)
        recs = []
        for cid, url, text, dig, keeper in zip(
            pdf[id_col], pdf["__url"], pdf["__text"], pdf["__dig"],
            pdf["__keeper"],
        ):
            cid, keeper = int(cid), int(keeper)
            if cid == keeper:
                recs.append(
                    {
                        "type": "response",
                        "record_id": f"urn:uuid:{cid}",
                        "uri": url,
                        "payload": text.encode("utf-8"),
                    }
                )
            else:
                recs.append(
                    {
                        "type": "revisit",
                        "record_id": f"urn:uuid:{cid}",
                        "uri": url,
                        "payload": b"",
                        "refers_to": f"urn:uuid:{keeper}",
                        "payload_digest": f"md5:{dig}",
                    }
                )
        return pd.DataFrame(
            {
                "container_id": [int(pdf["__cid"].iloc[0])],
                "container": [encode_warc(recs)],
            }
        )

    return container_grouped(
        marked.withColumn(
            "__cid", F.expr(f"{id_col} div {docs_per_container}")
        )
    ).applyInPandas(build, schema=schema)


_RESOLVE_SCAN_SCHEMA = StructType(
    [
        StructField("capture_id", LongType(), False),
        StructField("target_uri", StringType(), True),
        StructField("warc_type", StringType(), True),
        StructField("digest", StringType(), True),
        StructField("text", StringType(), True),
    ]
)


def warc_revisit_resolve(df: DataFrame) -> DataFrame:
    """Extraction with revisit RESOLUTION: one Arrow pass per container
    emits response rows WITH their text + digest and revisit rows with
    the WARC-Payload-Digest they point at; a digest equi-join of the
    slim revisit rows to the stored-copy rows rehydrates each revisit
    from the single kept payload.  Returns ``(capture_id, target_uri,
    is_revisit, text)`` for EVERY capture.

    Scale shape: containers are read ONCE and never shuffle (one
    MapInPandas, plan-pinned — a join back to a keeper projection would
    recompute the scan on its second branch and parse every container
    twice); the resolution is one digest-keyed exchange of the slim
    scan rows where only the single stored copy per digest carries
    text, and the keeper's text propagates to its revisits as a
    per-digest window max (at cluster scale the same digest lookup
    yields the keeper's (container, offset, length) instead and
    rehydration is a bounded range read — :func:`warc_range_read`)."""
    import hashlib

    from pyspark.sql.window import Window

    from ..utils import fan_out

    base = fan_out(df, "container_id")

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {
                f.name: [] for f in _RESOLVE_SCAN_SCHEMA
            }
            for blob in pdf["container"]:
                blob = bytes(blob)
                for rec, payload in _iter_records_with_payloads(blob):
                    cap = int(rec["record_id"].rsplit(":", 1)[-1])
                    rows["capture_id"].append(cap)
                    rows["target_uri"].append(rec["target_uri"])
                    rows["warc_type"].append(rec["warc_type"])
                    if rec["warc_type"] == "revisit":
                        rows["digest"].append(
                            rec["payload_digest"].split(":", 1)[-1]
                        )
                        rows["text"].append(None)
                    else:
                        rows["digest"].append(
                            hashlib.md5(payload).hexdigest()
                        )
                        rows["text"].append(payload.decode("utf-8"))
            yield pd.DataFrame(rows)

    scanned = base.mapInPandas(scan, schema=_RESOLVE_SCAN_SCHEMA)
    ktext = F.max("text").over(Window.partitionBy("digest"))
    return scanned.select(
        "capture_id",
        "target_uri",
        (F.col("warc_type") == "revisit").alias("is_revisit"),
        F.coalesce("text", ktext).alias("text"),
    )


_INDEX_SCHEMA = StructType(
    [
        StructField("container_id", LongType(), False),
        StructField("record_no", IntegerType(), False),
        StructField("rec_offset", LongType(), False),
        StructField("rec_len", LongType(), False),
        StructField("payload_offset", LongType(), False),
        StructField("payload_len", LongType(), False),
        StructField("payload_md5", StringType(), False),
        StructField("warc_type", StringType(), True),
        StructField("target_uri", StringType(), True),
    ]
)


def warc_record_index(df: DataFrame) -> DataFrame:
    """The crawl-ingest record index: one row per record with its EXACT
    byte ranges, parsed from real container bytes inside Arrow batches.
    ``df`` is ``(container_id, container)``.  At 100 TB this is what
    turns "re-extract document k of a 1 GB WARC" into one bounded
    range read per task; the index rows are the only shuffled bytes.
    ``payload_md5`` is computed in the SAME pass (the bytes are already
    in cache), which makes the index dedup-capable BEFORE any
    extraction: an exact-dup crawl capture is one fingerprint
    anti-join away, never a second container read."""
    import hashlib

    from ..utils import fan_out

    df = fan_out(df, "container_id")

    def index(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {f.name: [] for f in _INDEX_SCHEMA}
            for cid, blob in zip(pdf["container_id"], pdf["container"]):
                blob = bytes(blob)
                for rec, payload in _iter_records_with_payloads(blob):
                    rows["container_id"].append(int(cid))
                    rows["record_no"].append(rec["record_no"])
                    rows["rec_offset"].append(rec["rec_offset"])
                    rows["rec_len"].append(rec["rec_len"])
                    rows["payload_offset"].append(rec["payload_offset"])
                    rows["payload_len"].append(rec["payload_len"])
                    rows["payload_md5"].append(
                        hashlib.md5(payload).hexdigest()
                    )
                    rows["warc_type"].append(rec["warc_type"])
                    rows["target_uri"].append(rec["target_uri"])
            yield pd.DataFrame(rows)

    return df.mapInPandas(index, schema=_INDEX_SCHEMA)


_PAYLOAD_SCHEMA = StructType(
    [
        StructField("container_id", LongType(), False),
        StructField("record_no", IntegerType(), False),
        StructField("target_uri", StringType(), True),
        StructField("text", StringType(), True),
    ]
)


def warc_payload_extract(df: DataFrame) -> DataFrame:
    """Index-driven payload recovery — the full ingest loop closed: in
    ONE Arrow pass per container, parse the record index and slice each
    payload by its (offset, length), yielding ``(container_id,
    record_no, target_uri, text)``.  Fusing parse+slice into one
    mapInPandas means container bytes are read once and never shuffle;
    at cluster scale the same slices become ranged GETs driven by a
    persisted index (:func:`warc_record_index`), and this operator is
    the correctness proof that the ranges recover the documents
    byte-exactly (the oracle compares against the ORIGINAL text)."""
    from ..utils import fan_out

    df = fan_out(df, "container_id")

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {f.name: [] for f in _PAYLOAD_SCHEMA}
            for cid, blob in zip(pdf["container_id"], pdf["container"]):
                blob = bytes(blob)
                for rec, payload in _iter_records_with_payloads(blob):
                    rows["container_id"].append(int(cid))
                    rows["record_no"].append(rec["record_no"])
                    rows["target_uri"].append(rec["target_uri"])
                    rows["text"].append(payload.decode("utf-8", "replace"))
            yield pd.DataFrame(rows)

    return df.mapInPandas(extract, schema=_PAYLOAD_SCHEMA)


# ---------------------------------------------------------------------------
# WET export (round 10, second wave) — the CommonCrawl EXTRACTED-TEXT
# companion format: a WET file is itself a WARC container whose first
# record is a ``warcinfo`` block describing the conversion run and whose
# remaining records are ``conversion`` records, one per page, each
# carrying the plain text a consumer trains on plus a ``WARC-Refers-To``
# pointer back at the original ``response`` capture.  Publishing WET is
# what lets every downstream text pipeline skip the HTML parse entirely;
# an engine that ingests WARC but cannot EMIT WET leaves its consumers
# re-extracting 100 TB.  The framing is byte-identical to ISO 28500, so
# :func:`warc_record_index` / :func:`warc_payload_extract` serve WET
# containers unchanged — the export is the only new code.
# ---------------------------------------------------------------------------

WET_INFO_URI = "metadata://gnu.org/software/wget/warc/MANIFEST.txt"
# fixed warcinfo payload: the conversion-run manifest (deterministic —
# real exports stamp software/date; synthesis pins both)
WET_INFO_PAYLOAD = (
    b"software: pgferry-spark WET writer\r\n"
    b"format: WARC File Format 1.0\r\n"
    b"conformsTo: ISO 28500\r\n"
)


def encode_wet(
    cid: int, docs: list[dict], gzip_members: bool = False
) -> bytes:
    """One WET container: the ``warcinfo`` leader then one
    ``conversion`` record per ``{"doc_id", "uri", "text"}`` — record id
    ``urn:uuid:conv-<doc_id>``, ``WARC-Refers-To`` the original
    capture's ``urn:uuid:<doc_id>`` (the :func:`attach_warc` response
    synthesis), payload the UTF-8 text.  Pure reuse of
    :func:`encode_warc`; WET adds no framing of its own.
    ``gzip_members=True`` emits the actual CommonCrawl WET transport
    (``.warc.wet.gz``): one deflate member per record — leader
    included — via :func:`encode_warc_gz`, served by the same member
    walk the gzip WARC path uses."""
    recs = [
        {
            "type": "warcinfo",
            "record_id": f"urn:uuid:info-{cid}",
            "uri": WET_INFO_URI,
            "payload": WET_INFO_PAYLOAD,
        }
    ]
    for d in docs:
        recs.append(
            {
                "type": "conversion",
                "record_id": f"urn:uuid:conv-{d['doc_id']}",
                "uri": d["uri"],
                "payload": d["text"].encode("utf-8"),
                "refers_to": f"urn:uuid:{d['doc_id']}",
            }
        )
    return (encode_warc_gz if gzip_members else encode_warc)(recs)


def wet_export(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    docs_per_container: int = 8,
    gzip_members: bool = False,
    url_col: str = "url",
    cid_offset: int = 0,
) -> DataFrame:
    """The WET publication step: extracted text back into distributable
    containers, grouped exactly like :func:`attach_warc` (``id //
    docs_per_container``, ascending id within a container) so the WET
    shard layout mirrors the WARC shard layout — the property real
    crawls preserve so a consumer can pair shard N of both.  One
    applyInPandas build per container; the emitted containers are the
    only bytes that move, and at 100 TB the write is the point — every
    downstream text job then reads THESE instead of re-parsing HTML.

    ``cid_offset`` shifts the grouping key BEFORE the build, so the
    in-band warcinfo record id (``urn:uuid:info-<cid>``) always equals
    the emitted ``container_id`` — a publisher that writes several
    batches passes its batch offset here instead of remapping after the
    bytes are built (round 12, r11 ADVICE: a post-hoc remap left the
    published id and the embedded id divergent, unrecoverable from
    bytes alone)."""
    schema = StructType(
        [
            StructField("container_id", LongType(), False),
            StructField("container", BinaryType(), False),
        ]
    )

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col)
        cid = int(pdf["__cid"].iloc[0])
        docs = [
            {"doc_id": int(i), "uri": u, "text": t}
            for i, u, t in zip(pdf[id_col], pdf[url_col], pdf[text_col])
        ]
        return pd.DataFrame(
            {
                "container_id": [cid],
                "container": [encode_wet(cid, docs, gzip_members)],
            }
        )

    return container_grouped(
        df.withColumn(
            "__cid",
            F.expr(
                f"({id_col} div {docs_per_container})"
                f" + {int(cid_offset)}"
            ),
        )
        .select("__cid", id_col, url_col, text_col)
    ).applyInPandas(build, schema=schema)


# ---------------------------------------------------------------------------
# WAT export — the METADATA third of the CommonCrawl WARC/WET/WAT triad:
# a WAT file is a WARC container of ``metadata`` records, one per
# capture, each carrying a JSON envelope (target URI, payload digest,
# payload length — the fields every index/analytics job wants without
# touching payload bytes) plus WARC-Refers-To at the described record.
# The envelope is built by a SHARED SQL template (WAT_JSON_SQL) so the
# Spark exporter and the DuckDB oracle produce byte-identical JSON; the
# byte-length spelling is the one engine divergence and rides a {blen}
# parameter (Spark octet_length / DuckDB strlen — DuckDB's octet_length
# does not accept VARCHAR).  The url value is JSON-escaped inline
# (backslash first, then quote — the order that can't double-escape),
# spelled with chr(92)/chr(34) because that is the ONE backslash/quote
# spelling both engines' string-literal rules read identically (Spark
# processes '\\' escapes in literals, DuckDB does not).  md5 output is
# hex and the length is numeric, so only {url} needs the stage
# (round-10 ADVICE: the template previously relied on the synthetic
# corpus carrying neither byte).
# ---------------------------------------------------------------------------

# CAST AS STRING: the one integer->text spelling BOTH engines accept
# (Spark rejects bare VARCHAR, DuckDB aliases STRING to VARCHAR)
_JSON_ESC = (
    "replace(replace({v}, chr(92), chr(92) || chr(92)),"
    " chr(34), chr(92) || chr(34))"
)
WAT_JSON_SQL = (
    "'{{\"u\":\"' || " + _JSON_ESC.format(v="{url}")
    + " || '\",\"d\":\"' || md5({text})"
    " || '\",\"l\":' || CAST({blen}({text}) AS STRING) || '}}'"
)

WAT_INFO_PAYLOAD = (
    b"software: pgferry-spark WAT writer\r\n"
    b"format: WARC File Format 1.0\r\n"
    b"conformsTo: ISO 28500\r\n"
)


def encode_wat(cid: int, docs: list[dict]) -> bytes:
    """One WAT container: warcinfo leader + one ``metadata`` record per
    ``{"doc_id", "uri", "wat_json"}`` — record id
    ``urn:uuid:meta-<doc_id>``, WARC-Refers-To the described capture,
    payload the JSON envelope.  Pure :func:`encode_warc` reuse."""
    recs = [
        {
            "type": "warcinfo",
            "record_id": f"urn:uuid:info-{cid}",
            "uri": WET_INFO_URI,
            "payload": WAT_INFO_PAYLOAD,
        }
    ]
    for d in docs:
        recs.append(
            {
                "type": "metadata",
                "record_id": f"urn:uuid:meta-{d['doc_id']}",
                "uri": d["uri"],
                "payload": d["wat_json"].encode("utf-8"),
                "refers_to": f"urn:uuid:{d['doc_id']}",
            }
        )
    return encode_warc(recs)


def wat_export(
    df: DataFrame,
    id_col: str = "doc_id",
    json_col: str = "wat_json",
    docs_per_container: int = 8,
    url_col: str = "url",
) -> DataFrame:
    """The WAT publication step: per-capture JSON envelopes into
    distributable metadata containers, sharded exactly like
    :func:`attach_warc` / :func:`wet_export` so shard N of all three
    formats pairs.  At 100 TB the WAT sidecar is what lets link-graph,
    dedup, and stats jobs run over ~1% of the bytes."""
    schema = StructType(
        [
            StructField("container_id", LongType(), False),
            StructField("container", BinaryType(), False),
        ]
    )

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col)
        cid = int(pdf["__cid"].iloc[0])
        docs = [
            {"doc_id": int(i), "uri": u, "wat_json": j}
            for i, u, j in zip(pdf[id_col], pdf[url_col], pdf[json_col])
        ]
        return pd.DataFrame(
            {"container_id": [cid], "container": [encode_wat(cid, docs)]}
        )

    return container_grouped(
        df.withColumn(
            "__cid", F.expr(f"{id_col} div {docs_per_container}")
        )
        .select("__cid", id_col, url_col, json_col)
    ).applyInPandas(build, schema=schema)


def read_warc_files(
    spark, path: str, glob: str = "*.warc*"
) -> DataFrame:
    """Load REAL WARC files from storage as ``(container_id, path,
    container)`` — the missing edge between the synthesized-container
    test path and a directory of actual ``.warc`` / ``.warc.gz``
    shards: ``binaryFile`` reads each file as one blob (the
    CommonCrawl unit of work — one file, one task), and every
    operator in this module serves the result unchanged (the gzip
    member magic dispatches the framing per container).

    ``container_id`` is ``xxhash64(path)`` masked to 63 bits —
    deterministic across runs and partitioning-friendly, with no
    global window over the file listing.  The original ``path`` rides
    along so index rows remain joinable back to the shard for ranged
    reads.  Scale posture: at 100 TB the file listing itself is the
    parallelism (thousands of ~1 GB shards); whole-file rows are what
    the fused index/extract walks want — bytes move from storage to
    exactly one executor and never shuffle."""
    from pyspark.sql import functions as F

    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
    )
    return df.select(
        # mask the sign bit: a negative id would break `id div k`
        # grouping conventions downstream
        (
            F.xxhash64(F.col("path"))
            .bitwiseAND(F.lit((1 << 63) - 1))
        ).alias("container_id"),
        F.col("path"),
        F.col("content").alias("container"),
    )


def write_warc_files(
    df: DataFrame,
    out_dir: str,
    suffix: str = ".warc.gz",
    prefix: str = "shard-",
    id_width: int = 12,
) -> None:
    """Publish container rows as REAL files — the write-side twin of
    :func:`read_warc_files`: one file per ``(container_id,
    container)`` row, named ``{prefix}{id:012d}{suffix}``, written
    executor-side via ``foreachPartition`` so the bytes go straight
    from the executor to storage and never transit the driver.  Each
    file lands atomically (write to a unique temp name, then
    hard-link-publish via :func:`publish_atomic`) so a concurrent
    :func:`read_warc_files` glob never sees a torn shard — and a
    DUPLICATE target name with DIVERGENT bytes (a
    :func:`read_warc_files` 63-bit xxhash collision, or caller rows
    sharing an id) FAILS with ValueError instead of silently
    clobbering a shard, while a byte-identical duplicate — a task
    retry republishing its own output — is treated as success
    (round 13, r12 ADVICE).  ``out_dir`` must be
    storage every executor can reach (shared filesystem /
    object-store mount) — the same contract any distributed file sink
    carries."""
    import os

    os.makedirs(out_dir, exist_ok=True)

    def write_part(rows) -> None:
        for r in rows:
            p = os.path.join(
                out_dir,
                f"{prefix}{int(r['container_id']):0{id_width}d}{suffix}",
            )
            write_shard_atomic(out_dir, p, bytes(r["container"]))

    df.select("container_id", "container").foreachPartition(write_part)


def write_shard_atomic(out_dir: str, target: str, payload) -> bool:
    """Write ``payload`` to a unique ``.inprogress`` temp in
    ``out_dir`` then hard-link-publish it at ``target`` — the
    single-shard primitive under :func:`write_warc_files`.  A failed
    WRITE (ENOSPC, serialization error) must not leak the temp file
    in out_dir — :func:`publish_atomic` owns cleanup only once
    reached, so the write is unlink-on-raise here (r13 ADVICE
    restored the pre-r13 finally-unlink posture).  Returns
    :func:`publish_atomic`'s verdict (True = this call created the
    link)."""
    import os
    import tempfile

    fd, tmp = tempfile.mkstemp(dir=out_dir, suffix=".inprogress")
    try:
        with os.fdopen(fd, "wb") as f:
            f.write(payload)
    except BaseException:
        try:
            os.unlink(tmp)
        except OSError:
            pass
        raise
    return publish_atomic(tmp, target)


def publish_atomic(tmp: str, target: str) -> bool:
    """Hard-link-publish ``tmp`` at ``target``, atomic AND idempotent
    under Spark's at-least-once task execution: a retry or speculative
    duplicate re-publishing its own byte-identical output counts as
    success (returns False — nothing new linked), while a target with
    genuinely DIVERGENT content still raises ValueError — the
    clobber refusal (round 13, r12 ADVICE: the bare FileExistsError
    path failed its own retries).  Returns True when this call created
    the link.  ``tmp`` is always unlinked."""
    import filecmp
    import os

    try:
        try:
            os.link(tmp, target)  # atomic, fails if target exists
            return True
        except FileExistsError:
            # byte compare (size short-circuits inside filecmp): an
            # identical file is a completed prior attempt, not a clobber
            if not filecmp.cmp(tmp, target, shallow=False):
                raise ValueError(
                    f"target {target!r} exists with divergent content"
                    " — refusing to clobber"
                )
            return False
    finally:
        os.unlink(tmp)


def warc_range_read(container: bytes, offset: int, length: int) -> bytes:
    """The bounded range read the index enables: one slice, validated.
    (At cluster scale this is a ranged GET against object storage; the
    semantics — offset addressing off the index — are identical.)"""
    if offset < 0 or length < 0 or offset + length > len(container):
        raise ValueError("range outside container")
    return container[offset : offset + length]


def warc_member_read(container: bytes, offset: int, length: int) -> bytes:
    """The gzip-member form of the bounded read: fetch the member's
    (offset, length) range — the index's ``rec_offset``/``rec_len`` for
    a gzip container — and inflate exactly one member (allocation
    capped).  Returns the record bytes; the payload is then the index's
    ``payload_offset``/``payload_len`` slice of THEM."""
    member = warc_range_read(container, offset, length)
    d = zlib.decompressobj(wbits=31)
    try:
        rec = d.decompress(member, _MAX_MEMBER_OUT)
    except zlib.error as exc:
        raise ValueError(f"corrupt gzip member ({exc})")
    if not d.eof or d.unused_data:
        raise ValueError("range is not exactly one gzip member")
    return rec
