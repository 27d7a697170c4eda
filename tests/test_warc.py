"""WARC-style crawl-container record indexing (round 9, VERDICT r8 Next
#5): encode/parse round-trip, the bounded range read the index enables,
allocation-bound rejection of malformed framing, and the robots
meta-noindex gate (Next #6).
"""

import pytest
from pyspark.sql import functions as F

from pgferry_spark.sources import warc as W


def _records(n=5):
    return [
        {
            "type": "response",
            "record_id": f"urn:uuid:{i}",
            "uri": f"https://ex{i}.org/p/{i}",
            "payload": (f"Document body {i}. " * (i + 1)).encode(),
        }
        for i in range(n)
    ]


def test_roundtrip_offsets_and_headers():
    recs = _records()
    blob = W.encode_warc(recs)
    idx = W.parse_warc_index(blob)
    assert [r["record_no"] for r in idx] == list(range(5))
    assert idx[0]["rec_offset"] == 0
    for meta, rec in zip(idx, recs):
        assert meta["target_uri"] == rec["uri"]
        assert meta["warc_type"] == "response"
        assert meta["payload_len"] == len(rec["payload"])
    # records tile the container exactly
    for a, b in zip(idx, idx[1:]):
        assert b["rec_offset"] == a["rec_offset"] + a["rec_len"]
    assert idx[-1]["rec_offset"] + idx[-1]["rec_len"] == len(blob)


def test_range_read_recovers_exact_payloads():
    """The point of the index: (offset, length) alone recovers each
    document — the 100 TB re-extraction path is a ranged GET, not a
    container scan."""
    recs = _records()
    blob = W.encode_warc(recs)
    for meta, rec in zip(W.parse_warc_index(blob), recs):
        got = W.warc_range_read(
            blob, meta["payload_offset"], meta["payload_len"]
        )
        assert got == rec["payload"]
        # and the full-record range re-parses standalone
        one = W.warc_range_read(blob, meta["rec_offset"], meta["rec_len"])
        sub = W.parse_warc_index(one)
        assert len(sub) == 1 and sub[0]["payload_len"] == len(rec["payload"])


def test_range_read_rejects_out_of_bounds():
    blob = W.encode_warc(_records(1))
    with pytest.raises(ValueError):
        W.warc_range_read(blob, len(blob) - 2, 10)
    with pytest.raises(ValueError):
        W.warc_range_read(blob, -1, 4)


def test_parse_rejects_malformed_framing():
    blob = W.encode_warc(_records(2))
    # content-length bomb: declared length beyond the container
    clen = next(
        ln for ln in blob.split(b"\r\n") if ln.startswith(b"Content-Length")
    )
    bombed = blob.replace(clen, b"Content-Length: 99999", 1)
    with pytest.raises(ValueError):
        W.parse_warc_index(bombed)
    # bad magic on the second record
    second = blob.index(b"WARC/1.0", 1)
    with pytest.raises(ValueError):
        W.parse_warc_index(
            blob[:second] + b"XARC/1.0" + blob[second + 8 :]
        )
    # truncated trailing CRLFs
    with pytest.raises(ValueError):
        W.parse_warc_index(blob[:-2])
    # unterminated header block
    with pytest.raises(ValueError):
        W.parse_warc_index(b"WARC/1.0\r\nContent-Length: 3\r\nabc")


def test_spark_index_matches_pure_parser(spark):
    """attach_warc → warc_record_index over a small corpus equals the
    pure-python parse of each built container; payload ranges recover
    the original utf-8 text."""
    docs = [
        (i, f"https://site{i % 3}.org/d/{i}", f"Body of document {i}.")
        for i in range(1, 20)
    ]
    df = spark.createDataFrame(docs, "doc_id: long, url: string, text: string")
    containers = {
        r["container_id"]: bytes(r["container"])
        for r in W.attach_warc(df).collect()
    }
    rows = W.warc_record_index(W.attach_warc(df)).collect()
    assert len(rows) == 19
    import hashlib

    by_uri = {}
    for r in rows:
        blob = containers[r["container_id"]]
        payload = W.warc_range_read(blob, r["payload_offset"], r["payload_len"])
        by_uri[r["target_uri"]] = payload.decode()
        # the in-pass fingerprint matches the payload bytes: the index
        # is dedup-capable without a second container read
        assert r["payload_md5"] == hashlib.md5(payload).hexdigest()
    for i, url, text in docs:
        assert by_uri[url] == text
    # pure parser agrees row-for-row
    for cid, blob in containers.items():
        pure = W.parse_warc_index(blob)
        got = sorted(
            (r["record_no"], r["rec_offset"], r["rec_len"],
             r["payload_offset"], r["payload_len"])
            for r in rows if r["container_id"] == cid
        )
        want = sorted(
            (p["record_no"], p["rec_offset"], p["rec_len"],
             p["payload_offset"], p["payload_len"])
            for p in pure
        )
        assert got == want


def test_container_bytes_never_shuffle(spark):
    """Scale pin: the executed plan moves index rows, not containers —
    no Exchange sits between the container build and the mapInPandas
    index (the only exchanges are the doc-group shuffle feeding
    applyInPandas and fan_out's round-robin of container rows)."""
    docs = [(i, f"https://s.org/{i}", f"B{i}.") for i in range(1, 17)]
    df = spark.createDataFrame(docs, "doc_id: long, url: string, text: string")
    out = W.warc_record_index(W.attach_warc(df))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan or "FlatMapGroupsInArrow" in plan
    assert plan.count("MapInPandas") == 1


def test_payload_extract_recovers_original_text(spark):
    """warc_payload_extract == the original corpus: build containers,
    recover every document through the fused parse+slice pass."""
    docs = [(i, f"https://s{i % 2}.org/{i}", f"Unicode té✓xt {i}.")
            for i in range(1, 12)]
    df = spark.createDataFrame(docs, "doc_id: long, url: string, text: string")
    from pgferry_spark.sources.warc import attach_warc, warc_payload_extract

    got = {
        r["target_uri"]: r["text"]
        for r in warc_payload_extract(attach_warc(df)).collect()
    }
    assert got == {u: t for _, u, t in docs}  # utf-8 slice boundaries exact


class TestWarcDedupManifest:
    """Round 10, second wave: keeper election on the index's
    payload_md5 — dedup before any extraction."""

    def test_keeper_is_earliest_and_pointers_resolve(self, spark):
        from pyspark.sql import functions as F

        from pgferry_spark.sources.warc import (
            attach_warc,
            warc_record_index,
        )

        # ids 0..9; ids 3 and 7 duplicate id 1's bytes
        rows = [(i, f"https://s.org/{i}",
                 "dup text." if i in (1, 3, 7) else f"uniq {i}.")
                for i in range(10)]
        df = spark.createDataFrame(
            rows, "doc_id: long, url: string, text: string"
        )
        idx = warc_record_index(attach_warc(df, docs_per_container=4))
        keepers = idx.groupBy("payload_md5").agg(
            F.min(F.struct("container_id", "record_no")).alias("__k")
        )
        m = idx.join(keepers, "payload_md5").select(
            "target_uri",
            ((F.col("container_id") == F.col("__k.container_id"))
             & (F.col("record_no") == F.col("__k.record_no")))
            .alias("is_keeper"),
            F.col("__k.container_id").alias("kc"),
            F.col("__k.record_no").alias("kr"),
        )
        got = {r.target_uri: (r.is_keeper, r.kc, r.kr)
               for r in m.collect()}
        # id 1 (container 0, record 1) keeps; 3 and 7 point at it
        assert got["https://s.org/1"] == (True, 0, 1)
        assert got["https://s.org/3"] == (False, 0, 1)
        assert got["https://s.org/7"] == (False, 0, 1)
        assert got["https://s.org/5"][0]  # unique doc keeps itself


class TestWetExport:
    """Round 10, second wave: WET — the CommonCrawl extracted-text
    companion format (warcinfo leader + conversion records with
    WARC-Refers-To), framed as plain ISO 28500 so the unchanged index
    and extract operators serve it."""

    def test_encode_wet_structure(self):
        from pgferry_spark.sources.warc import (
            WET_INFO_PAYLOAD,
            WET_INFO_URI,
            encode_wet,
            parse_warc_index,
        )

        docs = [
            {"doc_id": 16, "uri": "https://a.org/16", "text": "alpha 16."},
            {"doc_id": 17, "uri": "https://b.net/17", "text": "béta ✓17."},
        ]
        recs = parse_warc_index(encode_wet(2, docs))
        assert [r["warc_type"] for r in recs] == [
            "warcinfo", "conversion", "conversion",
        ]
        info, c1, c2 = recs
        assert info["target_uri"] == WET_INFO_URI
        assert info["record_id"] == "urn:uuid:info-2"
        assert info["payload_len"] == len(WET_INFO_PAYLOAD)
        # conversion record points back at the original capture
        assert c1["record_id"] == "urn:uuid:conv-16"
        assert c1["refers_to"] == "urn:uuid:16"
        assert c2["payload_len"] == len(docs[1]["text"].encode("utf-8"))

    def test_wet_roundtrip_through_spark(self, spark):
        """Export WET shards, then recover every document through the
        UNCHANGED extract operator — the consumer's read path."""
        from pgferry_spark.sources.warc import (
            warc_payload_extract,
            warc_record_index,
            wet_export,
        )

        docs = [(i, f"https://s{i % 3}.org/{i}", f"wét ✓text {i}.")
                for i in range(1, 19)]
        df = spark.createDataFrame(
            docs, "doc_id: long, url: string, text: string"
        )
        wet = wet_export(df, docs_per_container=8).cache()
        idx = warc_record_index(wet).collect()
        # each container leads with exactly one warcinfo record at no 0
        infos = [r for r in idx if r["warc_type"] == "warcinfo"]
        assert {r["record_no"] for r in infos} == {0}
        assert len(infos) == wet.count()
        got = {
            r["target_uri"]: r["text"]
            for r in warc_payload_extract(wet)
            .filter("record_no >= 1")
            .collect()
        }
        assert got == {u: t for _, u, t in docs}
        wet.unpersist()

    def test_wet_shard_layout_mirrors_warc(self, spark):
        """Same grouping key as attach_warc: container N of the WET
        export holds the same documents as container N of the WARC
        capture — the pairing property real crawls preserve."""
        from pgferry_spark.sources.warc import (
            attach_warc,
            warc_record_index,
            wet_export,
        )

        docs = [(i, f"https://s.org/{i}", f"doc {i}.") for i in range(24)]
        df = spark.createDataFrame(
            docs, "doc_id: long, url: string, text: string"
        )
        warc_map = {
            (r["container_id"], r["target_uri"])
            for r in warc_record_index(attach_warc(df)).collect()
        }
        wet_map = {
            (r["container_id"], r["target_uri"])
            for r in warc_record_index(wet_export(df))
            .filter("warc_type = 'conversion'")
            .collect()
        }
        assert warc_map == wet_map


class TestWatExport:
    """Round 10, second wave: WAT — the metadata third of the triad
    (JSON envelopes in metadata records, WARC-Refers-To pointers)."""

    def test_encode_wat_structure(self):
        from pgferry_spark.sources.warc import (
            WAT_INFO_PAYLOAD,
            encode_wat,
            parse_warc_index,
        )

        docs = [
            {"doc_id": 3, "uri": "https://a.org/3",
             "wat_json": '{"u":"https://a.org/3","d":"x","l":9}'},
        ]
        recs = parse_warc_index(encode_wat(0, docs))
        assert [r["warc_type"] for r in recs] == ["warcinfo", "metadata"]
        assert recs[0].get("payload_len") == len(WAT_INFO_PAYLOAD)
        assert recs[1]["record_id"] == "urn:uuid:meta-3"
        assert recs[1]["refers_to"] == "urn:uuid:3"
        assert recs[1]["payload_len"] == len(docs[0]["wat_json"])

    def test_wat_envelope_roundtrip_through_spark(self, spark):
        """Export WAT, then parse the JSON envelopes back out of real
        container bytes — the fields must equal the source columns."""
        from pyspark.sql import functions as F

        from pgferry_spark.sources.warc import (
            WAT_JSON_SQL,
            warc_payload_extract,
            wat_export,
        )

        docs = [(i, f"https://s{i % 2}.org/{i}", f"wát ✓doc {i}.")
                for i in range(1, 13)]
        df = spark.createDataFrame(
            docs, "doc_id: long, url: string, text: string"
        ).withColumn(
            "wat_json",
            F.expr(WAT_JSON_SQL.format(
                url="url", text="text", blen="octet_length")),
        )
        got = {
            r["meta_url"]: (r["meta_len"], r["target_uri"])
            for r in warc_payload_extract(wat_export(df))
            .filter("record_no >= 1")
            .select(
                "target_uri",
                F.get_json_object("text", "$.u").alias("meta_url"),
                F.get_json_object("text", "$.l")
                .cast("bigint").alias("meta_len"),
            )
            .collect()
        }
        for _, u, t in docs:
            assert got[u] == (len(t.encode("utf-8")), u)

    def test_envelope_escapes_quote_and_backslash(self, spark):
        """Round-10 ADVICE: the envelope template must emit VALID JSON
        even when the url value carries '\"' or '\\\\' — the escaping
        stage (chr(92)/chr(34) replace chain, backslash first) makes
        the template safe beyond the synthetic-corpus boundary."""
        import json

        from pyspark.sql import functions as F

        from pgferry_spark.sources.warc import WAT_JSON_SQL

        evil = 'https://e.org/p?q="a\\b"'
        df = spark.createDataFrame(
            [(1, evil, "body one."), (2, "https://plain.org/2", "body two.")],
            "doc_id: long, url: string, text: string",
        ).withColumn(
            "wat_json",
            F.expr(WAT_JSON_SQL.format(
                url="url", text="text", blen="octet_length")),
        )
        got = {r.doc_id: r.wat_json for r in df.collect()}
        # json.loads is the arbiter: the envelope parses and the url
        # field round-trips byte-exactly
        assert json.loads(got[1])["u"] == evil
        assert json.loads(got[2])["u"] == "https://plain.org/2"
        # DuckDB evaluates the SAME template to the SAME bytes
        import duckdb

        sql = WAT_JSON_SQL.format(
            url="url", text="text", blen="strlen")
        out = duckdb.sql(
            "SELECT " + sql + " AS j FROM (SELECT "
            "'https://e.org/p?q=' || chr(34) || 'a' || chr(92) || 'b'"
            " || chr(34) AS url, 'body one.' AS text)"
        ).fetchone()[0]
        assert out == got[1]


class TestGzipMembers:
    """Round 10: per-record gzip members — the CommonCrawl transport
    framing (one deflate member per record, members concatenated)."""

    def test_member_roundtrip_and_offsets(self):
        recs = [
            {"type": "response", "record_id": f"urn:uuid:{i}",
             "uri": f"https://g.org/{i}",
             "payload": (f"body {i} " * (i + 1)).encode()}
            for i in range(5)
        ]
        blob = W.encode_warc_gz(recs)
        assert blob[:2] == b"\x1f\x8b"
        idx = W.parse_warc_gz_index(blob)
        assert [r["record_no"] for r in idx] == list(range(5))
        # members tile the container exactly
        assert idx[0]["rec_offset"] == 0
        for a, b in zip(idx, idx[1:]):
            assert b["rec_offset"] == a["rec_offset"] + a["rec_len"]
        assert idx[-1]["rec_offset"] + idx[-1]["rec_len"] == len(blob)
        # the ranged-GET loop: fetch member bytes, inflate, slice payload
        for r, want in zip(idx, recs):
            rec_bytes = W.warc_member_read(
                blob, r["rec_offset"], r["rec_len"]
            )
            got = rec_bytes[
                r["payload_offset"]: r["payload_offset"] + r["payload_len"]
            ]
            assert got == want["payload"]
        # deterministic synthesis (mtime pinned)
        assert W.encode_warc_gz(recs) == blob

    def test_malformed_members_raise_bounded(self):
        import gzip

        import pytest

        recs = [{"type": "response", "record_id": "urn:uuid:1",
                 "uri": "https://g.org/1", "payload": b"Payload one."}]
        blob = W.encode_warc_gz(recs)
        # truncations raise, never hang or over-allocate
        for cut in (1, 5, len(blob) // 2, len(blob) - 1):
            with pytest.raises(ValueError):
                W.parse_warc_gz_index(blob[:cut])
        # corrupt deflate body
        bad = blob[:14] + bytes([blob[14] ^ 0xFF]) + blob[15:]
        with pytest.raises(ValueError):
            W.parse_warc_gz_index(bad)
        # a member holding TWO records violates the 1:1 guideline
        two = gzip.compress(
            W.encode_warc(recs * 2), compresslevel=6, mtime=0
        )
        with pytest.raises(ValueError, match="2 records"):
            W.parse_warc_gz_index(two)
        # member_read on a range that is not exactly one member
        with pytest.raises(ValueError):
            W.warc_member_read(blob + blob, 0, len(blob) + 4)

    def test_spark_index_and_extract_through_gzip(self, spark):
        """The index/extract operators detect the member magic per
        container; payload md5 certifies byte-exact recovery through
        the deflate round-trip, and container bytes still never
        shuffle (one MapInPandas, no extra Exchange)."""
        import hashlib

        docs = [(i, f"https://gz{i % 2}.org/{i}", f"Gz té✓xt {i}.")
                for i in range(1, 14)]
        df = spark.createDataFrame(
            docs, "doc_id: long, url: string, text: string"
        )
        containers = {
            r["container_id"]: bytes(r["container"])
            for r in W.attach_warc(df, gzip_members=True).collect()
        }
        rows = W.warc_record_index(
            W.attach_warc(df, gzip_members=True)
        ).collect()
        assert len(rows) == 13
        for r in rows:
            blob = containers[r["container_id"]]
            rec_bytes = W.warc_member_read(
                blob, r["rec_offset"], r["rec_len"]
            )
            payload = rec_bytes[
                r["payload_offset"]: r["payload_offset"] + r["payload_len"]
            ]
            assert r["payload_md5"] == hashlib.md5(payload).hexdigest()
        got = {
            r["target_uri"]: r["text"]
            for r in W.warc_payload_extract(
                W.attach_warc(df, gzip_members=True)
            ).collect()
        }
        assert got == {u: t for _, u, t in docs}
        out = W.warc_record_index(W.attach_warc(df, gzip_members=True))
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "FlatMapGroupsInPandas" in plan or "FlatMapGroupsInArrow" in plan
        assert plan.count("MapInPandas") == 1


class TestRevisitRecords:
    """Round 10: ISO 28500 revisit records — crawl-time storage dedup."""

    def test_revisit_encode_resolve_roundtrip(self, spark):
        from pgferry_spark.sources.warc import (
            attach_warc_revisits,
            parse_warc_index,
            warc_revisit_resolve,
        )

        caps = [
            (1, "https://a.org/x", "Shared body one."),
            (2, "https://b.org/y", "Unique body two."),
            # identical re-captures of capture 1 (cross-container: 17
            # lands in a different container than 1 at 8/container)
            (9, "https://a.org/x", "Shared body one."),
            (17, "https://a.org/x", "Shared body one."),
            # different doc, same bytes -> also a revisit of capture 1
            (3, "https://c.org/z", "Shared body one."),
        ]
        df = spark.createDataFrame(
            caps, "capture_id: long, url: string, text: string"
        )
        containers = attach_warc_revisits(df)
        blobs = {r.container_id: bytes(r.container)
                 for r in containers.collect()}
        # the raw framing: exactly ONE response per distinct payload,
        # revisits carry Refers-To + Payload-Digest and EMPTY payloads
        recs = [r for b in blobs.values() for r in parse_warc_index(b)]
        by_cap = {int(r["record_id"].rsplit(":", 1)[-1]): r for r in recs}
        assert by_cap[1]["warc_type"] == "response"
        assert by_cap[2]["warc_type"] == "response"
        for cid in (3, 9, 17):
            assert by_cap[cid]["warc_type"] == "revisit"
            assert by_cap[cid]["payload_len"] == 0
            assert by_cap[cid]["refers_to"] == "urn:uuid:1"
            assert by_cap[cid]["payload_digest"].startswith("md5:")
        # resolution rehydrates EVERY capture byte-exactly
        got = {r.capture_id: (r.is_revisit, r.text)
               for r in warc_revisit_resolve(containers).collect()}
        want = {cid: t for cid, _u, t in caps}
        assert {c: t for c, (_rv, t) in got.items()} == want
        assert {c for c, (rv, _t) in got.items() if rv} == {3, 9, 17}

    def test_revisit_containers_never_shuffle(self, spark):
        from pgferry_spark.sources.warc import (
            attach_warc_revisits,
            warc_revisit_resolve,
        )

        df = spark.createDataFrame(
            [(i, f"https://s.org/{i}", f"Body {i % 3}.") for i in range(20)],
            "capture_id: long, url: string, text: string",
        )
        out = warc_revisit_resolve(attach_warc_revisits(df))
        plan = out._jdf.queryExecution().executedPlan().toString()
        # one Arrow scan of the containers; the joins downstream move
        # only the slim scan rows (digest/text), never container bytes
        assert plan.count("MapInPandas") == 1


def test_cdx_range_layout_prunes_by_surt_prefix(spark, tmp_path):
    """The property the SURT key exists for, proven on a real layout:
    range-partitioned-by-surt parquet gives per-FILE disjoint key
    ranges, so 'every capture under one domain' touches a strict subset
    of files — at 100 TB a CDX lookup is a file-pruned range scan, not
    an index-wide filter."""
    import glob

    from pgferry_spark.operators.domains import surt_keys

    docs = spark.createDataFrame(
        [(i, f"https://sub{i % 3}.site{i % 11}.org/p/{i}")
         for i in range(400)],
        "doc_id: long, url: string",
    )
    cdx = surt_keys(docs).select("surt", "doc_id")
    out = str(tmp_path / "cdx_layout")
    (cdx.repartitionByRange(8, "surt")
        .sortWithinPartitions("surt")
        .write.parquet(out))
    files = sorted(glob.glob(out + "/part-*.parquet"))
    assert len(files) > 3
    ranges = []
    for f in files:
        pf = spark.read.parquet(f).agg(
            F.min("surt").alias("lo"), F.max("surt").alias("hi")
        ).first()
        if pf["lo"] is not None:
            ranges.append((pf["lo"], pf["hi"], f))
    ranges.sort()
    # per-file key ranges are DISJOINT (range clustering held)
    for (l1, h1, _), (l2, h2, _) in zip(ranges, ranges[1:]):
        assert h1 <= l2
    # a one-domain prefix lookup needs only the files whose range
    # intersects the prefix interval — a strict subset
    prefix = "org,site7,"
    need = [f for lo, hi, f in ranges
            if not (hi < prefix or lo >= prefix + "￿")]
    assert 0 < len(need) < len(files)
    got = spark.read.parquet(*need).filter(
        F.col("surt").startswith(prefix)
    ).count()
    want = cdx.filter(F.col("surt").startswith(prefix)).count()
    assert got == want > 0


class TestAnchors:
    def test_extract_anchors_href_and_text(self, spark):
        from pgferry_spark.operators.html import extract_anchors

        rows = [
            (1, '<p>See <a href="https://a.org/x">related coverage</a> and'
                ' <a class="z" href="https://b.org/y"> More Stuff </a>.</p>'),
            (2, "<p>no anchors here.</p>"),
        ]
        df = spark.createDataFrame(rows, "doc_id: long, html: string")
        got = sorted(
            (r.doc_id, r.anchor_no, r.href, r.anchor_text)
            for r in extract_anchors(df).collect()
        )
        assert got == [
            (1, 0, "https://a.org/x", "related coverage"),
            (1, 1, "https://b.org/y", "More Stuff"),
        ]

    def test_anchor_domain_stats_inverted_index(self, spark):
        from pgferry_spark.operators.html import (
            anchor_domain_stats,
            extract_anchors,
        )

        rows = [
            (1, '<a href="https://x.news.org/a">Great Site</a>'
                '<a href="https://y.news.org/b">great news</a>'),
            (2, '<a href="https://news.org/c">great</a>'),
        ]
        df = spark.createDataFrame(rows, "doc_id: long, html: string")
        got = {
            (r.domain, r.term): (r.n_mentions, r.n_docs)
            for r in anchor_domain_stats(extract_anchors(df)).collect()
        }
        assert got[("news.org", "great")] == (3, 2)
        assert got[("news.org", "news")] == (1, 1)
        assert got[("news.org", "site")] == (1, 1)


class TestRobotsTxt:
    RULES = (
        "User-agent: googlebot\nDisallow: /google-only\n"
        "User-agent: *\nDisallow: /private\nDisallow:\n"
        "Allow: /private/pub\n"
        "Crawl-delay: 2\nDisallow: /tmp"
    )

    def test_parse_rules_group_attribution(self, spark):
        from pgferry_spark.operators.domains import parse_robots_rules

        df = spark.createDataFrame(
            [("ex.com", self.RULES), ("empty.org", "")],
            "domain: string, robots_txt: string",
        )
        got = sorted(
            (r.domain, r.agent, r.rule, r.path_prefix)
            for r in parse_robots_rules(df).collect()
        )
        # empty Disallow (allow-all) yields no rule; empty file yields none
        assert got == [
            ("ex.com", "*", "allow", "/private/pub"),
            ("ex.com", "*", "disallow", "/private"),
            ("ex.com", "*", "disallow", "/tmp"),
            ("ex.com", "googlebot", "disallow", "/google-only"),
        ]

    def test_disallow_filter_prefix_and_agent_scoping(self, spark):
        from pgferry_spark.operators.domains import (
            parse_robots_rules,
            robots_disallow_filter,
        )

        rules = parse_robots_rules(
            spark.createDataFrame(
                [("ex.com", self.RULES)], "domain: string, robots_txt: string"
            )
        )
        docs = spark.createDataFrame(
            [
                (1, "https://ex.com/private/x"),   # blocked (* rule)
                (2, "https://ex.com/public/ok"),   # kept
                (3, "https://ex.com/google-only"), # kept: googlebot-only rule
                (4, "https://other.org/private"),  # kept: no rules for domain
                (5, "https://ex.com/tmp"),         # blocked (exact prefix)
                # RFC 9309 longest-match: /private/pub Allow (len 12)
                # beats /private Disallow (len 8)
                (6, "https://ex.com/private/pub/page"),
            ],
            "doc_id: long, url: string",
        )
        out = robots_disallow_filter(docs, rules)
        kept = sorted(r.doc_id for r in out.collect())
        assert kept == [2, 3, 4, 6]
        # scale pin: documents never shuffle for this gate — the only
        # join is a BroadcastHashJoin; no SortMergeJoin anywhere
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        # agent scoping: ask as googlebot and the /google-only rule bites;
        # ex.com HAS a googlebot group, so its * group does not apply
        kept_g = sorted(
            r.doc_id
            for r in robots_disallow_filter(
                docs, rules, agent="googlebot"
            ).collect()
        )
        assert 3 not in kept_g and 1 in kept_g  # * rules not applied to bots

    def test_crlf_robots_txt(self, spark):
        """Real robots.txt files arrive with CRLF terminators; a bare-\\n
        split leaves '\\r' in every prefix and the gate FAILS OPEN
        (round-9 ADVICE, medium)."""
        from pgferry_spark.operators.domains import (
            parse_robots_rules,
            robots_crawl_delays,
            robots_disallow_filter,
        )

        crlf = self.RULES.replace("\n", "\r\n")
        df = spark.createDataFrame(
            [("ex.com", crlf)], "domain: string, robots_txt: string"
        )
        rules = parse_robots_rules(df)
        got = sorted(
            (r.rule, r.path_prefix) for r in rules.collect()
        )
        assert got == [
            ("allow", "/private/pub"),
            ("disallow", "/google-only"),
            ("disallow", "/private"),
            ("disallow", "/tmp"),
        ]
        delays = robots_crawl_delays(df).collect()
        assert [(r.agent, r.delay_s) for r in delays] == [("*", 2)]
        docs = spark.createDataFrame(
            [(1, "https://ex.com/private/x"), (2, "https://ex.com/ok")],
            "doc_id: long, url: string",
        )
        kept = sorted(
            r.doc_id for r in robots_disallow_filter(docs, rules).collect()
        )
        assert kept == [2]  # the disallow BITES despite CRLF

    def test_star_agent_fallback(self, spark):
        """RFC 9309 §2.2.1: a domain with no group for the requested
        agent falls back to its * group (previously: allowed all)."""
        from pgferry_spark.operators.domains import (
            parse_robots_rules,
            robots_disallow_filter,
        )

        rules = parse_robots_rules(
            spark.createDataFrame(
                [("star-only.com", "User-agent: *\nDisallow: /private")],
                "domain: string, robots_txt: string",
            )
        )
        docs = spark.createDataFrame(
            [(1, "https://star-only.com/private/x"),
             (2, "https://star-only.com/ok")],
            "doc_id: long, url: string",
        )
        kept = sorted(
            r.doc_id
            for r in robots_disallow_filter(
                docs, rules, agent="googlebot"
            ).collect()
        )
        assert kept == [2]  # * group applies to googlebot here

    def test_rfc9309_wildcards_and_anchor(self, spark):
        """'*' matches any octet run; trailing '$' anchors the URL end;
        regex metachars in rule paths stay literal; precedence length
        counts the raw pattern text."""
        from pgferry_spark.operators.domains import (
            parse_robots_rules,
            robots_disallow_filter,
        )

        txt = (
            "User-agent: *\n"
            "Disallow: /*.pdf$\n"
            "Disallow: /private/*/data\n"
            "Allow: /private/pub/data\n"
            "Disallow: /a+b\n"
        )
        rules = parse_robots_rules(
            spark.createDataFrame(
                [("w.com", txt)], "domain: string, robots_txt: string"
            )
        )
        docs = spark.createDataFrame(
            [
                (1, "https://w.com/report.pdf"),        # blocked: $ anchor
                (2, "https://w.com/report.pdfx"),       # kept: $ anchor
                (3, "https://w.com/private/x/data"),    # blocked: * infix
                (4, "https://w.com/private/x/other"),   # kept
                # allow (len 17) beats the wildcard disallow (len 15)
                (5, "https://w.com/private/pub/data"),
                (6, "https://w.com/a+b/q"),             # blocked: literal +
                (7, "https://w.com/axb/q"),             # kept: + not regex
            ],
            "doc_id: long, url: string",
        )
        kept = sorted(
            r.doc_id for r in robots_disallow_filter(docs, rules).collect()
        )
        assert kept == [2, 4, 5, 7]

    def test_percent_encoding_normalization(self, spark):
        """Unreserved %-encodings decode on both sides before the match
        (rule '/%7euser' gates path '/~user' and the reverse); reserved
        octets (%2f) stay encoded."""
        from pgferry_spark.operators.domains import (
            parse_robots_rules,
            robots_disallow_filter,
        )

        txt = (
            "User-agent: *\n"
            "Disallow: /%7Euser\n"
            "Disallow: /caf%65\n"
            "Disallow: /a%2Fb\n"
        )
        rules = parse_robots_rules(
            spark.createDataFrame(
                [("p.com", txt)], "domain: string, robots_txt: string"
            )
        )
        docs = spark.createDataFrame(
            [
                (1, "https://p.com/~user/x"),      # blocked: %7E == ~
                (2, "https://p.com/%7euser/y"),    # blocked: both decode
                (3, "https://p.com/cafe/z"),       # blocked: %65 == e
                (4, "https://p.com/a/b"),          # kept: %2F stays encoded
                (5, "https://p.com/a%2Fb"),        # blocked: encoded match
                (6, "https://p.com/other"),        # kept
            ],
            "doc_id: long, url: string",
        )
        kept = sorted(
            r.doc_id for r in robots_disallow_filter(docs, rules).collect()
        )
        assert kept == [4, 6]

    def test_fetch_status_policy_gate(self, spark):
        """RFC 9309 §2.3.1 (round 12): 5xx robots fetch drops the
        whole domain, 4xx admits it (rules ignored either way), 2xx
        applies the rule verdict, and a domain with no status row
        admits (never fetched == unavailable)."""
        from pgferry_spark.operators.domains import (
            parse_robots_rules,
            robots_status_gate,
        )

        rules = parse_robots_rules(
            spark.createDataFrame(
                [
                    ("ok.com", "User-agent: *\nDisallow: /x\n"),
                    ("down.com", "User-agent: *\nDisallow: /x\n"),
                    ("gone.com", "User-agent: *\nDisallow: /x\n"),
                ],
                "domain: string, robots_txt: string",
            )
        )
        statuses = spark.createDataFrame(
            [("ok.com", 200), ("down.com", 503), ("gone.com", 404)],
            "domain: string, rstatus: int",
        )
        docs = spark.createDataFrame(
            [
                (1, "https://ok.com/x/a"),     # dropped: 200 + rule
                (2, "https://ok.com/free"),    # kept: 200, no rule hit
                (3, "https://down.com/free"),  # dropped: 503 domain
                (4, "https://down.com/x/a"),   # dropped: 503 domain
                (5, "https://gone.com/x/a"),   # kept: 404 ignores rules
                (6, "https://nofetch.org/x"),  # kept: no status row
            ],
            "doc_id: long, url: string",
        )
        out = {
            r.doc_id: r.policy
            for r in robots_status_gate(docs, rules, statuses).collect()
        }
        assert out == {
            2: "apply_rules",
            5: "allow_all",
            6: "allow_all",
        }

    def test_fetch_status_gate_debroadcast_identical(self, spark):
        """The status-gate's >limit path: with broadcast_limit=0 both
        the policy and rule tables ride shuffle-hash joins (no
        broadcast anywhere) and the verdict is identical."""
        from pgferry_spark.operators.domains import (
            parse_robots_rules,
            robots_status_gate,
        )

        rules = parse_robots_rules(
            spark.createDataFrame(
                [("ok.com", "User-agent: *\nDisallow: /x\n")],
                "domain: string, robots_txt: string",
            )
        )
        statuses = spark.createDataFrame(
            [("ok.com", 200), ("down.com", 503)],
            "domain: string, rstatus: int",
        )
        docs = spark.createDataFrame(
            [
                (1, "https://ok.com/x/a"),
                (2, "https://ok.com/free"),
                (3, "https://down.com/free"),
            ],
            "doc_id: long, url: string",
        )
        small = robots_status_gate(docs, rules, statuses)
        big = robots_status_gate(
            docs, rules, statuses, broadcast_limit=0
        )
        assert sorted(r.doc_id for r in big.collect()) == sorted(
            r.doc_id for r in small.collect()
        ) == [2]
        # the PROBED tables (policy + rule sets) ride shuffle-hash past
        # the limit; the doc-ids join is AQE's call (stats-driven — it
        # broadcasts here because the test corpus is tiny, and picks a
        # shuffle join at scale), so the pin is the presence of the
        # hinted ShuffledHashJoins, not a blanket no-broadcast claim
        plan = big._jdf.queryExecution().executedPlan().toString()
        assert "ShuffledHashJoin" in plan

    def test_status_gate_leaves_no_cache_entry(self, spark):
        """The default (probe) path must not leave a persisted
        DataFrame behind: the r13 draft cached the policy projection
        and never exposed the handle, leaking one MEMORY_AND_DISK
        entry per non-bench call (r13 ADVICE)."""
        from pgferry_spark.operators.domains import (
            parse_robots_rules,
            robots_status_gate,
        )

        spark.catalog.clearCache()
        rules = parse_robots_rules(
            spark.createDataFrame(
                [("ok.com", "User-agent: *\nDisallow: /x\n")],
                "domain: string, robots_txt: string",
            )
        )
        statuses = spark.createDataFrame(
            [("ok.com", 200)], "domain: string, rstatus: int"
        )
        docs = spark.createDataFrame(
            [(1, "https://ok.com/free")], "doc_id: long, url: string"
        )
        robots_status_gate(docs, rules, statuses).collect()
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

    def test_multi_agent_group_union_two_agents(self, spark):
        """RFC 9309 §2.1 (round 12): consecutive User-agent lines form
        ONE group — its rules belong to EVERY named agent, not just the
        last (the pre-r12 single-pass collapse)."""
        from pgferry_spark.operators.domains import parse_robots_rules

        txt = (
            "User-agent: googlebot\n"
            "User-agent: bingbot\n"
            "Disallow: /shared\n"
            "User-agent: *\n"
            "Disallow: /all\n"
        )
        got = sorted(
            (r.agent, r.rule, r.path_prefix)
            for r in parse_robots_rules(
                spark.createDataFrame(
                    [("m.com", txt)], "domain: string, robots_txt: string"
                )
            ).collect()
        )
        assert got == [
            ("*", "disallow", "/all"),
            ("bingbot", "disallow", "/shared"),
            ("googlebot", "disallow", "/shared"),
        ]

    def test_multi_agent_three_agents_star_and_filter(self, spark):
        """A 3-agent group including '*': every agent gets the rules;
        the filter honors them for each named agent AND the * fallback
        — and a later single-agent group is NOT polluted."""
        from pgferry_spark.operators.domains import (
            parse_robots_rules,
            robots_disallow_filter,
        )

        txt = (
            "User-agent: a-bot\n"
            "User-agent: b-bot\n"
            "User-agent: *\n"
            "Disallow: /x\n"
            "Allow: /x/pub\n"
            "User-agent: c-bot\n"
            "Disallow: /c-only\n"
        )
        rules = parse_robots_rules(
            spark.createDataFrame(
                [("t.com", txt)], "domain: string, robots_txt: string"
            )
        )
        got = sorted(
            (r.agent, r.rule, r.path_prefix) for r in rules.collect()
        )
        assert got == [
            ("*", "allow", "/x/pub"),
            ("*", "disallow", "/x"),
            ("a-bot", "allow", "/x/pub"),
            ("a-bot", "disallow", "/x"),
            ("b-bot", "allow", "/x/pub"),
            ("b-bot", "disallow", "/x"),
            ("c-bot", "disallow", "/c-only"),
        ]
        docs = spark.createDataFrame(
            [
                (1, "https://t.com/x/priv"),
                (2, "https://t.com/x/pub/p"),
                (3, "https://t.com/c-only/q"),
                (4, "https://t.com/free"),
            ],
            "doc_id: long, url: string",
        )
        # a-bot: group rules bite, c-only does not
        kept_a = sorted(
            r.doc_id
            for r in robots_disallow_filter(
                docs, rules, agent="a-bot"
            ).collect()
        )
        assert kept_a == [2, 3, 4]
        # c-bot HAS its own group, so the shared group's * membership
        # does NOT apply to it (§2.2.1: most specific group only)
        kept_c = sorted(
            r.doc_id
            for r in robots_disallow_filter(
                docs, rules, agent="c-bot"
            ).collect()
        )
        assert kept_c == [1, 2, 4]
        # unknown agent falls back to * — the shared group's rules
        kept_u = sorted(
            r.doc_id
            for r in robots_disallow_filter(
                docs, rules, agent="nobody"
            ).collect()
        )
        assert kept_u == [2, 3, 4]

    def test_multi_agent_blank_line_continues_run(self, spark):
        """RFC 9309 ABNF: blank/comment lines between User-agent lines
        do NOT break the run; a directive line DOES — a later UA line
        starts a fresh group."""
        from pgferry_spark.operators.domains import (
            parse_robots_rules,
            robots_crawl_delays,
        )

        txt = (
            "User-agent: a-bot\n"
            "\n"
            "# comment\n"
            "User-agent: b-bot\n"
            "Disallow: /ab\n"
            "Crawl-delay: 7\n"
            "User-agent: c-bot\n"
            "Disallow: /c\n"
        )
        df = spark.createDataFrame(
            [("r.com", txt)], "domain: string, robots_txt: string"
        )
        got = sorted(
            (r.agent, r.path_prefix)
            for r in parse_robots_rules(df).collect()
        )
        assert got == [("a-bot", "/ab"), ("b-bot", "/ab"), ("c-bot", "/c")]
        # the delay belongs to BOTH agents of the group, not c-bot
        delays = sorted(
            (r.agent, r.delay_s) for r in robots_crawl_delays(df).collect()
        )
        assert delays == [("a-bot", 7), ("b-bot", 7)]

    def test_debroadcast_web_scale_rule_set(self, spark):
        """VERDICT r9 'What's wrong' #2 done-bar: a rules table with
        10^6 synthetic domains rides the shuffle-hash path (no
        broadcast) and the verdict stays correct — the per-domain
        argmax fold is unchanged, only the join strategy moves."""
        from pyspark.sql import functions as F

        from pgferry_spark.operators.domains import robots_disallow_filter

        rules = spark.range(1_000_000).select(
            F.concat(F.lit("d"), F.col("id").cast("string"),
                     F.lit(".com")).alias("domain"),
            F.lit("*").alias("agent"),
            F.lit("disallow").alias("rule"),
            F.lit("/private").alias("path_prefix"),
        )
        docs = spark.createDataFrame(
            [
                (1, "https://d42.com/private/x"),   # blocked
                (2, "https://d42.com/ok"),          # kept
                (3, "https://d999999.com/private"), # blocked (last domain)
                (4, "https://unlisted.org/private"),# kept: no rules
            ],
            "doc_id: long, url: string",
        )
        out = robots_disallow_filter(docs, rules, broadcast_limit=100_000)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan
        assert sorted(r.doc_id for r in out.collect()) == [2, 4]

    def test_debroadcast_above_limit(self, spark):
        """Rules-side row-count probe: under the limit the gate
        broadcasts (documents never shuffle); over it the same verdict
        rides a shuffle-hash equi-join (VERDICT r9 'What's wrong' #2).
        Output identical either way."""
        from pgferry_spark.operators.domains import (
            parse_robots_rules,
            robots_disallow_filter,
        )

        rules = parse_robots_rules(
            spark.createDataFrame(
                [("ex.com", self.RULES)], "domain: string, robots_txt: string"
            )
        )
        docs = spark.createDataFrame(
            [(1, "https://ex.com/private/x"), (2, "https://ex.com/ok")],
            "doc_id: long, url: string",
        )
        big = robots_disallow_filter(docs, rules, broadcast_limit=0)
        plan = big._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan
        assert sorted(r.doc_id for r in big.collect()) == [2]
        small = robots_disallow_filter(docs, rules)
        plan_s = small._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan_s
        assert sorted(r.doc_id for r in small.collect()) == [2]


class TestStorageBackedFunnel:
    """Round 12 (VERDICT r11 Next #8): the cc_ingest_funnel geometry
    run off REAL files once — write_warc_files a shard dir, read it
    back with read_warc_files, and assert the funnel stage counts
    equal the synthesis-path counts: the real-file loop composes with
    the HTTP envelope stack."""

    @staticmethod
    def _funnel_counts(containers):
        from pgferry_spark.sources.httpmsg import (
            http_charset_transcode,
            http_response_index,
        )

        idx = http_response_index(
            containers.select("container_id", "container")
        )
        tr = http_charset_transcode(
            containers.select("container_id", "container")
        )
        ok = idx.filter(F.col("digest_ok") & ~F.col("truncated"))
        k200 = tr.filter(F.col("status") == 200)
        uniq = k200.select(
            F.md5("text").alias("__d"), F.length("text").alias("__L")
        ).dropDuplicates(["__d"])
        return {
            "captured": idx.count(),
            "envelope_ok": ok.count(),
            "status_200": idx.filter("status = 200").count(),
            "transcoded": k200.count(),
            "unique_payload": uniq.count(),
            "quality_len": uniq.filter(F.col("__L") >= 200).count(),
        }

    def _captures(self, spark, n=48):
        """Capture stream with deterministic re-captures (the
        _warc_captures shape): id % 4 == 1 docs fetched twice."""
        rows = []
        for i in range(n):
            # some texts above, some below the 200-char quality gate
            text = f"Funnel body {i}. " + ("lorem ipsum " * (i % 3) * 10)
            rows.append((i, f"https://f{i % 5}.org/p/{i}", text))
            if i % 4 == 1:
                rows.append(
                    (i + 10_000_000, f"https://f{i % 5}.org/p/{i}", text)
                )
        return spark.createDataFrame(
            rows, "capture_id: long, url: string, text: string"
        )

    def test_disk_counts_equal_synthesis_counts(self, spark, tmp_path):
        from pgferry_spark.sources.httpmsg import attach_warc_http

        caps = self._captures(spark)
        containers = attach_warc_http(caps, id_col="capture_id")
        synth = self._funnel_counts(containers)
        # sanity: the funnel is substantive (every stage strictly
        # positive, re-captures actually dedup away)
        assert synth["captured"] > 0
        assert synth["unique_payload"] < synth["transcoded"]
        d = tmp_path / "shards"
        W.write_warc_files(containers, str(d))
        n_files = len(list(d.glob("shard-*.warc.gz")))
        assert n_files == containers.count()
        assert not list(d.glob("*.inprogress*"))  # all publishes atomic
        reloaded = W.read_warc_files(spark, str(d))
        disk = self._funnel_counts(reloaded)
        assert disk == synth

    def test_write_refuses_duplicate_shard_names(self, spark, tmp_path):
        """r11 ADVICE: duplicate container_id rows with DIVERGENT bytes
        must FAIL, not silently clobber a shard; r12 ADVICE: a
        byte-identical re-publish (Spark task retry / speculative
        duplicate) must SUCCEED instead of failing its own output."""
        d = tmp_path / "dup"
        df = spark.createDataFrame(
            [(7, bytearray(b"A" * 10)), (7, bytearray(b"B" * 10))],
            "container_id: long, container: binary",
        ).coalesce(1)
        with pytest.raises(Exception, match="refusing to clobber"):
            W.write_warc_files(df, str(d))
        # a re-run publishing IDENTICAL bytes is idempotent success...
        ok = spark.createDataFrame(
            [(9, bytearray(b"C" * 10))],
            "container_id: long, container: binary",
        )
        W.write_warc_files(ok, str(d))
        W.write_warc_files(ok, str(d))  # retry: no raise
        assert (d / "shard-000000000009.warc.gz").read_bytes() == b"C" * 10
        # ...while divergent bytes under the same name still refuse
        div = spark.createDataFrame(
            [(9, bytearray(b"D" * 10))],
            "container_id: long, container: binary",
        )
        with pytest.raises(Exception, match="refusing to clobber"):
            W.write_warc_files(div, str(d))
        assert (d / "shard-000000000009.warc.gz").read_bytes() == b"C" * 10
        # no temp debris left behind by the failures
        assert not list(d.glob("*.inprogress*"))

    def test_publish_atomic_contract(self, tmp_path):
        """The shared publish primitive: fresh link -> True, identical
        existing -> False (retry success), divergent -> ValueError with
        the original kept; the temp is unlinked on every path."""
        from pgferry_spark.sources.warc import publish_atomic

        tgt = tmp_path / "out.bin"

        def mktmp(data: bytes) -> str:
            p = tmp_path / f"t{len(list(tmp_path.iterdir()))}.inprogress"
            p.write_bytes(data)
            return str(p)

        t1 = mktmp(b"payload")
        assert publish_atomic(t1, str(tgt)) is True
        t2 = mktmp(b"payload")
        assert publish_atomic(t2, str(tgt)) is False
        t3 = mktmp(b"DIFFERENT")
        with pytest.raises(ValueError, match="divergent"):
            publish_atomic(t3, str(tgt))
        assert tgt.read_bytes() == b"payload"
        assert not list(tmp_path.glob("*.inprogress"))

    def test_write_shard_unlinks_temp_on_write_failure(self, tmp_path):
        """A write that dies BEFORE publish (ENOSPC, serialization
        error) must not leak the .inprogress temp in out_dir — the
        r13 draft lost the unlink (r13 ADVICE)."""
        import pytest

        from pgferry_spark.sources.warc import write_shard_atomic

        tgt = tmp_path / "shard-0.warc.gz"
        with pytest.raises(TypeError):
            # object() is not a bytes-like: f.write raises mid-write,
            # the exact shape of a serialization failure
            write_shard_atomic(str(tmp_path), str(tgt), object())
        assert not list(tmp_path.glob("*.inprogress"))
        assert not tgt.exists()
        # the happy path still publishes and returns True
        assert write_shard_atomic(str(tmp_path), str(tgt), b"ok") is True
        assert tgt.read_bytes() == b"ok"
        assert not list(tmp_path.glob("*.inprogress"))


class TestWarcFileSource:
    """Round 11: real .warc / .warc.gz files from storage — the bridge
    between synthesized containers and an actual shard directory."""

    def test_file_roundtrip_plain_and_gz(self, spark, tmp_path):
        import gzip as _gz

        docs = [(i, f"https://f.org/{i}", f"File doc {i}.")
                for i in range(1, 9)]
        recs = [
            {"type": "response", "record_id": f"urn:uuid:{i}",
             "uri": u, "payload": t.encode()}
            for i, u, t in docs
        ]
        d = tmp_path / "shards"
        d.mkdir()
        # one plain shard, one gzip-member shard, one foreign file the
        # glob must skip
        (d / "a.warc").write_bytes(W.encode_warc(recs[:4]))
        (d / "b.warc.gz").write_bytes(W.encode_warc_gz(recs[4:]))
        (d / "notes.txt").write_bytes(b"not a container")

        src = W.read_warc_files(spark, str(d))
        rows = src.collect()
        assert len(rows) == 2
        ids = [r.container_id for r in rows]
        assert all(i >= 0 for i in ids) and len(set(ids)) == 2
        # the UNCHANGED operators serve file-loaded containers
        got = {
            r["target_uri"]: r["text"]
            for r in W.warc_payload_extract(
                src.select("container_id", "container")
            ).collect()
        }
        assert got == {u: t for _, u, t in docs}
        # index rows remain joinable back to the shard path, and a
        # bounded range read off the index recovers a record
        idx = W.warc_record_index(
            src.select("container_id", "container")
        ).collect()
        by_path = {r.container_id: r.path for r in rows}
        row = [r for r in idx if r["target_uri"].endswith("/2")][0]
        blob = open(by_path[row["container_id"]].replace("file:", ""),
                    "rb").read()
        pay = W.warc_range_read(
            blob, row["payload_offset"], row["payload_len"]
        )
        assert pay == b"File doc 2."

    def test_publish_and_reload_wet_shards_as_files(self, spark, tmp_path):
        """The full publication loop through REAL files: WET export →
        write one .warc.wet.gz per shard → glob-reload → the unchanged
        extract recovers every document (no .inprogress files left)."""
        import os

        from pgferry_spark.operators.domains import attach_urls
        from pgferry_spark.sources.warc import (
            read_warc_files,
            wet_export,
            write_warc_files,
        )

        docs = spark.createDataFrame(
            [(i, f"src{i % 2}", f"Published body {i}.")
             for i in range(16)],
            "doc_id: long, source: string, text: string",
        )
        shards = wet_export(attach_urls(docs), gzip_members=True)
        out = str(tmp_path / "published")
        write_warc_files(shards, out, suffix=".warc.wet.gz")
        names = sorted(os.listdir(out))
        assert names == ["shard-000000000000.warc.wet.gz",
                         "shard-000000000001.warc.wet.gz"]
        reloaded = read_warc_files(spark, out, glob="*.warc.wet.gz")
        # key by (container, record): URL classes collide by design
        got = [
            r["text"]
            for r in W.warc_payload_extract(
                reloaded.select("container_id", "container")
            ).filter("record_no >= 1").collect()
        ]
        assert sorted(got) == sorted(
            f"Published body {i}." for i in range(16)
        )

    def test_ids_deterministic_across_reads(self, spark, tmp_path):
        d = tmp_path / "s2"
        d.mkdir()
        (d / "x.warc").write_bytes(W.encode_warc([
            {"type": "response", "record_id": "urn:uuid:1",
             "uri": "https://x.org/1", "payload": b"x"}]))
        a = W.read_warc_files(spark, str(d)).collect()[0].container_id
        b = W.read_warc_files(spark, str(d)).collect()[0].container_id
        assert a == b


class TestCdxjOfficialFormat:
    """Round 12: the OFFICIAL CommonCrawl wire formats — CDXJ lines
    (``urlkey<SP>timestamp<SP>{json}``) and the cluster.idx TSV — over
    the same SURT/blocking/gzip machinery the private format proved."""

    def _facts(self, spark, n=40):
        from pgferry_spark.operators.domains import attach_urls, surt_keys
        from pgferry_spark.sources.httpmsg import (
            HTTP_MEDIA_SQL,
            HTTP_STATUS_SQL,
        )
        from pgferry_spark.sources.zipnum import (
            FETCH_TS_SQL,
            WARC_FILENAME_SQL,
        )

        docs = spark.createDataFrame(
            [(i, f"src{i % 3}", f"Body {i}.") for i in range(n)],
            "doc_id: long, source: string, text: string",
        )
        idx = W.warc_record_index(W.attach_warc(attach_urls(docs)))
        cdx = surt_keys(idx, url_col="target_uri")
        i = "(container_id * 8 + record_no)"
        return (
            cdx.withColumn("fetch_ts", F.expr(FETCH_TS_SQL.format(id=i)))
            .withColumn("mime", F.expr(HTTP_MEDIA_SQL.format(id=i)))
            .withColumn(
                "status", F.expr(HTTP_STATUS_SQL.format(id=i)).cast("int")
            )
            .withColumn(
                "filename",
                F.expr(WARC_FILENAME_SQL.format(cid="container_id")),
            )
        )

    def test_line_shape_key_order_and_parse_roundtrip(self, spark):
        """Every emitted line is a real CDXJ line: 14-digit timestamp,
        valid json with the PUBLIC key order, values that json.loads
        recovers — and cdxj_parse round-trips every typed field."""
        import json
        import re

        from pgferry_spark.sources.zipnum import cdxj_lines, cdxj_parse

        facts = self._facts(spark)
        lines_df = cdxj_lines(facts)
        rows = lines_df.collect()
        assert len(rows) == 40
        for r in rows:
            m = re.match(r"^(\S+) (\d{14}) (\{.*\})$", r.cdxj_line)
            assert m, r.cdxj_line
            assert m.group(1) == r.surt
            assert m.group(2) == r.fetch_ts
            j = json.loads(m.group(3))
            assert list(j) == [
                "url", "mime", "status", "digest", "length", "offset",
                "filename",
            ]
            assert j["url"] == r.target_uri
            assert j["mime"] == r.mime
            assert j["status"] == str(r.status)
            assert j["digest"] == r.payload_md5
            assert j["length"] == str(r.rec_len)
            assert j["offset"] == str(r.rec_offset)
            assert j["filename"] == r.filename
            assert j["filename"].startswith("crawl-data/CC-MAIN-2024-33/")
            assert j["filename"].endswith(".warc.gz")
        parsed = {
            p.urlkey + " " + p.fetch_ts + " " + p.url: p
            for p in cdxj_parse(lines_df.select("cdxj_line")).collect()
        }
        for r in rows:
            p = parsed[r.surt + " " + r.fetch_ts + " " + r.target_uri]
            assert (p.status, p.length, p.offset, p.digest, p.filename) == (
                r.status, r.rec_len, r.rec_offset, r.payload_md5, r.filename
            )

    def test_cdxj_roundtrip_property_adversarial_urls(self, spark):
        """Property: for ARBITRARY url byte-soup (quotes, backslashes,
        unicode — anything but the separators the wire format itself
        reserves: space/newline), emit -> json.loads recovers the url
        exactly and cdxj_parse recovers every typed field."""
        import json

        from hypothesis import given, settings
        from hypothesis import strategies as st

        from pgferry_spark.sources.zipnum import cdxj_lines, cdxj_parse

        # NUL is the engine-wide strip-upstream boundary (DuckDB
        # VARCHAR cannot hold it); space/CR/LF are the wire format's
        # own separators.  Everything else — including the other
        # control chars, quotes, backslashes — must round-trip.
        url_st = st.text(
            alphabet=st.characters(
                blacklist_characters=" \n\r\x00",
                blacklist_categories=("Cs",),
            ),
            min_size=0,
            max_size=60,
        )

        @settings(max_examples=12, deadline=None)  # each draw runs Spark
        @given(st.lists(url_st, min_size=1, max_size=8, unique=True))
        def check(urls):
            df = spark.createDataFrame(
                [
                    (f"org,x)/{i}", "20240815000000", u, "text/html",
                     200, "d" * 32, 10 + i, 100 * i, "f.warc.gz")
                    for i, u in enumerate(urls)
                ],
                "surt: string, fetch_ts: string, target_uri: string,"
                " mime: string, status: int, payload_md5: string,"
                " rec_len: long, rec_offset: long, filename: string",
            )
            out = cdxj_lines(df)
            for r in out.collect():
                j = json.loads(r.cdxj_line.split(" ", 2)[2])
                assert j["url"] == r.target_uri
            parsed = {
                p.urlkey: p
                for p in cdxj_parse(out.select("cdxj_line")).collect()
            }
            for i, u in enumerate(urls):
                p = parsed[f"org,x)/{i}"]
                assert p.url == u
                assert (p.length, p.offset) == (10 + i, 100 * i)

        check()

    def test_json_escaping_survives_parse(self, spark):
        """A URL carrying quote/backslash bytes is escaped on emit and
        recovered exactly on parse (the _JSON_ESC discipline)."""
        import json

        from pgferry_spark.sources.zipnum import cdxj_lines, cdxj_parse

        nasty = 'https://x.org/p?q="a\\b"'
        df = spark.createDataFrame(
            [("org,x)/p?q=", "20240815000000", nasty, "text/html", 200,
              "d" * 32, 10, 0, "f.warc.gz")],
            "surt: string, fetch_ts: string, target_uri: string,"
            " mime: string, status: int, payload_md5: string,"
            " rec_len: long, rec_offset: long, filename: string",
        )
        line = cdxj_lines(df).collect()[0].cdxj_line
        j = json.loads(line.split(" ", 2)[2])
        assert j["url"] == nasty
        got = cdxj_parse(
            cdxj_lines(df).select("cdxj_line")
        ).collect()[0]
        assert got.url == nasty

    def _lines(self, spark, n=40):
        from pgferry_spark.sources.zipnum import cdxj_lines

        return cdxj_lines(self._facts(spark, n)).select(
            "surt", "fetch_ts", "container_id", "record_no", "cdxj_line"
        )

    def _packed(self, spark, tmp_path, n=40):
        """One published shard: its bytes, the cluster rows read back
        from cluster.idx, every line, and the lines per block."""
        import gzip as _gz

        from pgferry_spark.sources.zipnum import (
            publish_zipnum_sharded,
            read_zipnum_files,
        )

        d = tmp_path / "packed"
        publish_zipnum_sharded(self._lines(spark, n), str(d), n_shards=1)
        shards, cluster = read_zipnum_files(str(d))
        shard = shards["cdx-00000.gz"]
        block_lines = [
            _gz.decompress(
                shard[c["offset"]: c["offset"] + c["length"]]
            ).decode().splitlines()
            for c in cluster
        ]
        all_lines = [ln for bl in block_lines for ln in bl]
        return shard, cluster, all_lines, block_lines

    def test_cdxj_cluster_content_matches_pack(self, spark, tmp_path):
        """The oracle-backed cluster CONTENT and the published bytes
        agree block-for-block over the official lines: same first
        keys, same counts, and inflating each published block
        reproduces the digested lines in key order."""
        import hashlib

        from pgferry_spark.sources.zipnum import cdxj_zipnum_cluster

        content = cdxj_zipnum_cluster(self._lines(spark, 40)).collect()
        _, cluster, _, block_lines = self._packed(spark, tmp_path, 40)
        assert sorted(r.block_no for r in content) == [
            c["cluster"] for c in cluster
        ] == list(range(5))  # 40/8
        for c in content:
            ls = block_lines[c.block_no]
            assert cluster[c.block_no]["first_key"] == c.first_key
            assert len(ls) == c.n_lines == 8
            assert hashlib.md5(
                "\n".join(ls).encode()
            ).hexdigest() == c.lines_md5
            keys = [" ".join(ln.split(" ", 2)[:2]) for ln in ls]
            assert keys == sorted(keys)
            assert keys[0] == c.first_key and keys[-1] == c.last_key

    def test_cluster_idx_tsv_official_shape(self, spark, tmp_path):
        """5 tab-separated fields, 'urlkey<SP>ts' first key, offsets
        tiling the shard byte-exactly, sequential cluster numbers."""
        shard, cluster, all_lines, _ = self._packed(spark, tmp_path)
        assert [c["cluster"] for c in cluster] == list(range(len(cluster)))
        assert cluster[0]["offset"] == 0
        for a, b in zip(cluster, cluster[1:]):
            assert b["offset"] == a["offset"] + a["length"]
            assert a["first_key"] <= b["first_key"]
        assert cluster[-1]["offset"] + cluster[-1]["length"] == len(shard)
        for c in cluster:
            assert c["filename"] == "cdx-00000.gz"
            urlkey, ts = c["first_key"].rsplit(" ", 1)
            assert len(ts) == 14 and ts.isdigit()
        # the shard lines are in total key order
        keys = [" ".join(ln.split(" ", 2)[:2]) for ln in all_lines]
        assert keys == sorted(keys)

    def test_official_lookup_total_and_bounded(self, spark, tmp_path):
        """Property: ANY key over the official firsts-only cluster rows
        returns the full-scan-identical lines; cost is (blocks holding
        the key) + at most one leading probe; an absent key costs at
        most one read."""
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from pgferry_spark.sources.zipnum import zipnum_lookup

        shard, cluster, all_lines, block_lines = self._packed(spark, tmp_path)
        shards = {"cdx-00000.gz": shard}
        real_keys = sorted({ln.split(" ", 1)[0] for ln in all_lines})

        @settings(max_examples=120, deadline=None)
        @given(st.one_of(
            st.sampled_from(real_keys),
            st.text(min_size=0, max_size=40),
        ))
        def check(key):
            got, inflated = zipnum_lookup(shards, cluster, key)
            want = [ln for ln in all_lines
                    if ln.split(" ", 1)[0] == key]
            assert got == want
            holding = sum(
                1 for bl in block_lines
                if any(ln.split(" ", 1)[0] == key for ln in bl)
            )
            assert holding <= inflated <= max(holding, 1) + 1
            if not want:
                assert inflated <= 1

        check()

    def test_official_lookup_multi_shard_files(self, spark, tmp_path):
        """cluster rows naming different shard files route each probe
        to the right blob — the 100 TB layout where cdx-00000..NNN are
        separate objects."""
        from pgferry_spark.sources.zipnum import zipnum_lookup

        shard, cluster, all_lines, _ = self._packed(spark, tmp_path)
        # split the physical shard at each block boundary into per-file
        # blobs named cdx-<cluster>.gz, offsets rebased to 0
        shards = {}
        rows = []
        for c in cluster:
            fn = f"cdx-{c['cluster']:05d}.gz"
            shards[fn] = shard[c["offset"]: c["offset"] + c["length"]]
            rows.append({**c, "filename": fn, "offset": 0})
        for key in {ln.split(" ", 1)[0] for ln in all_lines}:
            got, _ = zipnum_lookup(shards, rows, key)
            assert got == [
                ln for ln in all_lines if ln.split(" ", 1)[0] == key
            ]

    def test_cdx11_line_shape_and_parse_roundtrip(self, spark):
        """The classic 11-field format: exactly 11 space-separated
        fields matching the ' CDX N b a m s k r M S V g' header,
        '-' placeholders for redirect/meta, and cdx11_parse recovers
        every typed field."""
        from pgferry_spark.sources.zipnum import (
            CDX11_HEADER,
            cdx11_lines,
            cdx11_parse,
        )

        assert CDX11_HEADER == " CDX N b a m s k r M S V g"
        facts = self._facts(spark)
        df = cdx11_lines(facts)
        rows = df.collect()
        assert len(rows) == 40
        for r in rows:
            parts = r.cdx11_line.split(" ")
            assert len(parts) == 11, r.cdx11_line
            assert parts[0] == r.surt
            assert parts[1] == r.fetch_ts and len(parts[1]) == 14
            assert parts[2] == r.target_uri
            assert parts[3] == r.mime
            assert parts[4] == str(r.status)
            assert parts[5] == r.payload_md5
            assert parts[6] == "-" and parts[7] == "-"
            assert parts[8] == str(r.rec_len)
            assert parts[9] == str(r.rec_offset)
            assert parts[10] == r.filename
        parsed = {
            (p.urlkey, p.fetch_ts, p.url): p
            for p in cdx11_parse(df.select("cdx11_line")).collect()
        }
        for r in rows:
            p = parsed[(r.surt, r.fetch_ts, r.target_uri)]
            assert (
                p.status, p.digest, p.redirect, p.meta_tags, p.length,
                p.offset, p.filename,
            ) == (
                r.status, r.payload_md5, "-", "-", r.rec_len,
                r.rec_offset, r.filename,
            )

    def test_zipnum_pair_publishes_atomically_or_rolls_back(
        self, spark, tmp_path
    ):
        """The shard + cluster.idx pair publishes together or not at
        all (r12 ADVICE): when the index publish fails (divergent
        cluster.idx already present), the freshly-linked shard is
        rolled back — no shard-without-index torn layout survives, and
        a rerun into a cleaned dir succeeds."""
        from pgferry_spark.sources.zipnum import publish_zipnum_sharded

        lines = self._lines(spark, 24)
        d = tmp_path / "torn"
        d.mkdir()
        (d / "cluster.idx").write_text("bogus foreign index\n")
        with pytest.raises(Exception, match="refusing to clobber"):
            publish_zipnum_sharded(lines, str(d), n_shards=1)
        assert not (d / "cdx-00000.gz").exists()  # shard rolled back
        assert (d / "cluster.idx").read_text() == "bogus foreign index\n"
        assert not list(d.glob("*.inprogress*"))
        (d / "cluster.idx").unlink()
        publish_zipnum_sharded(lines, str(d), n_shards=1)  # rerun succeeds
        assert (d / "cdx-00000.gz").exists()
        assert (d / "cluster.idx").exists()

    def test_publish_zipnum_sharded_distributed_layout(
        self, spark, tmp_path
    ):
        """The distributed official layout: N range-partitioned shard
        files + one merged cluster.idx, written executor-side; lookup
        over the on-disk artifacts equals a full scan for every key,
        shard key ranges tile the key space, offsets tile each file."""
        import gzip as _gz

        from pgferry_spark.sources.zipnum import (
            publish_zipnum_sharded,
            read_zipnum_files,
            zipnum_lookup,
        )

        lines = self._lines(spark, 64)
        d = tmp_path / "sharded"
        cluster = publish_zipnum_sharded(lines, str(d), n_shards=4)
        files = sorted(p.name for p in d.glob("cdx-*.gz"))
        # range-partition SAMPLING decides how many of the 4 shards are
        # non-empty, and its seed drifts with the shared session's RDD
        # ids — under suite concurrency a 1-shard layout occurs, so
        # only the ceiling is deterministic here; the multi-shard
        # routing itself is proven deterministically in
        # test_official_lookup_multi_shard_files.
        assert 1 <= len(files) <= 4
        assert (d / "cluster.idx").exists()
        shards, cluster2 = read_zipnum_files(str(d))
        assert [c["cluster"] for c in cluster2] == list(
            range(len(cluster2))
        )
        assert cluster2 == cluster
        # per-file offsets tile each shard byte-exactly
        for fn, blob in shards.items():
            rows = sorted(
                (c for c in cluster2 if c["filename"] == fn),
                key=lambda c: c["offset"],
            )
            assert rows[0]["offset"] == 0
            for a, b in zip(rows, rows[1:]):
                assert b["offset"] == a["offset"] + a["length"]
            assert rows[-1]["offset"] + rows[-1]["length"] == len(blob)
        # global key order across the merged cluster.idx
        firsts = [c["first_key"] for c in cluster2]
        assert firsts == sorted(firsts)
        all_lines = []
        for c in cluster2:
            blob = shards[c["filename"]]
            all_lines += (
                _gz.decompress(
                    blob[c["offset"]: c["offset"] + c["length"]]
                ).decode().splitlines()
            )
        keys = [" ".join(ln.split(" ", 2)[:2]) for ln in all_lines]
        assert keys == sorted(keys) and len(all_lines) == 64
        for key in {ln.split(" ", 1)[0] for ln in all_lines}:
            got, _ = zipnum_lookup(shards, cluster2, key)
            assert got == [
                ln for ln in all_lines if ln.split(" ", 1)[0] == key
            ]
        # re-publish: a byte-identical outcome (same range split —
        # task-retry shape) is idempotent success; a drifted range
        # split produces divergent bytes under the same names and
        # refuses.  Either way the first publication survives intact.
        before = {p.name: p.read_bytes() for p in d.iterdir()}
        try:
            publish_zipnum_sharded(lines, str(d), n_shards=4)
        except Exception as exc:
            assert "refusing to clobber" in str(exc)
        after = {p.name: p.read_bytes() for p in d.iterdir()}
        assert {k: after[k] for k in before} == before
        assert not list(d.glob("*.inprogress*"))

    def test_bulk_lookup_matches_per_key_lookup(self, spark, tmp_path):
        """The batch lookup (keys DataFrame -> index lines, blocks
        inflated once per task) returns exactly the per-key
        zipnum_lookup result for every present key and nothing for
        absent keys."""
        from pgferry_spark.sources.zipnum import (
            publish_zipnum_sharded,
            read_zipnum_files,
            zipnum_bulk_lookup,
            zipnum_lookup,
        )

        lines = self._lines(spark, 64)
        d = tmp_path / "bulk"
        publish_zipnum_sharded(lines, str(d), n_shards=3)
        shards, cluster = read_zipnum_files(str(d))
        real_keys = sorted(
            {r.surt for r in lines.select("surt").collect()}
        )
        probe = real_keys + ["!absent", "zz,nothing)/x", "com,"]
        keys_df = spark.createDataFrame(
            [(k,) for k in probe], "urlkey: string"
        ).repartition(4)
        got = {}
        for r in zipnum_bulk_lookup(keys_df, cluster, str(d)).collect():
            got.setdefault(r.urlkey, []).append(r.cdxj_line)
        for k in probe:
            want, _ = zipnum_lookup(shards, cluster, k)
            assert sorted(got.get(k, [])) == sorted(want), k
        assert "!absent" not in got

    def test_block_lru_capacity_bound(self):
        """The bounded-memory assertion (VERDICT r13 Next #7): the
        per-task block cache can NEVER hold more than maxsize entries,
        whatever the routing — worst-case unsorted keys included —
        and it evicts least-recently-USED, so a hot block a hostile
        interleave keeps touching stays resident."""
        from pgferry_spark.sources.zipnum import _BlockLRU

        lru = _BlockLRU(128)
        for i in range(1000):
            assert lru.get(("f", i)) is None
            lru.put(("f", i), [f"line{i}"])
            # refresh block 0's recency every step while it's resident
            if i >= 1 and lru.get(("f", 0)) is not None:
                pass
            assert len(lru) <= 128
        assert lru.peak == 128
        # block 0 survived 1000 insertions because every touch
        # refreshed it; block 1 (never re-touched) was evicted
        assert lru.get(("f", 0)) is not None
        assert lru.get(("f", 1)) is None

    def test_bulk_lookup_worst_case_routing_bounded_cache(
        self, spark, tmp_path
    ):
        """Worst-case routing proof: a single UNSORTED key partition
        fans across every block of the layout; with the cache forced
        far below the block count (cache_blocks=2 over a ~12-block
        layout) the lookup churns through eviction on nearly every
        block switch and must still return byte-identical results —
        boundedness is a memory property, never a correctness one.
        (tools/zipnum_slope.py measures the same posture at sf scale.)"""
        import random

        from pgferry_spark.sources.zipnum import (
            publish_zipnum_sharded,
            zipnum_bulk_lookup,
        )

        lines = self._lines(spark, 96)
        d = tmp_path / "worst"
        cluster = publish_zipnum_sharded(lines, str(d), n_shards=3)
        assert len(cluster) > 8  # the fixture must out-block the cache
        keys = sorted({r.surt for r in lines.select("surt").collect()})
        rng = random.Random(14)
        shuffled = keys * 3  # repeats: the same block re-demanded later
        rng.shuffle(shuffled)
        keys_df = spark.createDataFrame(
            [(k,) for k in shuffled], "urlkey: string"
        ).coalesce(1)  # ONE task: the full fan-out hits one cache
        churn = sorted(
            (r.urlkey, r.cdxj_line)
            for r in zipnum_bulk_lookup(
                keys_df, cluster, str(d), cache_blocks=2
            ).collect()
        )
        roomy = sorted(
            (r.urlkey, r.cdxj_line)
            for r in zipnum_bulk_lookup(keys_df, cluster, str(d)).collect()
        )
        # every key repeat returns ALL of its index lines (multi-capture
        # surts return several), so the total is 3x the line count
        assert churn == roomy and len(churn) == 3 * lines.count()

    def test_parse_total_on_garbage_lines(self, spark):
        """Totality of the read side: malformed CDXJ / CDX11 lines
        parse to nulls (from_json / empty split_part semantics) — a
        corrupt index line can never crash a distributed scan; callers
        filter on the null fields."""
        from pgferry_spark.sources.zipnum import cdx11_parse, cdxj_parse

        garbage = [
            "", "nokey", "a b", "a b notjson", 'k 123 {"url": 5}',
            "k 20240815000000 {}", "x y {\"url\": \"u\"} trailing",
            "\t\t\t", "k " * 40,
        ]
        dfj = spark.createDataFrame(
            [(g,) for g in garbage], "cdxj_line: string"
        )
        assert len(cdxj_parse(dfj).collect()) == len(garbage)
        df1 = spark.createDataFrame(
            [(g,) for g in garbage], "cdx11_line: string"
        )
        assert len(cdx11_parse(df1).collect()) == len(garbage)

    def test_parse_cluster_idx_rejects_malformed(self):
        from pgferry_spark.sources.zipnum import parse_cluster_idx

        with pytest.raises(ValueError):
            parse_cluster_idx("a b\tf\t0\t1")  # 4 fields
        with pytest.raises(ValueError):
            parse_cluster_idx("nokey\tf\t0\t1\t0")  # no SP in key
        with pytest.raises(ValueError):
            parse_cluster_idx("a b\tf\tx\t1\t0")  # non-numeric offset


class TestRobotsSitemapDirective:
    """Round 10, second wave: sitemaps.org 'Sitemap:' announcement
    lines in robots.txt — group-independent, case-sensitive URL."""

    def test_spellings_terminators_and_case_preserved(self, spark):
        from pgferry_spark.operators.domains import robots_sitemap_urls

        rows = [
            # LF body, directive inside a UA group (group-independent)
            ("a.org", "User-agent: *\nDisallow: /x\n"
                      "Sitemap: https://a.org/SiteMap.XML"),
            # CRLF body, lowercase + ALLCAPS spellings, cross-host
            ("b.net", "sitemap: https://b.net/sm/One.xml\r\n"
                      "SITEMAP: https://cdn.b.net/Two.xml\r\n"
                      "User-agent: *"),
            # no directive
            ("c.io", "User-agent: *\nDisallow: /"),
        ]
        df = spark.createDataFrame(rows, "domain: string, robots_txt: string")
        got = [
            (r.domain, r.sitemap_url)
            for r in robots_sitemap_urls(df)
            .orderBy("domain", "line_no")
            .collect()
        ]
        # URL case survives; CRLF leaves no \r; all spellings match
        assert got == [
            ("a.org", "https://a.org/SiteMap.XML"),
            ("b.net", "https://b.net/sm/One.xml"),
            ("b.net", "https://cdn.b.net/Two.xml"),
        ]

    def test_tab_after_colon_and_trailing_tab_comment(self, spark):
        """Round-10 ADVICE: real robots.txt lines spell the directive
        with a tab after the colon and carry trailing tab-separated
        comment text — neither byte may leak into the captured URL."""
        from pgferry_spark.operators.domains import robots_sitemap_urls

        rows = [
            ("t.org", "Sitemap:\thttps://t.org/sm.xml"),
            ("u.org", "Sitemap: https://u.org/a.xml\t# announced"),
            ("v.org", "sitemap\t:\t https://v.org/b.xml"),
        ]
        df = spark.createDataFrame(rows, "domain: string, robots_txt: string")
        got = sorted(
            (r.domain, r.sitemap_url)
            for r in robots_sitemap_urls(df).collect()
        )
        assert got == [
            ("t.org", "https://t.org/sm.xml"),
            ("u.org", "https://u.org/a.xml"),
            ("v.org", "https://v.org/b.xml"),
        ]

    def test_rule_parsers_unaffected_by_directive_lines(self, spark):
        """Sitemap lines must be inert to the Allow/Disallow and
        Crawl-delay parsers (they own the lowercased pipeline)."""
        from pgferry_spark.operators.domains import parse_robots_rules

        df = spark.createDataFrame(
            [("a.org", "User-agent: *\nSitemap: https://a.org/s.xml\n"
                       "Disallow: /p")],
            "domain: string, robots_txt: string",
        )
        rules = [(r.rule, r.path_prefix)
                 for r in parse_robots_rules(df).collect()]
        assert rules == [("disallow", "/p")]


class TestRecrawlPlan:
    def test_fetch_vs_revalidate_split(self, spark):
        """Seen canonical URLs revalidate with the stored digest;
        unseen ones fetch; tracking-param/www variants collapse onto
        one plan row; re-captures elect one deterministic digest."""
        from pgferry_spark.operators.domains import recrawl_plan

        cands = spark.createDataFrame(
            [(1, "https://a.org/p"),
             (2, "https://www.a.org/p?utm_source=x"),  # same canonical
             (3, "https://b.org/new")],
            "doc_id: long, url: string",
        )
        caps = spark.createDataFrame(
            [(10, "https://a.org/p", "d1"),
             (11, "https://a.org/p", "d0")],  # re-capture: min digest
            "capture_id: long, url: string, digest: string",
        )
        got = {r.nurl: (r.action, r.etag)
               for r in recrawl_plan(cands, caps).collect()}
        assert len(got) == 2  # variants collapsed
        assert got["a.org/p"] == ("revalidate", "d0")
        assert got["b.org/new"] == ("fetch", "")


class TestCrawlFrontier:
    def test_delays_parsed_with_agent_attribution(self, spark):
        from pgferry_spark.operators.domains import robots_crawl_delays

        df = spark.createDataFrame(
            [("ex.com", "User-agent: googlebot\nCrawl-delay: 7\n"
                        "User-agent: *\nDisallow: /x\nCrawl-delay: 2"),
             ("nodelay.org", "User-agent: *\nDisallow: /y")],
            "domain: string, robots_txt: string",
        )
        got = sorted(
            (r.domain, r.agent, r.delay_s)
            for r in robots_crawl_delays(df).collect()
        )
        assert got == [("ex.com", "*", 2), ("ex.com", "googlebot", 7)]

    def test_frontier_dedups_ranks_and_caps(self, spark):
        from pgferry_spark.operators.domains import crawl_frontier

        links = spark.createDataFrame(
            [
                # 3 docs link to /hot (authority 3); 1 doc to /cold;
                # /seen is already crawled; tracking variants collapse
                (1, "https://t.org/hot"),
                (2, "https://t.org/hot?utm_source=x"),
                (3, "https://www.t.org/hot"),
                (3, "https://t.org/cold"),
                (1, "https://t.org/seen"),
                (2, "https://t.org/c2"), (2, "https://t.org/c3"),
            ],
            "doc_id: long, href: string",
        )
        crawled = spark.createDataFrame(
            [("t.org/seen",)], "nurl: string"
        )
        out = {r.nurl: r for r in crawl_frontier(
            links, crawled, per_domain_cap=2
        ).collect()}
        # /seen anti-joined away; cap keeps top-2 by authority
        assert "t.org/seen" not in out
        assert out["t.org/hot"].rank == 1
        assert out["t.org/hot"].n_links == 3
        assert out["t.org/hot"].n_src_docs == 3
        assert len(out) == 2  # cap=2 per domain

    def test_frontier_link_farm_salted_precap(self, spark):
        """A spam link farm (one domain = half of all candidate URLs)
        must not serialize the rank window on one partition: the salted
        pre-top-k bounds any task to ~1/salt_buckets of a domain, and
        the output is IDENTICAL to the single-window form (VERDICT r9
        'What's wrong' #3)."""
        from pyspark.sql import functions as F

        from pgferry_spark.operators.domains import crawl_frontier

        n = 4000
        farm = spark.range(n).select(
            (F.col("id") % 40).alias("doc_id"),
            F.concat(
                F.lit("https://farm.spam/p"), F.col("id").cast("string")
            ).alias("href"),
        )
        healthy = spark.range(n).select(
            (F.col("id") % 40).alias("doc_id"),
            F.concat(
                F.lit("https://site"),
                (F.col("id") % 500).cast("string"),
                F.lit(".org/a"),
                F.col("id").cast("string"),
            ).alias("href"),
        )
        links = farm.unionAll(healthy)
        crawled = spark.createDataFrame([("farm.spam/p0",)], "nurl: string")
        salted = crawl_frontier(links, crawled, per_domain_cap=3)
        plain = crawl_frontier(
            links, crawled, per_domain_cap=3, salt_buckets=0
        )
        a = sorted(map(tuple, salted.collect()))
        b = sorted(map(tuple, plain.collect()))
        assert a == b and len(a) > 0
        # plan pin: two rank windows, and the pre-pass one partitions
        # on (domain, __salt) — the full candidate set is never ranked
        # on a bare-domain partition
        plan = salted._jdf.queryExecution().executedPlan().toString()
        assert "__salt" in plan
        # the bare-domain window sees only pre-capped survivors: its
        # input partitioning hashes (domain) AFTER a filter on __srk
        assert "__srk" in plan


class TestFrontierSchedule:
    def test_sitemap_locs_parse_and_empty_files(self, spark):
        from pgferry_spark.operators.domains import parse_sitemap_locs

        df = spark.createDataFrame(
            [("a.org", '<?xml version="1.0"?><urlset>'
                       "<url><loc>https://a.org/x</loc>"
                       "<lastmod>2026-01-05</lastmod></url>"
                       "<url><loc>https://a.org/y</loc></url></urlset>"),
             ("b.org", "")],
            "domain: string, sitemap_xml: string",
        )
        got = sorted(
            (r.domain, r.loc_no, r.loc_url)
            for r in parse_sitemap_locs(df).collect()
        )
        assert got == [
            ("a.org", 0, "https://a.org/x"),
            ("a.org", 1, "https://a.org/y"),
        ]

    def test_schedule_spacing_default_and_parallel_domains(self, spark):
        from pgferry_spark.operators.domains import frontier_schedule

        frontier = spark.createDataFrame(
            [("a.org/1", "a.org", 1), ("a.org/2", "a.org", 2),
             ("a.org/3", "a.org", 3), ("b.net/1", "b.net", 1),
             ("b.net/2", "b.net", 2)],
            "nurl: string, domain: string, rank: int",
        )
        delays = spark.createDataFrame(
            [("a.org", "*", 5), ("a.org", "googlebot", 9)],
            "domain: string, agent: string, delay_s: int",
        )
        got = {
            r.nurl: (r.delay_s, r.fetch_at_s)
            for r in frontier_schedule(frontier, delays).collect()
        }
        # a.org paces at its declared 5 s; b.net at the 1 s default;
        # both domains start at t=0 (parallel)
        assert got == {
            "a.org/1": (5, 0), "a.org/2": (5, 5), "a.org/3": (5, 10),
            "b.net/1": (1, 0), "b.net/2": (1, 1),
        }


class TestRobotsGate:
    def test_flags_both_polarities(self, spark):
        from pgferry_spark.operators.html import robots_noindex_flags

        rows = [
            (1, '<head><meta name="robots" content="noindex,nofollow">'
                "</head><p>a.</p>"),
            (2, '<head><meta name="robots" content="index,follow">'
                "</head><p>b.</p>"),
            (3, "<p>no meta at all.</p>"),
            (4, '<META NAME="ROBOTS" CONTENT="NOINDEX">x'),  # case-folded
            # content-before-name ordering + unquoted attr both tolerated
            (5, "<meta content=\"noindex\" name=robots>y"),
        ]
        df = spark.createDataFrame(rows, "doc_id: long, html: string")
        got = {r.doc_id: r.noindex for r in robots_noindex_flags(df).collect()}
        assert got == {1: True, 2: False, 3: False, 4: True, 5: True}

    def test_funnel_has_robots_stage(self, spark):
        from pgferry_spark.operators.domains import (
            attach_urls,
            web_curation_funnel,
        )
        from pgferry_spark.operators.html import attach_html

        docs = spark.createDataFrame(
            [(i, f"text body {i} sentence one. And sentence two here {i}.",
              "s", 40) for i in range(1, 49)],
            "doc_id: long, text: string, source: string, n_chars: long",
        )
        out = {
            r.stage: r.n_docs
            for r in web_curation_funnel(
                attach_html(attach_urls(docs)), ("nosuch.example",), ("login",)
            ).collect()
        }
        assert set(out) == {
            "0_raw", "1_url_keyword_gate", "2_domain_blocklist",
            "3_robots_noindex", "4_page_clean", "5_url_dedup_keepers",
        }
        # template 3 docs with id%12==3 carry noindex: ids 3,15,27,39 -> 4
        assert out["2_domain_blocklist"] - out["3_robots_noindex"] == 4
        assert out["3_robots_noindex"] >= out["4_page_clean"]
