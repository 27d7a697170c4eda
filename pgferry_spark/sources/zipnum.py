"""CDX zipnum secondary index (round 11) — the cluster.idx pattern.

The first-level CDX index (``cdx_index``: SURT-keyed capture rows,
range-scan pruning proven in tests/test_layout_skew.py's surt-range
layout) answers "all captures of example.org" with a range scan — but
the PUBLIC CommonCrawl access pattern adds one more level so a single
URL lookup over a ~300 GB index touches ONE compressed block: the CDX
lines are sorted by SURT, grouped every-N-lines into blocks, each
block deflated as one gzip member, and a tiny SECONDARY index
(``cluster.idx``) records per block its first key + (offset, length)
pointer.  Lookup = binary-search cluster.idx (config-scale, cacheable)
→ one ranged GET → inflate exactly one member → scan ≤N lines.

This module composes the existing machinery — the shared SURT template
(operators/domains.py), the CDX line synthesis, and the gzip-member
walk/read (sources/warc.py) — into that second level:

* :func:`cdx_zipnum_cluster` — the oracle-backed CONTENT of the
  secondary index: every CDX line's block by global rank
  (``rank div lines_per_block`` over the total (surt, container,
  record) order), per block the first/last key, line count, and an
  order-sensitive digest of the block's lines.  Everything is a
  closed-form function of the corpus, so the DuckDB twin replays the
  blocking arithmetic exactly;
* :func:`publish_zipnum_sharded` — the REAL bytes, in the official
  layout: range-partitioned shard files of gzip-member blocks plus the
  merged cluster.idx whose (offset, length) pointers come from the
  bytes actually written;
* :func:`zipnum_bulk_lookup` — the access path: bisect the cluster
  rows, inflate one member per candidate block, scan its lines
  (:func:`zipnum_lookup` is its per-key reference).

Scale shape: the only globally-ordered artifact is the CDX index
(~100-byte rows — ~1% of corpus bytes; the real system publishes it
totally ordered, so the order is the product, not overhead).  The
content entries' global rank rides one ``row_number`` window; the
publisher blocks every-N within each range-partitioned shard, so no
global window runs there.  Container/payload bytes are never touched:
zipnum is an index-over-the-index.
"""

from __future__ import annotations

import gzip

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

from .warc import publish_atomic, warc_member_read

# one CDX line — the shared spelling both engines evaluate verbatim
# over the index columns (CAST AS STRING is the one int->text spelling
# both accept)
CDX_LINE_SQL = (
    "surt || ' ' || CAST(container_id AS STRING)"
    " || ' ' || CAST(record_no AS STRING)"
    " || ' ' || CAST(rec_offset AS STRING)"
    " || ' ' || CAST(rec_len AS STRING)"
    " || ' ' || payload_md5"
)

_CDX_ORDER = ["surt", "container_id", "record_no"]


def cdx_zipnum_cluster(
    cdx: DataFrame, lines_per_block: int = 8
) -> DataFrame:
    """The secondary-index CONTENT: per zipnum block its
    ``(block_no, first_surt, last_surt, n_lines, lines_md5)`` —
    ``lines_md5`` is the digest of the block's newline-joined lines in
    rank order, so a green row certifies both the blocking arithmetic
    AND every byte of every line that lands in the block.  Block =
    global rank div N over the total (surt, container, record) order.
    (The physical (offset, length) pointers are gzip-length-dependent;
    :func:`publish_zipnum_sharded` writes them for the official
    format.)"""
    w = Window.orderBy(*[F.col(c) for c in _CDX_ORDER])
    b = (
        cdx.withColumn("cdx_line", F.expr(CDX_LINE_SQL))
        .withColumn("__rn", F.row_number().over(w) - 1)
        .withColumn("block_no", F.expr(f"__rn div {int(lines_per_block)}"))
    )
    return b.groupBy("block_no").agg(
        F.min("surt").alias("first_surt"),
        F.max("surt").alias("last_surt"),
        F.count(F.lit(1)).alias("n_lines"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("__rn", "cdx_line"))
                    ),
                    lambda x: x["cdx_line"],
                ),
                "\n",
            )
        ).alias("lines_md5"),
    )


def encode_zipnum_block(lines: list[str]) -> bytes:
    """One zipnum block: the lines newline-joined + trailing newline,
    deflated as ONE gzip member (mtime=0 pins the header — same
    determinism as encode_warc_gz)."""
    return gzip.compress(
        ("\n".join(lines) + "\n").encode("utf-8"), compresslevel=6, mtime=0
    )


def zipnum_lookup(
    shards: dict, cluster: list[dict], key: str
) -> tuple[list[str], int]:
    """The per-key access path over official cluster.idx rows
    (:func:`parse_cluster_idx`: ``first_key`` = ``urlkey<SP>timestamp``,
    plus ``filename``): bisect for the block range that can hold the
    key, inflate exactly that range, filter the lines.  Returns
    ``(matching lines, blocks_inflated)`` — the counter is the pruning
    proof's witness that a lookup costs a bounded number of ranged
    reads.  The public cluster.idx carries only each block's FIRST
    key, so the candidate range is [last block starting <= the key ..
    last block whose first urlkey == the key]: the cost is (blocks
    holding the key) + at most one leading probe, and an absent key
    costs at most one read.

    Rows are sorted internally by their key (collect() order is not a
    guarantee — round-11 ADVICE); ``shards`` maps each row's
    ``filename`` to that file's bytes (:func:`read_zipnum_files`)."""
    import bisect

    if not cluster:
        return [], 0
    cluster = sorted(
        cluster, key=lambda c: (c["first_key"], c["filename"], c["offset"])
    )
    firsts = [c["first_key"] for c in cluster]
    # lines sort by 'urlkey<SP>timestamp...'; SP (0x20) is below
    # every urlkey/digit byte, so string order == (urlkey, ts) order
    lo = max(bisect.bisect_right(firsts, key + " ") - 1, 0)
    hi = bisect.bisect_right(firsts, key + " ~") - 1  # '~' > any digit
    if hi < lo:
        hi = lo  # key below the first block: probe block 0 only
    out: list[str] = []
    for c in cluster[lo : hi + 1]:
        rec = warc_member_read(
            shards[c["filename"]], int(c["offset"]), int(c["length"])
        )
        out += [
            ln
            for ln in rec.decode("utf-8").splitlines()
            if ln.split(" ", 1)[0] == key
        ]
    return out, hi - lo + 1


# ---------------------------------------------------------------------------
# Round 12 — the OFFICIAL CommonCrawl index wire formats.  Everything
# above speaks a private line format; a drop-in consumer of the public
# cc-index reads/writes CDXJ lines (``urlkey<SP>timestamp<SP>{json}``)
# and the cluster.idx TSV (``urlkey<SP>timestamp\tfilename\toffset\t
# length\tcluster``).  This section is the format-parity layer: the
# same SURT keys, blocking arithmetic, and gzip members, emitted in
# the exact public spelling.  (Reference analogue: pgferry's value is
# speaking PostgreSQL's byte-exact DDL/COPY wire formats, ddl.go —
# here the wire format is the web-archive index's.)
#
# Deviation, pinned: the public index digests payloads as
# base32(sha1); neither engine can spell base32 in SQL, and this
# repo's digest convention is md5-hex everywhere (payload_md5), so the
# ``digest`` value carries md5 hex.  Shape, keys, key order, and every
# other byte follow the public format.
# ---------------------------------------------------------------------------

# deterministic 14-digit fetch timestamp (yyyymmddHHMMSS) — modulo
# spellings only, so both engines evaluate it verbatim
FETCH_TS_SQL = (
    "'20240815'"
    " || lpad(CAST({id} % 24 AS STRING), 2, '0')"
    " || lpad(CAST({id} % 60 AS STRING), 2, '0')"
    " || lpad(CAST(({id} * 7) % 60 AS STRING), 2, '0')"
)

# the official crawl-data shard path, a closed form of container_id
# (lpad-5 matches the public -NNNNN shard numbering)
WARC_FILENAME_SQL = (
    "'crawl-data/CC-MAIN-2024-33/segments/1723000000000.0/warc/"
    "CC-MAIN-20240815000000-20240815235959-'"
    " || lpad(CAST({cid} AS STRING), 5, '0') || '.warc.gz'"
)

# the json half of a CDXJ line — public key order (url, mime, status,
# digest, length, offset, filename), numeric values quoted as the
# public index quotes them; only the url can carry bytes needing
# escapes (media types / digests / the filename template cannot)
# json string-escape chain for the url value: backslash FIRST (or the
# escapes we insert would double), then quote, then every control
# character below 0x20 as \u00XX — json REQUIRES those escaped, and a
# crawl's malformed target URI can carry any byte (hypothesis-found:
# a raw 0x1f emitted an invalid line).  NUL (0x00) is the one
# exception: DuckDB VARCHAR cannot hold it, so it follows the
# engine-wide strip-upstream discipline (functions/transforms NUL
# strip) and the emitters here never see one.
_CDXJ_URL_ESC = (
    "replace(replace({v}, chr(92), chr(92) || chr(92)),"
    " chr(34), chr(92) || chr(34))"
)
for _cp in range(1, 32):
    _CDXJ_URL_ESC = (
        f"replace({_CDXJ_URL_ESC},"
        f" chr({_cp}), chr(92) || 'u{_cp:04x}')"
    )

_CDXJ_JSON_SQL = (
    "'{{\"url\": \"' || "
    + _CDXJ_URL_ESC.replace("{v}", "{url}")
    + " || '\", \"mime\": \"' || {mime}"
    " || '\", \"status\": \"' || CAST({status} AS STRING)"
    " || '\", \"digest\": \"' || {digest}"
    " || '\", \"length\": \"' || CAST({length} AS STRING)"
    " || '\", \"offset\": \"' || CAST({offset} AS STRING)"
    " || '\", \"filename\": \"' || {filename} || '\"}}'"
)

CDXJ_LINE_SQL = "{urlkey} || ' ' || {ts} || ' ' || " + _CDXJ_JSON_SQL

# the CLASSIC 11-field CDX line (header ' CDX N b a m s k r M S V g'):
# urlkey, timestamp, original url, mime, status, digest, redirect '-',
# meta tags '-', record length, record offset, filename — the format
# the wayback CDX server still speaks.  Space-separated; our URLs
# carry no spaces (the format's own assumption).
CDX11_HEADER = " CDX N b a m s k r M S V g"
CDX11_LINE_SQL = (
    "{urlkey} || ' ' || {ts} || ' ' || {url} || ' ' || {mime}"
    " || ' ' || CAST({status} AS STRING) || ' ' || {digest}"
    " || ' - - ' || CAST({length} AS STRING)"
    " || ' ' || CAST({offset} AS STRING) || ' ' || {filename}"
)

# total order for cdxj packing: string order over 'urlkey<SP>ts' equals
# this tuple order because no surt byte sorts below SP
_CDXJ_ORDER = ["surt", "fetch_ts", "container_id", "record_no"]


def cdxj_lines(cdx: DataFrame) -> DataFrame:
    """Append ``cdxj_line`` — the official CDXJ index line — to a CDX
    fact table carrying ``surt, fetch_ts, target_uri, mime, status,
    payload_md5, rec_len, rec_offset, filename``.  Pure column
    assembly (map-only codegen); the shared template is evaluated
    verbatim by the DuckDB oracle."""
    return cdx.withColumn(
        "cdxj_line",
        F.expr(
            CDXJ_LINE_SQL.format(
                urlkey="surt",
                ts="fetch_ts",
                url="target_uri",
                mime="mime",
                status="status",
                digest="payload_md5",
                length="rec_len",
                offset="rec_offset",
                filename="filename",
            )
        ),
    )


def cdx11_lines(cdx: DataFrame) -> DataFrame:
    """Append ``cdx11_line`` — the classic 11-field CDX line — to the
    same fact table :func:`cdxj_lines` consumes.  Redirect and meta
    tags emit the format's '-' placeholder (the synthesis carries
    neither).  Map-only codegen; the shared template is the oracle."""
    return cdx.withColumn(
        "cdx11_line",
        F.expr(
            CDX11_LINE_SQL.format(
                urlkey="surt",
                ts="fetch_ts",
                url="target_uri",
                mime="mime",
                status="status",
                digest="payload_md5",
                length="rec_len",
                offset="rec_offset",
                filename="filename",
            )
        ),
    )


def cdx11_parse(df: DataFrame, line_col: str = "cdx11_line") -> DataFrame:
    """Parse classic 11-field CDX lines back into typed columns — the
    space-split read side (position-indexed ``split_part``; the format
    itself assumes space-free fields).  TOTAL on malformed lines:
    try_cast nulls non-numeric fields instead of an ANSI cast throw."""
    p = [f"split_part({line_col}, ' ', {i})" for i in range(1, 12)]
    return df.select(
        F.expr(p[0]).alias("urlkey"),
        F.expr(p[1]).alias("fetch_ts"),
        F.expr(p[2]).alias("url"),
        F.expr(p[3]).alias("mime"),
        F.expr(p[4]).try_cast("int").alias("status"),
        F.expr(p[5]).alias("digest"),
        F.expr(p[6]).alias("redirect"),
        F.expr(p[7]).alias("meta_tags"),
        F.expr(p[8]).try_cast("long").alias("length"),
        F.expr(p[9]).try_cast("long").alias("offset"),
        F.expr(p[10]).alias("filename"),
    )


_CDXJ_FIELDS = (
    "url STRING, mime STRING, status STRING, digest STRING,"
    " length STRING, offset STRING, filename STRING"
)


def cdxj_parse(df: DataFrame, line_col: str = "cdxj_line") -> DataFrame:
    """Parse official CDXJ lines back into typed columns — the read
    side of the wire format: ``urlkey, fetch_ts, url, mime, status
    (int), digest, length (long), offset (long), filename``.  The
    json block is everything after the second space (urlkeys cannot
    contain SP); Spark's from_json handles the escapes the emitter
    wrote.  TOTAL on malformed lines: non-json and non-numeric fields
    parse to null (from_json + try_cast), never an executor throw —
    ANSI-mode cast would fail the whole scan on one corrupt line."""
    urlkey = f"split_part({line_col}, ' ', 1)"
    ts = f"split_part({line_col}, ' ', 2)"
    js = (
        f"substring({line_col},"
        f" length({urlkey}) + length({ts}) + 3)"
    )
    j = F.from_json(F.expr(js), _CDXJ_FIELDS)
    return df.select(
        F.expr(urlkey).alias("urlkey"),
        F.expr(ts).alias("fetch_ts"),
        j["url"].alias("url"),
        j["mime"].alias("mime"),
        j["status"].try_cast("int").alias("status"),
        j["digest"].alias("digest"),
        j["length"].try_cast("long").alias("length"),
        j["offset"].try_cast("long").alias("offset"),
        j["filename"].alias("filename"),
    )


def cdxj_zipnum_cluster(
    lines: DataFrame, lines_per_block: int = 8
) -> DataFrame:
    """The oracle-backed CONTENT of the official secondary index: per
    zipnum block over the CDXJ lines (total key order) its
    ``(block_no, first_key, last_key, n_lines, lines_md5)`` — the
    official cluster.idx records only ``first_key``, but digesting
    every line byte per block certifies the blocking arithmetic AND
    the published bytes (the :func:`cdx_zipnum_cluster` discipline
    over the official line format).  The physical (offset, length)
    pointers belong to :func:`publish_zipnum_sharded`."""
    w = Window.orderBy(*[F.col(c) for c in _CDXJ_ORDER])
    b = (
        lines.withColumn("__key", F.expr("surt || ' ' || fetch_ts"))
        .withColumn("__rn", F.row_number().over(w) - 1)
        .withColumn("block_no", F.expr(f"__rn div {int(lines_per_block)}"))
    )
    return b.groupBy("block_no").agg(
        F.min("__key").alias("first_key"),
        F.max("__key").alias("last_key"),
        F.count(F.lit(1)).alias("n_lines"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("__rn", "cdxj_line"))
                    ),
                    lambda x: x["cdxj_line"],
                ),
                "\n",
            )
        ).alias("lines_md5"),
    )


def _line_key(line: str) -> str:
    """'urlkey<SP>timestamp' — the first two space-separated fields."""
    parts = line.split(" ", 2)
    return parts[0] + " " + parts[1]


def publish_zipnum_sharded(
    lines: DataFrame,
    out_dir: str,
    n_shards: int,
    lines_per_block: int = 8,
    cluster_filename: str = "cluster.idx",
) -> list[dict]:
    """The DISTRIBUTED official-layout publication — the 100 TB shape:
    range-partition the CDXJ lines on the total key order, and each
    task streams ITS sorted partition into every-N gzip members,
    writing ONE shard file (``cdx-<task:05d>.gz``, atomic temp +
    hard-link, clobber-refusing) while emitting its cluster rows with
    offsets accumulated from the bytes actually written.  The merged
    cluster.idx (config-scale — blocks = lines/N) is collected,
    renumbered globally in key order, and written once.  Returns the
    cluster rows as :func:`zipnum_lookup` consumes them.

    The shards and the index publish together or not at all: if the
    cluster.idx publish fails (a divergent index already in
    ``out_dir``), the shards this call linked fresh are unlinked, so
    no shard-without-index layout survives.  Shards that were already
    there, byte-identical, stay.

    Scale posture: index bytes go executor → storage, one file per
    task, nothing but the slim cluster rows returns to the driver;
    shard key ranges tile the key space (range partitioner), so
    a lookup's firsts-only bisect routes to one shard's blocks via
    the filename column.  Empty range partitions write no file.
    Blocks stream through a bounded ``lines_per_block`` buffer — a
    shard never materializes in executor memory."""
    import os
    import tempfile

    os.makedirs(out_dir, exist_ok=True)
    schema = StructType(
        [
            StructField("first_key", StringType(), False),
            StructField("filename", StringType(), False),
            StructField("offset", LongType(), False),
            StructField("length", LongType(), False),
            StructField("fresh", BooleanType(), False),
        ]
    )

    def write_shard(batches: "Iterator[pd.DataFrame]"):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        fn = f"cdx-{pid:05d}.gz"
        rows: dict[str, list] = {
            "first_key": [], "filename": [], "offset": [], "length": [],
        }
        fresh = False
        buf: list[str] = []
        state = {"fd": None, "tmp": None, "off": 0}

        def flush() -> None:
            if not buf:
                return
            if state["fd"] is None:
                fd, tmp = tempfile.mkstemp(
                    dir=out_dir, suffix=".inprogress"
                )
                state["fd"], state["tmp"] = os.fdopen(fd, "wb"), tmp
            b = encode_zipnum_block(buf)
            state["fd"].write(b)
            rows["first_key"].append(_line_key(buf[0]))
            rows["filename"].append(fn)
            rows["offset"].append(state["off"])
            rows["length"].append(len(b))
            state["off"] += len(b)
            buf.clear()

        for pdf in batches:
            for ln in pdf["cdxj_line"]:
                buf.append(ln)
                if len(buf) == lines_per_block:
                    flush()
        flush()
        if state["fd"] is not None:
            state["fd"].close()
            # idempotent under task retry: identical re-publish is
            # success, divergent content raises (r12 ADVICE)
            fresh = publish_atomic(state["tmp"], os.path.join(out_dir, fn))
        yield pd.DataFrame(rows).assign(fresh=fresh)

    # r15 (guide §2.4): repartitionByRange SAMPLES its input to pick the
    # range boundaries, so the whole ``lines`` subtree (typically the
    # CDXJ assembly off the capture index) executed twice per publish —
    # once for the sampling pass, once for the real write.  The index
    # lines are slim by contract (five narrow columns, block-count
    # bounded), so a scoped persist turns the sampling pass into a cache
    # read.  Released before return — publish is a terminal action, so
    # nothing downstream re-reads it.
    from ..utils import persisted

    with persisted(lines):
        collected = (
            lines.repartitionByRange(
                n_shards, *[F.col(c) for c in _CDXJ_ORDER]
            )
            .sortWithinPartitions(*_CDXJ_ORDER)
            .select("cdxj_line")
            .mapInPandas(write_shard, schema=schema)
            .collect()
        )
    cluster = sorted(
        (r.asDict() for r in collected),
        key=lambda c: (c["first_key"], c["filename"], c["offset"]),
    )
    # shard files this call linked (pop runs for every row)
    linked = {c["filename"] for c in cluster if c.pop("fresh")}
    for i, c in enumerate(cluster):
        c["cluster"] = i  # global sequence in key order (official col 5)
    fd, tmp = tempfile.mkstemp(dir=out_dir, suffix=".inprogress")
    with os.fdopen(fd, "w") as f:
        for c in cluster:
            f.write(
                f"{c['first_key']}\t{c['filename']}\t{c['offset']}\t"
                f"{c['length']}\t{c['cluster']}\n"
            )
    try:
        publish_atomic(tmp, os.path.join(out_dir, cluster_filename))
    except BaseException:
        for fn in linked:
            os.unlink(os.path.join(out_dir, fn))
        raise
    return cluster


class _BlockLRU:
    """Per-task bounded block cache for :func:`zipnum_bulk_lookup` —
    (filename, offset) -> decoded lines, strict LRU, capacity-bounded by
    construction so an UNSORTED key partition fanning across many blocks
    can never accumulate every block it ever touched (r12 ADVICE;
    worst-case-routing proof pinned in test_zipnum +
    tools/zipnum_slope.py).  ``peak`` records the high-water entry count
    for the bounded-memory assertion."""

    def __init__(self, maxsize: int):
        from collections import OrderedDict

        self.maxsize = int(maxsize)
        self.peak = 0
        self._d: "OrderedDict[tuple, list[str]]" = OrderedDict()

    def get(self, key: tuple):
        if key in self._d:
            self._d.move_to_end(key)
            return self._d[key]
        return None

    def put(self, key: tuple, lines: list) -> None:
        self._d[key] = lines
        if len(self._d) > self.maxsize:
            self._d.popitem(last=False)
        if len(self._d) > self.peak:
            self.peak = len(self._d)

    def __len__(self) -> int:
        return len(self._d)


def zipnum_bulk_lookup(
    keys: DataFrame,
    cluster: list[dict],
    shard_dir: str,
    key_col: str = "urlkey",
    cache_blocks: int = 128,
) -> DataFrame:
    """The BATCH form of the lookup — resolve a whole DataFrame of
    urlkeys against the on-disk zipnum artifacts (the CDX service as a
    Spark job: 10^6 recrawl candidates → their index lines in one
    pass).  The cluster rows (config-scale) broadcast inside the
    closure; each task bisects ITS keys against the firsts, groups the
    candidate (filename, offset, length) blocks, and inflates every
    needed block ONCE per task — a block serving many keys in the
    partition costs one ranged read.  Emits ``(urlkey, cdxj_line)``,
    one row per matching line; keys absent from the index emit
    nothing.  Shard files are read per (task, block) with a bounded
    seek — at 100 TB this is a ranged GET against object storage, and
    repartitioning the keys BY urlkey range first makes each task's
    block set contiguous (the caller's knob; correctness does not
    depend on it)."""
    import bisect
    import os

    out_schema = StructType(
        [
            StructField("urlkey", StringType(), False),
            StructField("cdxj_line", StringType(), False),
        ]
    )
    rows = sorted(
        (
            {
                "first_key": c["first_key"],
                "filename": c["filename"],
                "offset": int(c["offset"]),
                "length": int(c["length"]),
            }
            for c in cluster
        ),
        key=lambda c: (c["first_key"], c["filename"], c["offset"]),
    )
    firsts = [c["first_key"] for c in rows]

    def resolve(batches: "Iterator[pd.DataFrame]"):
        # per-task LRU cache (r12 ADVICE): an unsorted key partition
        # fanning across many blocks must not accumulate every block
        # it ever touched — key-range repartitioning stays an optional
        # locality knob, not a memory-safety requirement.  128 blocks
        # × ~3000 official-scale lines ≈ tens of MB worst case.
        block_lines = _BlockLRU(cache_blocks)

        def lines_of(c: dict) -> list[str]:
            k = (c["filename"], c["offset"])
            cached = block_lines.get(k)
            if cached is not None:
                return cached
            with open(
                os.path.join(shard_dir, c["filename"]), "rb"
            ) as f:
                f.seek(c["offset"])
                member = f.read(c["length"])
            lines = warc_member_read(member, 0, len(member)).decode(
                "utf-8"
            ).splitlines()
            block_lines.put(k, lines)
            return lines

        for pdf in batches:
            out: dict[str, list] = {"urlkey": [], "cdxj_line": []}
            for key in pdf[key_col]:
                if not rows:
                    continue
                lo = max(bisect.bisect_right(firsts, key + " ") - 1, 0)
                hi = bisect.bisect_right(firsts, key + " ~") - 1
                if hi < lo:
                    hi = lo
                for c in rows[lo : hi + 1]:
                    for ln in lines_of(c):
                        if ln.split(" ", 1)[0] == key:
                            out["urlkey"].append(key)
                            out["cdxj_line"].append(ln)
            yield pd.DataFrame(out)

    return keys.select(F.col(key_col)).mapInPandas(
        resolve, schema=out_schema
    )


def read_zipnum_lines(
    spark, cluster: list[dict], shard_dir: str
) -> DataFrame:
    """Distributed read-back of a published zipnum layout — the read
    twin of :func:`publish_zipnum_sharded`: the config-scale cluster
    rows parallelize as one task input each, every task inflates ITS
    blocks with bounded ranged reads (seek offset, read length, one
    gzip member) and emits the decoded CDXJ lines.  At 100 TB this is
    how a consumer scans the whole index without any single reader
    holding more than one block: ~lines/N ranged GETs, fanned across
    the cluster, container bytes never involved."""
    import os

    blocks = spark.createDataFrame(
        [
            (c["filename"], int(c["offset"]), int(c["length"]))
            for c in cluster
        ],
        "filename: string, offset: long, length: long",
    )
    out_schema = StructType(
        [StructField("cdxj_line", StringType(), False)]
    )

    def scan(batches: "Iterator[pd.DataFrame]"):
        for pdf in batches:
            lines: list[str] = []
            for fn, off, ln in zip(
                pdf["filename"], pdf["offset"], pdf["length"]
            ):
                with open(os.path.join(shard_dir, str(fn)), "rb") as f:
                    f.seek(int(off))
                    member = f.read(int(ln))
                rec = warc_member_read(member, 0, len(member))
                lines += rec.decode("utf-8").splitlines()
            yield pd.DataFrame({"cdxj_line": lines})

    n = max(1, min(len(cluster), spark.sparkContext.defaultParallelism))
    return blocks.repartition(n).mapInPandas(scan, schema=out_schema)


_REHYDRATE_SCHEMA = StructType(
    [
        StructField("urlkey", StringType(), False),
        StructField("fetch_ts", StringType(), True),
        StructField("digest", StringType(), True),
        StructField("rehydrated", StringType(), True),
        StructField("ok", BooleanType(), False),
    ]
)


def index_routed_rehydrate(
    parsed: DataFrame, warc_dir: str
) -> DataFrame:
    """The last leg of the 100 TB retrieval story (round 13, VERDICT
    r12 Next #3): given parsed index lines — ``(urlkey, fetch_ts,
    filename, offset, length, digest)`` from :func:`cdxj_parse` over
    :func:`zipnum_bulk_lookup` hits — perform the BOUNDED RANGE READ
    each line addresses: open the shard file the index names (basename
    resolution against ``warc_dir`` — the local mirror of the
    crawl-data object keys), seek ``offset``, read exactly ``length``
    bytes, parse the single WARC record + its HTTP envelope from that
    slice alone, and md5 the §5.9 body span.  ``ok`` is the proof the
    published index routes to the same bytes the full scan digested:
    rehydrated digest == index digest.  Both container framings
    rehydrate: a plain range IS the record bytes; a gzip-member range
    (real crawl-data shards — the slice opens with the 1f 8b magic)
    inflates exactly one member first (:func:`warc_member_read`,
    allocation capped) — the same magic dispatch the scan-side record
    walk uses.  Per task, file handles are reused across rows of the
    same shard; at 100 TB each row is a ranged GET — no container ever
    loads whole, nothing but slim audit rows returns."""
    import os

    def rehydrate(batches: "Iterator[pd.DataFrame]"):
        from .httpmsg import parse_http_response
        from .warc import parse_warc_index

        import hashlib

        handle = {"name": None, "f": None}

        def read_range(fn: str, off: int, ln: int) -> bytes:
            if handle["name"] != fn:
                if handle["f"] is not None:
                    handle["f"].close()
                handle["f"] = open(os.path.join(warc_dir, fn), "rb")
                handle["name"] = fn
            handle["f"].seek(off)
            return handle["f"].read(ln)

        try:
            for pdf in batches:
                rows: dict[str, list] = {
                    f.name: [] for f in _REHYDRATE_SCHEMA
                }
                for key, ts, fn, off, ln, dig in zip(
                    pdf["urlkey"], pdf["fetch_ts"], pdf["filename"],
                    pdf["offset"], pdf["length"], pdf["digest"],
                ):
                    got = None
                    try:
                        rec = read_range(
                            os.path.basename(str(fn)), int(off), int(ln)
                        )
                        if rec[:2] == b"\x1f\x8b":
                            # gzip-member framing: the range is one
                            # deflated member; inflate it (bounded)
                            rec = warc_member_read(rec, 0, len(rec))
                        (r,) = parse_warc_index(rec)
                        payload = rec[
                            r["payload_offset"]: r["payload_offset"]
                            + r["payload_len"]
                        ]
                        env = parse_http_response(payload)
                        body = payload[
                            env["body_offset"]: env["body_offset"]
                            + env["body_len"]
                        ]
                        got = hashlib.md5(body).hexdigest()
                    except (OSError, ValueError):
                        pass  # ok=False row audits the broken route
                    rows["urlkey"].append(key)
                    rows["fetch_ts"].append(ts)
                    rows["digest"].append(dig)
                    rows["rehydrated"].append(got)
                    # a null index digest can never verify — got is
                    # None too on a failed route, and None == None
                    # must not read as proof
                    rows["ok"].append(got is not None and got == dig)
                yield pd.DataFrame(rows)
        finally:
            if handle["f"] is not None:
                handle["f"].close()

    return parsed.select(
        "urlkey", "fetch_ts", "filename", "offset", "length", "digest"
    ).mapInPandas(rehydrate, schema=_REHYDRATE_SCHEMA)


def cdx_closest_capture(
    cdx: DataFrame,
    probe_ts: str,
    key_col: str = "surt",
    ts_col: str = "fetch_ts",
) -> DataFrame:
    """The wayback CDX API's ``closest=<timestamp>`` query as a Spark
    operator (round 13): per urlkey, elect the single capture whose
    14-digit fetch timestamp is nearest the probe — the query every
    replay UI issues ("this page, as close to 2024-08-15 noon as the
    archive has").  Deterministic total tiebreak (earlier timestamp,
    then container/record address) so the election is reproducible and
    oracle-replayable.

    Closeness is REAL time distance — the 14-digit strings parse to
    epoch seconds before the abs-diff, because numeric string
    difference lies across unit boundaries (115959 is 1 s before
    120000, not 41 "units"; the first draft had exactly that bug and
    the tiebreak test caught it).  The parse is TOTAL —
    ``try_to_timestamp``, nulls ordered last — so one malformed or
    out-of-range 14-digit field in a foreign index line (seconds=60
    in the foreign-compat goldens) demotes that capture instead of
    aborting the whole election under Spark 4's ANSI mode (r13
    ADVICE; the try_cast totality posture every foreign-line parser
    in this module carries).

    Scale shape: ONE window partitioned by urlkey — per-key capture
    counts are revisit-bounded (thousands at worst for hot pages,
    measured in SCALE.md's hot-digest probe), so no partition is
    corpus-sized; the index rows are the only shuffled bytes, and at
    100 TB this runs over the slim CDX facts, never containers."""
    import datetime as _dt

    probe_epoch = int(
        _dt.datetime.strptime(probe_ts, "%Y%m%d%H%M%S")
        .replace(tzinfo=_dt.timezone.utc)
        .timestamp()
    )
    diff = F.abs(
        F.unix_timestamp(
            F.try_to_timestamp(F.col(ts_col), F.lit("yyyyMMddHHmmss"))
        )
        - F.lit(probe_epoch)
    )
    w = Window.partitionBy(key_col).orderBy(
        diff.asc_nulls_last(),
        F.col(ts_col).asc(),
        F.col("container_id").asc(),
        F.col("record_no").asc(),
    )
    return (
        cdx.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def read_zipnum_files(
    out_dir: str, cluster_filename: str = "cluster.idx"
) -> tuple[dict, list[dict]]:
    """The lookup-side loader: parse the on-disk cluster.idx and load
    every shard file it names — returns ``(shards, cluster)`` exactly
    as :func:`zipnum_lookup` consumes them.  cluster.idx is the
    config-scale artifact a lookup service caches; at 100 TB the shard
    bytes stay in object storage and each probe is a ranged GET of one
    (offset, length) member — loading whole shards here is the local
    stand-in for that."""
    import os

    with open(os.path.join(out_dir, cluster_filename)) as f:
        cluster = parse_cluster_idx(f.read())
    shards: dict[str, bytes] = {}
    for fn in {c["filename"] for c in cluster}:
        with open(os.path.join(out_dir, fn), "rb") as f:
            shards[fn] = f.read()
    return shards, cluster


def parse_cluster_idx(text: str) -> list[dict]:
    """Official cluster.idx TSV → lookup rows for
    :func:`zipnum_lookup`: ``{first_key, filename, offset, length,
    cluster}``.  Malformed rows raise ValueError (the strict posture
    every parser in this package takes)."""
    rows: list[dict] = []
    for ln in text.splitlines():
        if not ln:
            continue
        parts = ln.split("\t")
        if len(parts) != 5:
            raise ValueError(f"cluster.idx row has {len(parts)} fields")
        key, filename, offset, length, cluster = parts
        if " " not in key:
            raise ValueError("cluster.idx key is not 'urlkey<SP>timestamp'")
        rows.append(
            {
                "first_key": key,
                "filename": filename,
                "offset": int(offset),
                "length": int(length),
                "cluster": int(cluster),
            }
        )
    return rows
