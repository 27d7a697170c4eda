"""zipnum_bulk_lookup worst-case-routing slope + bounded-memory proof
(VERDICT r13 Next #7).

Builds a real zipnum layout (publish_zipnum_sharded) over one synthetic
CDXJ line per document at each SF, then drives the production bulk
lookup with DELIBERATELY UNSORTED keys (md5-shuffled, hash-repartitioned
into a few fat tasks) so every task fans across the whole block space —
the posture key-range repartitioning would normally avoid, and exactly
the one the 128-entry _BlockLRU bound exists for.

Reports, per SF:
  * wall seconds for the warm (second) lookup pass,
  * blocks in the layout vs the 128-block cache,
  * a single-task worst-case replay IN-PROCESS: the same resolve loop
    over ALL keys with _BlockLRU(128), recording the cache's peak entry
    count (must be == 128, the bound) and tracemalloc's Python peak —
    one Spark task equals this loop, so this IS the executor's
    per-task memory envelope.

Usage:  python tools/zipnum_slope.py [sf_dir ...]
        (default: the sf0.1 fixtures, then .data/sf1 in the checkout)
"""

from __future__ import annotations

import bisect
import hashlib
import os
import sys
import tempfile
import time
import tracemalloc

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F

from tools import measure


def build_lines(spark, sf_dir):
    from pgferry_spark.sources.parquet import read_parquet

    docs = read_parquet(spark, os.path.join(sf_dir, "documents.parquet"))
    surt = F.concat(
        F.lit("com,site"), (F.col("doc_id") % 997).cast("string"),
        F.lit(")/p"), F.col("doc_id").cast("string"),
    )
    ts = F.concat(
        F.lit("20240815"),
        F.lpad(((F.col("doc_id") * 7919) % 86400).cast("string"), 6, "0"),
    )
    payload = F.concat(
        F.lit('{"url": "https://example.invalid/p'),
        F.col("doc_id").cast("string"),
        F.lit('", "mime": "text/html", "status": "200", "digest": "'),
        F.md5(F.col("doc_id").cast("string")),
        F.lit('", "length": "1024", "offset": "0", '
              '"filename": "crawl-data/fake-00000.warc.gz"}'),
    )
    return docs.select(
        surt.alias("surt"),
        ts.alias("fetch_ts"),
        (F.col("doc_id") % 7).cast("int").alias("container_id"),
        (F.col("doc_id") % 8).cast("int").alias("record_no"),
        F.concat_ws(" ", surt, ts, payload).alias("cdxj_line"),
    )


def worst_case_replay(cluster, shard_dir, keys):
    """One Spark task's exact loop, in-process, instrumented."""
    from pgferry_spark.sources.warc import warc_member_read
    from pgferry_spark.sources.zipnum import _BlockLRU

    rows = sorted(
        ({"first_key": c["first_key"], "filename": c["filename"],
          "offset": int(c["offset"]), "length": int(c["length"])}
         for c in cluster),
        key=lambda c: (c["first_key"], c["filename"], c["offset"]),
    )
    firsts = [c["first_key"] for c in rows]
    lru = _BlockLRU(128)
    decodes = 0
    hits = 0

    def lines_of(c):
        nonlocal decodes
        k = (c["filename"], c["offset"])
        cached = lru.get(k)
        if cached is not None:
            return cached
        with open(os.path.join(shard_dir, c["filename"]), "rb") as f:
            f.seek(c["offset"])
            member = f.read(c["length"])
        decodes += 1
        lines = warc_member_read(member, 0, len(member)).decode(
            "utf-8").splitlines()
        lru.put(k, lines)
        return lines

    tracemalloc.start()
    t0 = time.perf_counter()
    for key in keys:
        lo = max(bisect.bisect_right(firsts, key + " ") - 1, 0)
        hi = bisect.bisect_right(firsts, key + " ~") - 1
        if hi < lo:
            hi = lo
        for c in rows[lo:hi + 1]:
            for ln in lines_of(c):
                if ln.split(" ", 1)[0] == key:
                    hits += 1
    wall = time.perf_counter() - t0
    _cur, py_peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    return {
        "keys": len(keys), "hits": hits, "block_decodes": decodes,
        "lru_peak_blocks": lru.peak, "py_peak_mb": round(py_peak / 2**20, 1),
        "replay_s": round(wall, 3),
    }


def main() -> int:
    from pgferry_spark.sources.zipnum import (
        publish_zipnum_sharded,
        zipnum_bulk_lookup,
    )

    sf_dirs = sys.argv[1:] or [
        "/root/testdata/sf0.1", os.path.join(ROOT, ".data", "sf1"),
    ]
    spark = measure.session("zipnum-slope")
    meter = measure.Meter(spark)
    results = []
    for sf_dir in sf_dirs:
        out = tempfile.mkdtemp(prefix="zipnum_slope_")
        lines = build_lines(spark, sf_dir)
        cluster = publish_zipnum_sharded(
            lines, out, n_shards=8, lines_per_block=64
        )
        # deliberately unsorted: md5-shuffled order, hash-repartitioned
        # into 8 fat tasks -> every task fans across the block space
        keys = (
            lines.select(F.col("surt").alias("urlkey")).distinct()
            .orderBy(F.md5(F.concat(F.col("urlkey"), F.lit("worst"))))
            .repartition(8)
        ).persist()
        measure.force(keys)
        # cold then warm pass over the persisted keys: no cache clearing
        cold, warm = [
            measure.wall(meter.once(lambda s, d: zipnum_bulk_lookup(keys, cluster, out), sf_dir))
            for _ in range(2)
        ]
        keys.unpersist()
        # same deliberately-unsorted order as the Spark run
        key_list = sorted(
            (r.surt for r in lines.select("surt").distinct().collect()),
            key=lambda k: hashlib.md5((k + "worst").encode()).hexdigest(),
        )
        replay = worst_case_replay(cluster, out, key_list)
        results.append({
            "sf_dir": sf_dir, "lines": lines.count(), "blocks": len(cluster),
            "cold_s": cold, "warm_s": warm, **replay,
        })
    print("| sf | lines | blocks | lookup warm s | lru peak | "
          "task decodes | py peak MB |")
    print("|---|---|---|---|---|---|---|")
    for r in results:
        print(f"| {r['sf_dir'].rsplit('/', 1)[-1]} | {r['lines']} | "
              f"{r['blocks']} | {r['warm_s']} | {r['lru_peak_blocks']} | "
              f"{r['block_decodes']} | {r['py_peak_mb']} |")
    if len(results) == 2 and results[0]["warm_s"]:
        print(f"slope: {results[1]['warm_s'] / results[0]['warm_s']:.1f}x "
              f"on {results[1]['lines'] / max(1, results[0]['lines']):.0f}x "
              "lines")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
