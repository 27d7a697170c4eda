"""Bucketed co-located join (no-Exchange assertion), skew profile and Z-order key tests."""

from pyspark.sql import functions as F

from pgferry_spark.operators.skew import skew_profile
from pgferry_spark.sources.layout import exchange_count, write_bucketed


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    # (warehouse dir is a static conf; managed tables land in ./spark-warehouse
    # and are dropped below)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ path
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    try:
        orders = spark.createDataFrame(
            [(i, i % 100, float(i)) for i in range(1000)], "o_id: long, cust: long, total: double"
        )
        lines = spark.createDataFrame(
            [(i, i % 1000, i % 5) for i in range(5000)], "l_id: long, o_id: long, qty: int"
        )
        write_bucketed(orders, "b_orders", "o_id", num_buckets=8, sort_by="o_id")
        write_bucketed(lines, "b_lines", "o_id", num_buckets=8, sort_by="o_id")

        bo, bl = spark.table("b_orders"), spark.table("b_lines")
        joined = bo.join(bl, on="o_id")
        assert exchange_count(joined) == 0  # co-located: no shuffle either side
        assert joined.count() == 5000

        # contrast: the same join on unbucketed inputs shuffles both sides
        plain = orders.join(lines, on="o_id")
        assert exchange_count(plain) >= 2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lines")


def test_skew_profile_orders_by_count(spark):
    df = spark.createDataFrame(
        [(1, "a")] * 80 + [(2, "b")] * 15 + [(3, "c")] * 5, "id: long, key: string"
    )
    prof = skew_profile(df, "key", top=2).collect()
    assert prof[0]["key"] == "a" and prof[0]["cnt"] == 80
    assert abs(prof[0]["share"] - 0.8) < 1e-9
    assert prof[1]["key"] == "b"


def test_incremental_dedup_against_bucketed_fingerprint_index(spark):
    """The daily-ingestion scale story end-to-end: the corpus fingerprint
    INDEX is a table bucketed on the fingerprint, so the anti-join reads it
    with NO exchange on the corpus side — only the (small) daily batch
    shuffles. This is the layout a real deployment maintains between runs
    (operators/dedup.py::incremental_dedup names it)."""
    from pgferry_spark.functions.text import fingerprint

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        corpus = spark.createDataFrame(
            [(i, f"doc number {i}") for i in range(2000)],
            "doc_id: long, text: string",
        )
        idx = corpus.select(fingerprint(F.col("text")).alias("fp"))
        # bucket count == spark.sql.shuffle.partitions: a one-side-bucketed
        # join only skips the bucket-side exchange when the other side can
        # shuffle into EXACTLY the bucket count
        write_bucketed(idx, "b_fp_index", "fp", num_buckets=32, sort_by="fp")

        batch = spark.createDataFrame(
            # 3 docs duplicating the corpus + 2 genuinely new
            [(9001, "doc number 7"), (9002, "doc number 42"),
             (9003, "doc number 1999"), (9004, "fresh content a"),
             (9005, "fresh content b")],
            "doc_id: long, text: string",
        )
        batch_fp = batch.select(
            "doc_id", fingerprint(F.col("text")).alias("fp")
        )
        admitted = batch_fp.join(spark.table("b_fp_index"), "fp", "left_anti")
        got = sorted(r["doc_id"] for r in admitted.collect())
        assert got == [9004, 9005]
        # corpus side reads pre-bucketed (no Exchange); only the batch
        # shuffles. AQE's toString prints final + initial plans, so count
        # within the final section only.
        plan = admitted._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        assert final.count("Exchange hashpartitioning") == 1
        assert "Bucketed: true" in final
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS b_fp_index")


def test_zorder_key_golden_values(spark):
    from pyspark.sql import functions as F

    from pgferry_spark.sources.layout import zorder_key

    rows = [(0, 0), (3, 1), (1, 3), (5, 0), (0, 5), (65535, 65535)]
    df = spark.createDataFrame(rows, "a long, b long").select(
        "a", "b", zorder_key(F.col("a"), F.col("b")).alias("z")
    )
    got = {(r.a, r.b): r.z for r in df.collect()}
    # hand-interleaved: a bits at even positions, b bits at odd
    assert got[(0, 0)] == 0
    assert got[(3, 1)] == 0b111          # a=11 -> 101, b=1 -> 010
    assert got[(1, 3)] == 0b1011         # a=01 -> 001, b=11 -> 1010
    assert got[(5, 0)] == 0b10001        # a=101 -> positions 0,4
    assert got[(0, 5)] == 0b100010       # b=101 -> positions 1,5
    assert got[(65535, 65535)] == (1 << 32) - 1


def test_zorder_key_locality_beats_concatenation(spark):
    """The point of Morton order: a box query's keys are contiguous-ish.
    For the 4x4 grid, the max key spread inside any 2x2 box must be far
    smaller under Morton than under (a << 16 | b) concatenation."""
    from pyspark.sql import functions as F

    from pgferry_spark.sources.layout import zorder_key

    pts = [(a, b) for a in range(4) for b in range(4)]
    df = spark.createDataFrame(pts, "a long, b long").select(
        "a", "b", zorder_key(F.col("a"), F.col("b")).alias("z")
    )
    z = {(r.a, r.b): r.z for r in df.collect()}
    # the aligned 2x2 box {0,1}x{0,1} occupies Morton keys 0..3 exactly
    box = [z[(a, b)] for a in (0, 1) for b in (0, 1)]
    assert sorted(box) == [0, 1, 2, 3]


def test_cc_index_table_surtkey_range_layout(spark, tmp_path):
    """Round 12: the public-index ACCESS PATTERN over the
    cc_index_table projection — written range-partitioned + sorted on
    url_surtkey, per-file key spans are disjoint (so 'all captures
    under a domain' touches only the files whose span intersects the
    SURT prefix range — the 300 GB index reads as a file-pruned range
    scan) and the predicate reaches the parquet scan as a
    PushedFilter."""
    import os

    from pyspark.sql import functions as F

    rows = [
        (f"com,d{i % 8})/p/{i}", f"https://d{i % 8}.com/p/{i}",
         200, i * 100, 100)
        for i in range(2000)
    ]
    df = spark.createDataFrame(
        rows,
        "url_surtkey: string, url: string, fetch_status: int,"
        " warc_record_offset: long, warc_record_length: long",
    )
    path = str(tmp_path / "ccidx")
    (
        df.repartitionByRange(4, "url_surtkey")
        .sortWithinPartitions("url_surtkey")
        .write.parquet(path)
    )
    files = [
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet")
    ]
    assert len(files) >= 2
    spans = []
    for f in files:
        lo, hi = (
            spark.read.parquet(f)
            .agg(F.min("url_surtkey"), F.max("url_surtkey"))
            .first()
        )
        spans.append((lo, hi))
    spans.sort()
    for (_, hi1), (lo2, _) in zip(spans, spans[1:]):
        assert hi1 <= lo2, f"overlapping file key ranges: {spans}"
    # the domain-prefix range query: predicate pushed to the scan,
    # result exact ('0' is ')'+1 — the standard SURT prefix upper bound)
    q = (
        spark.read.parquet(path)
        .filter(
            (F.col("url_surtkey") >= "com,d3)/")
            & (F.col("url_surtkey") < "com,d3)0")
        )
        .select("url_surtkey", "warc_record_offset", "warc_record_length")
    )
    explained = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in explained
    assert "url_surtkey" in explained
    got = {r.url_surtkey for r in q.collect()}
    assert got == {f"com,d3)/p/{i}" for i in range(2000) if i % 8 == 3}
    # column pruning: the scan reads only the 3 projected columns
    assert "ReadSchema" in explained and "fetch_status" not in (
        explained.split("ReadSchema")[1].split("\n")[0]
    )
