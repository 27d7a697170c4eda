"""Physical-layout helpers: bucketing and partitioned writes.

At 100 TB, the cheapest shuffle is the one you already did at write time:

* ``write_bucketed`` persists a table hash-bucketed on its join/group key —
  two tables bucketed the same way join with NO exchange on either side
  (verified by the no-Exchange plan assertion in tests/test_layout.py).
  This is the Spark-native analogue of the co-located chunk layout the
  reference gets implicitly from range-chunked PK order.
* ``write_partitioned`` does directory-style partition pruning for
  low-cardinality filter keys (date, tenant, event_type): a filtered read
  touches only matching directories.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_key: str | list[str],
    num_buckets: int = 32,
    sort_by: str | list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed managed table (bucketing requires saveAsTable).

    ``sort_by`` additionally sorts within buckets, enabling merge-join
    without a sort step and better min/max row-group pruning.
    """
    keys = [bucket_key] if isinstance(bucket_key, str) else list(bucket_key)
    writer = df.write.mode(mode).format("parquet").bucketBy(num_buckets, *keys)
    if sort_by:
        sorts = [sort_by] if isinstance(sort_by, str) else list(sort_by)
        writer = writer.sortBy(*sorts)
    writer.saveAsTable(table_name)


def read_table(spark: SparkSession, table_name: str) -> DataFrame:
    return spark.table(table_name)


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """Directory-partitioned parquet write: filters on ``partition_cols``
    prune whole directories at planning time (PartitionFilters in the scan)."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def exchange_count(df: DataFrame) -> int:
    """Number of shuffle Exchanges in the executed plan — the metric the
    bucketing tests assert on."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("Exchange hashpartitioning")


def zorder_key(a: Column, b: Column, bits: int = 16) -> Column:
    """Morton (Z-order) interleave of two non-negative ints, ``bits`` bits
    each — bit ``i`` of ``a`` lands at position ``2i``, bit ``i`` of ``b``
    at ``2i + 1``.  Pure Column bit math (2·bits shift/mask/or terms, all
    inside whole-stage codegen): no UDF, map-only, SQL-replayable.

    Why: range-clustering on a Morton key gives MULTI-dimensional data
    skipping from ONE sort order — rows close in (a, b) space land in the
    same files, so a 2-D box predicate prunes most row groups by their
    min/max stats, where clustering on either column alone only helps
    that column's predicates.  This is the layout pass behind
    OPTIMIZE ZORDER in lakehouse table formats, as a plain expression."""
    bits = int(bits)
    a64 = a.cast("bigint").bitwiseAND(F.lit((1 << bits) - 1))
    b64 = b.cast("bigint").bitwiseAND(F.lit((1 << bits) - 1))
    terms = []
    for i in range(bits):
        terms.append(
            F.shiftleft(F.shiftright(a64, i).bitwiseAND(F.lit(1)), 2 * i)
        )
        terms.append(
            F.shiftleft(F.shiftright(b64, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def zorder_write(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    bits: int = 16,
    n_files: int = 16,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` range-clustered on the Morton key of (col_a, col_b):
    ``repartitionByRange`` gives files DISJOINT key ranges (verified by
    the layout test reading per-file min/max), and the within-file sort
    tightens row-group min/max stats — so a box predicate on (a, b)
    skips files at planning time and row groups at read time.  One
    shuffle (the range partitioner samples the key), then a straight
    write; the key column is dropped from the stored schema."""
    keyed = df.withColumn("__zkey", zorder_key(F.col(col_a), F.col(col_b), bits))
    (
        keyed.repartitionByRange(int(n_files), "__zkey")
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
        .write.mode(mode)
        .parquet(path)
    )


def range_write_by_sketch(
    df: DataFrame,
    path: str,
    col: str,
    n_files: int = 16,
    k: int = 32,
    decimals: int = 2,
    mode: str = "overwrite",
) -> list[float]:
    """Range-clustered write with SKETCH-planned boundaries — the
    sampling-free sibling of ``repartitionByRange``: equal-mass split
    points come from the mergeable log-histogram
    (:func:`~pgferry_spark.operators.sketches.loghist_splits`) instead
    of Spark's RangePartitioner sampling job, so the boundaries are
    deterministic, oracle-checkable, and at 100 TB can be read off
    yesterday's persisted histogram (merged with today's delta) without
    touching the data before the write.

    Each row's range id is the count of split points at or below its
    value — a broadcast-literal expression, map-only — then one shuffle
    co-locates each range and ``partitionBy`` writes one
    ``range=K/`` directory per range (hash collisions between range
    ids may share a task; the directory split keeps the ranges
    physically disjoint regardless — the ``write_training_shards``
    layout guarantee). Ranges hold ~equal row mass within the sketch's
    1/k relative-value error; rows below the first boundary (including
    non-positives the sketch ignores) land in range 0. The 1-D
    analogue of ``zorder_write``'s Morton clustering. Returns the
    boundary values used."""
    from functools import reduce

    from ..operators.sketches import loghist_counts, loghist_splits

    hist = loghist_counts(df, col, k=k, decimals=decimals)
    splits = sorted(
        r.est
        for r in loghist_splits(
            hist, int(n_files), k=k, decimals=decimals
        ).collect()
    )  # <= n_files - 1 boundary values: sketch-table-sized collect
    rid = reduce(
        lambda acc, s: acc + F.when(F.col(col) >= F.lit(s), 1).otherwise(0),
        splits,
        F.lit(0),
    )
    (
        df.withColumn("range", rid)
        .repartition(max(1, len(splits) + 1), F.col("range"))
        .sortWithinPartitions("range", col)
        .write.partitionBy("range")
        .mode(mode)
        .parquet(path)
    )
    return splits


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_mb: int = 128,
) -> dict:
    """Small-file compaction — the lake-maintenance pass every chunked or
    appending writer eventually needs: rewrite a parquet directory into
    ``ceil(total_bytes / target)`` files and swap atomically.

    Why it matters at 100 TB: a scan's task count (and its scheduler +
    footer-read overhead) is file-bound; a directory of 50k drizzle files
    from many small appends turns a one-stage scan into a metadata storm.
    Planning here is driver-side FILE METADATA only (no data job); the
    rewrite is one distributed read→repartition→write; the swap is
    directory rename, so readers see the old files or the new files,
    never a mix. Returns {files_before, files_after, bytes}.

    On an object store, swap via the catalog (Iceberg/Delta rewrite-files
    commit) instead of rename — the shape of the rewrite is identical."""
    import math
    import os
    import shutil

    files = [
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    ]
    total = sum(os.path.getsize(f) for f in files)
    n_out = max(1, math.ceil(total / (target_mb * 1024 * 1024)))
    tmp = path.rstrip("/") + ".__compact_tmp__"
    (
        spark.read.parquet(path)
        .repartition(n_out)
        .write.mode("overwrite")
        .parquet(tmp)
    )
    old = path.rstrip("/") + ".__compact_old__"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    after = len(
        [f for f in os.listdir(path)
         if f.endswith(".parquet") and not f.startswith(("_", "."))]
    )
    return {"files_before": len(files), "files_after": after, "bytes": total}
