"""Parquet source with chunk-predicate reads.

The reference's chunked range scan (S2, reference chunk.go:73-94) maps to a
partition-predicate read. Against parquet the filter is pushed to the scan
(row-group pruning via min/max statistics — check ``PushedFilters`` in
``.explain``); against JDBC the same ``ChunkPlan`` becomes the
``predicates=[...]`` list (see sources/jdbc.py).
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.chunk import ChunkPlan

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet read tolerant of INT64 TIMESTAMP(NANOS) columns (which Spark
    rejects by default): nanos are read as long and converted to microsecond
    timestamps with exact integer math (``div 1000`` — float division would
    lose precision above 2^53).

    NOTE: ``nanosAsLong`` is a session-wide legacy conf — setting it here
    changes how every later parquet read in this session types NANOS
    columns (they arrive as LongType instead of erroring). It is also set
    in session.get_spark; the runtime set here keeps externally-created
    sessions (e.g. the round driver's) working."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Timestamps in the driver's parquet carry no UTC-adjustment flag, so
    # Spark 4 types them TIMESTAMP_NTZ while DuckDB (the oracle) reads the
    # same wall-clock values as naive TIMESTAMP. Pin the session to UTC and
    # cast NTZ -> TIMESTAMP: under UTC the cast is value-preserving, epoch
    # micros equal DuckDB's epoch_us(naive-as-UTC), and every downstream
    # unix_micros/window expression keeps working on either encoding.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(path)
    from pyspark.sql.types import LongType, TimestampNTZType

    if "ts" in df.columns and isinstance(df.schema["ts"].dataType, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    ntz = [f.name for f in df.schema.fields if isinstance(f.dataType, TimestampNTZType)]
    if ntz:
        df = df.withColumns({c: F.col(c).cast("timestamp") for c in ntz})
    return df


# Session-scoped memo of LAZY DataFrame handles for READ-ONLY table
# paths (r14, guide §1.2): every spark.read.parquet call re-runs file
# listing + footer schema inference (~0.2 s driver-side per call). The
# memo stores the plan handle only — no rows, no persisted blocks;
# every action still scans the parquet. Keyed by applicationId so a
# restarted session never sees a stale JVM handle. Callers must use it
# ONLY for paths that are never rewritten in-process (the fixture
# tables, migration SOURCE dirs); write-then-reread paths (spool
# targets, temp dirs) keep calling read_parquet directly, because the
# memoized plan pins the file listing taken at first read.
_READONLY_MEMO: dict[tuple[str, str], DataFrame] = {}


def read_parquet_memo(spark: SparkSession, path: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, os.path.abspath(path))
    df = _READONLY_MEMO.get(key)
    if df is None:
        df = read_parquet(spark, path)
        _READONLY_MEMO[key] = df
    return df


def invalidate_parquet_memo(path_prefix: str | None = None) -> int:
    """Drop memoized plan handles for ``path_prefix`` and every path under
    it (all of them when None): ``/data/sf1`` does not drop ``/data/sf10``.
    The explicit escape hatch for the one case the read-only contract
    does not cover (ADVICE r14): a source directory whose FILES changed
    in-process (e.g. refreshed between two migrations in one long-lived
    session) — the memoized plan pins the file listing taken at first
    read, so without invalidation a re-read would return the old files.
    Returns the number of entries dropped."""
    if path_prefix is None:
        n = len(_READONLY_MEMO)
        _READONLY_MEMO.clear()
        return n
    prefix = os.path.abspath(path_prefix)
    under = os.path.join(prefix, "")
    doomed = [k for k in _READONLY_MEMO if k[1] == prefix or k[1].startswith(under)]
    for k in doomed:
        del _READONLY_MEMO[k]
    return len(doomed)


def load_tables(spark: SparkSession, sf_dir: str, tables=TPCH_TABLES) -> dict[str, DataFrame]:
    """Load the driver-provided parquet tables as DataFrames."""
    return {t: read_parquet_memo(spark, os.path.join(sf_dir, f"{t}.parquet")) for t in tables}


def chunked_parquet_read(
    spark: SparkSession,
    path: str,
    plan: ChunkPlan,
    columns: list[str] | None = None,
) -> DataFrame:
    """Read a parquet table as the union of its chunk-predicate scans.

    Each chunk filter prunes row groups independently; the union of disjoint
    ranges is a partition-parallel read identical in coverage to the full
    scan (tests assert this equivalence). ``columns`` applies projection
    pruning at the scan.
    """
    df = read_parquet(spark, path)
    if columns:
        df = df.select(*columns)
    preds = plan.predicates()
    if preds is None:
        return df
    chunks = plan.chunks
    contiguous = all(
        chunks[i].hi == chunks[i + 1].lo for i in range(len(chunks) - 1)
    )
    if contiguous:
        # Unbroken chunk plan (no resume-skipped chunks): coverage equals one
        # range filter, so emit a single scan — parquet already parallelizes
        # by row group; N unioned scans would read the footer N times.
        lo, last = chunks[0], chunks[-1]
        cond = F.col(plan.chunk_key) >= F.lit(lo.lo)
        cond = cond & (
            (F.col(plan.chunk_key) <= F.lit(last.hi))
            if last.is_last
            else (F.col(plan.chunk_key) < F.lit(last.hi))
        )
        return df.filter(cond)
    parts = [df.filter(F.expr(p)) for p in preds]
    return reduce(DataFrame.unionByName, parts)
