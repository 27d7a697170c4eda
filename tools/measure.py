"""The one forcing-and-timing core under ``bench.py`` and the tools/ harnesses.

Every timed run forces its frame with :func:`force`, a ``noop`` sink write:
the whole output plan executes, every column included. A ``.count()``
lets Catalyst drop projected columns nothing reads, so a map-only entry
timed that way measures little more than its scan (``transform_uuid`` at
sf0.1 on 4 cores: 0.4-0.5 s counted, 2.6-3.2 s written; BASELINE.md §23).

A builder is ``build(spark, sf_dir)``. It returns the frame to force, or
``None`` when it did its work eagerly (:func:`migration_8table`).
:class:`Meter` times one build+force as a record whose fields are named
after perfbench's: ``construct_s`` (build, including any eager jobs it
runs), ``action_s`` (the forced write), ``jobs`` and ``stages`` (every
Spark job the repeat launched, from any driver thread) and ``compiles``
(classes Spark's code generator compiled).

Nothing here imports the package or the entry registry at module level,
so a harness that puts another checkout first on ``sys.path`` times that
checkout's entries under this checkout's protocol.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
import time

PROBE_ROUNDS = 200_000  # md5 chain length of one host-speed probe unit
MIGRATION_PKS = {
    "region": "r_regionkey", "nation": "n_nationkey", "customer": "c_custkey",
    "supplier": "s_suppkey", "part": "p_partkey", "orders": "o_orderkey",
    "lineitem": None, "events": "event_id",
}


def force(df) -> None:
    """Execute ``df``'s full plan and discard the rows."""
    df.write.format("noop").mode("overwrite").save()


def median(xs: list[float]) -> float:
    s = sorted(xs)
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def _probe_unit(_i: int = 0) -> int:
    """Fixed single-core work (module-level: the process pool pickles it)."""
    h = b"x"
    for _ in range(PROBE_ROUNDS):
        h = hashlib.md5(h).digest()
    return h[0]


def cpu_probe_ms() -> float:
    """Host-speed probe: one fixed md5 chain on one core. Two runs whose
    probe times differ by the same factor as their entry times are the same
    code on a different-speed host."""
    t0 = time.perf_counter()
    _probe_unit()
    return round((time.perf_counter() - t0) * 1000, 1)


def cpu_probe_mc8_ms(procs: int = 8) -> float | None:
    """The same unit on 8 processes at once: co-tenant SMT or memory-bandwidth
    contention slows multi-core throughput without touching a lone core. The
    time includes the pool's spawn cost, so it compares across runs only."""
    import concurrent.futures

    try:
        t0 = time.perf_counter()
        with concurrent.futures.ProcessPoolExecutor(max_workers=procs) as ex:
            list(ex.map(_probe_unit, range(procs)))
        return round((time.perf_counter() - t0) * 1000, 1)
    except (OSError, RuntimeError):  # no pool on this host: no reading
        return None


def session(app_name: str):
    """The engine's tuned session (``get_spark``), logging errors only."""
    from pgferry_spark.session import get_spark

    spark = get_spark(app_name)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark, sf_dir: str) -> None:
    """Pay the one-time costs before the first timed entry: JVM and codegen
    on the smallest table, the Python worker pool (reused across entries),
    and the C2 compiles of the dedup family's hot shapes (explode, wide
    multi-MIN aggregate, band explode, bucket self-join) and of the two
    Arrow-UDF families, which otherwise land on whichever entry runs first."""
    from pyspark.sql import functions as F

    from pgferry_spark.operators.dedup import (
        embedding_near_dup_pairs,
        lsh_candidate_pairs,
        simhash_near_pairs,
    )

    par = spark.sparkContext.defaultParallelism
    force(spark.read.parquet(os.path.join(sf_dir, "region.parquet")))
    force(spark.range(par * 4).repartition(par).mapInPandas(lambda it: it, "id long"))
    docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ", *[F.conv(F.hex((F.col("id") + i) * 2654435761), 16, 10) for i in range(12)]
        ).alias("text"),
    )
    vecs = spark.range(128).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(8)),
            lambda i: F.pmod(F.xxhash64(F.col("id") * i), F.lit(97)) / 97.0,
        ).alias("embedding"),
    )
    for hash_fn in ("xxhash64", "md5"):
        force(lsh_candidate_pairs(docs, "text", "doc_id", 12, 4, 3, hash_fn=hash_fn))
    force(embedding_near_dup_pairs(vecs, "embedding", "vec_id", threshold=0.99, block_size=64))
    force(simhash_near_pairs(docs, "text", "doc_id", max_hamming=2))
    spark.catalog.clearCache()


def migration_8table(spark, sf_dir: str) -> None:
    """The movement path as a builder: the full 8-table parquet -> spool
    migration (introspect, DDL, chunked reads, write, row-count validation,
    constraint replay transcript), run eagerly."""
    from pgferry_spark.backends import ParquetSource, SpoolTarget
    from pgferry_spark.config import MigrationConfig
    from pgferry_spark.pipeline import MigrationPipeline
    from pgferry_spark.types import map_parquet_default, map_parquet_type

    out = tempfile.mkdtemp(prefix="bench_migration_")
    try:
        cfg = MigrationConfig(
            source_type="parquet", source_dsn=sf_dir,
            target_dsn="spool://bench", target_schema="tpch",
        )
        src = ParquetSource(
            spark, sf_dir, tables=tuple(MIGRATION_PKS),
            pks={k: v for k, v in MIGRATION_PKS.items() if v},
        )
        result = MigrationPipeline(
            spark, cfg, src, SpoolTarget(spark, out),
            map_parquet_type, map_parquet_default,
        ).run()
        if not result.ok:
            raise RuntimeError(f"bench migration failed: {result}")
    finally:
        shutil.rmtree(out, ignore_errors=True)


def registry() -> dict:
    """Every timed entry by name: the ``queries()`` builders plus
    ``migration_8table``."""
    import __spark_entry__

    return {**__spark_entry__.queries(), "migration_8table": migration_8table}


class Meter:
    """Times builds on one session. Jobs of a repeat are the ids after the
    previous watermark: the scheduler numbers jobs consecutively, so the
    count includes jobs that driver threads (migration waves) launched."""

    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        self._compiled = (
            sc._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        )
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = sc._jsc.sc().statusStore().jobsList(None)
        self._last_job = -1 if jobs.isEmpty() else max(jobs.head().jobId(), jobs.last().jobId())

    def _new_jobs(self) -> list:
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker, infos = sc.statusTracker(), []
        while (info := tracker.getJobInfo(self._last_job + 1)) is not None:
            infos.append(info)
            self._last_job += 1
        return infos

    def once(self, build, sf_dir: str) -> dict:
        """One timed build+force, without clearing the cache first."""
        self._new_jobs()  # jobs since the last repeat are not this one's
        c0 = self._compiled.getCount()
        t0 = time.perf_counter()
        df = build(self.spark, sf_dir)
        t1 = time.perf_counter()
        if df is not None:
            force(df)
        t2 = time.perf_counter()
        compiles = self._compiled.getCount() - c0
        jobs = self._new_jobs()
        return {
            "construct_s": round(t1 - t0, 3),
            "action_s": round(t2 - t1, 3),
            "jobs": len(jobs),
            "stages": sum(len(j.stageIds) for j in jobs),
            "compiles": compiles,
        }

    def repeats(self, build, sf_dir: str, n: int) -> list[dict]:
        """``n`` timed repeats, the cache cleared before each: operators that
        persist intermediates must not hand repeat 2+ a warm cache."""
        out = []
        for _ in range(n):
            self.spark.catalog.clearCache()
            out.append(self.once(build, sf_dir))
        return out


def wall(rec: dict) -> float:
    """A record's wall seconds: construction plus the forced action."""
    return round(rec["construct_s"] + rec["action_s"], 3)
