"""The benchmark's workloads.

Each workload generates its inputs from the seed (``setup``), runs one
timed iteration through the program's public entry points (``iterate``),
and checks that iteration's output outside the timed span (``check``).
Sizes are fixed per workload; ``tiny`` shrinks them for the self-tests.
"""

from __future__ import annotations

import math
import os
import sys
import time
from dataclasses import dataclass, field

import datagen


@dataclass
class Iteration:
    wall_s: float
    rows: int  # source rows the iteration moved (or scanned, for the mix)
    out_dir: str | None = None  # spool target root, for the output check
    ok: bool = True  # the program's own verdict (MigrationResult.ok)
    phases: dict[str, float] = field(default_factory=dict)


class InjectedCrash(RuntimeError):
    """Raised by the resume workload's target on its fixed crash write."""


class Workload:
    name = ""
    warmup = 1  # untimed iterations before timing, paid for in setup_s

    def __init__(self, spark, work_dir: str, seed: int, tiny: bool):
        self.spark = spark
        self.work_dir = work_dir
        self.seed = seed
        self.tiny = tiny
        self.input_rows = 0
        self.output_rows = 0  # rows a correct migration lands
        self.sizes: dict[str, int] = {}

    def setup(self) -> None:
        raise NotImplementedError

    def iterate(self, it_dir: str) -> Iteration:
        raise NotImplementedError

    def check(self, it: Iteration) -> list[str]:
        problems = [] if it.ok else ["program reported ok=False"]
        return problems + datagen.check_spool(it.out_dir, self.expected)

    def warm_up(self, it_dir: str, first: bool) -> list[str]:
        """One untimed iteration; its cost is paid in setup_s. Returns the
        output problems it found."""
        return self.check(self.iterate(it_dir))


# -- migrations -----------------------------------------------------------------


class Lake(Workload):
    """ParquetSource over the eight migration tables -> SpoolTarget, with
    bench.py's migration config. FK-free: scan+write dominate."""

    name = "lake_sf0.1"
    sf_full, sf_tiny = 0.1, 0.002

    def setup(self) -> None:
        self.src = os.path.join(self.work_dir, "lake")
        sf = self.sf_tiny if self.tiny else self.sf_full
        self.expected = datagen.make_lake(self.src, self.seed, sf)
        self.sizes = {t: e.rows for t, e in self.expected.items()}
        self.input_rows = self.output_rows = sum(self.sizes.values())

    def iterate(self, it_dir: str) -> Iteration:
        from pgferry_spark.backends import ParquetSource, SpoolTarget
        from pgferry_spark.config import MigrationConfig
        from pgferry_spark.pipeline import MigrationPipeline
        from pgferry_spark.types import map_parquet_default, map_parquet_type

        out = os.path.join(it_dir, "target")
        cfg = MigrationConfig(
            source_type="parquet", source_dsn=self.src,
            target_dsn="spool://bench", target_schema="tpch",
        )
        src = ParquetSource(
            self.spark, self.src, tables=tuple(datagen.LAKE_KEYS), pks=datagen.LAKE_PKS,
        )
        pipe = MigrationPipeline(
            self.spark, cfg, src, SpoolTarget(self.spark, out),
            map_parquet_type, map_parquet_default,
        )
        t0 = time.perf_counter()
        result = pipe.run()
        wall = time.perf_counter() - t0
        return Iteration(wall, self.input_rows, out, result.ok)


class SqliteFk(Workload):
    """SqliteSource (one connection, driver-streamed spool) with FK orphan
    cleanup over a self-FK parent, a child and a grandchild."""

    name = "sqlite_fk"
    parents_full, parents_tiny = 10_000, 300

    def setup(self) -> None:
        self.db = os.path.join(self.work_dir, "fk.db")
        n_parent = self.parents_tiny if self.tiny else self.parents_full
        self.expected = datagen.make_sqlite_fk(self.db, self.seed, n_parent)
        import sqlite3

        con = sqlite3.connect(self.db)
        try:
            self.sizes = {
                t: con.execute(f"SELECT COUNT(*) FROM {t}").fetchone()[0]
                for t in datagen.SQLITE_KEYS
            }
        finally:
            con.close()
        self.input_rows = sum(self.sizes.values())
        self.output_rows = sum(e.rows for e in self.expected.values())
        # the largest table moves in >= 3 batches of 4 chunks (sqlite runs
        # one worker, so a batch is 4 chunks) and the parent spans > 1 chunk
        self.chunk_size = max(1, math.ceil(self.sizes["grandchild"] / 12))

    def config(self, resume: bool):
        from pgferry_spark.config import MigrationConfig

        return MigrationConfig(
            source_type="sqlite", source_dsn=self.db, target_dsn="spool://bench",
            target_schema="app", chunk_size=self.chunk_size, resume=resume,
        )

    def pipeline(self, target, resume: bool = False, checkpoint=None):
        from pgferry_spark.backends import SqliteSource
        from pgferry_spark.pipeline import MigrationPipeline
        from pgferry_spark.types import map_sqlite_default, map_sqlite_type

        return MigrationPipeline(
            self.spark, self.config(resume), SqliteSource(self.db), target,
            map_sqlite_type, map_sqlite_default, checkpoint=checkpoint,
        )

    def iterate(self, it_dir: str) -> Iteration:
        from pgferry_spark.backends import SpoolTarget

        out = os.path.join(it_dir, "target")
        pipe = self.pipeline(SpoolTarget(self.spark, out))
        t0 = time.perf_counter()
        result = pipe.run()
        wall = time.perf_counter() - t0
        return Iteration(wall, self.input_rows, out, result.ok)


class SqliteResume(SqliteFk):
    """The sqlite_fk migration with resume=True: a target that crashes on
    the first write of the largest table's second batch (after that write
    lands, before its chunks are recorded), then a fresh pipeline resumes
    to completion. One iteration is the crash run plus the resume."""

    name = "sqlite_resume"
    crash_table = "grandchild"
    crash_write = 2  # the grandchild's second batch write

    def crashing_target(self, out: str):
        from pgferry_spark.backends import SpoolTarget

        workload = self

        class CrashingTarget(SpoolTarget):
            writes = 0

            def write(self, df, table, append=False):
                rows = super().write(df, table, append=append)
                if table == workload.crash_table:
                    CrashingTarget.writes += 1
                    if CrashingTarget.writes == workload.crash_write:
                        raise InjectedCrash(f"injected crash after writing {rows} rows")
                return rows

        return CrashingTarget(self.spark, out)

    def iterate(self, it_dir: str) -> Iteration:
        from pgferry_spark.backends import SpoolTarget
        from pgferry_spark.plans.checkpoint import CheckpointManager

        out = os.path.join(it_dir, "target")
        ckpt = os.path.join(it_dir, "checkpoint.json")
        # flush every recorded chunk, so the crash leaves the first batch
        # recorded and the resume takes the delete-then-rewrite path
        crash_pipe = self.pipeline(
            self.crashing_target(out), resume=True,
            checkpoint=CheckpointManager(ckpt, flush_items=1),
        )
        t0 = time.perf_counter()
        try:
            crash_pipe.run()
        except InjectedCrash:
            pass
        else:
            raise RuntimeError("the injected crash did not fire")
        t1 = time.perf_counter()
        redo = self.redo_rows(out, ckpt)
        resume_pipe = self.pipeline(
            SpoolTarget(self.spark, out), resume=True,
            checkpoint=CheckpointManager(ckpt, flush_items=1),
        )
        t2 = time.perf_counter()
        result = resume_pipe.run()
        t3 = time.perf_counter()
        ok = result.ok and not os.path.exists(ckpt)
        return Iteration(
            (t1 - t0) + (t3 - t2), self.input_rows, out, ok,
            phases={"crash_s": t1 - t0, "resume_s": t3 - t2, "redo_rows": redo},
        )

    def redo_rows(self, out: str, ckpt: str) -> int:
        """Rows the crashed run landed that no checkpoint records: the ones
        the resume must delete and write again (footers + checkpoint JSON,
        no Spark job)."""
        import json

        import pyarrow.parquet as pq

        with open(ckpt, encoding="utf-8") as f:
            recorded = json.load(f)["tables"].get(self.crash_table, {}).get("rows", 0)
        path = os.path.join(out, self.crash_table)
        landed = sum(
            pq.read_metadata(os.path.join(path, p)).num_rows
            for p in os.listdir(path) if p.endswith(".parquet")
        )
        return landed - recorded


# -- registered entries -----------------------------------------------------------

# entry -> lake tables its builder reads (rows scanned per pass). Six of
# the mix's ten candidates: construction-heavy (ccnet_buckets) next to
# action-heavy (loghist_price_quantiles), a Python-worker entry
# (embedding_near_dup), a join (q5), a map-only projection
# (transform_uuid) and a window (sessionize). The other four
# (lsh_candidate_pairs_md5_capped, cross_corpus_near_dup_capped,
# hll_rolling_users, ivf_pq_topk) would double a pass on a 4-core host.
MIX = {
    "q5_local_supplier_volume": ("region", "nation", "customer", "supplier", "orders", "lineitem"),
    "transform_uuid": ("customer",),
    "embedding_near_dup": ("embeddings",),
    "ccnet_buckets": ("documents",),
    "loghist_price_quantiles": ("lineitem",),
    "sessionize": ("events",),
}


class OperatorMix(Workload):
    """Registered entries, each built by its ``__spark_entry__.queries()``
    builder and forced with the noop sink, the cache cleared between
    entries. The warm-up pass collects every entry instead and compares it
    with its DuckDB ``oracle_sql()`` twin, order-insensitive."""

    name = "operator_mix"
    warmup = 2  # the oracle-checked collect pass, then one noop pass
    sf_full, sf_tiny = 0.02, 0.002

    def setup(self) -> None:
        import pyarrow.parquet as pq

        import __spark_entry__

        self.src = os.path.join(self.work_dir, "lake")
        datagen.make_lake(self.src, self.seed, self.sf_tiny if self.tiny else self.sf_full)
        self.sizes = {
            t: pq.read_metadata(os.path.join(self.src, f"{t}.parquet")).num_rows
            for t in sorted({t for ts in MIX.values() for t in ts})
        }
        self.input_rows = sum(self.sizes[t] for ts in MIX.values() for t in ts)
        queries = __spark_entry__.queries()
        self.builders = {name: queries[name] for name in MIX}
        self.oracle_s = 0.0  # DuckDB time inside the warm-up, kept out of setup_s

    def force(self, name: str, df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def iterate(self, it_dir: str) -> Iteration:
        phases = {}
        for name, build in self.builders.items():
            t0 = time.perf_counter()
            self.force(name, build(self.spark, self.src))
            phases[name] = time.perf_counter() - t0
            self.spark.catalog.clearCache()
        return Iteration(sum(phases.values()), self.input_rows, phases=phases)

    def check(self, it: Iteration) -> list[str]:
        return []

    def warm_up(self, it_dir: str, first: bool) -> list[str]:
        if not first:
            return super().warm_up(it_dir, first)
        import duckdb

        import __spark_entry__

        # the oracle gate's own normalization; its module puts a fixed
        # repository root first on sys.path, so keep this checkout's first
        path = list(sys.path)
        from tools.compare_oracle import norm_rows

        sys.path[:] = path
        oracles = __spark_entry__.oracle_sql()
        con = duckdb.connect()
        problems = []
        try:
            for f in sorted(os.listdir(self.src)):
                con.execute(
                    f"CREATE VIEW {f.removesuffix('.parquet')} AS "
                    f"SELECT * FROM '{os.path.join(self.src, f)}'"
                )
            for name, build in self.builders.items():
                df = build(self.spark, self.src)
                ours = norm_rows(df.columns, [tuple(r) for r in df.collect()])
                self.spark.catalog.clearCache()
                t0 = time.perf_counter()
                tbl = con.execute(oracles[name]).fetch_arrow_table()
                theirs = norm_rows(tbl.column_names, [tuple(d.values()) for d in tbl.to_pylist()])
                self.oracle_s += time.perf_counter() - t0
                if ours != theirs:
                    problems.append(
                        f"{name}: {len(ours[1])} rows differ from the oracle's {len(theirs[1])}"
                    )
        finally:
            con.close()
        return problems


WORKLOADS = {w.name: w for w in (Lake, SqliteFk, SqliteResume, OperatorMix)}
