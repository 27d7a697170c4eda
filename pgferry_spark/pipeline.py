"""Migration pipeline orchestration.

The reference's 16-step sequence (reference docs/migration-pipeline.md:8-26,
main.go:125-348, post.go:17-100) re-expressed over Spark:

 1. introspect source schema → catalog
 2. advisory passes (unsupported types hard-gate, generated cols,
    skipped indexes, collations) → PlanReport
 3. target schema prepare + CREATE TABLE DDL (constraint-free, UNLOGGED)
 4. movement: chunk plan → one loop over batches of pending chunks, each
    batch a partitioned read → transform projection → orphan cleanup (one
    left join per FK against the parent's key set, FK delete/set-null
    rules) → write → chunks recorded. Each batch write is one pass over
    its read. The removed-orphan count is observed inside the write job
    (rows into the batch read, rows out of the written frame), so counting
    costs no Spark job; each referenced parent's key set (the distinct
    referenced key tuples of its landed rows) is projected from the
    target's rows once per run and persisted, so no source row is read
    for it and no parent is cleaned twice
 5. validation: per-table row-count comparison with the source COUNT(*),
    or for an FK table with the rows its writes landed across runs (the
    checkpoint's totals), so validation reads no source row
 6. post-migrate constraint replay (SET LOGGED → PK → indexes → FKs →
    sequences → checks → triggers) + hooks at 4 phases
 7. checkpoint/resume around the movement phase: a resumed table first
    purges its pending chunks' key ranges with ONE ``delete_where``, then
    re-moves exactly those chunks; the first flush follows step 3, so a
    resume that finds a checkpoint skips step 3

The **target backend** is pluggable: `execute(sql)` + `write(df, table)` +
`count(table)` + `delete_where(table, predicate)` + `read(table, schema)`.
Production is COPY against PostgreSQL; tests use a local spool target. The
reference's `workers` semaphore becomes Spark's task scheduler over the
chunk partitions.

`single_tx` snapshot mode (reference migrate.go:149-259) is the one
semantic it is impossible to distribute: one REPEATABLE READ transaction
cannot span executors. In that mode the pipeline degrades to a sequential
driver-side read per table through one connection — correct, slow,
documented (SURVEY §7 hard-part 1).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field, replace
from typing import Callable, Protocol

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from .catalog.identifiers import pg_ident, source_ident
from .catalog.model import Schema, SourceObjects, Table
from .config import MigrationConfig
from .ddl import build_post_migrate_plan, create_schema_sql, create_table_sql, create_enum_type_sql
from .catalog.parsers import parse_enum_values
from .functions.apply import apply_transforms
from .hooks import run_hooks
from .operators.orphans import clean_orphans_delete, clean_orphans_set_null, parent_keys
from .plan_report import PlanReport, build_plan_report
from .plans.checkpoint import CheckpointManager, compatibility_fingerprint
from .plans.chunk import plan_table_chunks
from .plans.validation import ValidationResult, validate_row_counts


class TargetBackend(Protocol):
    """Where the migration lands. ``write`` must execute ``df`` through a
    DataFrame write or action (``df.write...save()``, ``.parquet()``,
    ``.collect()``), never through its RDD (``foreachPartition``,
    ``df.rdd``): the pipeline reads the batch's row counts from
    ``Observation``s on ``df`` that only a DataFrame execution fulfils,
    and waits for them after ``write`` returns. It returns the rows that
    landed. ``read`` returns the rows a table holds of ``schema``'s
    columns, each typed as its field (a target that reads its rows back
    as text parses them there), as a lazy frame that stays valid for the
    rest of the run: the referenced tables' key sets are projected from
    it."""

    def execute(self, sql: str) -> None: ...
    def write(self, df: DataFrame, table: str, append: bool = False) -> int: ...
    def count(self, table: str) -> int: ...
    def delete_where(self, table: str, predicate: str) -> None: ...
    def read(self, table: str, schema: StructType) -> DataFrame: ...


class SourceBackend(Protocol):
    kind: str
    def introspect(self) -> Schema: ...
    def source_objects(self) -> SourceObjects: ...
    def read_table(self, spark: SparkSession, table: Table, predicates: list[str] | None) -> DataFrame: ...
    def count(self, table: Table) -> int: ...
    def min_max(self, table: Table, key_source_name: str) -> tuple[int | None, int | None]: ...


@dataclass
class TableRunResult:
    table: str
    rows_written: int
    chunks: int
    # rows_written and orphans_removed count this run's writes only (0 for a
    # skipped table); the checkpoint holds the cross-run row total
    orphans_removed: int = 0
    # wall seconds for this table's movement (read+transform+write+cleanup);
    # the reference logs per-table progress every 10s (migrate.go:469-473) —
    # this is the batch-run equivalent a operator reads post-hoc
    seconds: float = 0.0


@dataclass
class MigrationResult:
    tables: list[TableRunResult] = field(default_factory=list)
    validation: list[ValidationResult] = field(default_factory=list)
    report: PlanReport | None = None
    elapsed_sec: float = 0.0

    @property
    def ok(self) -> bool:
        return all(v.ok for v in self.validation)


class MigrationPipeline:
    def __init__(
        self,
        spark: SparkSession,
        cfg: MigrationConfig,
        source: SourceBackend,
        target: TargetBackend,
        type_mapper: Callable,
        default_mapper: Callable,
        checkpoint: CheckpointManager | None = None,
    ):
        self.spark = spark
        self.cfg = cfg
        self.source = source
        self.target = target
        self.type_mapper = type_mapper
        self.default_mapper = default_mapper
        self.checkpoint = checkpoint or CheckpointManager("", noop=True)
        # one persisted set of distinct key tuples per (referenced table,
        # referenced columns), projected from the table's landed rows for
        # every batch of every child; released by run()
        self._key_sets: dict[tuple[str, tuple[str, ...]], DataFrame] = {}
        # referenced table -> the column tuples other tables' FKs reference
        # (set by run())
        self._referenced: dict[str, set[tuple[str, ...]]] = {}
        # advisor outputs: source row counts measured at plan time (reused by
        # validation), parents whose FK anti-joins should broadcast
        self._source_counts: dict[str, int] = {}
        self._broadcast_parents: frozenset[str] = frozenset()

    # -- steps ---------------------------------------------------------------

    def select_tables(self, schema: Schema) -> list[Table]:
        tables = schema.tables
        if self.cfg.include_tables:
            want = set(self.cfg.include_tables)
            tables = [t for t in tables if t.pg_name in want or t.source_name in want]
        if self.cfg.exclude_tables:
            skip = set(self.cfg.exclude_tables)
            tables = [t for t in tables if t.pg_name not in skip and t.source_name not in skip]
        return tables

    def hard_gate(self, report: PlanReport) -> None:
        if report.unsupported_columns:
            raise ValueError(f"unsupported columns abort the run: {report.unsupported_columns}")

    def ensure_extensions(self, tables: list[Table]) -> list[str]:
        """Runtime extension step (reference extensions.go:99-129, run
        before any DDL/data): probe the target's catalogs and create /
        reject per requirement. Targets without a ``query`` surface
        (spool, dry-run) can't probe a catalog — the static plan report
        still lists the requirement, and a real-server target enforces
        it here."""
        from .extensions import (
            collect_extension_requirements, ensure_required_extensions,
        )

        reqs = collect_extension_requirements(
            Schema(tables=tables), self.cfg.type_mapping
        )
        if not reqs:
            return []
        query = getattr(self.target, "query", None)
        if query is None:
            return []
        return ensure_required_extensions(query, reqs)

    def create_schema_objects(self, tables: list[Table]) -> None:
        for stmt in create_schema_sql(self.cfg.target_schema, self.cfg.on_schema_exists == "recreate"):
            self.target.execute(stmt)
        if self.cfg.type_mapping.enum_mode == "native":
            seen = set()
            for t in tables:
                for c in t.columns:
                    if c.data_type.lower() == "enum":
                        values = tuple(sorted(parse_enum_values(c.column_type)))
                        if values not in seen:
                            seen.add(values)
                            self.target.execute(
                                create_enum_type_sql(list(values), self.cfg.target_schema)
                            )
        for t in tables:
            self.target.execute(
                create_table_sql(
                    t, self.cfg.target_schema, self.cfg.type_mapping,
                    self.type_mapper, self.default_mapper,
                    unlogged=self.cfg.unlogged_tables,
                )
            )

    def chunk_plan_for(self, table: Table):
        from .plans.chunk import chunk_key_for_table

        pk_cols = table.primary_key.columns if table.primary_key else []
        col_types = {c.pg_name: (c.column_type or c.data_type) for c in table.columns}
        key = chunk_key_for_table(pk_cols, col_types)
        if key is None:
            return plan_table_chunks(table.pg_name, None, None, None, self.cfg.chunk_size)
        # predicates execute against the SOURCE, so the chunk key in the
        # predicate text is the source column name (not the normalized
        # pg_name, which differs whenever snake_casing renames), quoted in
        # the source's dialect (a key may be a reserved word)
        src_name = table.column(key).source_name
        lo, hi = self.source.min_max(table, src_name)
        return plan_table_chunks(
            table.pg_name, source_ident(self.source.kind, src_name), lo, hi, self.cfg.chunk_size,
        )

    def plan_advice(self, tables: list[Table]):
        """Measure → advise → apply, before the movement phase (closes the
        loop plans/advisor.py documents; reference analogue: the advisory
        surface of plan.go:41-254).

        Measurements: one ``COUNT(*)`` per table from the source (cached in
        ``_source_counts`` so validation reuses it instead of re-counting),
        row width estimated from declared column types, and — only for
        children of at least ``advisor_skew_min_rows`` rows — a measured
        ``skew_profile`` of each single-column FK key (one key-only read of
        that column; below the threshold no reducer can straggle long enough to
        justify the diagnostic job).

        Application: ``spark.sql.shuffle.partitions`` sized for the largest
        table, AQE skew-join confs turned on when a hot key was measured,
        and the set of broadcast-sized FK parents recorded for
        ``clean_orphans`` to hint."""
        from .operators.skew import skew_profile
        from .plans.advisor import TableStats, advise_migration, estimate_row_bytes

        stats = []
        for t in tables:
            n = self.source.count(t)
            self._source_counts[t.pg_name] = n
            stats.append(TableStats(t.pg_name, n, estimate_row_bytes(t.columns)))
        names = {s.name for s in stats}
        edges = []
        for t in tables:
            for fk in t.foreign_keys:
                if fk.ref_pg_table == t.pg_name or fk.ref_pg_table not in names:
                    continue
                share = 0.0
                if (
                    self._source_counts[t.pg_name] >= self.cfg.advisor_skew_min_rows
                    and len(fk.columns) == 1
                ):
                    top = skew_profile(
                        self._key_read(t, {fk.columns[0]}), fk.columns[0], top=1,
                    ).collect()
                    if top:
                        share = float(top[0]["share"])
                edges.append((t.pg_name, fk.ref_pg_table, share))
        from .plans.advisor import (
            DEFAULT_BROADCAST_THRESHOLD, DEFAULT_TARGET_PARTITION_BYTES,
        )

        advice = advise_migration(
            stats, edges,
            parallelism=self.spark.sparkContext.defaultParallelism,
            broadcast_threshold=(
                self.cfg.advisor_broadcast_threshold or DEFAULT_BROADCAST_THRESHOLD
            ),
            target_partition_bytes=(
                self.cfg.advisor_target_partition_bytes
                or DEFAULT_TARGET_PARTITION_BYTES
            ),
        )
        for k, v in advice.conf.items():
            self.spark.conf.set(k, v)
        self._broadcast_parents = advice.broadcast_parents
        return advice

    def clean_orphans(
        self,
        df: DataFrame,
        table: Table,
        self_keys: dict[tuple[str, ...], DataFrame] | None = None,
        *,
        append: bool = False,
        rows_in: Observation,
    ) -> tuple[DataFrame, int, int]:
        """J1 applied in-flight: left-join each FK against its parent's key
        set (``_key_sets``, the distinct key tuples of the parent's landed
        rows), then land the batch with ``target.write`` (same final state
        as the reference's post-load DELETE). Returns the cleaned frame, the
        orphan rows removed, and the rows written.

        Self-referential FKs check against the table's own pre-clean
        snapshot — matching SQL DELETE semantics, where the NOT EXISTS
        subquery evaluates against the pre-delete state of the WHOLE table
        (reference post.go:475-538). When ``df`` is the whole table its own
        keys are that snapshot. When ``df`` is one chunk batch of a larger
        table the caller must pass the full-table snapshot's key sets,
        by referenced columns, as ``self_keys``; checking a batch against
        itself would delete valid rows whose parent lives in another batch.

        Removed rows are rows in minus rows out when a DELETE-rule FK
        applied, else 0 (SET NULL keeps every row). Both counts come from
        the write job itself: rows out from an ``Observation`` on the
        written frame, rows in from ``rows_in``, an ``Observation`` the
        caller placed on ``df``'s read (``_read_transformed``), under its
        persist when the plan scans ``df`` twice."""
        cleaned, any_delete_rule = self._apply_fk_rules(df, table, self_keys)
        if not any_delete_rule:
            return cleaned, 0, self.target.write(cleaned, table.pg_name, append=append)
        rows_out = Observation()
        rows = self.target.write(_count_rows(cleaned, rows_out), table.pg_name, append=append)
        return cleaned, rows_in.get["rows"] - rows_out.get["rows"], rows

    def _apply_fk_rules(
        self, df: DataFrame, table: Table,
        self_keys: dict[tuple[str, ...], DataFrame] | None = None,
    ) -> tuple[DataFrame, bool]:
        """``df`` with every FK's cleanup join applied, and whether any of
        them was a DELETE rule (the only rule that drops rows). An FK whose
        parent has no key set (not migrated) is skipped."""
        snapshot = df
        any_delete_rule = False
        for fk in table.foreign_keys:
            ref = tuple(fk.ref_columns)
            if fk.ref_pg_table == table.pg_name:
                keys = self_keys[ref] if self_keys else parent_keys(snapshot, fk.ref_columns)
            else:
                keys = self._key_sets.get((fk.ref_pg_table, ref))
                if keys is None:
                    continue
                if fk.ref_pg_table in self._broadcast_parents:
                    # advisor measured this parent under the broadcast
                    # threshold: ship its keys to every executor so the
                    # child never shuffles
                    keys = F.broadcast(keys)
            if fk.delete_rule.upper() == "SET NULL":
                df = clean_orphans_set_null(df, None, fk.columns, fk.ref_columns, keys=keys)
            else:
                any_delete_rule = True
                df = clean_orphans_delete(df, None, fk.columns, fk.ref_columns, keys=keys)
        return df, any_delete_rule

    def _key_read(self, table: Table, columns: set[str]) -> DataFrame:
        """Whole-table source read → transforms of ``table`` narrowed to
        ``columns`` (pg names), so the source fetches nothing else: the
        pre-clean snapshot of a multi-batch self-FK table and the advisor's
        skew probe."""
        narrowed = replace(table, columns=[c for c in table.columns if c.pg_name in columns])
        return self._read_transformed(narrowed, None)

    def _read_transformed(
        self, table: Table, predicates: list[str] | None,
        rows_in: Observation | None = None,
    ) -> DataFrame:
        """Source read → transforms, not persisted: the caller persists a
        read it scans more than once. ``rows_in`` counts the rows read, so
        the first job that scans the read (or fills its cache) fulfils it."""
        df = apply_transforms(
            self.source.read_table(self.spark, table, predicates),
            table, self.source.kind, self.cfg.type_mapping,
        )
        return df if rows_in is None else _count_rows(df, rows_in)

    def _build_key_sets(self, table: Table) -> None:
        """Persist the distinct key tuples of ``table``'s landed rows, one
        set per column tuple other tables' FKs reference, projected from
        the target's rows of the referenced columns (the reference's J1
        likewise probes the target parent, post.go:475-538), typed as the
        type mapping created the target's columns. Built once per run,
        after ``table``'s wave landed. The landed rows are exactly the
        cleaned rows, a done table's from an earlier run included, so no
        source row is read and no FK rule runs twice."""
        refs = self._referenced.get(table.pg_name, ())
        landed = self.target.read(table.pg_name, StructType([
            StructField(c, self.type_mapper(table.column(c), self.cfg.type_mapping)[1])
            for c in sorted({c for ref in refs for c in ref})
        ]))
        for ref in refs:
            self._key_sets[(table.pg_name, ref)] = parent_keys(landed, list(ref)).persist()

    def move_table(self, table: Table) -> TableRunResult:
        """Move one table as ONE loop over batches of its pending chunks,
        ``workers×4`` chunks a batch; each batch is one distributed
        read→transform→clean→write job (``clean_orphans`` lands it), and
        every chunk in the batch is marked complete only after the batch's
        write commits. An unchunked table is one batch of one chunk, read
        without predicates. Nothing runs on a batch read before its write,
        and the write makes one pass over it: the write's own job scans the
        read and fulfils the ``rows_in`` observation counted on it.

        A batch read is persisted only when it is read twice: a fresh
        self-FK table that fits in one batch is its own snapshot. Otherwise
        a self-FK table checks each batch against the key sets of a
        key-only whole-table read, built once before the first batch and
        released after the last.

        Resume is **idempotent by delete-then-insert**: the production sinks
        commit per partition, so a crash mid-batch can leave some partitions
        committed with no chunk recorded. A resumed run re-plans the
        identical chunks (guarded by the compatibility fingerprint), purges
        the key ranges of every not-yet-recorded chunk with ONE
        ``delete_where`` (adjacent ranges merged — after a crash the pending
        chunks are one contiguous tail, so one range), and re-writes exactly
        those chunks — count-exact, no duplicate rows even when the crash
        landed between a partition commit and the checkpoint flush
        (BASELINE.md restartability target).
        """
        name = table.pg_name
        if self.checkpoint.is_table_done(name):
            return TableRunResult(name, 0, 0)
        plan = self.chunk_plan_for(table)
        preds = plan.predicates()
        done = self.checkpoint.completed_indices(name)
        self.checkpoint.begin_table(name, len(plan.chunks))
        todo = [i for i in range(len(plan.chunks)) if i not in done]
        if done and todo and preds is not None:
            # partitions of an unrecorded chunk may have committed before the
            # crash — purge the pending key ranges so re-writes land exactly
            # once (reference records each chunk after its own COPY
            # transaction; the range DELETE is the idempotent equivalent).
            # The target holds pg names: the chunk key is the one-column PK
            pg_key = pg_ident(table.primary_key.columns[0])
            self.target.delete_where(name, plan.merged_predicate(todo, pg_key))
        size = max(1, self.cfg.effective_workers() * 4)
        batches = [todo[s : s + size] for s in range(0, len(todo), size)]
        whole = not done and len(batches) == 1
        self_refs = {tuple(fk.ref_columns) for fk in table.foreign_keys if fk.ref_pg_table == name}
        persist = whole and bool(self_refs)
        self_keys = None
        if self_refs and not whole:
            # self-FK cleanup must see the whole pre-clean table, not the batch
            snapshot = self._key_read(table, {c for ref in self_refs for c in ref})
            self_keys = {ref: parent_keys(snapshot, list(ref)).persist() for ref in self_refs}
        rows_total, removed_total = 0, 0
        try:
            for b, batch in enumerate(batches):
                rows_in = Observation()
                base = self._read_transformed(
                    table, None if preds is None else [preds[i] for i in batch], rows_in,
                )
                if persist:
                    base = base.persist()
                try:
                    # append once a batch landed, this run or the crashed one
                    _, removed, rows = self.clean_orphans(
                        base, table, self_keys,
                        append=bool(done) or b > 0, rows_in=rows_in,
                    )
                finally:
                    if persist:
                        base.unpersist()
                rows_total += rows
                removed_total += removed
                # chunks are marked after the batch write returns; a crash
                # inside the write is repaired by the delete-then-insert purge
                # above on the next resume. Rows land on the first chunk of
                # the batch so checkpoint row totals stay exact.
                for n, i in enumerate(batch):
                    self.checkpoint.mark_chunk_done(name, i, rows if n == 0 else 0)
        finally:
            for keys in (self_keys or {}).values():
                keys.unpersist()
        self.checkpoint.mark_table_done(name, rows_total)
        return TableRunResult(name, rows_total, len(plan.chunks), removed_total)

    def _table_parallelism(self) -> int:
        """How many tables may move concurrently (guide §2.6: overlap
        independent jobs so the next table's tasks back-fill executors
        freed by the current table's straggler tail — at any scale the
        per-table read→write jobs end in a tail that otherwise idles
        the cluster). Sequential when the source is a one-connection
        snapshot (``single_tx``; config already forbids workers > 1
        there) or the target has not declared its ``write`` safe for
        concurrent per-table calls (a shared-connection COPY sink is
        not; the parquet spool writes disjoint paths and is)."""
        if self.cfg.source_snapshot_mode == "single_tx":
            return 1
        if not getattr(self.target, "concurrent_write_safe", False):
            return 1
        return max(1, self.cfg.effective_workers())

    def _move_wave(
        self, wave: list[Table], sink: list[TableRunResult] | None = None,
    ) -> list[TableRunResult]:
        """Move one dependency wave — tables whose FK parents have all
        landed — concurrently when allowed, preserving ``wave`` order in
        the returned results (and hence in ``result.tables``). Each
        table's movement is exactly the sequential ``move_table`` call;
        only the scheduling overlaps. Spark's scheduler is explicitly
        built for concurrent jobs from driver threads (FIFO: later jobs
        back-fill what earlier ones leave idle)."""

        def _one(table: Table) -> TableRunResult:
            t0 = time.perf_counter()
            res = self.move_table(table)
            res.seconds = round(time.perf_counter() - t0, 3)
            return res

        workers = min(self._table_parallelism(), len(wave))
        if workers <= 1 or len(wave) <= 1:
            out: list[TableRunResult] = []
            for t in wave:
                res = _one(t)
                out.append(res)
                if sink is not None:
                    sink.append(res)
            return out
        from concurrent.futures import ThreadPoolExecutor

        # ADVICE r14: submit futures individually and harvest every
        # completed table before re-raising a failure — pool.map re-raises
        # the FIRST failed table's exception and discards the
        # TableRunResults of same-wave tables that finished; appending
        # completed results to ``sink`` (the caller's result.tables) as
        # they land keeps the run report's rows/seconds for every table
        # that actually moved, matching the sequential loop's behavior
        # (checkpoints already kept resume correct either way).
        with ThreadPoolExecutor(max_workers=workers) as pool:
            futures = [pool.submit(_one, t) for t in wave]
            results: list[TableRunResult] = []
            first_exc: BaseException | None = None
            for fut in futures:
                try:
                    res = fut.result()
                except BaseException as exc:  # noqa: BLE001 — re-raised below
                    if first_exc is None:
                        first_exc = exc
                    continue
                results.append(res)
                if sink is not None:
                    sink.append(res)
            if first_exc is not None:
                raise first_exc
            return results

    # -- the full sequence ---------------------------------------------------

    def run(self) -> MigrationResult:
        t0 = time.monotonic()
        result = MigrationResult()
        try:
            self._run_steps(result)
        finally:
            # every exit, a failed wave included, releases the run's
            # persisted key sets, the source's connection and the target's
            # read-back spools
            if hasattr(self.source, "close"):
                self.source.close()  # single_tx: ends the snapshot transaction
            for keys in self._key_sets.values():
                keys.unpersist()
            self._key_sets.clear()
            if hasattr(self.target, "close"):
                self.target.close()
        result.elapsed_sec = time.monotonic() - t0
        return result

    def _run_steps(self, result: MigrationResult) -> None:
        schema = self.source.introspect()
        tables = self.select_tables(schema)
        objects = self.source.source_objects()
        report = build_plan_report(
            Schema(tables=tables), objects, self.cfg.type_mapping,
            lambda c, cfg: self.type_mapper(c, cfg),
        )
        result.report = report
        self.hard_gate(report)

        schema_made = False
        if self.cfg.resume:
            payload = {
                "source_type": self.cfg.source_type,
                "target_schema": self.cfg.target_schema,
                "snake_case": self.cfg.snake_case_identifiers,
                "mode": self.cfg.mode,
                "unlogged": self.cfg.unlogged_tables,
                "chunk_size": self.cfg.chunk_size,
                "type_mapping": vars(self.cfg.type_mapping),
                "tables": {t.pg_name: [c.pg_name for c in t.columns] for t in tables},
            }
            self.checkpoint.fingerprint = compatibility_fingerprint(payload)
            self.checkpoint.payload = payload
            # the first flush follows the schema DDL, so a checkpoint file
            # means the schema and its tables already exist
            schema_made = self.checkpoint.load()

        # extensions precede DDL *and* data_only loads: a missing postgis
        # must abort before the first spatial value hits the wire
        self.ensure_extensions(tables)

        if self.cfg.advise and self.cfg.mode != "schema_only" and tables:
            advice = self.plan_advice(tables)
            report.advice = advice.report_dict()

        # a resume must not re-run the schema DDL: CREATE SCHEMA would fail
        # ('error'), DROP SCHEMA would lose the rows the checkpoint counts
        # as landed ('recreate'). Flushing right after the DDL lets a run
        # that crashes before its first batch lands resume too.
        if self.cfg.mode != "data_only" and not schema_made:
            self.create_schema_objects(tables)
            if self.cfg.resume:
                self.checkpoint.flush()

        if self.cfg.mode != "schema_only":
            if self.cfg.mode == "data_only":
                # existing target tables may carry triggers; disable around the
                # load (reference post.go:542-554, main.go:350-402)
                for t in tables:
                    self.target.execute(
                        f"ALTER TABLE {pg_ident(self.cfg.target_schema)}.{pg_ident(t.pg_name)} "
                        "DISABLE TRIGGER ALL"
                    )
            run_hooks(self.cfg.hooks, "before_data", self.cfg.target_schema, self.target.execute)

            # parents load first so FK cleanup can consume their key sets;
            # only tables some FK actually references get them, and they
            # hold the keys of the LANDED rows (read back from the target),
            # so grandchildren are checked against surviving parent rows only
            self._referenced = {}
            for t in tables:
                for fk in t.foreign_keys:
                    if fk.ref_pg_table != t.pg_name:
                        self._referenced.setdefault(fk.ref_pg_table, set()).add(
                            tuple(fk.ref_columns)
                        )
            for wave in _dependency_waves(_parents_first(tables)):
                # completed tables append to result.tables as they land,
                # so a wave failure still leaves the report reflecting
                # every table that actually moved (ADVICE r14)
                self._move_wave(wave, sink=result.tables)
                for table in wave:
                    if table.pg_name in self._referenced:
                        self._build_key_sets(table)
            run_hooks(self.cfg.hooks, "after_data", self.cfg.target_schema, self.target.execute)
            if self.cfg.mode == "data_only":
                for t in tables:
                    self.target.execute(
                        f"ALTER TABLE {pg_ident(self.cfg.target_schema)}.{pg_ident(t.pg_name)} "
                        "ENABLE TRIGGER ALL"
                    )

            if self.cfg.validation == "row_count":
                by_name = {t.pg_name: t for t in tables}

                def expected_count(name: str) -> int:
                    t = by_name[name]
                    if any(
                        (fk.ref_pg_table, tuple(fk.ref_columns)) in self._key_sets
                        or fk.ref_pg_table == t.pg_name
                        for fk in t.foreign_keys
                    ):
                        # FK tables: the rows the writes landed across runs,
                        # as the checkpoint totals them (orphans are gone)
                        return self.checkpoint.tables[name].rows
                    # the advisor already counted this table at plan time
                    if name in self._source_counts:
                        return self._source_counts[name]
                    return self.source.count(t)

                result.validation = validate_row_counts(
                    [t.pg_name for t in tables],
                    expected_count,
                    self.target.count,
                    # no Spark job here, but single_tx counts on one connection
                    max_workers=1,
                )

            run_hooks(self.cfg.hooks, "before_fk", self.cfg.target_schema, self.target.execute)
            if self.cfg.mode != "data_only":
                # data_only loads into an existing schema whose constraints
                # are already in place — replay would duplicate them
                post = build_post_migrate_plan(
                    tables, self.cfg.target_schema, self.cfg.type_mapping,
                    unlogged=self.cfg.unlogged_tables,
                )
                for group in (post.set_logged, post.primary_keys, post.indexes,
                              post.foreign_keys, post.sequences, post.checks, post.triggers):
                    for stmt in group:
                        self.target.execute(stmt)
            run_hooks(self.cfg.hooks, "after_all", self.cfg.target_schema, self.target.execute)

        self.checkpoint.flush()
        if result.ok:
            self.checkpoint.delete()


def _count_rows(df: DataFrame, observation: Observation) -> DataFrame:
    """``df`` with ``observation`` counting its rows as ``rows``.

    Residue: once an ``Observation`` has run, its session can no longer be
    serialized, because Spark 4.1 keeps the session's
    ``observationManager`` in a non-transient field. Nothing here
    serializes a session; a caller that must should do it before the
    first run."""
    return df.observe(observation, F.count(F.lit(1)).alias("rows"))


def _dependency_waves(ordered: list[Table]) -> list[list[Table]]:
    """Partition a parents-first table list into waves: every table in a
    wave has all its (present, non-self) FK parents in earlier waves, so
    waves run in order and tables inside a wave are mutually independent.
    FK-free schemas (the parquet-lake case) collapse to ONE wave. A cycle
    leaves no table ready; the fallback emits the next table alone in
    ``ordered`` order — exactly the sequential loop's behavior (the
    missing parent has no key set, and ``_apply_fk_rules`` skips its FK)."""
    names = {t.pg_name for t in ordered}
    done: set[str] = set()
    remaining = list(ordered)
    waves: list[list[Table]] = []
    while remaining:
        wave = [
            t
            for t in remaining
            if all(
                fk.ref_pg_table == t.pg_name
                or fk.ref_pg_table not in names
                or fk.ref_pg_table in done
                for fk in t.foreign_keys
            )
        ]
        if not wave:  # FK cycle: fall back to strict sequential order
            wave = [remaining[0]]
        waves.append(wave)
        done.update(t.pg_name for t in wave)
        in_wave = {t.pg_name for t in wave}
        remaining = [t for t in remaining if t.pg_name not in in_wave]
    return waves


def _parents_first(tables: list[Table]) -> list[Table]:
    """Topological-ish order: referenced tables before referencing ones
    (cycles broken by input order, matching the reference's deferred-FK
    posture — constraints only replay after all data lands)."""
    by_name = {t.pg_name: t for t in tables}
    visited: dict[str, int] = {}
    out: list[Table] = []

    def visit(t: Table) -> None:
        state = visited.get(t.pg_name, 0)
        if state:  # 1 = in progress (cycle) or 2 = done
            return
        visited[t.pg_name] = 1
        for fk in t.foreign_keys:
            ref = by_name.get(fk.ref_pg_table)
            if ref is not None and ref.pg_name != t.pg_name:
                visit(ref)
        visited[t.pg_name] = 2
        out.append(t)

    for t in tables:
        visit(t)
    return out
