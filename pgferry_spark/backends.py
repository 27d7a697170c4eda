"""Concrete source/target backends for the migration pipeline.

* ``SingleTxSource`` — the driver-side cursor source: every table reads
  sequentially through ONE DB-API connection, streamed ``fetch_batch``
  rows at a time into a parquet spool that Spark scans distributed. Given
  a ``begin_sql``, it is the `single_tx` consistent-snapshot path
  (reference migrate.go:149-259).
* ``SqliteSource`` — the cursor source over one read-only stdlib
  connection (the reference's SQLite cap, source_sqlite.go:173), plus real
  introspection through the pragma surface (reference source_sqlite.go).
* ``ParquetSource`` — parquet-lake source; fully distributed scans.
* ``SpoolTarget`` — test/diagnostic target: DDL statements are recorded in
  order (inspectable, like a dry-run transcript), data lands as parquet per
  table. Swap for the COPY target (``sources.sink.PsqlTarget``) against
  PostgreSQL; the pipeline only sees the 5-method ``TargetBackend``
  protocol.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .catalog.identifiers import mysql_ident, source_ident
from .catalog.model import Schema, SourceObjects, Table
from .catalog.parsers import sqlite_normalize_affinity
from .sources import sqlite_introspect as sq


_AFFINITY_SPARK = {
    "INTEGER": LongType(),
    "TEXT": StringType(),
    "REAL": DoubleType(),
    "NUMERIC": DoubleType(),
    "BLOB": BinaryType(),
}


def spool_batches(
    spark: SparkSession, schema: StructType, batches, spools: list[str] | None = None,
) -> DataFrame:
    """Stream driver-fetched row batches into a local parquet spool and
    return a distributed scan of it. The spool directory is appended to
    ``spools``; the caller removes it once the scan is no longer needed
    (``remove_spools``).

    This is the bounded-memory shape for driver-side sources (SQLite,
    single_tx): only ONE batch of rows is ever held in driver memory — each
    batch lands as a parquet part file via pyarrow (no Spark job per batch)
    and the returned DataFrame is a real distributed, column-prunable scan.
    The reference's equivalent is its row-at-a-time O(1)-memory COPY stream
    (migrate.go:413-482); a driver-side ``collect``-everything list was the
    round-1 OOM hazard this replaces."""
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_type

    spool = tempfile.mkdtemp(prefix="pgferry_spool_")
    if spools is not None:
        spools.append(spool)
    arrow_fields = [
        pa.field(f.name, to_arrow_type(f.dataType), nullable=True)
        for f in schema.fields
    ]
    arrow_schema = pa.schema(arrow_fields)
    n = 0
    for rows in batches:
        if not rows:
            continue
        cols = list(zip(*rows))
        arrays = [
            pa.array(list(col), type=fld.type)
            for col, fld in zip(cols, arrow_fields)
        ]
        pq.write_table(
            pa.Table.from_arrays(arrays, schema=arrow_schema),
            os.path.join(spool, f"part-{n:05d}.parquet"),
        )
        n += 1
    if n == 0:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(spool)


def remove_spools(spools: list[str]) -> None:
    """Delete the spool directories ``spool_batches`` recorded."""
    import shutil

    while spools:
        shutil.rmtree(spools.pop(), ignore_errors=True)


@dataclass
class SingleTxSource:
    """The driver-side cursor source: every table reads sequentially
    through ONE DB-API connection, opened on first use and closed by
    ``close``. Each ``read_table`` streams ``fetch_batch``-row cursor
    fetches into a parquet spool (bounded driver memory, distributed
    downstream scan); counts and MIN/MAX probes run on the same connection.

    With a ``begin_sql`` it is O3, the consistent-snapshot source (reference
    migrate.go:149-259, `single_tx` mode). A distributed JDBC read opens
    independent connections per partition and cannot share a transaction —
    the one reference semantic Spark cannot distribute (SURVEY §7 hard-part
    1). ``connect`` opens the single connection and ``begin_sql`` starts the
    snapshot (e.g. MySQL ``START TRANSACTION WITH CONSISTENT SNAPSHOT`` after
    ``SET TRANSACTION ISOLATION LEVEL REPEATABLE READ``; MSSQL ``SET
    TRANSACTION ISOLATION LEVEL SNAPSHOT`` + ``BEGIN TRAN``). The pipeline's
    config matrix already forces ``workers <= 1`` in this mode, so reads are
    strictly sequential — the same throughput shape as the reference.
    """

    connect: object  # Callable[[], DB-API connection]
    schema: Schema
    read_schemas: dict  # pg_name -> StructType
    begin_sql: tuple = ()
    objects: SourceObjects = field(default_factory=SourceObjects)
    kind: str = "mysql"
    fetch_batch: int = 10_000
    _con: object = field(default=None, repr=False)
    _spools: list = field(default_factory=list, init=False, repr=False)

    def _connection(self):
        if self._con is None:
            self._con = self.connect()
            cur = self._con.cursor()
            for stmt in self.begin_sql:
                cur.execute(stmt)
        return self._con

    def _fetchone(self, sql: str):
        cur = self._connection().cursor()
        cur.execute(sql)
        return cur.fetchone()

    def close(self) -> None:
        """End the snapshot transaction, close the connection and remove the
        reads' spools."""
        remove_spools(self._spools)
        if self._con is not None:
            try:
                self._con.rollback()  # read-only tx: end the snapshot
            finally:
                self._con.close()
                self._con = None

    def introspect(self) -> Schema:
        return self.schema

    def source_objects(self) -> SourceObjects:
        return self.objects

    def read_schema(self, table: Table) -> StructType:
        """Spark read schema of ``table``'s columns (``table`` may be
        narrowed to some columns: only their fields are read)."""
        full = self.read_schemas[table.pg_name]
        return StructType([full[c.pg_name] for c in table.columns])

    def read_table(
        self, spark: SparkSession, table: Table, predicates: list[str] | None
    ) -> DataFrame:
        cols = ", ".join(source_ident(self.kind, c.source_name) for c in table.columns)
        sql = f"SELECT {cols} FROM {source_ident(self.kind, table.source_name)}"
        con = self._connection()

        def batches():
            for p in predicates or [None]:  # sequential chunks, one connection
                cur = con.cursor()
                cur.execute(f"{sql} WHERE {p}" if p else sql)
                while rows := cur.fetchmany(self.fetch_batch):
                    yield rows

        return spool_batches(spark, self.read_schema(table), batches(), self._spools)

    def count(self, table: Table) -> int:
        return self._fetchone(
            f"SELECT COUNT(*) FROM {source_ident(self.kind, table.source_name)}"
        )[0]

    def min_max(self, table: Table, key_source_name: str):
        key = source_ident(self.kind, key_source_name)
        row = self._fetchone(
            f"SELECT MIN({key}), MAX({key}) FROM {source_ident(self.kind, table.source_name)}"
        )
        return row[0], row[1]


class SqliteSource(SingleTxSource):
    """SQLite as a cursor source: one read-only connection per run (the
    reference's SQLite worker cap of 1, source_sqlite.go:173) serves every
    read, count and probe. ``begin_sql`` is empty, so no snapshot is taken.
    Introspection opens its own connection, inside ``introspect``."""

    def __init__(self, path: str, snake_case: bool = True, fetch_batch: int = 10_000):
        super().__init__(
            connect=self._open, schema=None, read_schemas={}, kind="sqlite",
            fetch_batch=fetch_batch,
        )
        self.path, self.snake_case = path, snake_case

    def _open(self):
        # check_same_thread off: validation counts from its pool thread.
        # Use stays sequential, as a SQLite run has one worker.
        con = sq.open_readonly(self.path, check_same_thread=False)
        # plain tuples: the spool reads rows positionally, so building a
        # sqlite3.Row per row (introspection's factory) is wasted work
        con.row_factory = None
        return con

    def introspect(self) -> Schema:
        return sq.introspect_schema(self.path, self.snake_case)

    def source_objects(self) -> SourceObjects:
        return sq.introspect_source_objects(self.path)

    def read_schema(self, table: Table) -> StructType:
        """Spark read schema from declared-type affinity (SQLite's dynamic
        typing means the wire values follow affinity, not declarations)."""
        fields = []
        for c in table.columns:
            aff = sqlite_normalize_affinity(c.column_type or c.data_type)
            fields.append(StructField(c.pg_name, _AFFINITY_SPARK[aff], True))
        return StructType(fields)


@dataclass
class ParquetSource:
    """Parquet-directory source: migrate a parquet lake into a PostgreSQL-
    shaped target through the same pipeline the database sources use.

    Introspection derives the catalog from parquet footers (one driver-side
    schema read per table); ``pks`` marks numeric primary-key columns so the
    chunk planner produces range-partitioned reads (min/max probed with one
    aggregate per table). Reads are fully distributed parquet scans with the
    chunk predicates pushed to row-group pruning — at 100 TB this is the
    native path: no driver-side rows, no connection caps."""

    spark: SparkSession
    root: str
    tables: tuple = ()
    pks: dict = field(default_factory=dict)
    snake_case: bool = True
    kind: str = "parquet"
    _df_cache: dict = field(default_factory=dict, repr=False)

    def _path(self, table: str) -> str:
        return os.path.join(self.root, f"{table}.parquet")

    def _df(self, table: str) -> DataFrame:
        """Per-table DataFrame, memoized: every ``spark.read.parquet`` call
        runs a fresh file-listing/schema job, and one migration touches each
        table from several phases (introspect, chunk probe, read, validate) —
        the memo makes that one listing per table, not one per touch.
        r14: the memo is the SESSION-scoped read-only one, so repeated
        migrations of the same source dir (e.g. the bench's per-repeat
        pipeline) also share the listing — a source is read-only by
        contract, exactly the path read_parquet_memo covers.  If that
        contract is ever broken (the source dir's FILES refreshed
        in-process between two migrations), call
        ``sources.parquet.invalidate_parquet_memo(self.root)`` before
        the second run — the memoized plan pins the first read's file
        listing (ADVICE r14)."""
        cached = self._df_cache.get(table)
        if cached is None:
            from .sources.parquet import read_parquet_memo

            cached = read_parquet_memo(self.spark, self._path(table))
            self._df_cache[table] = cached
        return cached

    def introspect(self) -> Schema:
        from .catalog.identifiers import normalize_identifier
        from .catalog.model import Column, Index

        out = []
        for t in self.tables:
            df = self._df(t)
            cols = []
            for i, f in enumerate(df.schema.fields, start=1):
                cols.append(
                    Column(
                        source_name=f.name,
                        pg_name=normalize_identifier(f.name, self.snake_case),
                        data_type=f.dataType.simpleString(),
                        column_type=f.dataType.simpleString(),
                        nullable=f.nullable,
                        ordinal_pos=i,
                    )
                )
            pk = None
            pk_col = self.pks.get(t)
            if pk_col:
                pk = Index(
                    name=f"{t}_pkey", source_name=f"{t}_pkey",
                    columns=[normalize_identifier(pk_col, self.snake_case)],
                    column_orders=["ASC"], unique=True, is_primary=True,
                )
            out.append(
                Table(
                    source_name=t,
                    pg_name=normalize_identifier(t, self.snake_case),
                    columns=cols,
                    primary_key=pk,
                )
            )
        return Schema(tables=out)

    def source_objects(self) -> SourceObjects:
        return SourceObjects()

    def read_table(
        self, spark: SparkSession, table: Table, predicates: list[str] | None
    ) -> DataFrame:
        from pyspark.sql import functions as F

        df = self._df(table.source_name)
        if not predicates:
            # a small-file table arrives in fewer partitions than cores and
            # serializes the transform+write stage; fan_out repartitions
            # only when inputFiles < defaultParallelism (at 100 TB inputs
            # are many files and this is a metadata no-op). Measured at
            # sf0.1: lineitem full-table move 1.11 s -> 0.84 s bare, more
            # with transforms attached.
            from .utils import fan_out

            return fan_out(df, table.columns[0].source_name)
        from functools import reduce

        parts = [df.filter(F.expr(p)) for p in predicates]
        return reduce(DataFrame.unionByName, parts)

    def count(self, table: Table) -> int:
        """Exact row count from parquet footers — a driver-side metadata
        read, no Spark job (footers are what a cluster-side COUNT(*) with
        count-pushdown reads anyway; this skips the job-scheduling round
        trip). Falls back to a distributed count if footers are unreadable."""
        n = _parquet_footer_rows(self._path(table.source_name))
        return n if n is not None else self._df(table.source_name).count()

    def min_max(self, table: Table, key_source_name: str):
        """Chunk-planner MIN/MAX probe from row-group statistics when every
        row group carries them (the planner's analogue of the reference's
        one-row SELECT MIN,MAX — here it is pure footer metadata, the same
        stats parquet row-group pruning uses). Spark aggregate fallback."""
        mm = _parquet_footer_min_max(self._path(table.source_name), key_source_name)
        if mm is not None:
            return mm
        from pyspark.sql import functions as F

        row = self._df(table.source_name).agg(
            F.min(key_source_name), F.max(key_source_name)
        ).first()
        return row[0], row[1]


def _parquet_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    if os.path.isdir(path):
        return [
            os.path.join(path, f)
            for f in sorted(os.listdir(path))
            if f.endswith(".parquet")
        ]
    return []


def _parquet_footer_rows(path: str) -> int | None:
    """Sum of footer row counts across the file/directory; None if absent."""
    try:
        import pyarrow.parquet as pq

        files = _parquet_files(path)
        if not files:
            return None
        return sum(pq.read_metadata(f).num_rows for f in files)
    except Exception:
        return None


def _footer_spark_schema(path: str) -> StructType | None:
    """The Spark schema a Spark-written parquet file keeps in its footer
    (``org.apache.spark.sql.parquet.row.metadata``), read on the driver
    from the first part file; None when there is none. A scan given this
    schema skips the Spark job a schema-less ``spark.read.parquet`` runs
    to infer it."""
    import json

    import pyarrow.parquet as pq

    files = _parquet_files(path)
    if not files:
        return None
    raw = (pq.read_metadata(files[0]).metadata or {}).get(
        b"org.apache.spark.sql.parquet.row.metadata"
    )
    return None if raw is None else StructType.fromJson(json.loads(raw))


def _parquet_footer_min_max(path: str, column: str):
    """(min, max) of ``column`` from row-group statistics, or None when any
    row group lacks stats for it (then only a data scan is exact)."""
    try:
        import pyarrow.parquet as pq

        lo = hi = None
        for f in _parquet_files(path):
            md = pq.read_metadata(f)
            names = {c: i for i, c in enumerate(md.schema.names)}
            ci = names.get(column)
            if ci is None:
                return None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ci).statistics
                if st is None or not st.has_min_max:
                    return None
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
        return None if lo is None else (lo, hi)
    except Exception:
        return None


# a double-quoted PostgreSQL identifier (group 1) or a string literal
_PG_QUOTED = re.compile(r'"((?:[^"]|"")*)"|\'(?:[^\']|\'\')*\'')


@dataclass
class SpoolTarget:
    spark: SparkSession
    root: str
    ddl: list[str] = field(default_factory=list)

    # each table writes a disjoint directory, so concurrent per-table
    # ``write`` calls are safe — lets the pipeline move independent
    # tables in parallel (wave-parallel movement). Shared-connection SQL
    # sinks must leave this False.
    concurrent_write_safe = True

    def execute(self, sql: str) -> None:
        self.ddl.append(sql)

    def _path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _scan(self, path: str) -> DataFrame:
        """Scan of ``path`` with its footer's Spark schema: no job runs to
        infer one."""
        schema = _footer_spark_schema(path)
        return (self.spark.read if schema is None else self.spark.read.schema(schema)).parquet(path)

    def read(self, table: str, schema: StructType) -> DataFrame:
        """The rows ``table`` holds of ``schema``'s columns, with the types
        they were written with: a lazy scan of its files that runs no job
        until used."""
        from pyspark.sql import functions as F

        return self._scan(self._path(table)).select(
            *[F.col(mysql_ident(f.name)) for f in schema.fields]
        )

    def write(self, df: DataFrame, table: str, append: bool = False) -> int:
        """Write and report rows from the files that actually landed
        (footer delta) — write-side accounting, like the reference's COPY
        rowcounts (reference migrate.go:319-349): the return value reflects
        the committed state, not a separate count job over the input plan."""
        path = self._path(table)
        pre = (_parquet_footer_rows(path) or 0) if append else 0
        df.write.mode("append" if append else "overwrite").parquet(path)
        post = _parquet_footer_rows(path)
        if post is not None:
            return post - pre
        return self._scan(path).count() - pre

    def count(self, table: str) -> int:
        n = _parquet_footer_rows(self._path(table))
        return n if n is not None else self._scan(self._path(table)).count()

    def delete_where(self, table: str, predicate: str) -> None:
        """Idempotent-resume support: drop rows matching the PostgreSQL
        predicate — the parquet-spool twin of a SQL target's ``DELETE FROM
        .. WHERE`` (rewrite-on-delete, like any immutable-file table
        format): one job, as the scan takes its schema from the footer.
        Spark SQL reads ``"x"`` as a string literal, so each double-quoted
        identifier is re-quoted with backticks first."""
        import shutil

        from pyspark.sql import functions as F

        path = self._path(table)
        if not os.path.exists(path):
            return
        spark_sql = _PG_QUOTED.sub(
            lambda m: m[0] if m[1] is None else mysql_ident(m[1].replace('""', '"')),
            predicate,
        )
        tmp = path + "__delete_tmp"
        self._scan(path).filter(~F.expr(spark_sql)).write.mode(
            "overwrite"
        ).parquet(tmp)
        shutil.rmtree(path)
        os.replace(tmp, path)
        self.ddl.append(f"DELETE FROM {table} WHERE {predicate}")
