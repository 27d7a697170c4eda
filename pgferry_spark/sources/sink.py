"""COPY-protocol PostgreSQL sink.

The reference streams rows through pgx ``CopyFrom`` (reference
migrate.go:319-349) — PostgreSQL's fastest ingest path. Spark's JDBC writer
uses batched INSERTs; for write parity/perf this sink drives the COPY
protocol from each executor through a Python data source writer
(``df.write.format(...).save()``), a DataFrame write that fulfils the
pipeline's row-count observations — an RDD action such as
``foreachPartition`` never does.

Each partition COPYs inside ONE transaction, so a partition (= chunk) either
lands fully or not at all — the property the checkpoint/resume layer needs
(SURVEY §7 hard-part 5). ``PsqlCopyDataSource`` / ``PsqlTarget`` COPY FROM
STDIN through the ``psql`` client subprocess: a REAL PostgreSQL COPY
execution (one psql invocation = one transaction per partition), used by the
integration tests against a throwaway local server. ``PsqlTarget.read``
streams ``COPY .. TO STDOUT`` back, parsed into typed columns, for the
pipeline's parent key sets. Without a server, the pipeline lands in
``backends.SpoolTarget``'s parquet spool instead.
"""

from __future__ import annotations

import itertools
import json
import re
import subprocess
from dataclasses import dataclass, field
from typing import Iterator

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import DataSource, DataSourceWriter, WriterCommitMessage
from pyspark.sql.types import BinaryType, StringType, StructField, StructType

from ..backends import remove_spools, spool_batches
from ..catalog.identifiers import mysql_ident, pg_ident


def pg_cell_text(v) -> str | None:
    """PostgreSQL input representation of one Python value (pre-COPY-escape):
    booleans → t/f, bytes → hex bytea, lists → array literal, datetimes via
    ISO str. Returns None for SQL NULL."""
    if v is None:
        return None
    if isinstance(v, bool):
        return "t" if v else "f"
    if isinstance(v, (bytes, bytearray)):
        return "\\x" + bytes(v).hex()
    if isinstance(v, list):
        parts = [
            '"' + str(e).replace("\\", "\\\\").replace('"', '\\"') + '"'
            for e in v
        ]
        return "{" + ",".join(parts) + "}"
    return str(v)


def _copy_escape(s: str) -> str:
    return (
        s.replace("\\", "\\\\")
        .replace("\t", "\\t")
        .replace("\n", "\\n")
        .replace("\r", "\\r")
    )


# rows ``PsqlTarget.read`` holds in driver memory at once
_READ_BATCH = 10_000

# the backslash escapes COPY ... TO writes in text format
_COPY_OUT_ESCAPES = {"b": "\b", "f": "\f", "n": "\n", "r": "\r", "t": "\t", "v": "\v"}
_COPY_OUT_ESCAPE = re.compile(r"\\(.)")


def _copy_text_cells(line: str) -> tuple:
    """One line of COPY text output as a tuple of str cells (None for
    ``\\N``)."""
    return tuple(
        None if cell == "\\N"
        else _COPY_OUT_ESCAPE.sub(lambda m: _COPY_OUT_ESCAPES.get(m[1], m[1]), cell)
        for cell in line.split("\t")
    )


def _from_copy_text(f: StructField) -> Column:
    """Column ``f`` of a spool of COPY text cells, parsed into
    ``f.dataType`` (a bytea cell is the hex ``PsqlTarget.read`` selects)."""
    c = F.col(mysql_ident(f.name))
    if isinstance(f.dataType, BinaryType):
        c = F.unhex(c)
    elif not isinstance(f.dataType, StringType):
        c = c.cast(f.dataType)
    return c.alias(f.name)


class _PsqlCopyWriter(DataSourceWriter):
    """COPYs each partition through the psql client: one subprocess = one
    transaction per partition — the same commit granularity as the
    psycopg wire path."""

    def __init__(self, psql_args: list[str], copy_sql: str):
        self.psql_args, self.copy_sql = psql_args, copy_sql

    def write(self, iterator: Iterator) -> WriterCommitMessage:
        rows = iter(iterator)
        try:
            first = next(rows)
        except StopIteration:
            return WriterCommitMessage()  # empty partition: no transaction at all
        proc = subprocess.Popen(
            self.psql_args + ["-c", self.copy_sql],
            stdin=subprocess.PIPE,
            stdout=subprocess.DEVNULL,
            stderr=subprocess.PIPE,
        )
        try:
            for row in itertools.chain([first], rows):
                cells = [pg_cell_text(v) for v in row]
                line = "\t".join(
                    "\\N" if c is None else _copy_escape(c) for c in cells
                )
                proc.stdin.write((line + "\n").encode("utf-8"))
            proc.stdin.close()
            err = proc.stderr.read().decode()
            if proc.wait() != 0:
                raise RuntimeError(f"psql COPY failed: {err[:500]}")
        finally:
            if proc.poll() is None:
                proc.kill()
        return WriterCommitMessage()


class PsqlCopyDataSource(DataSource):
    """Write-only Python data source: each task COPYs its partition with
    the options ``psql_args`` (a JSON list) and ``copy_sql``."""

    @classmethod
    def name(cls) -> str:
        return "pgferry_psql_copy"

    def writer(self, schema, overwrite: bool) -> DataSourceWriter:
        return _PsqlCopyWriter(json.loads(self.options["psql_args"]), self.options["copy_sql"])


@dataclass
class PsqlTarget:
    """Target backend executing against a REAL PostgreSQL server through the
    psql client (no Python driver needed): DDL via ``psql -c``, data via
    per-partition ``COPY FROM STDIN`` subprocesses run by
    ``PsqlCopyDataSource``'s writer tasks. Commit granularity and
    DDL transcript order are identical to the psycopg/pgx production path —
    this is the backend the integration tests run end to end."""

    host: str  # unix socket dir or hostname
    port: int
    db: str
    user: str
    schema: str
    _spools: list = field(default_factory=list, init=False, repr=False)

    def _psql(self) -> list[str]:
        args = ["psql", "-X", "-q", "-v", "ON_ERROR_STOP=1"]
        if self.host:  # empty -> libpq default (PGHOST / local socket)
            args += ["-h", self.host]
        return args + ["-p", str(self.port), "-U", self.user, "-d", self.db]

    def execute(self, sql: str) -> None:
        subprocess.run(
            self._psql() + ["-c", sql],
            check=True, capture_output=True,
        )

    def _scalar(self, sql: str) -> str:
        out = subprocess.run(
            self._psql() + ["-tA", "-c", sql],
            check=True, capture_output=True,
        )
        return out.stdout.decode().strip()

    def query(self, sql: str) -> list[tuple]:
        """Row-returning execution (tab-separated unaligned tuples) — the
        probe surface the runtime extension manager needs; booleans
        surface as 't'/'f' strings, which extensions.extension_status
        normalizes."""
        out = subprocess.run(
            self._psql() + ["-tA", "-F", "\t", "-c", sql],
            check=True, capture_output=True,
        )
        return [
            tuple(line.split("\t"))
            for line in out.stdout.decode().splitlines()
            if line
        ]

    def _qualified(self, table: str) -> str:
        return f'"{self.schema}"."{table}"'

    def write(self, df: DataFrame, table: str, append: bool = False) -> int:
        qualified = self._qualified(table)
        if not append:
            self.execute(f"TRUNCATE {qualified}")
        before = self.count(table)
        cols = ", ".join(f'"{c}"' for c in df.columns)
        df.sparkSession.dataSource.register(PsqlCopyDataSource)
        df.write.format(PsqlCopyDataSource.name()).mode("append").options(
            psql_args=json.dumps(self._psql()),
            copy_sql=f"COPY {qualified} ({cols}) FROM STDIN",
        ).save()
        return self.count(table) - before

    def count(self, table: str) -> int:
        return int(self._scalar(f"SELECT COUNT(*) FROM {self._qualified(table)}"))

    def delete_where(self, table: str, predicate: str) -> None:
        self.execute(f"DELETE FROM {self._qualified(table)} WHERE {predicate}")

    def read(self, table: str, schema: StructType) -> DataFrame:
        """The rows ``table`` holds of ``schema``'s columns, each typed as
        its field: ``COPY (SELECT ..) TO STDOUT`` streamed ``_READ_BATCH``
        lines at a time into a parquet spool of text cells
        (``backends.spool_batches``), so driver memory stays bounded, then
        parsed in the JVM. A bytea column is selected as hex
        (``encode``), whatever the server's ``bytea_output``, and
        unhexed; every other value is cast from its text. ``close``
        removes the spool."""
        cols = ", ".join(
            f"encode({pg_ident(f.name)}, 'hex')" if isinstance(f.dataType, BinaryType)
            else pg_ident(f.name)
            for f in schema.fields
        )
        copy_sql = f"COPY (SELECT {cols} FROM {self._qualified(table)}) TO STDOUT"
        proc = subprocess.Popen(
            self._psql() + ["-c", copy_sql],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        )

        def batches():
            try:
                lines = (line.decode("utf-8").rstrip("\n") for line in proc.stdout)
                while rows := [
                    _copy_text_cells(x) for x in itertools.islice(lines, _READ_BATCH)
                ]:
                    yield rows
                err = proc.stderr.read().decode()
                if proc.wait() != 0:
                    raise RuntimeError(f"psql COPY TO failed: {err[:500]}")
            finally:
                if proc.poll() is None:
                    proc.kill()

        text = StructType([StructField(f.name, StringType(), True) for f in schema.fields])
        df = spool_batches(SparkSession.active(), text, batches(), self._spools)
        return df.select(*[_from_copy_text(f) for f in schema.fields])

    def close(self) -> None:
        """Remove the spools ``read`` wrote."""
        remove_spools(self._spools)
