"""O3 single_tx snapshot mode: every table reads sequentially through ONE
DB-API connection in one transaction (reference migrate.go:149-259), and
driver-side sources stream in bounded batches (no full-table driver list)."""

import os
import sqlite3
from dataclasses import replace

import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from pgferry_spark.backends import SingleTxSource, SpoolTarget, SqliteSource, spool_batches
from pgferry_spark.catalog.model import Column, Index, Schema, Table
from pgferry_spark.config import MigrationConfig
from pgferry_spark.pipeline import MigrationPipeline


def _table(name, pk, cols):
    columns = [
        Column(source_name=c, pg_name=c, data_type=t, column_type=t,
               nullable=(c != pk), ordinal_pos=i + 1)
        for i, (c, t) in enumerate(cols)
    ]
    key = Index(name=f"{name}_pkey", source_name=f"{name}_pkey", columns=[pk],
                column_orders=["ASC"], unique=True, is_primary=True)
    return Table(source_name=name, pg_name=name, columns=columns, primary_key=key)


@pytest.fixture()
def two_table_db(tmp_path):
    path = str(tmp_path / "stx.db")
    con = sqlite3.connect(path)
    con.execute("CREATE TABLE a (id INTEGER PRIMARY KEY, v TEXT)")
    con.execute("CREATE TABLE b (id INTEGER PRIMARY KEY, w TEXT)")
    con.executemany("INSERT INTO a VALUES (?,?)", [(i, f"a{i}") for i in range(1, 201)])
    con.executemany("INSERT INTO b VALUES (?,?)", [(i, f"b{i}") for i in range(1, 101)])
    con.commit()
    con.close()
    return path


def test_single_tx_one_connection_sequential(spark, two_table_db, tmp_path):
    """A multi-table single_tx run opens exactly ONE connection, begins the
    snapshot once, and lands count-exact through the sequential path."""
    opened = []

    def connect():
        # check_same_thread off: the validation runner touches the source
        # from its worker thread (real DB-API drivers permit this)
        con = sqlite3.connect(two_table_db, check_same_thread=False)
        opened.append(con)
        return con

    schema = Schema(tables=[
        _table("a", "id", [("id", "bigint"), ("v", "text")]),
        _table("b", "id", [("id", "bigint"), ("w", "text")]),
    ])
    read_schemas = {
        "a": StructType([StructField("id", LongType()), StructField("v", StringType())]),
        "b": StructType([StructField("id", LongType()), StructField("w", StringType())]),
    }
    src = SingleTxSource(
        connect=connect, schema=schema, read_schemas=read_schemas,
        begin_sql=("BEGIN",), kind="mysql", fetch_batch=64,
    )
    cfg = MigrationConfig(
        source_type="mysql", source_dsn="mysql://fake", target_dsn="spool://x",
        target_schema="app", source_snapshot_mode="single_tx", workers=1,
        chunk_size=50,
    )
    target = SpoolTarget(spark, str(tmp_path / "stx_out"))
    result = MigrationPipeline(
        spark, cfg, src, target,
        # bigint/text are already pg types in this fake catalog
        lambda col, c: (col.data_type, LongType() if col.data_type == "bigint" else StringType()),
        lambda col, pg, c: None,
    ).run()
    assert result.ok
    assert len(opened) == 1          # ONE connection for the whole run
    assert src._con is None          # transaction ended at pipeline exit
    assert {r.table: r.rows_written for r in result.tables} == {"a": 200, "b": 100}
    out = spark.read.parquet(str(tmp_path / "stx_out" / "a"))
    assert out.count() == 200


def test_single_tx_config_forbids_parallel_workers():
    from pgferry_spark.config import ConfigError, validate_config

    cfg = MigrationConfig(
        source_type="mysql", source_dsn="m", target_dsn="t",
        target_schema="s", source_snapshot_mode="single_tx", workers=4,
    )
    with pytest.raises(ConfigError, match="single_tx"):
        validate_config(cfg)


def test_sqlite_read_streams_in_batches(spark, two_table_db, tmp_path):
    """fetch_batch bounds driver memory: a 200-row table at fetch_batch=50
    spools >=4 parquet parts, counts exact, content equal to a direct read."""
    src = SqliteSource(two_table_db, fetch_batch=50)
    schema = src.introspect()
    tbl = next(t for t in schema.tables if t.pg_name == "a")
    df = src.read_table(spark, tbl, None)
    # the scan reads a multi-part spool, not a parallelized driver list
    files = df.inputFiles()
    assert len(files) >= 4
    assert df.count() == 200
    got = sorted((r["id"], r["v"]) for r in df.collect())
    assert got[0] == (1, "a1") and got[-1] == (200, "a200")


def test_spool_batches_empty(spark):
    schema = StructType([StructField("id", LongType())])
    df = spool_batches(spark, schema, iter([]))
    assert df.count() == 0 and df.columns == ["id"]


@pytest.mark.parametrize("kind", ["mysql", "mssql", "sqlite"])
def test_single_tx_quotes_reserved_names_and_reads_narrowed_tables(spark, tmp_path, kind):
    """Names are quoted for the source's dialect (SQLite accepts both the
    MySQL backticks and the MSSQL brackets), so a table ``group`` with a
    column ``order`` counts, probes and reads, all on one connection that
    ``close`` ends; a read of the table narrowed to one column gets just
    that column's read-schema field. ``sqlite`` is the SqliteSource, whose
    read schema comes from column affinity."""
    path = str(tmp_path / "reserved.db")
    con = sqlite3.connect(path)
    con.execute('CREATE TABLE "group" (id INTEGER PRIMARY KEY, "order" INTEGER, note TEXT)')
    con.executemany('INSERT INTO "group" VALUES (?,?,?)', [(i, 10 * i, f"n{i}") for i in range(1, 6)])
    con.commit()
    con.close()
    table = _table("group", "id", [("id", "bigint"), ("order", "bigint"), ("note", "text")])
    read_schema = StructType([
        StructField("id", LongType()), StructField("order", LongType()),
        StructField("note", StringType()),
    ])
    if kind == "sqlite":
        src = SqliteSource(path)
    else:
        src = SingleTxSource(
            connect=lambda: sqlite3.connect(path), schema=Schema(tables=[table]),
            read_schemas={"group": read_schema}, kind=kind,
        )
    try:
        assert src.count(table) == 5
        con = src._con
        assert src.min_max(table, "order") == (10, 50)
        df = src.read_table(spark, replace(table, columns=[table.column("order")]), None)
        assert df.columns == ["order"]
        assert sorted(r["order"] for r in df.collect()) == [10, 20, 30, 40, 50]
        full = src.read_table(spark, table, ["id <= 2"])
        assert full.columns == ["id", "order", "note"] and full.count() == 2
        assert con is not None and src._con is con
    finally:
        src.close()
    assert src._con is None
