import os

from pgferry_spark.catalog.model import Column, Table
from pgferry_spark.plans.chunk import plan_table_chunks
from pgferry_spark.sources.jdbc import build_source_select, mysql_source, select_expression
from pgferry_spark.sources.parquet import chunked_parquet_read, read_parquet
from pgferry_spark.types import TypeMappingConfig

SF = "/root/testdata/sf0.001"


def test_chunked_read_equals_full_scan(spark):
    path = os.path.join(SF, "orders.parquet")
    full = read_parquet(spark, path)
    lo, hi = full.selectExpr("min(o_orderkey)", "max(o_orderkey)").first()
    plan = plan_table_chunks("orders", "o_orderkey", lo, hi, chunk_size=400)
    assert len(plan.chunks) > 1
    chunked = chunked_parquet_read(spark, path, plan, columns=["o_orderkey"])
    assert chunked.count() == full.count()
    assert chunked.select("o_orderkey").distinct().count() == full.count()


def test_filter_pushdown_reaches_scan(spark):
    path = os.path.join(SF, "orders.parquet")
    plan = plan_table_chunks("orders", "o_orderkey", 0, 10_000, chunk_size=5_000)
    df = chunked_parquet_read(spark, path, plan, columns=["o_orderkey", "o_custkey"])
    explained = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in explained
    assert "o_orderkey" in explained


def test_events_nanos_readable(spark):
    df = read_parquet(spark, os.path.join(SF, "events.parquet"))
    assert df.schema["ts"].dataType.simpleString() == "timestamp"
    assert df.count() > 0


def test_jdbc_select_expressions():
    cfg = TypeMappingConfig(spatial_mode="text")
    assert select_expression(Column("geo", "geo", "point"), "mysql", cfg) == "ST_AsText(`geo`) AS `geo`"
    assert (
        select_expression(Column("h", "h", "hierarchyid"), "mssql", cfg)
        == "[h].ToString() AS [h]"
    )
    assert (
        select_expression(Column("v", "v", "sql_variant"), "mssql", cfg)
        == "CAST([v] AS nvarchar(max)) AS [v]"
    )
    assert select_expression(Column("n", "n", "int"), "mysql", cfg) == "`n`"


def test_build_source_select_explicit_columns():
    t = Table("Users", "users", [Column("id", "id", "int"), Column("name", "name", "varchar")])
    sql = build_source_select(t, "mysql", TypeMappingConfig())
    assert sql == "SELECT `id`, `name` FROM `Users`"
    assert "*" not in sql


def test_mysql_source_session_normalization():
    src = mysql_source("jdbc:mysql://h/db")
    opts = src.options()
    assert "time_zone = '+00:00'" in opts["sessionInitStatement"]
    assert opts["url"] == "jdbc:mysql://h/db"

