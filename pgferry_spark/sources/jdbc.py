"""JDBC source builders — the read side of the migration pipeline.

Maps the reference's read path onto Spark JDBC:

* S1/S2 — ``read_table`` builds a partitioned read whose ``predicates`` list
  is exactly the chunk plan (reference chunk.go:73-94); one Spark partition
  per chunk reproduces the `workers`-semaphore parallelism (migrate.go:44-147)
  under Spark's scheduler.
* S4 — ``select_expressions`` rewrites server-side casts into the pushed-down
  query (reference migrate.go:492-531): MySQL spatial → ``ST_AsWKB``
  SRID-prefixed concat, MSSQL ``hierarchyid.ToString()``, sql_variant CAST.
* S6 — DSN/session normalization: UTC session time zone, utf8mb4.

The write side (K1) is the COPY-protocol sink in sink.py.

No database server exists in the test environment, so these builders are
exercised by unit tests over their generated options/SQL; the integration
path is the same code driven with a real URL.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..catalog.identifiers import source_ident
from ..catalog.model import Column, Table
from ..plans.chunk import ChunkPlan
from ..types.config import TypeMappingConfig


@dataclass
class JdbcSource:
    url: str
    driver: str = ""
    user: str = ""
    password: str = ""
    fetch_size: int = 10_000
    session_init: str = ""
    extra_options: dict[str, str] = field(default_factory=dict)

    def options(self) -> dict[str, str]:
        opts = {"url": self.url, "fetchsize": str(self.fetch_size)}
        if self.driver:
            opts["driver"] = self.driver
        if self.user:
            opts["user"] = self.user
        if self.password:
            opts["password"] = self.password
        if self.session_init:
            opts["sessionInitStatement"] = self.session_init
        opts.update(self.extra_options)
        return opts


def mysql_source(url: str, **kw) -> JdbcSource:
    """MySQL with the reference's session normalization (source_mysql.go:52-70):
    UTC session, utf8mb4 — parseTime/interpolateParams are Go-driver knobs
    with no JDBC equivalent needed."""
    return JdbcSource(
        url=url,
        driver="com.mysql.cj.jdbc.Driver",
        session_init="SET time_zone = '+00:00', NAMES utf8mb4",
        **kw,
    )


def select_expression(col: Column, source_kind: str, cfg: TypeMappingConfig) -> str:
    """Per-column server-side select expression (S4, migrate.go:492-531)."""
    base = col.data_type.lower()
    ident = source_ident(source_kind, col.source_name)
    if source_kind == "mysql":
        from ..types.mysql import SPATIAL_TYPES

        if base in SPATIAL_TYPES and cfg.spatial_mode == "text":
            return f"ST_AsText({ident}) AS {ident}"
        # postgis/bytea read SRID (4-byte LE) ‖ WKB raw — the same internal
        # layout the reference reads; the EWKB splice happens in the
        # transform layer (functions.transforms.mysql_spatial_to_ewkb)
        return ident
    if source_kind == "mssql":
        if base == "hierarchyid":
            return f"{ident}.ToString() AS {ident}"
        if base == "sql_variant":
            return f"CAST({ident} AS nvarchar(max)) AS {ident}"
        if base in ("geometry", "geography"):
            if cfg.spatial_mode == "text":
                return f"{ident}.STAsText() AS {ident}"
            return f"{ident}.STAsBinary() AS {ident}"
    return ident


def build_source_select(table: Table, source_kind: str, cfg: TypeMappingConfig) -> str:
    """S1 — explicit ordered column list, never ``*`` (migrate.go:484-490)."""
    exprs = ", ".join(select_expression(c, source_kind, cfg) for c in table.columns)
    return f"SELECT {exprs} FROM {source_ident(source_kind, table.source_name)}"


def read_table(
    spark: SparkSession,
    src: JdbcSource,
    table: Table,
    source_kind: str,
    cfg: TypeMappingConfig,
    plan: ChunkPlan | None = None,
) -> DataFrame:
    """Partitioned JDBC read: chunk predicates → one partition per chunk."""
    query = build_source_select(table, source_kind, cfg)
    preds = plan.predicates() if plan else None
    if preds:
        # Spark's predicates API requires a table; wrap the projection query.
        jdbc_opts = src.options()
        return spark.read.jdbc(
            url=jdbc_opts.pop("url"),
            table=f"({query}) AS t",
            predicates=preds,
            properties=jdbc_opts,
        )
    return spark.read.format("jdbc").options(**src.options()).option("query", query).load()

