"""Relational catalog model.

The reference's five catalog structs (reference model.go:1-58) re-expressed as
Python dataclasses.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class Column:
    """One source column with everything needed to map and transform it."""

    source_name: str
    pg_name: str
    data_type: str  # base type, e.g. "int"
    column_type: str = ""  # full declaration, e.g. "tinyint(1)", "enum('a','b')"
    char_max_len: int | None = None
    precision: int | None = None
    scale: int | None = None
    nullable: bool = True
    default: str | None = None
    extra: str = ""  # "auto_increment" / "on update CURRENT_TIMESTAMP" / "GENERATED"/"COMPUTED"
    generation_expression: str = ""
    ordinal_pos: int = 0
    charset: str = ""
    collation: str = ""

    @property
    def is_auto_increment(self) -> bool:
        return "auto_increment" in self.extra.lower() or "identity" in self.extra.lower()

    @property
    def is_generated(self) -> bool:
        up = self.extra.upper()
        return "GENERATED" in up or "COMPUTED" in up


@dataclass
class Index:
    name: str
    source_name: str
    columns: list[str] = field(default_factory=list)
    column_orders: list[str] = field(default_factory=list)  # "ASC"/"DESC" per column
    unique: bool = False
    is_primary: bool = False
    type: str = "BTREE"  # BTREE / FULLTEXT / SPATIAL / HASH
    has_prefix: bool = False
    has_expression: bool = False


@dataclass
class ForeignKey:
    name: str
    columns: list[str]
    ref_table: str
    ref_pg_table: str
    ref_columns: list[str]
    update_rule: str = "NO ACTION"
    delete_rule: str = "NO ACTION"


@dataclass
class Table:
    source_name: str
    pg_name: str
    columns: list[Column] = field(default_factory=list)
    primary_key: Index | None = None
    indexes: list[Index] = field(default_factory=list)
    foreign_keys: list[ForeignKey] = field(default_factory=list)

    def column(self, pg_name: str) -> Column:
        for c in self.columns:
            if c.pg_name == pg_name:
                return c
        raise KeyError(pg_name)


@dataclass
class Schema:
    tables: list[Table] = field(default_factory=list)

    def table(self, pg_name: str) -> Table:
        for t in self.tables:
            if t.pg_name == pg_name:
                return t
        raise KeyError(pg_name)


@dataclass
class SourceObjects:
    """Non-table objects reported for manual migration (reference source_objects.go:6-10)."""

    views: list[str] = field(default_factory=list)
    routines: list[str] = field(default_factory=list)
    triggers: list[str] = field(default_factory=list)
