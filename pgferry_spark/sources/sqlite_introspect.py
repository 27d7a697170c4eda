"""SQLite schema introspection.

Parity with the reference's SQLite source (reference source_sqlite.go:15-721):
``sqlite_master`` + table-valued pragmas (table_xinfo, index_list,
index_info, foreign_key_list), read-only open, ``:memory:`` rejection,
AUTOINCREMENT detection by scanning the stored CREATE TABLE SQL, and
declared-type normalization via affinity.

Introspection is a pure driver activity (catalog queries, not data), so the
stdlib ``sqlite3`` module is the natural client — data movement goes through
the partitioned read layer separately.
"""

from __future__ import annotations

import re
import sqlite3
from urllib.parse import quote

from ..catalog.identifiers import normalize_identifier, pg_ident
from ..catalog.model import Column, ForeignKey, Index, Schema, SourceObjects, Table


def open_readonly(path: str, **connect_kw) -> sqlite3.Connection:
    """Read-only open of the file at ``path``; ``:memory:`` rejected
    (reference source_sqlite.go:37-48). The path is percent-encoded into
    the URI, so a ``#`` or ``?`` in it names the file rather than starting
    a fragment or query (which would open, and create, another file)."""
    if path == ":memory:" or path.startswith("file::memory:"):
        raise ValueError("in-memory SQLite databases cannot be migrated")
    con = sqlite3.connect(f"file:{quote(path)}?mode=ro", uri=True, **connect_kw)
    con.row_factory = sqlite3.Row
    return con


def _table_names(con: sqlite3.Connection) -> list[str]:
    rows = con.execute(
        "SELECT name FROM sqlite_master WHERE type = 'table' "
        "AND name NOT LIKE 'sqlite_%' ORDER BY name"
    ).fetchall()
    return [r["name"] for r in rows]


_AUTOINC_RE = re.compile(r"\bAUTOINCREMENT\b", re.IGNORECASE)


def _has_autoincrement(con: sqlite3.Connection, table: str, column: str) -> bool:
    """Detect AUTOINCREMENT by scanning the stored DDL (the pragma surface
    doesn't expose it; reference source_sqlite.go:756-777)."""
    row = con.execute(
        "SELECT sql FROM sqlite_master WHERE type = 'table' AND name = ?", (table,)
    ).fetchone()
    if not row or not row["sql"]:
        return False
    sql = row["sql"]
    if not _AUTOINC_RE.search(sql):
        return False
    # AUTOINCREMENT applies to the INTEGER PRIMARY KEY column only
    pat = re.compile(
        r'["\[`]?' + re.escape(column) + r'["\]`]?\s+INTEGER\s+PRIMARY\s+KEY\s+AUTOINCREMENT',
        re.IGNORECASE,
    )
    return bool(pat.search(sql))


def introspect_table(con: sqlite3.Connection, name: str, snake_case: bool) -> Table:
    cols: list[Column] = []
    pk_cols: list[tuple[int, str]] = []
    for r in con.execute(f"PRAGMA table_xinfo({pg_ident(name)})"):
        if r["hidden"] == 1:  # hidden columns of virtual tables
            continue
        is_generated = r["hidden"] in (2, 3)  # VIRTUAL / STORED generated
        col = Column(
            source_name=r["name"],
            pg_name=normalize_identifier(r["name"], snake_case),
            data_type=(r["type"] or "").split("(")[0].strip().lower(),
            column_type=r["type"] or "",
            nullable=not r["notnull"],
            default=r["dflt_value"],
            extra="GENERATED" if is_generated else (
                "auto_increment" if r["pk"] and _has_autoincrement(con, name, r["name"]) else ""
            ),
            ordinal_pos=r["cid"],
        )
        cols.append(col)
        if r["pk"]:
            pk_cols.append((r["pk"], col.pg_name))

    primary_key = None
    if pk_cols:
        ordered = [c for _, c in sorted(pk_cols)]
        primary_key = Index("PRIMARY", "PRIMARY", ordered, is_primary=True, unique=True)

    indexes: list[Index] = []
    for ir in con.execute(f"PRAGMA index_list({pg_ident(name)})"):
        if ir["origin"] == "pk":
            continue
        idx_cols = []
        has_expr = False
        for ic in con.execute(f"PRAGMA index_info({pg_ident(ir['name'])})"):
            if ic["name"] is None:
                has_expr = True
            else:
                idx_cols.append(normalize_identifier(ic["name"], snake_case))
        indexes.append(
            Index(
                name=normalize_identifier(ir["name"], snake_case),
                source_name=ir["name"],
                columns=idx_cols,
                unique=bool(ir["unique"]),
                has_expression=has_expr or bool(ir["partial"]),
            )
        )

    fks: list[ForeignKey] = []
    by_id: dict[int, dict] = {}
    for fr in con.execute(f"PRAGMA foreign_key_list({pg_ident(name)})"):
        ent = by_id.setdefault(
            fr["id"],
            {"table": fr["table"], "from": [], "to": [],
             "on_update": fr["on_update"], "on_delete": fr["on_delete"]},
        )
        ent["from"].append(fr["from"])
        ent["to"].append(fr["to"])
    for fk_id, ent in sorted(by_id.items()):
        pg_ref = normalize_identifier(ent["table"], snake_case)
        fks.append(
            ForeignKey(
                name=f"{normalize_identifier(name, snake_case)}_fk_{fk_id}",
                columns=[normalize_identifier(c, snake_case) for c in ent["from"]],
                ref_table=ent["table"],
                ref_pg_table=pg_ref,
                ref_columns=[normalize_identifier(c, snake_case) for c in ent["to"]],
                update_rule=ent["on_update"] or "NO ACTION",
                delete_rule=ent["on_delete"] or "NO ACTION",
            )
        )

    return Table(
        source_name=name,
        pg_name=normalize_identifier(name, snake_case),
        columns=cols,
        primary_key=primary_key,
        indexes=indexes,
        foreign_keys=fks,
    )


def introspect_schema(path: str, snake_case: bool = True) -> Schema:
    con = open_readonly(path)
    try:
        return Schema(tables=[introspect_table(con, t, snake_case) for t in _table_names(con)])
    finally:
        con.close()


def introspect_source_objects(path: str) -> SourceObjects:
    """Views/triggers reported for manual migration (SQLite has no routines)."""
    con = open_readonly(path)
    try:
        views = [r["name"] for r in con.execute(
            "SELECT name FROM sqlite_master WHERE type='view' ORDER BY name")]
        triggers = [r["name"] for r in con.execute(
            "SELECT name FROM sqlite_master WHERE type='trigger' ORDER BY name")]
        return SourceObjects(views=views, routines=[], triggers=triggers)
    finally:
        con.close()
