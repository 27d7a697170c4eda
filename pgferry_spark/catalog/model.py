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


def delete_order(schema: "Schema") -> tuple[list[str], list[str]]:
    """Topological deletion order over the schema's FK graph: children
    before the parents they reference, so a cascade (GDPR erasure, tenant
    teardown, test-fixture reset) never violates a constraint mid-way.
    Returns ``(order, cycle_tables)`` — tables in safe deletion order,
    plus the tables involved in FK cycles (the reference's Sakila fixture
    has circular staff<->store FKs; cycles need SET NULL on one edge or a
    deferred constraint, so they are REPORTED, not silently ordered).
    Self-referential FKs (employee.manager_id) are not cycles for
    deletion purposes — deleting the whole table at once is safe — and
    are ignored.  Kahn's algorithm with a deterministic (name-sorted)
    tie-break; pure driver-side planning, O(tables + FKs)."""
    names = [t.pg_name for t in schema.tables]
    known = set(names)
    # edge parent -> child: child must be deleted before parent
    children: dict[str, set[str]] = {n: set() for n in names}
    blockers: dict[str, int] = {n: 0 for n in names}  # unreached children
    for t in schema.tables:
        for fk in t.foreign_keys:
            parent = fk.ref_pg_table or fk.ref_table
            if parent == t.pg_name or parent not in known:
                continue
            if t.pg_name not in children[parent]:
                children[parent].add(t.pg_name)
                blockers[t.pg_name] += 0  # child has no extra blocker
    # a parent is deletable only after all its children are deleted:
    # in-degree of parent = number of distinct children
    indeg = {n: 0 for n in names}
    for parent, childs in children.items():
        indeg[parent] = len(childs)
    ready = sorted([n for n in names if indeg[n] == 0])
    order: list[str] = []
    # reverse index: child -> parents it blocks
    parents_of: dict[str, list[str]] = {n: [] for n in names}
    for parent, childs in children.items():
        for c in childs:
            parents_of[c].append(parent)
    while ready:
        n = ready.pop(0)
        order.append(n)
        newly = []
        for p in parents_of[n]:
            indeg[p] -= 1
            if indeg[p] == 0:
                newly.append(p)
        ready = sorted(ready + newly)
    cyclic = sorted(set(names) - set(order))
    return order, cyclic
