"""Runtime PostgreSQL extension management (reference extensions.go:20-140).

:func:`collect_extension_requirements` decides which extensions a
migration needs; the static plan report lists their names, and this
module's RUNTIME step runs before any DDL/data movement: probe the target's
``pg_extension`` / ``pg_available_extensions`` catalogs and apply the
reference's decision table per requirement —

* already installed → no-op (logged);
* not available on the server → hard error naming the feature (the
  migration must fail BEFORE moving data, not on the first spatial row);
* available but ``create_if_missing`` is off → hard error with the
  config hint (reference: "or set [postgis].create_extension = true");
* available and creatable → ``CREATE EXTENSION IF NOT EXISTS``.

citext is always auto-created when required (reference extensions.go:27-30
preserves that pre-refactor behavior); postgis creation is gated by
``TypeMappingConfig.postgis_create_extension``.

Execution is injected as ``run_sql: Callable[[str], list[tuple]]`` so the
same code drives a psycopg connection, the psql-subprocess target of the
live integration test, or a fake in unit tests.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from .catalog.model import Schema
from .types.config import TypeMappingConfig
from .types.mysql import SPATIAL_TYPES


class ExtensionError(RuntimeError):
    """A required extension cannot be satisfied on the target server."""


@dataclass(frozen=True)
class ExtensionRequirement:
    name: str
    feature: str
    create_if_missing: bool = False
    create_hint: str = ""


def collect_extension_requirements(
    schema: Schema, cfg: TypeMappingConfig
) -> list[ExtensionRequirement]:
    """The reference's requirement collector (extensions.go:20-54): citext
    when ci_as_citext maps at least one CI text column, postgis when
    spatial_mode=postgis and a spatial column exists. Sorted by name."""
    reqs: list[ExtensionRequirement] = []
    if cfg.ci_as_citext and any(
        c.collation.lower().endswith("_ci")
        and c.data_type.lower() in ("char", "varchar")
        for t in schema.tables
        for c in t.columns
    ):
        reqs.append(
            ExtensionRequirement(
                name="citext", feature="ci_as_citext", create_if_missing=True
            )
        )
    if cfg.use_postgis and any(
        c.data_type.lower() in SPATIAL_TYPES
        for t in schema.tables
        for c in t.columns
    ):
        reqs.append(
            ExtensionRequirement(
                name="postgis",
                feature="postgis",
                create_if_missing=cfg.postgis_create_extension,
                create_hint="or set type_mapping.postgis_create_extension = true",
            )
        )
    return sorted(reqs, key=lambda r: r.name)


def extension_status(
    run_sql: Callable[[str], list[tuple]], name: str
) -> tuple[bool, bool]:
    """(installed, available) from the target's own catalogs — the same
    two EXISTS probes as extensions.go:131-139. ``name`` is interpolated
    as a quoted literal (names come from our own requirement collector,
    but quote defensively anyway)."""
    lit = "'" + name.replace("'", "''") + "'"
    rows = run_sql(
        f"SELECT EXISTS(SELECT 1 FROM pg_extension WHERE extname = {lit}),"
        f" EXISTS(SELECT 1 FROM pg_available_extensions WHERE name = {lit})"
    )
    installed, available = rows[0][0], rows[0][1]

    def as_bool(v) -> bool:
        if isinstance(v, bool):
            return v
        return str(v).strip().lower() in ("t", "true", "1")

    return as_bool(installed), as_bool(available)


def ensure_required_extensions(
    run_sql: Callable[[str], list[tuple]],
    reqs: list[ExtensionRequirement],
) -> list[str]:
    """Apply the decision table; returns the action log (one line per
    requirement) and raises :class:`ExtensionError` on the first
    unsatisfiable requirement — before any data has moved."""
    actions: list[str] = []
    for req in reqs:
        installed, available = extension_status(run_sql, req.name)
        if installed:
            actions.append(f"{req.name}: already installed ({req.feature})")
            continue
        if not available:
            raise ExtensionError(
                f"{req.feature} feature requires PostgreSQL extension "
                f"{req.name!r}, but it is not available on the target server"
            )
        if not req.create_if_missing:
            msg = (
                f"{req.feature} feature requires PostgreSQL extension "
                f"{req.name!r} to be installed before running the migration;"
                f" install it first"
            )
            if req.create_hint:
                msg += " " + req.create_hint
            raise ExtensionError(msg)
        quoted = '"' + req.name.replace('"', '""') + '"'
        run_sql(f"CREATE EXTENSION IF NOT EXISTS {quoted}")
        actions.append(f"{req.name}: created ({req.feature})")
    return actions
