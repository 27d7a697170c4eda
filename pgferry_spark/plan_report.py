"""Dry-run plan report + advisory passes.

Parity with the reference's ``plan`` command and pre-flight advisories
(reference plan.go:41-406, index_compat.go, collation_compat.go,
extensions.go:20-140, type_compat.go:8-22): without touching the target,
report required extensions, source objects needing manual migration,
unsupported columns (probed through the type mapper), generated columns,
skipped indexes, and collation warnings; render as text or JSON.
"""

from __future__ import annotations

import json
from dataclasses import asdict, dataclass, field

from .catalog.model import Schema, SourceObjects
from .ddl import index_skip_reason
from .extensions import collect_extension_requirements
from .types.config import TypeMappingConfig


@dataclass
class PlanReport:
    required_extensions: list[str] = field(default_factory=list)
    views: list[str] = field(default_factory=list)
    routines: list[str] = field(default_factory=list)
    triggers: list[str] = field(default_factory=list)
    unsupported_columns: list[dict] = field(default_factory=list)  # table/column/type/error
    generated_columns: list[dict] = field(default_factory=list)
    skipped_indexes: list[dict] = field(default_factory=list)
    collation_warnings: list[dict] = field(default_factory=list)
    # physical-plan advisor output (plans/advisor.py RunAdvice.report_dict):
    # applied session confs, broadcast-sized FK parents, per-edge join advice
    advice: dict = field(default_factory=dict)

    def to_json(self) -> str:
        return json.dumps(asdict(self), indent=2, sort_keys=True)

    def to_text(self) -> str:
        lines = ["Migration plan report", "====================="]

        def section(title: str, items: list):
            lines.append("")
            lines.append(f"{title}:")
            if not items:
                lines.append("  (none)")
            for it in items:
                lines.append(f"  - {it}" if isinstance(it, str) else f"  - {json.dumps(it, sort_keys=True)}")

        section("Required extensions", self.required_extensions)
        section("Views (manual migration required)", self.views)
        section("Routines (manual migration required)", self.routines)
        section("Triggers (manual migration required)", self.triggers)
        section("Unsupported columns", self.unsupported_columns)
        section("Generated columns (values copied, expression dropped)", self.generated_columns)
        section("Skipped indexes", self.skipped_indexes)
        section("Collation warnings", self.collation_warnings)
        if self.advice:
            lines.append("")
            lines.append("Physical-plan advice (measured):")
            lines.append(
                f"  - shuffle partitions: {self.advice.get('shuffle_partitions')}"
                f" ({self.advice.get('partition_reason', '')})"
            )
            for k, v in sorted(self.advice.get("conf", {}).items()):
                lines.append(f"  - conf {k} = {v}")
            bp = self.advice.get("broadcast_parents") or []
            lines.append(f"  - broadcast FK parents: {', '.join(bp) if bp else '(none)'}")
            for edge, j in sorted(self.advice.get("joins", {}).items()):
                lines.append(f"  - join {edge}: {j['strategy']} ({j['reason']})")
        return "\n".join(lines)


def collation_warnings(schema: Schema, cfg: TypeMappingConfig) -> list[dict]:
    """Case-insensitive source collations silently become case-sensitive in
    PostgreSQL unless citext is enabled (reference collation_compat.go:28-42)."""
    if cfg.ci_as_citext:
        return []
    out = []
    for t in schema.tables:
        for c in t.columns:
            if c.collation.lower().endswith("_ci"):
                out.append(
                    {
                        "table": t.pg_name,
                        "column": c.pg_name,
                        "collation": c.collation,
                        "note": "case-insensitive collation becomes case-sensitive",
                    }
                )
    return out


HOOK_SKELETON = """-- pgferry_spark {phase} hook
-- Statements here run {when}.
-- {{{{schema}}}} expands to the target schema name.

-- Example:
-- DELETE FROM {{{{schema}}}}.some_table WHERE some_condition;
"""

_HOOK_WHEN = {
    "before_data": "after table creation, before any data is copied",
    "after_data": "after all data is copied, before validation",
    "before_fk": "after validation, before foreign keys are added",
    "after_all": "after all constraints and sequences are in place",
}


def write_hook_skeletons(directory: str) -> list[str]:
    """Generate commented hook-file skeletons for all four phases
    (reference plan.go:362-406); returns the paths written. Existing files
    are left untouched."""
    import os

    os.makedirs(directory, exist_ok=True)
    written = []
    for phase, when in _HOOK_WHEN.items():
        path = os.path.join(directory, f"{phase}.sql")
        if os.path.exists(path):
            continue
        with open(path, "w", encoding="utf-8") as f:
            f.write(HOOK_SKELETON.format(phase=phase, when=when))
        written.append(path)
    return written


def build_plan_report(
    schema: Schema,
    objects: SourceObjects,
    cfg: TypeMappingConfig,
    type_mapper,
) -> PlanReport:
    report = PlanReport(
        required_extensions=[
            r.name for r in collect_extension_requirements(schema, cfg)
        ],
        views=list(objects.views),
        routines=list(objects.routines),
        triggers=list(objects.triggers),
        collation_warnings=collation_warnings(schema, cfg),
    )
    for t in schema.tables:
        for c in t.columns:
            try:
                type_mapper(c, cfg)
            except Exception as e:  # unsupported types are a report, not a crash
                report.unsupported_columns.append(
                    {"table": t.pg_name, "column": c.pg_name,
                     "type": c.column_type or c.data_type, "error": str(e)}
                )
            if c.is_generated:
                report.generated_columns.append(
                    {"table": t.pg_name, "column": c.pg_name,
                     "expression": c.generation_expression}
                )
        for idx in t.indexes:
            if idx.is_primary:
                continue
            reason = index_skip_reason(idx, cfg.use_postgis)
            if reason:
                report.skipped_indexes.append(
                    {"table": t.pg_name, "index": idx.name, "reason": reason}
                )
    return report
