"""Migration configuration: TOML loading + the validation matrix.

Parity with the reference's config layer (reference config.go:95-338):
unknown-key rejection, defaults, cross-field validation (modes, worker
bounds, SQLite single-connection cap), and the effective type-mapping
derivation. TOML keys match the reference so existing configs port 1:1.
"""

from __future__ import annotations

import os
import tomllib
from dataclasses import dataclass, field, fields as dc_fields

from .types.config import TypeMappingConfig

VALID_SOURCE_TYPES = {"mysql", "sqlite", "mssql", "parquet"}
VALID_MODES = {"full", "schema_only", "data_only"}
VALID_ON_SCHEMA_EXISTS = {"error", "recreate"}
VALID_VALIDATION = {"none", "row_count"}
VALID_SNAPSHOT_MODES = {"none", "single_tx"}
VALID_ENUM_MODES = {"check", "text", "native"}
VALID_SET_MODES = {"text", "text_array", "text_array_check"}
VALID_JSON_MODES = {"json", "jsonb"}
VALID_TIME_MODES = {"time", "text", "interval"}
VALID_BIT_MODES = {"bytea", "bit", "varbit"}
VALID_SPATIAL_MODES = {"error", "postgis", "bytea", "text"}
VALID_ZERO_DATE_MODES = {"null", "error"}


class ConfigError(ValueError):
    pass


@dataclass
class MigrationConfig:
    # connections
    source_type: str = ""
    source_dsn: str = ""
    target_dsn: str = ""
    target_schema: str = "public"
    # modes
    mode: str = "full"
    on_schema_exists: str = "error"
    validation: str = "row_count"
    source_snapshot_mode: str = "none"
    snake_case_identifiers: bool = True
    unlogged_tables: bool = True
    resume: bool = False
    checkpoint_path: str = ""  # default: <config dir>/.pgferry_spark_checkpoint.json
    # parallelism & chunking
    workers: int = 0  # 0 -> min(cpu, 8); SQLite capped at 1
    # accepted for config parity with the reference and ignored: the
    # post-migrate DDL replays sequentially
    index_workers: int = 0
    chunk_size: int = 100_000
    # physical-plan advisor (plans/advisor.py): size the shuffle confs and
    # broadcast the small FK parents from measured source stats before the
    # movement phase. Skew is measured (one column-scan per big child FK)
    # only for tables at least this many rows — small tables cannot
    # produce a straggler reducer worth a diagnostic job.
    advise: bool = True
    advisor_skew_min_rows: int = 1_000_000
    # 0 -> the advisor's defaults (Spark's 10 MiB broadcast threshold,
    # 128 MiB shuffle partitions); overridable for tests and odd clusters
    advisor_broadcast_threshold: int = 0
    advisor_target_partition_bytes: int = 0
    # table selection
    include_tables: list[str] = field(default_factory=list)
    exclude_tables: list[str] = field(default_factory=list)
    # hooks: phase -> list of SQL file paths
    hooks: dict[str, list[str]] = field(default_factory=dict)
    # type mapping (nested table in TOML)
    type_mapping: TypeMappingConfig = field(default_factory=TypeMappingConfig)

    def effective_workers(self) -> int:
        if self.source_type == "sqlite":
            return 1  # single read connection (reference source_sqlite.go:173)
        if self.workers > 0:
            return self.workers
        return min(os.cpu_count() or 1, 8)


_HOOK_PHASES = {"before_data", "after_data", "before_fk", "after_all"}


def _check_known_keys(raw: dict, allowed: set[str], context: str) -> None:
    unknown = set(raw) - allowed
    if unknown:
        raise ConfigError(f"unknown key(s) in {context}: {sorted(unknown)}")


def load_config(path: str) -> MigrationConfig:
    with open(path, "rb") as f:
        raw = tomllib.load(f)
    return config_from_dict(raw, base_dir=os.path.dirname(os.path.abspath(path)))


def config_from_dict(raw: dict, base_dir: str = ".") -> MigrationConfig:
    top_allowed = {f.name for f in dc_fields(MigrationConfig)}
    _check_known_keys(raw, top_allowed, "config")

    tm_raw = raw.pop("type_mapping", {})
    tm_allowed = {f.name for f in dc_fields(TypeMappingConfig)}
    _check_known_keys(tm_raw, tm_allowed, "type_mapping")
    tm = TypeMappingConfig(**tm_raw)

    hooks_raw = raw.pop("hooks", {})
    _check_known_keys(hooks_raw, _HOOK_PHASES, "hooks")
    hooks = {
        phase: [p if os.path.isabs(p) else os.path.join(base_dir, p) for p in paths]
        for phase, paths in hooks_raw.items()
    }

    cfg = MigrationConfig(**raw, type_mapping=tm, hooks=hooks)
    validate_config(cfg)
    return cfg


def validate_config(cfg: MigrationConfig) -> None:
    """The cross-field validation matrix (reference config.go:137-319)."""

    def must_be(value, valid: set, name: str):
        if value not in valid:
            raise ConfigError(f"{name} must be one of {sorted(valid)}, got {value!r}")

    if not cfg.source_type:
        raise ConfigError("source_type is required")
    must_be(cfg.source_type, VALID_SOURCE_TYPES, "source_type")
    if not cfg.source_dsn:
        raise ConfigError("source_dsn is required")
    if cfg.mode != "schema_only" and not cfg.target_dsn:
        raise ConfigError("target_dsn is required")
    must_be(cfg.mode, VALID_MODES, "mode")
    must_be(cfg.on_schema_exists, VALID_ON_SCHEMA_EXISTS, "on_schema_exists")
    must_be(cfg.validation, VALID_VALIDATION, "validation")
    must_be(cfg.source_snapshot_mode, VALID_SNAPSHOT_MODES, "source_snapshot_mode")

    if cfg.workers < 0:
        raise ConfigError("workers must be >= 0")
    if cfg.chunk_size <= 0:
        raise ConfigError("chunk_size must be positive")
    if cfg.source_snapshot_mode == "single_tx" and cfg.workers > 1:
        raise ConfigError("single_tx snapshot mode forces sequential copy; workers must be <= 1")
    if cfg.resume and cfg.mode == "schema_only":
        raise ConfigError("resume has no effect in schema_only mode")
    if cfg.include_tables and cfg.exclude_tables:
        raise ConfigError("include_tables and exclude_tables are mutually exclusive")

    tm = cfg.type_mapping
    must_be(tm.enum_mode, VALID_ENUM_MODES, "type_mapping.enum_mode")
    must_be(tm.set_mode, VALID_SET_MODES, "type_mapping.set_mode")
    must_be(tm.json_mode, VALID_JSON_MODES, "type_mapping.json_mode")
    must_be(tm.time_mode, VALID_TIME_MODES, "type_mapping.time_mode")
    must_be(tm.bit_mode, VALID_BIT_MODES, "type_mapping.bit_mode")
    must_be(tm.spatial_mode, VALID_SPATIAL_MODES, "type_mapping.spatial_mode")
    must_be(tm.zero_date_mode, VALID_ZERO_DATE_MODES, "type_mapping.zero_date_mode")
    if tm.mysql_uuid_to_bin_swap and not tm.binary16_as_uuid:
        raise ConfigError("mysql_uuid_to_bin_swap requires binary16_as_uuid")

    if cfg.source_type == "sqlite":
        if cfg.source_snapshot_mode == "single_tx":
            raise ConfigError("single_tx is not applicable to sqlite (file snapshot)")

    for phase in cfg.hooks:
        if phase not in _HOOK_PHASES:
            raise ConfigError(f"unknown hook phase {phase!r}")
