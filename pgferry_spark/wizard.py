"""Interactive config generator (the reference's wizard, O10; reference
wizard.go:54-568) — prompts for source/target, validates choices against the
config matrix, live-tests connections, and renders the TOML. I/O is injected
(``ask``/``say`` callables) so the flow is fully testable and scriptable, and
the connection probe is an injected callable (reference wizard.go:25-28 uses
the same seam: package-var testers swapped in tests) so the probe path —
success, failure-then-reprompt, timeout — is unit-testable without a server.
"""

from __future__ import annotations

import re
import socket
from typing import Callable

from .config import (
    VALID_ENUM_MODES,
    VALID_MODES,
    VALID_SET_MODES,
    VALID_SOURCE_TYPES,
    MigrationConfig,
    validate_config,
)
from .types.config import TypeMappingConfig

_DEFAULT_PORTS = {"mysql": 3306, "mssql": 1433, "postgres": 5432}


def _host_port(dsn: str, default_port: int) -> tuple[str, int]:
    """Liberal host[:port] extraction covering the DSN shapes the wizard
    accepts: Go-style ``user:pw@tcp(host:3306)/db``, URL-style
    ``scheme://user:pw@host:port/db``, and bare ``host/db``."""
    s = dsn.strip()
    m = re.search(r"tcp\(([^)]+)\)", s)
    if m:
        s = m.group(1)
    else:
        if "://" in s:
            s = s.split("://", 1)[1]
        if "@" in s:
            s = s.rsplit("@", 1)[1]
        s = s.split("/", 1)[0].split("?", 1)[0]
    if ":" in s:
        host, _, p = s.rpartition(":")
        if p.isdigit():
            return host, int(p)
    return s, default_port


def probe_connection(source_type: str, dsn: str, timeout: float = 5.0) -> None:
    """Default live connection test (reference wizard.go:834-877, 5 s ping).
    Raises on failure; returns None on success.

    * ``sqlite`` — genuinely opens the file read-only and runs ``SELECT 1``
      (the real reference behavior, fully exercisable here);
    * ``mysql`` / ``mssql`` / ``postgres`` — TCP reachability with timeout:
      no wire-protocol client ships in this environment, so the probe
      verifies host:port liveness, the part a DSN typo most often breaks
      (standing deviation from the reference's driver-level ping).
    """
    if source_type == "sqlite":
        from .sources.sqlite_introspect import open_readonly

        con = open_readonly(dsn, timeout=timeout)
        try:
            con.execute("SELECT 1")
        finally:
            con.close()
        return
    port = _DEFAULT_PORTS.get(source_type)
    if port is None:
        raise ValueError(f"unsupported source type {source_type!r}")
    host, port = _host_port(dsn, port)
    with socket.create_connection((host, port), timeout=timeout):
        return


# -- DSN validation + database-name extraction (wizard.go:666-833) -----------


def extract_db_name(source_type: str, dsn: str) -> str:
    """Per-source database-name extraction (the reference's
    ``SourceDB.ExtractDBName``: source_sqlite.go:50-72 file stem,
    main.go:404-421 MySQL last-slash rule, source_mssql.go:61-84 MSSQL
    ``database`` parameter in URL query or ADO pairs)."""
    dsn = dsn.strip()
    if not dsn:
        raise ValueError("value is required")
    if source_type == "sqlite":
        path = dsn
        if path.startswith("file:"):
            path = path[5:].split("?", 1)[0]
            if path.startswith("//"):  # file://host/path — drop authority
                path = "/" + path.lstrip("/")
        base = path.rstrip("/").rsplit("/", 1)[-1]
        stem = base.rsplit(".", 1)[0] if "." in base[1:] else base
        if not stem:
            raise ValueError("cannot extract database name from SQLite path")
        return stem
    if source_type == "mysql":
        head = dsn.split("?", 1)[0]
        if "://" in head:  # URL spelling: mysql://user:pw@host:port/db
            head = head.split("://", 1)[1]
        slash = head.rfind("/")
        if slash < 0:
            raise ValueError(
                "cannot extract database name from DSN: no '/' found"
            )
        name = head[slash + 1:]
        if not name:
            raise ValueError(
                "cannot extract database name from DSN: empty name"
            )
        return name
    if source_type == "mssql":
        if "://" in dsn:
            query = dsn.split("?", 1)[1] if "?" in dsn else ""
            for part in query.split("&"):
                k, _, v = part.partition("=")
                if k.strip().lower() in ("database", "databasename") and v:
                    return v
        for part in dsn.split(";"):
            k, _, v = part.partition("=")
            if k.strip().lower() in ("database", "databasename") and v.strip():
                return v.strip()
        raise ValueError(
            "cannot extract database name from MSSQL DSN: "
            "no 'database' parameter found"
        )
    raise ValueError(f"unsupported source type {source_type!r}")


def extract_postgres_db_name(dsn: str) -> str:
    """wizard.go:712-723 — the target database name, from URL-style
    (``postgres://host:5432/db``) or keyword-style (``dbname=db ...``)."""
    dsn = dsn.strip()
    if not dsn:
        raise ValueError("value is required")
    if "://" in dsn:
        rest = dsn.split("://", 1)[1].split("?", 1)[0]
        if "@" in rest:
            rest = rest.rsplit("@", 1)[1]
        if "/" in rest:
            name = rest.split("/", 1)[1]
            if name:
                return name
    for part in dsn.split():
        k, _, v = part.partition("=")
        if k == "dbname" and v:
            return v
    raise ValueError("cannot extract database name from PostgreSQL DSN")


def validate_source_dsn(source_type: str, dsn: str) -> None:
    """Syntactic DSN validation BEFORE any probe (wizard.go:790-821):
    catch the typo at the prompt, not at connect time.  Raises with the
    reference's error shapes."""
    dsn = dsn.strip()
    if not dsn:
        raise ValueError("value is required")
    if source_type == "sqlite":
        bare = dsn[5:] if dsn.startswith("file:") else dsn
        if bare.split("?", 1)[0] == ":memory:" or "mode=memory" in dsn:
            raise ValueError(
                "invalid SQLite DSN: in-memory databases are not a "
                "migratable source"
            )
    extract_db_name(source_type, dsn)  # every source must name a database


def validate_target_dsn(dsn: str) -> None:
    """wizard.go:823-832 — target must parse as a PostgreSQL DSN that
    names a database."""
    extract_postgres_db_name(dsn)


def suggest_schema_name(
    source_type: str, source_dsn: str, target_dsn: str
) -> str:
    """wizard.go:666-710 — default target schema from the SOURCE database
    name: lowercase, non-alphanumerics collapsed to single underscores,
    trimmed; digit-led names get an ``app_`` prefix; a suggestion that
    merely equals the TARGET database name (case-insensitive) says
    nothing, so it falls back to ``app``."""
    try:
        name = extract_db_name(source_type, source_dsn).strip()
    except Exception:
        return "app"
    if not name:
        return "app"
    out: list[str] = []
    last_us = False
    for ch in name.lower():
        if ch.isalnum():
            out.append(ch)
            last_us = False
        elif not last_us:
            out.append("_")
            last_us = True
    schema = "".join(out).strip("_")
    if not schema:
        return "app"
    if schema[0].isdigit():
        schema = "app_" + schema
    try:
        target_db = extract_postgres_db_name(target_dsn)
    except Exception:
        return schema
    if schema.lower() == target_db.lower():
        return "app"
    return schema


def effective_default_workers(source_type: str) -> int:
    """wizard.go:724-735 — CPU-based default capped at 8, then clamped by
    the source's own limit (SQLite reads on ONE connection)."""
    import os as _os

    workers = min(_os.cpu_count() or 1, 8)
    if source_type == "sqlite":
        return 1
    return workers


def maybe_confirm_overwrite(
    path: str,
    ask: Callable[[str], str] = input,
    say: Callable[[str], None] = print,
) -> None:
    """wizard.go:452-467 — refuse to clobber an existing config file
    without an explicit yes (default NO)."""
    import os as _os

    if not _os.path.exists(path):
        return
    say("Output file already exists.")
    if not _ask_bool(ask, f"Overwrite {path}?", default=False):
        raise FileExistsError(f"refusing to overwrite existing file {path}")


# -- prompt primitives (wizard.go promptBool/promptInt/promptChoice) ----------


def _ask_bool(ask: Callable[[str], str], prompt: str, default: bool) -> bool:
    hint = "[Y/n]" if default else "[y/N]"
    while True:
        raw = ask(f"{prompt} {hint}: ").strip().lower()
        if not raw:
            return default
        if raw in ("y", "yes"):
            return True
        if raw in ("n", "no"):
            return False


def _ask_int(
    ask: Callable[[str], str], prompt: str, default: int, minimum: int
) -> int:
    while True:
        raw = ask(f"{prompt} (default {default}): ").strip()
        if not raw:
            return default
        if raw.lstrip("-").isdigit() and int(raw) >= minimum:
            return int(raw)


def _prompt_dsn(
    ask: Callable[[str], str],
    say: Callable[[str], None],
    prompt: str,
    tester: Callable[[str], None],
    validator: Callable[[str], None] | None = None,
    allow_empty: bool = False,
) -> str:
    """DSN prompt with the reference's validate-then-test loop: syntactic
    validation rejects malformed DSNs at the prompt (wizard.go:963-992
    runs validateWizardSourceDSN inside promptString), then a live probe
    is offered; a failed probe reports the error and re-prompts rather
    than accepting a dead DSN silently."""
    while True:
        dsn = ask(prompt).strip()
        if not dsn:
            if allow_empty:
                return ""
            continue
        if validator is not None:
            try:
                validator(dsn)
            except Exception as exc:  # noqa: BLE001 - any validation failure
                say(f"Invalid DSN: {exc}")
                continue
        if ask("Test connection now? [Y/n]: ").strip().lower() in ("", "y", "yes"):
            try:
                tester(dsn)
            except Exception as exc:  # noqa: BLE001 - report any probe failure
                say(f"Connection test failed: {exc}")
                continue
            say("Connection OK.")
        return dsn


def _choose(ask: Callable[[str], str], prompt: str, valid: set[str], default: str) -> str:
    while True:
        raw = ask(f"{prompt} [{'/'.join(sorted(valid))}] (default {default}): ").strip()
        if not raw:
            return default
        if raw in valid:
            return raw


def run_wizard(
    ask: Callable[[str], str] = input,
    say: Callable[[str], None] = print,
    test_source: Callable[[str, str], None] = probe_connection,
    test_target: Callable[[str], None] | None = None,
) -> MigrationConfig:
    """The full generate flow (wizard.go:143-450 collectGeneratedConfig):
    connection prompts with syntactic validation + optional live test,
    schema suggestion from the source database name, run-shape choices
    (mode / on_schema_exists / snapshot / unlogged / snake_case /
    workers), then the per-source type-mapping walk.  Empty answers take
    the shown default everywhere, so a scripted run is all newlines."""
    if test_target is None:
        test_target = lambda dsn: probe_connection("postgres", dsn)  # noqa: E731
    say("pgferry_spark migration config wizard")
    source_type = _choose(ask, "Source type", VALID_SOURCE_TYPES, "mysql")
    source_dsn = _prompt_dsn(
        ask,
        say,
        "Source DSN (e.g. user:pw@tcp(host:3306)/db or /path/to.db): ",
        lambda dsn: test_source(source_type, dsn),
        validator=lambda dsn: validate_source_dsn(source_type, dsn),
    )
    target_dsn = _prompt_dsn(
        ask,
        say,
        "Target PostgreSQL DSN (empty: render a schema_only dry-run): ",
        test_target,
        validator=validate_target_dsn,
        allow_empty=True,
    )
    suggested = suggest_schema_name(source_type, source_dsn, target_dsn)
    target_schema = (
        ask(f"Target schema (default {suggested}): ").strip() or suggested
    )
    mode = _choose(ask, "Mode", VALID_MODES, "full")
    on_schema_exists = _choose(
        ask, "If target schema already exists", {"error", "recreate"}, "error"
    )
    if source_type in ("mysql", "mssql"):
        snapshot = _choose(
            ask, "Source snapshot mode", {"none", "single_tx"}, "none"
        )
    else:
        snapshot = "none"
        say(
            "source_snapshot_mode is fixed to none and workers are capped "
            "at 1 for this source type."
        )
    unlogged = True
    if mode == "full":
        unlogged = _ask_bool(
            ask, "Use UNLOGGED tables during bulk load", default=True
        )
    snake = _ask_bool(
        ask, "Convert identifiers to snake_case", default=True
    )
    workers = 0
    if source_type in ("mysql", "mssql"):
        if snapshot == "single_tx":
            workers = 1
            say("single_tx snapshot copies sequentially; workers fixed at 1.")
        else:
            workers = _ask_int(
                ask, "Parallel workers",
                effective_default_workers(source_type), 1,
            )

    tm = TypeMappingConfig()
    if not _ask_bool(ask, "Map JSON columns to jsonb", default=True):
        tm.json_mode = "json"
    tm.unknown_as_text = _ask_bool(
        ask, "Map unknown source types to text instead of failing",
        default=False,
    )
    if source_type == "mysql":
        tm.tinyint1_as_boolean = _ask_bool(
            ask, "Map tinyint(1) to boolean", default=False
        )
        tm.datetime_as_timestamptz = _ask_bool(
            ask, "Map datetime to timestamptz", default=False
        )
        tm.binary16_as_uuid = _ask_bool(
            ask, "Map binary(16) to uuid", default=False
        )
        if tm.binary16_as_uuid:
            tm.mysql_uuid_to_bin_swap = (
                _choose(
                    ask, "Binary UUID byte order",
                    {"rfc4122", "mysql_uuid_to_bin_swap"}, "rfc4122",
                )
                == "mysql_uuid_to_bin_swap"
            )
        tm.char36_as_uuid = _ask_bool(
            ask, "Map char(36)/varchar(36) to uuid", default=False
        )
        tm.enum_mode = _choose(ask, "Enum mode", VALID_ENUM_MODES, "check")
        tm.set_mode = _choose(ask, "Set mode", VALID_SET_MODES, "text")
        tm.bit_mode = _choose(
            ask, "BIT(n) mapping", {"bytea", "bit", "varbit"}, "bytea"
        )
        tm.time_mode = _choose(
            ask, "TIME mapping", {"time", "text", "interval"}, "time"
        )
        tm.zero_date_mode = _choose(
            ask, "Zero-date handling", {"null", "error"}, "null"
        )
        tm.spatial_mode = _choose(
            ask, "Spatial type mapping",
            {"error", "postgis", "bytea", "text"}, "error",
        )
        tm.unsigned_checks = _ask_bool(
            ask, "Add unsigned integer CHECK constraints", default=False
        )
    if source_type == "mssql":
        tm.nvarchar_as_text = _ask_bool(
            ask, "Map nvarchar(n) to text", default=False
        )
        tm.xml_as_text = _ask_bool(ask, "Map xml to text", default=False)
        tm.datetime_as_timestamptz = _ask_bool(
            ask, "Map datetime/datetime2 to timestamptz", default=False
        )
        tm.spatial_mode = _choose(
            ask, "Spatial type mapping",
            {"error", "postgis", "bytea", "text"}, "error",
        )

    cfg = MigrationConfig(
        source_type=source_type,
        source_dsn=source_dsn,
        target_dsn=target_dsn,
        target_schema=target_schema,
        mode=mode,
        on_schema_exists=on_schema_exists,
        source_snapshot_mode=snapshot,
        unlogged_tables=unlogged,
        snake_case_identifiers=snake,
        workers=workers,
        type_mapping=tm,
    )
    validate_config(cfg)
    say("Config validated.")
    return cfg


def render_toml(cfg: MigrationConfig) -> str:
    """Render the config as reference-compatible TOML (only non-default
    type-mapping keys are emitted)."""

    def lit(v) -> str:
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, (int, float)):
            return str(v)
        return '"' + str(v).replace("\\", "\\\\").replace('"', '\\"') + '"'

    lines = [
        f"source_type = {lit(cfg.source_type)}",
        f"source_dsn = {lit(cfg.source_dsn)}",
    ]
    if cfg.target_dsn:
        lines.append(f"target_dsn = {lit(cfg.target_dsn)}")
    lines.append(f"target_schema = {lit(cfg.target_schema)}")
    if cfg.mode != "full":
        lines.append(f"mode = {lit(cfg.mode)}")
    if cfg.chunk_size != 100_000:
        lines.append(f"chunk_size = {cfg.chunk_size}")

    defaults = TypeMappingConfig()
    tm_lines = [
        f"{name} = {lit(value)}"
        for name, value in vars(cfg.type_mapping).items()
        if value != getattr(defaults, name)
    ]
    if tm_lines:
        lines += ["", "[type_mapping]"] + tm_lines
    return "\n".join(lines) + "\n"
