"""CLI entry point — ``python -m pgferry_spark <command>``.

Mirrors the reference's command surface (reference main.go:20-65):

* ``plan <config.toml>``     — dry-run report, never touches the target
  (``--json`` for machine output)
* ``migrate <config.toml>``  — run the full pipeline
* ``wizard``                 — interactive config generator (``-o`` to save)

Runnable end-to-end in this environment: SQLite and parquet-lake sources;
spool:// and postgres:// (via the psql-client COPY target) targets.
MySQL/MSSQL configs resolve their catalog-query builders but need a
JDBC-reachable server to run.
"""

from __future__ import annotations

import argparse
import sys

from .config import MigrationConfig, load_config


def _source_for(cfg: MigrationConfig, spark=None):
    if cfg.source_type == "sqlite":
        from .backends import SqliteSource

        return SqliteSource(cfg.source_dsn, cfg.snake_case_identifiers)
    if cfg.source_type == "parquet":
        import glob
        import os

        from .backends import ParquetSource

        if spark is None:
            from .session import get_spark

            spark = get_spark("pgferry_spark_plan")
        tables = tuple(
            sorted(
                os.path.splitext(os.path.basename(p))[0]
                for p in glob.glob(os.path.join(cfg.source_dsn, "*.parquet"))
            )
        )
        return ParquetSource(
            spark, cfg.source_dsn, tables=tables,
            snake_case=cfg.snake_case_identifiers,
        )
    raise SystemExit(
        f"source_type {cfg.source_type!r} requires a live database server; "
        "sqlite and parquet are runnable in this environment"
    )


def _mappers_for(cfg: MigrationConfig):
    from . import types as T

    return {
        "sqlite": (T.map_sqlite_type, T.map_sqlite_default),
        "mysql": (T.map_mysql_type, T.map_mysql_default),
        "mssql": (T.map_mssql_type, T.map_mssql_default),
        "parquet": (T.map_parquet_type, T.map_parquet_default),
    }[cfg.source_type]


def cmd_plan(args) -> int:
    from .plan_report import build_plan_report

    cfg = load_config(args.config)
    source = _source_for(cfg)
    type_mapper, _ = _mappers_for(cfg)
    report = build_plan_report(
        source.introspect(), source.source_objects(), cfg.type_mapping, type_mapper
    )
    print(report.to_json() if args.json else report.to_text())
    if args.hooks_skeleton:
        from .plan_report import write_hook_skeletons

        for path in write_hook_skeletons(args.hooks_skeleton):
            print(f"wrote hook skeleton {path}")
    return 0


def cmd_migrate(args) -> int:
    import os

    from .backends import SpoolTarget
    from .pipeline import MigrationPipeline
    from .plans.checkpoint import CheckpointManager
    from .session import get_spark

    cfg = load_config(args.config)
    type_mapper, default_mapper = _mappers_for(cfg)
    spark = get_spark("pgferry_spark_migrate")
    spark.sparkContext.setLogLevel("ERROR")
    source = _source_for(cfg, spark)
    if cfg.target_dsn.startswith("spool://"):
        target = SpoolTarget(spark, cfg.target_dsn.removeprefix("spool://"))
    elif cfg.target_dsn.startswith(("postgres://", "postgresql://")):
        import shutil
        from urllib.parse import unquote, urlsplit

        from .sources.sink import PsqlTarget

        if not shutil.which("psql"):
            raise SystemExit(
                "postgres:// target needs the psql client"
            )
        u = urlsplit(cfg.target_dsn)
        # parse the authority by hand: libpq URIs allow a percent-encoded
        # unix socket dir as the host (postgresql://u@%2Fvar%2Frun:5432/db),
        # which urlsplit.hostname would lowercase
        userinfo, _, hostport = u.netloc.rpartition("@")
        host, port = hostport, ""
        if ":" in hostport:
            host, _, port = hostport.rpartition(":")
        target = PsqlTarget(
            # empty host -> libpq default (PGHOST env / local unix socket)
            host=unquote(host), port=int(port) if port else 5432,
            db=(u.path or "/postgres").lstrip("/"),
            user=unquote(userinfo.split(":")[0]) if userinfo else "postgres",
            schema=cfg.target_schema,
        )
    else:
        raise SystemExit(
            "supported targets: spool://<dir> and postgres://user@host:port/db"
        )
    checkpoint = None
    if cfg.resume:
        path = cfg.checkpoint_path or os.path.join(
            os.path.dirname(os.path.abspath(args.config)),
            ".pgferry_spark_checkpoint.json",
        )
        checkpoint = CheckpointManager(path)
    result = MigrationPipeline(
        spark, cfg, source, target, type_mapper, default_mapper, checkpoint=checkpoint
    ).run()
    for t in result.tables:
        print(f"  {t.table}: {t.rows_written} rows ({t.orphans_removed} orphans removed)")
    for v in result.validation:
        mark = "ok" if v.ok else "MISMATCH"
        print(f"  validate {v.table}: source={v.source_rows} target={v.target_rows} {mark}")
    print(f"{'OK' if result.ok else 'FAILED'} in {result.elapsed_sec:.1f}s")
    return 0 if result.ok else 1


def cmd_wizard(args) -> int:
    from .wizard import maybe_confirm_overwrite, render_toml, run_wizard

    if args.output:
        # refuse to clobber silently (reference wizard.go:452-467) —
        # checked BEFORE the interview so a long answer session can't
        # end in a refusal
        try:
            maybe_confirm_overwrite(args.output)
        except FileExistsError as exc:
            print(exc)
            return 1
    cfg = run_wizard()
    toml = render_toml(cfg)
    if args.output:
        with open(args.output, "w", encoding="utf-8") as f:
            f.write(toml)
        print(f"wrote {args.output}")
    else:
        print(toml)
    return 0


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="pgferry_spark")
    sub = parser.add_subparsers(dest="command", required=True)

    p_plan = sub.add_parser("plan", help="dry-run migration report")
    p_plan.add_argument("config")
    p_plan.add_argument("--json", action="store_true")
    p_plan.add_argument("--hooks-skeleton", default="", metavar="DIR",
                        help="write commented hook-file skeletons into DIR")
    p_plan.set_defaults(fn=cmd_plan)

    p_mig = sub.add_parser("migrate", help="run the migration pipeline")
    p_mig.add_argument("config")
    p_mig.set_defaults(fn=cmd_migrate)

    p_wiz = sub.add_parser("wizard", help="generate a config interactively")
    p_wiz.add_argument("-o", "--output", default="")
    p_wiz.set_defaults(fn=cmd_wizard)

    args = parser.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
