"""Full-stack integration against a REAL PostgreSQL server (the container
ships postgres 15 + psql, no Python driver): SQLite source -> pipeline ->
PsqlTarget (DDL via psql, data via per-partition COPY FROM STDIN).

Mirrors the reference's integration expectations
(integration_test.go:20-175): row counts after orphan cleanup, PK/FK
constraints present, spot value users.name='Alice', sequence behavior on
insert-after-migrate."""

import os
import shutil
import signal
import sqlite3
import subprocess
import uuid

import pytest

from pgferry_spark.backends import SqliteSource
from pgferry_spark.config import MigrationConfig
from pgferry_spark.pipeline import MigrationPipeline
from pgferry_spark.sources.sink import PsqlTarget
from pgferry_spark.types import map_sqlite_default, map_sqlite_type


@pytest.fixture()
def blog_db(tmp_path):
    """The F1 blog fixture (same as test_pipeline): users/posts/comments
    with 2 seeded comment orphans."""
    path = str(tmp_path / "blog.db")
    con = sqlite3.connect(path)
    con.executescript(
        """
        CREATE TABLE users (
          id    INTEGER PRIMARY KEY AUTOINCREMENT,
          name  TEXT NOT NULL,
          email TEXT
        );
        CREATE TABLE posts (
          id      INTEGER PRIMARY KEY AUTOINCREMENT,
          user_id INTEGER NOT NULL,
          title   TEXT NOT NULL,
          body    TEXT,
          FOREIGN KEY (user_id) REFERENCES users(id)
        );
        CREATE TABLE comments (
          id      INTEGER PRIMARY KEY AUTOINCREMENT,
          post_id INTEGER NOT NULL,
          user_id INTEGER NOT NULL,
          content TEXT,
          FOREIGN KEY (post_id) REFERENCES posts(id),
          FOREIGN KEY (user_id) REFERENCES users(id)
        );
        """
    )
    users = [(i, n, f"{n.lower()}@x.io") for i, n in
             enumerate(["Alice", "Bob", "Carol", "Dan", "Eve"], start=1)]
    con.executemany("INSERT INTO users VALUES (?,?,?)", users)
    con.executemany(
        "INSERT INTO posts VALUES (?,?,?,?)",
        [(i, (i % 5) + 1, f"post {i}", f"body {i}") for i in range(1, 6)],
    )
    comments = [(i, (i % 5) + 1, (i % 5) + 1, f"comment {i}") for i in range(1, 11)]
    comments += [(11, 998, 1, "orphan one"), (12, 999, 2, "orphan two")]
    con.executemany("INSERT INTO comments VALUES (?,?,?,?)", comments)
    con.commit()
    con.close()
    return path

pytestmark = pytest.mark.skipif(
    not (shutil.which("initdb") and shutil.which("psql")),
    reason="no local postgres binaries",
)

PG_PORT = 55439


def _su(cmd: str) -> subprocess.CompletedProcess:
    """postgres refuses to run as root; delegate server ops to a helper
    account (created on demand)."""
    if os.geteuid() != 0:
        return subprocess.run(["bash", "-c", cmd], capture_output=True)
    subprocess.run(["useradd", "-m", "pgrunner"], capture_output=True)
    return subprocess.run(
        ["su", "pgrunner", "-s", "/bin/bash", "-c", cmd], capture_output=True
    )


# seconds one test may hold the server: a write that never fulfils the
# pipeline's row-count observations would otherwise block until the
# whole suite's time limit
DEADLINE_S = 120


@pytest.fixture(scope="module")
def _pg_instance():
    base = f"/tmp/pgferry_itest_{uuid.uuid4().hex[:8]}"
    os.makedirs(base, mode=0o755, exist_ok=True)
    if os.geteuid() == 0:
        subprocess.run(["useradd", "-m", "pgrunner"], capture_output=True)
        subprocess.run(["chown", "pgrunner", base], check=True)
    r = _su(f"initdb -D {base}/data --no-sync -U postgres")
    if r.returncode != 0:
        pytest.skip(f"initdb failed: {r.stderr.decode()[:200]}")
    r = _su(
        f"pg_ctl -D {base}/data -w -l {base}/log "
        f"-o '-k {base} -p {PG_PORT} -c listen_addresses= -c fsync=off' start"
    )
    if r.returncode != 0:
        pytest.skip(f"pg_ctl failed: {r.stderr.decode()[:200]}")
    subprocess.run(
        ["createdb", "-h", base, "-p", str(PG_PORT), "-U", "postgres", "ferry"],
        check=True, capture_output=True,
    )
    yield {"host": base, "port": PG_PORT, "db": "ferry", "user": "postgres"}
    _stop(base)
    shutil.rmtree(base, ignore_errors=True)


def _stop(base: str) -> None:
    _su(f"pg_ctl -D {base}/data -m immediate stop")


@pytest.fixture()
def pgserver(_pg_instance):
    """The module's server, under a SIGALRM deadline of ``DEADLINE_S``
    per test: when it expires the server is stopped (ending any COPY
    still running) and the test fails with ``TimeoutError``."""

    def expire(signum, frame):
        _stop(_pg_instance["host"])
        raise TimeoutError(f"postgres integration test exceeded {DEADLINE_S} s")

    previous = signal.signal(signal.SIGALRM, expire)
    signal.alarm(DEADLINE_S)
    try:
        yield _pg_instance
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, previous)


def _psql_scalar(pg, sql: str) -> str:
    out = subprocess.run(
        ["psql", "-X", "-tA", "-h", pg["host"], "-p", str(pg["port"]),
         "-U", pg["user"], "-d", pg["db"], "-c", sql],
        check=True, capture_output=True,
    )
    return out.stdout.decode().strip()


def test_full_migration_into_real_postgres(spark, blog_db, pgserver):
    pg = pgserver
    cfg = MigrationConfig(
        source_type="sqlite", source_dsn=blog_db, target_dsn="psql://itest",
        target_schema="blog",
    )
    target = PsqlTarget(
        host=pg["host"], port=pg["port"], db=pg["db"], user=pg["user"],
        schema="blog",
    )
    result = MigrationPipeline(
        spark, cfg, SqliteSource(blog_db), target,
        map_sqlite_type, map_sqlite_default,
    ).run()
    assert result.ok
    assert {r.table: r.orphans_removed for r in result.tables} == {
        "users": 0, "posts": 0, "comments": 2,
    }

    # reference expectations: 5/5/10 after the 2 seeded orphans are removed
    assert _psql_scalar(pg, 'SELECT COUNT(*) FROM blog.users') == "5"
    assert _psql_scalar(pg, 'SELECT COUNT(*) FROM blog.posts') == "5"
    assert _psql_scalar(pg, 'SELECT COUNT(*) FROM blog.comments') == "10"
    assert _psql_scalar(pg, "SELECT name FROM blog.users WHERE id = 1") == "Alice"

    # constraint replay landed: PK on users, 2 FKs on comments, logged again
    assert _psql_scalar(
        pg,
        "SELECT COUNT(*) FROM pg_constraint WHERE contype='p' "
        "AND conrelid='blog.users'::regclass",
    ) == "1"
    assert _psql_scalar(
        pg,
        "SELECT COUNT(*) FROM pg_constraint WHERE contype='f' "
        "AND conrelid='blog.comments'::regclass",
    ) == "2"
    assert _psql_scalar(
        pg, "SELECT relpersistence FROM pg_class WHERE oid='blog.users'::regclass"
    ) == "p"  # SET LOGGED ran

    # sequence reset: next insert gets MAX(id)+1 (reference
    # integration_test.go sequence-reset scenario)
    _psql_scalar(pg, "INSERT INTO blog.users (name, email) VALUES ('Frank','f@x.io') RETURNING id")
    assert _psql_scalar(pg, "SELECT id FROM blog.users WHERE name='Frank'") == "6"


def test_copy_value_fidelity(spark, pgserver):
    """COPY round-trip of the awkward types: NULL, tabs/newlines in text,
    booleans, bytea."""
    pg = pgserver
    target = PsqlTarget(
        host=pg["host"], port=pg["port"], db=pg["db"], user=pg["user"],
        schema="fidelity",
    )
    target.execute("CREATE SCHEMA fidelity")
    target.execute(
        'CREATE TABLE fidelity.t ("id" bigint, "txt" text, "flag" boolean, "bin" bytea)'
    )
    rows = [
        (1, "plain", True, bytes([0, 255, 10])),
        (2, "tab\there\nnewline\\slash", False, None),
        (3, None, None, b""),
    ]
    df = spark.createDataFrame(rows, "id: long, txt: string, flag: boolean, bin: binary")
    wrote = target.write(df, "t")
    assert wrote == 3
    assert _psql_scalar(pg, "SELECT txt FROM fidelity.t WHERE id=2") == "tab\there\nnewline\\slash"
    assert _psql_scalar(pg, "SELECT flag FROM fidelity.t WHERE id=1") == "t"
    assert _psql_scalar(pg, "SELECT encode(bin,'hex') FROM fidelity.t WHERE id=1") == "00ff0a"
    assert _psql_scalar(pg, "SELECT COUNT(*) FROM fidelity.t WHERE txt IS NULL") == "1"


def test_cli_parquet_to_postgres(spark, pgserver, tmp_path):
    """The CLI surface end to end: parquet-lake source -> postgres:// target
    (psql COPY path), driven exactly as a user would run it."""
    import io
    from contextlib import redirect_stdout
    from urllib.parse import quote

    from pgferry_spark.__main__ import main

    pg = pgserver
    # libpq URI convention: percent-encoded socket dir as host
    sock = quote(pg["host"], safe="")
    cfgfile = tmp_path / "mig.toml"
    cfgfile.write_text(
        'source_type = "parquet"\n'
        'source_dsn = "/root/testdata/sf0.001"\n'
        f'target_dsn = "postgresql://{pg["user"]}@{sock}:{pg["port"]}/{pg["db"]}"\n'
        'target_schema = "lake"\n'
        'include_tables = ["region", "nation"]\n'
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = main(["migrate", str(cfgfile)])
    assert rc == 0, buf.getvalue()
    assert "OK" in buf.getvalue()
    assert _psql_scalar(pg, "SELECT COUNT(*) FROM lake.region") == "5"
    assert _psql_scalar(pg, "SELECT COUNT(*) FROM lake.nation") == "25"


def test_extension_manager_against_live_server(pgserver):
    """The runtime extension step (reference extensions.go:99-129) against
    a REAL PostgreSQL: citext (available in contrib) is auto-created for
    real and idempotent on rerun; postgis exercises whichever leg this
    server offers — creation when available, the not-available rejection
    otherwise — so the decision table is covered end-to-end either way."""
    import subprocess

    from pgferry_spark.extensions import (
        ExtensionError,
        ExtensionRequirement,
        ensure_required_extensions,
        extension_status,
    )

    pg = pgserver

    def run_sql(sql: str):
        out = subprocess.run(
            ["psql", "-X", "-tA", "-F", "\t", "-h", pg["host"], "-p",
             str(pg["port"]), "-U", pg["user"], "-d", pg["db"], "-c", sql],
            check=True, capture_output=True,
        )
        return [
            tuple(line.split("\t"))
            for line in out.stdout.decode().splitlines()
            if line
        ]

    # citext: contrib ships it — the auto-create leg runs for REAL
    citext = ExtensionRequirement("citext", "ci_as_citext", create_if_missing=True)
    log = ensure_required_extensions(run_sql, [citext])
    assert log == ["citext: created (ci_as_citext)"]
    assert run_sql("SELECT extname FROM pg_extension WHERE extname='citext'")
    # ...and the type genuinely works now
    assert run_sql("SELECT 'ABC'::citext = 'abc'::citext")[0][0] == "t"
    # idempotent rerun takes the already-installed branch
    assert ensure_required_extensions(run_sql, [citext]) == [
        "citext: already installed (ci_as_citext)"
    ]

    # postgis: drive whichever leg the server has
    postgis = ExtensionRequirement(
        "postgis", "postgis", create_if_missing=False,
        create_hint="or set type_mapping.postgis_create_extension = true",
    )
    _, available = extension_status(run_sql, "postgis")
    if available:  # pragma: no cover - container has no postgis package
        with pytest.raises(ExtensionError, match="install it first"):
            ensure_required_extensions(run_sql, [postgis])
        creatable = ExtensionRequirement("postgis", "postgis", create_if_missing=True)
        assert ensure_required_extensions(run_sql, [creatable]) == [
            "postgis: created (postgis)"
        ]
    else:
        # the not-available rejection MUST fire before any data moves,
        # whatever the create flag says
        for flag in (False, True):
            req = ExtensionRequirement("postgis", "postgis", create_if_missing=flag)
            with pytest.raises(ExtensionError, match="not available on the target"):
                ensure_required_extensions(run_sql, [req])


def _crashing_after(table: str, nth: int) -> type:
    """A ``PsqlTarget`` that raises once its ``nth`` write of ``table``
    landed."""

    class Crashing(PsqlTarget):
        writes = 0

        def write(self, df, name, append=False):
            rows = super().write(df, name, append=append)
            if name == table:
                Crashing.writes += 1
                if Crashing.writes == nth:
                    raise RuntimeError("simulated crash")
            return rows

    return Crashing


def _migrate(spark, pg, db, schema, mode, target_cls=PsqlTarget, ckpt=None):
    """One SQLite -> PostgreSQL run in 2-row chunks, resuming from the
    checkpoint file ``ckpt`` when given."""
    from pgferry_spark.plans.checkpoint import CheckpointManager

    cfg = MigrationConfig(
        source_type="sqlite", source_dsn=db, target_dsn="psql://itest",
        target_schema=schema, mode=mode, chunk_size=2, workers=1,
        resume=ckpt is not None,
    )
    target = target_cls(
        host=pg["host"], port=pg["port"], db=pg["db"], user=pg["user"], schema=schema,
    )
    checkpoint = CheckpointManager(ckpt, flush_items=1) if ckpt else None
    return MigrationPipeline(
        spark, cfg, SqliteSource(db), target,
        map_sqlite_type, map_sqlite_default, checkpoint=checkpoint,
    ).run()


def test_resume_into_real_postgres_removes_orphans_like_an_uncrashed_run(
    spark, blog_db, pgserver, tmp_path,
):
    """A data_only migration that crashes after the comments' 2nd batch
    lands (its 1st recorded), then resumes: the users and posts key sets
    the re-moved comments clean against are read back from PostgreSQL,
    and the target ends with exactly the rows of an uncrashed run."""
    pg = pgserver

    def rows(schema):
        return {
            t: _psql_scalar(pg, f"SELECT string_agg(t::text, ';' ORDER BY id) FROM {schema}.{t} t")
            for t in ("users", "posts", "comments")
        }

    ckpt = str(tmp_path / "ckpt.json")
    for schema in ("whole", "resumed"):
        assert _migrate(spark, pg, blog_db, schema, "schema_only").ok
    assert _migrate(spark, pg, blog_db, "whole", "data_only").ok
    with pytest.raises(RuntimeError, match="simulated crash"):
        _migrate(spark, pg, blog_db, "resumed", "data_only", _crashing_after("comments", 2), ckpt)
    # ids 9-12 landed unrecorded, orphans 11 and 12 among them
    assert _psql_scalar(pg, "SELECT COUNT(*) FROM resumed.comments") == "10"
    result = _migrate(spark, pg, blog_db, "resumed", "data_only", ckpt=ckpt)
    assert result.ok
    comments = next(r for r in result.tables if r.table == "comments")
    assert (comments.rows_written, comments.orphans_removed) == (2, 2)
    assert rows("resumed") == rows("whole")
    assert _psql_scalar(pg, "SELECT string_agg(id::text, ',' ORDER BY id) FROM resumed.comments") == (
        "1,2,3,4,5,6,7,8,9,10"
    )


def test_resume_keeps_children_of_a_bytea_key(spark, pgserver, tmp_path):
    """A BLOB primary key lands as bytea and its key set is read back from
    PostgreSQL as bytes, not as the ``\\x..`` text PostgreSQL prints: after
    a crash and resume every child of a landed tag survives (DELETE rule)
    and keeps its SET NULL reference; only the orphan goes."""
    pg = pgserver
    db = str(tmp_path / "tags.db")
    con = sqlite3.connect(db)
    con.executescript(
        """
        CREATE TABLE tag (k BLOB PRIMARY KEY, name TEXT);
        CREATE TABLE note (
          id    INTEGER PRIMARY KEY,
          tag_k BLOB NOT NULL REFERENCES tag(k),
          alt_k BLOB REFERENCES tag(k) ON DELETE SET NULL
        );
        """
    )
    tags = [bytes([i, 0, 255, 92]) for i in range(1, 4)]  # 92 is a backslash
    con.executemany("INSERT INTO tag VALUES (?, ?)", [(k, f"t{i}") for i, k in enumerate(tags)])
    notes = [(i, tags[i % 3], tags[(i + 1) % 3]) for i in range(1, 12)]
    notes.append((12, b"\x00", tags[0]))  # orphan: no such tag
    con.executemany("INSERT INTO note VALUES (?, ?, ?)", notes)
    con.commit()
    con.close()

    ckpt = str(tmp_path / "ckpt.json")
    assert _migrate(spark, pg, db, "tags", "schema_only").ok
    with pytest.raises(RuntimeError, match="simulated crash"):
        # ids 9-12 land unrecorded: the resume purges and re-moves them
        _migrate(spark, pg, db, "tags", "data_only", _crashing_after("note", 2), ckpt)
    result = _migrate(spark, pg, db, "tags", "data_only", ckpt=ckpt)
    assert result.ok
    note = next(r for r in result.tables if r.table == "note")
    assert note.orphans_removed == 1
    assert _psql_scalar(
        pg,
        "SELECT string_agg(id || ':' || encode(tag_k, 'hex') || ':' || "
        "coalesce(encode(alt_k, 'hex'), '-'), ',' ORDER BY id) FROM tags.note",
    ) == ",".join(f"{i}:{k.hex()}:{a.hex()}" for i, k, a in notes[:11])


def test_read_parses_values_back_into_their_types(spark, pgserver):
    """``read`` returns a table's rows typed as the asked-for schema:
    COPY escapes undone, NULL kept apart from the empty string, bytea as
    bytes, only the asked-for columns."""
    from pyspark.sql.types import (
        BinaryType, BooleanType, DecimalType, LongType, StringType, StructField, StructType,
    )

    pg = pgserver
    target = PsqlTarget(
        host=pg["host"], port=pg["port"], db=pg["db"], user=pg["user"], schema="readback",
    )
    target.execute("CREATE SCHEMA readback")
    target.execute(
        'CREATE TABLE readback.t ("id" bigint, "txt" text, "bin" bytea, "flag" boolean, '
        '"amount" numeric(10,2), "skip" text)'
    )
    rows = [
        (1, "tab\there\nnewline\\slash", bytes([0, 255, 92, 10]), True, "12.50", "x"),
        (2, None, None, None, None, "y"),
        (3, "", b"", False, "-0.01", "z"),
    ]
    target.write(spark.createDataFrame(
        rows, "id: long, txt: string, bin: binary, flag: boolean, amount: string, skip: string",
    ), "t")
    schema = StructType([
        StructField("id", LongType()), StructField("txt", StringType()),
        StructField("bin", BinaryType()), StructField("flag", BooleanType()),
        StructField("amount", DecimalType(10, 2)),
    ])
    try:
        back = target.read("t", schema)
        assert [(f.name, f.dataType) for f in back.schema] == [
            (f.name, f.dataType) for f in schema
        ]
        from decimal import Decimal

        assert sorted(map(tuple, back.collect())) == [
            (1, "tab\there\nnewline\\slash", bytearray([0, 255, 92, 10]), True, Decimal("12.50")),
            (2, None, None, None, None),
            (3, "", bytearray(), False, Decimal("-0.01")),
        ]
    finally:
        target.close()
    assert not target._spools
