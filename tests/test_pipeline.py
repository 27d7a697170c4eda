"""End-to-end migration pipeline test on the reference's flagship fixture:
the F1 blog schema (users/posts/comments with 2 seeded orphans; FIXTURES.md
F1, reference integration_test.go:20-175 expectations: 5/5/10 rows after
orphan cleanup, PKs and FKs replayed, spot value users.name='Alice')."""

import sqlite3

import pytest
from pyspark.sql.types import LongType, StructField, StructType

from pgferry_spark.backends import SpoolTarget, SqliteSource
from pgferry_spark.config import MigrationConfig
from pgferry_spark.pipeline import MigrationPipeline, _parents_first
from pgferry_spark.plans.checkpoint import CheckpointManager
from pgferry_spark.types import map_sqlite_default, map_sqlite_type


@pytest.fixture()
def blog_db(tmp_path):
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
        CREATE INDEX idx_posts_user ON posts(user_id);
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
    comments += [(11, 998, 1, "orphan one"), (12, 999, 2, "orphan two")]  # FK checks off
    con.executemany("INSERT INTO comments VALUES (?,?,?,?)", comments)
    con.commit()
    con.close()
    return path


def make_pipeline(spark, blog_db, tmp_path, **cfg_kw):
    cfg_kw.setdefault("target_dsn", "spool://x")
    cfg = MigrationConfig(
        source_type="sqlite", source_dsn=blog_db, target_schema="blog", **cfg_kw,
    )
    target = SpoolTarget(spark, str(tmp_path / "target"))
    pipe = MigrationPipeline(
        spark, cfg, SqliteSource(blog_db), target,
        map_sqlite_type, map_sqlite_default,
    )
    return pipe, target


def test_full_migration_counts_and_orphans(spark, blog_db, tmp_path):
    pipe, target = make_pipeline(spark, blog_db, tmp_path)
    result = pipe.run()

    assert result.ok
    rows = {r.table: r.rows_written for r in result.tables}
    assert rows == {"users": 5, "posts": 5, "comments": 10}  # orphans removed
    orphans = {r.table: r.orphans_removed for r in result.tables}
    assert orphans["comments"] == 2

    users = spark.read.parquet(str(tmp_path / "target" / "users"))
    alice = users.filter("id = 1").first()
    assert alice["name"] == "Alice"


def test_parents_load_before_children(spark, blog_db, tmp_path):
    pipe, _ = make_pipeline(spark, blog_db, tmp_path)
    schema = pipe.source.introspect()
    ordered = [t.pg_name for t in _parents_first(pipe.select_tables(schema))]
    assert ordered.index("users") < ordered.index("posts") < ordered.index("comments")


def test_ddl_transcript_structure(spark, blog_db, tmp_path):
    pipe, target = make_pipeline(spark, blog_db, tmp_path)
    pipe.run()
    ddl = target.ddl
    assert ddl[0] == 'CREATE SCHEMA "blog"'
    creates = [s for s in ddl if s.startswith("CREATE UNLOGGED TABLE")]
    assert len(creates) == 3
    pks = [s for s in ddl if "PRIMARY KEY" in s and s.startswith("ALTER")]
    assert len(pks) == 3
    fks = [s for s in ddl if "FOREIGN KEY" in s]
    assert len(fks) == 3  # posts->users, comments->posts, comments->users
    # constraint replay strictly after all loads: SET LOGGED precedes PKs
    logged_idx = [i for i, s in enumerate(ddl) if "SET LOGGED" in s]
    pk_idx = [i for i, s in enumerate(ddl) if "ADD CONSTRAINT" in s and "PRIMARY KEY" in s]
    assert max(logged_idx) < min(pk_idx)
    seqs = [s for s in ddl if "nextval" in s or "setval" in s]
    assert len(seqs) == 6  # 3 auto-increment PKs x (setval + set default)


def test_validation_detects_mismatch(spark, blog_db, tmp_path):
    pipe, target = make_pipeline(spark, blog_db, tmp_path)

    class LyingTarget(SpoolTarget):
        def count(self, table):
            return super().count(table) + (1 if table == "users" else 0)

    lying = LyingTarget(spark, str(tmp_path / "target2"))
    pipe.target = lying
    result = pipe.run()
    assert not result.ok
    bad = [v for v in result.validation if not v.ok]
    assert [v.table for v in bad] == ["users"]


def test_resume_skips_done_tables(spark, blog_db, tmp_path):
    ckpt_path = str(tmp_path / "ckpt.json")
    pipe, target = make_pipeline(spark, blog_db, tmp_path, resume=True)
    pipe.checkpoint = CheckpointManager(ckpt_path)
    result = pipe.run()
    assert result.ok  # successful run deletes the checkpoint
    import os

    assert not os.path.exists(ckpt_path)

    # simulate an interrupted run: pre-mark users as done, re-run
    pipe2, _ = make_pipeline(spark, blog_db, tmp_path, resume=True)
    pipe2.checkpoint = CheckpointManager(ckpt_path)
    # seed a checkpoint compatible with pipe2's config fingerprint
    from pgferry_spark.plans.checkpoint import compatibility_fingerprint

    schema = pipe2.source.introspect()
    tables = pipe2.select_tables(schema)
    fp = compatibility_fingerprint(
        {
            "source_type": "sqlite",
            "target_schema": "blog",
            "snake_case": True,
            "mode": "full",
            "unlogged": True,
            "chunk_size": 100_000,
            "type_mapping": vars(pipe2.cfg.type_mapping),
            "tables": {t.pg_name: [c.pg_name for c in t.columns] for t in tables},
        }
    )
    seeded = CheckpointManager(ckpt_path, fingerprint=fp)
    seeded.mark_table_done("users", rows=5)
    result2 = pipe2.run()
    skipped = {r.table: r.rows_written for r in result2.tables}
    assert skipped["users"] == 0  # resumed past the completed table
    assert skipped["comments"] == 10


def test_schema_only_mode_writes_no_data(spark, blog_db, tmp_path):
    pipe, target = make_pipeline(spark, blog_db, tmp_path, mode="schema_only", target_dsn="")
    result = pipe.run()
    assert result.tables == []
    assert any(s.startswith("CREATE UNLOGGED TABLE") for s in target.ddl)


def test_hooks_run_in_phases(spark, blog_db, tmp_path):
    hook = tmp_path / "before_fk.sql"
    hook.write_text("DELETE FROM {{schema}}.comments WHERE content = 'x'; -- cleanup\n")
    pipe, target = make_pipeline(
        spark, blog_db, tmp_path, hooks={"before_fk": [str(hook)]}
    )
    pipe.run()
    assert 'DELETE FROM blog.comments' in " ".join(target.ddl)


def test_unsupported_type_hard_gate(spark, tmp_path):
    path = str(tmp_path / "odd.db")
    con = sqlite3.connect(path)
    con.execute("CREATE TABLE t (id INTEGER PRIMARY KEY, v TEXT)")
    con.commit()
    con.close()

    from pgferry_spark.types.mysql import UnsupportedTypeError

    def failing_mapper(col, cfg):
        if col.pg_name == "v":
            raise UnsupportedTypeError("nope")
        from pgferry_spark.types import map_sqlite_type

        return map_sqlite_type(col, cfg)

    cfg = MigrationConfig(source_type="sqlite", source_dsn=path, target_dsn="x")
    pipe = MigrationPipeline(
        spark, cfg, SqliteSource(path), SpoolTarget(spark, str(tmp_path / "t2")),
        failing_mapper, map_sqlite_default,
    )
    with pytest.raises(ValueError, match="unsupported columns"):
        pipe.run()


def test_data_only_mode_toggles_triggers(spark, blog_db, tmp_path):
    pipe, target = make_pipeline(spark, blog_db, tmp_path, mode="data_only")
    result = pipe.run()
    assert result.ok
    disables = [s for s in target.ddl if "DISABLE TRIGGER ALL" in s]
    enables = [s for s in target.ddl if "ENABLE TRIGGER ALL" in s]
    assert len(disables) == 3 and len(enables) == 3
    # disable precedes every write; enable follows (by transcript position)
    assert target.ddl.index(disables[0]) < target.ddl.index(enables[0])
    # data_only must not create tables
    assert not any(s.startswith("CREATE UNLOGGED TABLE") for s in target.ddl)


def test_data_only_skips_constraint_replay(spark, blog_db, tmp_path):
    pipe, target = make_pipeline(spark, blog_db, tmp_path, mode="data_only")
    pipe.run()
    assert not any("ADD CONSTRAINT" in s for s in target.ddl)
    assert not any("SET LOGGED" in s for s in target.ddl)


def test_chunk_level_restartability(spark, tmp_path):
    """BASELINE.md target: after a simulated mid-table failure, the resumed
    run skips completed chunks and lands count-exact (no duplicates)."""
    import os
    import sqlite3 as sq3

    db = str(tmp_path / "big.db")
    con = sq3.connect(db)
    con.execute("CREATE TABLE big (id INTEGER PRIMARY KEY, payload TEXT)")
    con.executemany("INSERT INTO big VALUES (?,?)", [(i, f"p{i}") for i in range(1, 501)])
    con.commit()
    con.close()

    ckpt = str(tmp_path / "ckpt.json")

    def build(target):
        cfg = MigrationConfig(
            source_type="sqlite", source_dsn=db, target_dsn="spool://x",
            target_schema="app", chunk_size=50, workers=1, resume=True,
        )
        pipe = MigrationPipeline(
            spark, cfg, SqliteSource(db), target, map_sqlite_type, map_sqlite_default,
        )
        pipe.checkpoint = CheckpointManager(ckpt, flush_items=1)
        return pipe

    class FlakyTarget(SpoolTarget):
        def __init__(self, *a, fail_after: int, **kw):
            super().__init__(*a, **kw)
            self.writes = 0
            self.fail_after = fail_after

        def write(self, df, table, append=False):
            self.writes += 1
            if self.writes > self.fail_after:
                raise RuntimeError("simulated crash")
            return super().write(df, table, append=append)

    out = str(tmp_path / "target")
    # chunk_size=50 over ids 1..500 -> 10 chunks; workers=1 -> batches of 4
    flaky = FlakyTarget(spark, out, fail_after=1)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="simulated crash"):
        build(flaky).run()
    assert os.path.exists(ckpt)  # progress survived the crash

    result = build(SpoolTarget(spark, out)).run()
    assert result.ok
    final = spark.read.parquet(os.path.join(out, "big"))
    assert final.count() == 500                      # count-exact
    assert final.select("id").distinct().count() == 500  # no duplicates
    assert not os.path.exists(ckpt)  # success deletes the checkpoint

    # the resumed run moved only the missing chunks (10 total, 4 done before)
    moved = {r.table: r.rows_written for r in result.tables}
    assert moved["big"] == 300


def test_mixed_case_pk_chunking(spark, tmp_path):
    """Chunk predicates must carry the SOURCE column name: a CamelCase PK
    that snake_cases to a different pg_name used to break the chunked read."""
    import sqlite3 as sq3

    db = str(tmp_path / "camel.db")
    con = sq3.connect(db)
    con.execute('CREATE TABLE t ("OrderID" INTEGER PRIMARY KEY, v TEXT)')
    con.executemany("INSERT INTO t VALUES (?,?)", [(i, f"v{i}") for i in range(1, 301)])
    con.commit()
    con.close()

    cfg = MigrationConfig(
        source_type="sqlite", source_dsn=db, target_dsn="spool://x",
        target_schema="app", chunk_size=50, workers=1,
    )
    target = SpoolTarget(spark, str(tmp_path / "camel_out"))
    result = MigrationPipeline(
        spark, cfg, SqliteSource(db), target, map_sqlite_type, map_sqlite_default,
    ).run()
    assert result.ok
    assert result.tables[0].rows_written == 300
    assert result.tables[0].chunks == 6
    out = spark.read.parquet(str(tmp_path / "camel_out" / "t"))
    assert out.columns == ["order_id", "v"]  # normalized on the way out


def test_orphan_chain_cascades_through_cleaned_parents(spark, tmp_path):
    """A→B→C chain: a B row orphaned against A must also disqualify the C
    rows that referenced it (children clean against CLEANED parents)."""
    import sqlite3 as sq3

    db = str(tmp_path / "chain.db")
    con = sq3.connect(db)
    con.executescript(
        """
        CREATE TABLE a (id INTEGER PRIMARY KEY);
        CREATE TABLE b (id INTEGER PRIMARY KEY, a_id INTEGER NOT NULL REFERENCES a(id));
        CREATE TABLE c (id INTEGER PRIMARY KEY, b_id INTEGER NOT NULL REFERENCES b(id));
        """
    )
    con.execute("INSERT INTO a VALUES (1)")
    con.executemany("INSERT INTO b VALUES (?,?)", [(1, 1), (2, 99)])  # b2 orphan
    con.executemany("INSERT INTO c VALUES (?,?)", [(1, 1), (2, 2)])   # c2 -> orphan b2
    con.commit()
    con.close()

    cfg = MigrationConfig(
        source_type="sqlite", source_dsn=db, target_dsn="spool://x", target_schema="app",
    )
    target = SpoolTarget(spark, str(tmp_path / "chain_out"))
    result = MigrationPipeline(
        spark, cfg, SqliteSource(db), target, map_sqlite_type, map_sqlite_default,
    ).run()
    assert result.ok
    rows = {r.table: r.rows_written for r in result.tables}
    assert rows == {"a": 1, "b": 1, "c": 1}  # b2 AND its dependent c2 removed


def test_self_referential_fk_cleaned(spark, tmp_path):
    """Self-FK: rows pointing at nonexistent rows of the SAME table are
    orphans (anti-join against the pre-clean snapshot, SQL DELETE semantics)."""
    import sqlite3 as sq3

    db = str(tmp_path / "selfref.db")
    con = sq3.connect(db)
    con.execute(
        "CREATE TABLE node (id INTEGER PRIMARY KEY, parent_id INTEGER REFERENCES node(id))"
    )
    con.executemany(
        "INSERT INTO node VALUES (?,?)",
        [(1, None), (2, 1), (3, 777)],  # 3 points at a nonexistent node
    )
    con.commit()
    con.close()

    cfg = MigrationConfig(
        source_type="sqlite", source_dsn=db, target_dsn="spool://x", target_schema="app",
    )
    target = SpoolTarget(spark, str(tmp_path / "self_out"))
    result = MigrationPipeline(
        spark, cfg, SqliteSource(db), target, map_sqlite_type, map_sqlite_default,
    ).run()
    assert result.ok
    out = spark.read.parquet(str(tmp_path / "self_out" / "node"))
    assert sorted(r["id"] for r in out.collect()) == [1, 2]  # NULL-parent row kept


def test_resumed_run_validates_with_prior_orphans(spark, blog_db, tmp_path):
    """A resume that skips a table whose earlier run removed orphans must
    still validate: the expected count is the rows the checkpoint says
    landed, not the source's row count."""
    ckpt = str(tmp_path / "rv.json")
    pipe1, target = make_pipeline(spark, blog_db, tmp_path, resume=True)
    pipe1.checkpoint = CheckpointManager(ckpt)
    assert pipe1.run().ok  # full run: comments lands with 10 rows (2 orphans removed)

    # simulate: second run resumes with every table already done
    pipe2, _ = make_pipeline(spark, blog_db, tmp_path, resume=True)
    pipe2.checkpoint = CheckpointManager(ckpt)
    schema = pipe2.source.introspect()
    tables = pipe2.select_tables(schema)
    from pgferry_spark.plans.checkpoint import compatibility_fingerprint

    fp = compatibility_fingerprint(
        {
            "source_type": "sqlite", "target_schema": "blog", "snake_case": True,
            "mode": "full", "unlogged": True, "chunk_size": 100_000,
            "type_mapping": vars(pipe2.cfg.type_mapping),
            "tables": {t.pg_name: [c.pg_name for c in t.columns] for t in tables},
        }
    )
    seeded = CheckpointManager(ckpt, fingerprint=fp)
    for t, rows in (("users", 5), ("posts", 5), ("comments", 10)):
        seeded.mark_table_done(t, rows=rows)
    result2 = pipe2.run()
    assert result2.ok  # validation passes: comments expected 10, not 12
    assert {v.table: v.source_rows for v in result2.validation}["comments"] == 10
    assert all(r.rows_written == 0 for r in result2.tables)


def test_self_fk_chunked_batches_keep_cross_batch_parents(spark, tmp_path):
    """A chunked self-FK table must anti-join against the FULL pre-clean
    snapshot, not the batch: in a 100-row parent chain (parent_id = id-1)
    with chunk_size=10, most rows' parents live in another batch — none of
    them are orphans. One seeded true orphan (id 50 -> 999) is removed, and
    its child survives (SQL DELETE NOT EXISTS evaluates pre-delete state)."""
    import sqlite3 as sq3

    db = str(tmp_path / "chainfk.db")
    con = sq3.connect(db)
    con.execute(
        "CREATE TABLE node (id INTEGER PRIMARY KEY, parent_id INTEGER REFERENCES node(id))"
    )
    rows = [(i, None if i == 1 else (999 if i == 50 else i - 1)) for i in range(1, 101)]
    con.executemany("INSERT INTO node VALUES (?,?)", rows)
    con.commit()
    con.close()

    cfg = MigrationConfig(
        source_type="sqlite", source_dsn=db, target_dsn="spool://x",
        target_schema="app", chunk_size=10, workers=1,
    )
    target = SpoolTarget(spark, str(tmp_path / "chainfk_out"))
    result = MigrationPipeline(
        spark, cfg, SqliteSource(db), target, map_sqlite_type, map_sqlite_default,
    ).run()
    assert result.ok  # validation: expected 99 == written 99
    res = result.tables[0]
    assert res.rows_written == 99
    assert res.orphans_removed == 1
    out = spark.read.parquet(str(tmp_path / "chainfk_out" / "node"))
    ids = sorted(r["id"] for r in out.collect())
    assert ids == [i for i in range(1, 101) if i != 50]


def test_resume_after_partition_commit_without_chunk_record(spark, tmp_path):
    """Production sinks commit per partition: a crash inside a batch write
    can leave its rows committed with NO chunk recorded. Resume must
    delete-then-insert those chunks' key ranges, landing count-exact."""
    import os
    import sqlite3 as sq3

    db = str(tmp_path / "torn.db")
    con = sq3.connect(db)
    con.execute("CREATE TABLE big (id INTEGER PRIMARY KEY, payload TEXT)")
    con.executemany("INSERT INTO big VALUES (?,?)", [(i, f"p{i}") for i in range(1, 501)])
    con.commit()
    con.close()

    ckpt = str(tmp_path / "torn_ckpt.json")

    def build(target):
        cfg = MigrationConfig(
            source_type="sqlite", source_dsn=db, target_dsn="spool://x",
            target_schema="app", chunk_size=50, workers=1, resume=True,
        )
        pipe = MigrationPipeline(
            spark, cfg, SqliteSource(db), target, map_sqlite_type, map_sqlite_default,
        )
        pipe.checkpoint = CheckpointManager(ckpt, flush_items=1)
        return pipe

    class TornWriteTarget(SpoolTarget):
        """Write N lands on disk (partitions committed) and THEN the crash
        hits — before any chunk of the batch is recorded."""

        def __init__(self, *a, tear_on: int, **kw):
            super().__init__(*a, **kw)
            self.writes = 0
            self.tear_on = tear_on

        def write(self, df, table, append=False):
            self.writes += 1
            rows = super().write(df, table, append=append)
            if self.writes == self.tear_on:
                raise RuntimeError("crash after partition commits")
            return rows

    out = str(tmp_path / "torn_out")
    # 10 chunks, batches of 4: batch 1 commits+records, batch 2 commits
    # its data then crashes unrecorded
    torn = TornWriteTarget(spark, out, tear_on=2)
    with pytest.raises(RuntimeError, match="crash after partition commits"):
        build(torn).run()
    assert os.path.exists(ckpt)
    # the torn batch's rows are on disk but not in the checkpoint
    assert spark.read.parquet(os.path.join(out, "big")).count() == 400

    resumed = SpoolTarget(spark, out)
    result = build(resumed).run()
    assert result.ok
    final = spark.read.parquet(os.path.join(out, "big"))
    assert final.count() == 500
    assert final.select("id").distinct().count() == 500  # no duplicates
    # the six pending chunks are adjacent: one purge covers them all
    assert [s for s in resumed.ddl if s.startswith("DELETE FROM big")] == [
        'DELETE FROM big WHERE "id" >= 201 AND "id" <= 500'
    ]


def _fk_db(path, script, rows):
    """SQLite file from a DDL script and ``{table: [row tuples]}``."""
    con = sqlite3.connect(path)
    con.executescript(script)
    for table, values in rows.items():
        marks = ",".join("?" * len(values[0]))
        con.executemany(f"INSERT INTO {table} VALUES ({marks})", values)
    con.commit()
    con.close()
    return path


def _chunked_pipeline(spark, db, target, ckpt=None, source=None):
    """chunk_size=10 and one SQLite worker: batches of 4 chunks (40 ids)."""
    cfg = MigrationConfig(
        source_type="sqlite", source_dsn=db, target_dsn="spool://x",
        target_schema="app", chunk_size=10, workers=1, resume=ckpt is not None,
    )
    pipe = MigrationPipeline(
        spark, cfg, source or SqliteSource(db), target,
        map_sqlite_type, map_sqlite_default,
    )
    if ckpt is not None:
        pipe.checkpoint = CheckpointManager(ckpt, flush_items=1)
    return pipe


class _CrashingTarget(SpoolTarget):
    """Raises instead of the ``crash_on``-th write of ``table``."""

    def __init__(self, *a, table: str, crash_on: int, **kw):
        super().__init__(*a, **kw)
        self.table, self.crash_on, self.writes = table, crash_on, 0

    def write(self, df, table, append=False):
        if table == self.table:
            self.writes += 1
            if self.writes == self.crash_on:
                raise RuntimeError("simulated crash")
        return super().write(df, table, append=append)


_NODE = "CREATE TABLE node (id INTEGER PRIMARY KEY, parent_id INTEGER REFERENCES node(id));"


@pytest.mark.parametrize("key, pg_key", [("order", "order"), ("OrderId", "order_id")])
def test_resume_with_a_reserved_or_renamed_chunk_key(spark, tmp_path, key, pg_key):
    """The chunk key is quoted in each dialect that evaluates it: a reserved
    word (``order``) reads from SQLite and purges from the target, and a key
    that snake-casing renames purges under its target name on resume."""
    db = _fk_db(str(tmp_path / "k.db"), f'CREATE TABLE t ("{key}" INTEGER PRIMARY KEY, v TEXT);', {
        "t": [(i, f"v{i}") for i in range(1, 101)],
    })
    ckpt, out = str(tmp_path / "ckpt.json"), str(tmp_path / "out")
    crashing = _CrashingTarget(spark, out, table="t", crash_on=2)
    with pytest.raises(RuntimeError, match="simulated crash"):
        _chunked_pipeline(spark, db, crashing, ckpt).run()

    resumed = SpoolTarget(spark, out)
    assert _chunked_pipeline(spark, db, resumed, ckpt).run().ok
    assert [s for s in resumed.ddl if s.startswith("DELETE")] == [
        f'DELETE FROM t WHERE "{pg_key}" >= 41 AND "{pg_key}" <= 100'
    ]
    landed = spark.read.parquet(out + "/t").select(pg_key).collect()
    assert sorted(r[0] for r in landed) == list(range(1, 101))


def test_resumed_self_fk_table_reports_removed_orphans(spark, tmp_path):
    """A resumed chunked self-FK table counts the orphans its re-moved
    batches dropped: ids 70 and 95 (chunks 6 and 9) point nowhere; id 30
    is an orphan of the batch the crashed run already landed."""
    dangling = {30: 999, 70: 888, 95: 777}
    db = _fk_db(str(tmp_path / "node.db"), _NODE, {
        "node": [(i, dangling.get(i, i - 1 or None)) for i in range(1, 101)],
    })
    ckpt, out = str(tmp_path / "ckpt.json"), str(tmp_path / "out")
    crashing = _CrashingTarget(spark, out, table="node", crash_on=2)
    with pytest.raises(RuntimeError, match="simulated crash"):
        _chunked_pipeline(spark, db, crashing, ckpt).run()

    result = _chunked_pipeline(spark, db, SpoolTarget(spark, out), ckpt).run()
    assert result.ok
    res = result.tables[0]
    assert (res.rows_written, res.orphans_removed) == (58, 2)
    assert spark.read.parquet(str(tmp_path / "out" / "node")).count() == 97


def test_resumed_table_checkpoint_keeps_earlier_chunk_rows(spark, tmp_path):
    """A resumed chunked table's checkpoint row total includes the rows the
    crashed run's recorded chunks landed, not only this run's. The full-mode
    resume runs no schema DDL: the crashed run made the schema and its
    tables, so CREATE SCHEMA would fail and a recreate's DROP SCHEMA would
    lose the landed rows."""
    db = _fk_db(str(tmp_path / "node.db"), _NODE, {
        "node": [(i, i - 1 or None) for i in range(1, 101)],
    })
    ckpt, out = str(tmp_path / "ckpt.json"), str(tmp_path / "out")
    crashing = _CrashingTarget(spark, out, table="node", crash_on=2)
    with pytest.raises(RuntimeError, match="simulated crash"):
        _chunked_pipeline(spark, db, crashing, ckpt).run()
    assert any(s.startswith("CREATE SCHEMA") for s in crashing.ddl)

    resumed = SpoolTarget(spark, out)
    pipe = _chunked_pipeline(spark, db, resumed, ckpt)
    assert pipe.run().ok
    assert not [s for s in resumed.ddl if s.startswith(("CREATE SCHEMA", "CREATE TABLE"))]
    assert pipe.checkpoint.tables["node"].rows == 100
    assert spark.read.parquet(out + "/node").count() == 100


def test_resume_after_a_crash_in_the_first_write_runs_no_schema_ddl(spark, tmp_path):
    """A full-mode run that crashes after its schema DDL, before its first
    batch lands, leaves a checkpoint: the resume runs no CREATE SCHEMA or
    CREATE TABLE (CREATE SCHEMA fails on a real target) and lands every
    row."""
    db = _fk_db(str(tmp_path / "node.db"), _NODE, {
        "node": [(i, i - 1 or None) for i in range(1, 101)],
    })
    ckpt, out = str(tmp_path / "ckpt.json"), str(tmp_path / "out")
    crashing = _CrashingTarget(spark, out, table="node", crash_on=1)
    with pytest.raises(RuntimeError, match="simulated crash"):
        _chunked_pipeline(spark, db, crashing, ckpt).run()
    assert any(s.startswith("CREATE SCHEMA") for s in crashing.ddl)

    resumed = SpoolTarget(spark, out)
    assert _chunked_pipeline(spark, db, resumed, ckpt).run().ok
    assert not [s for s in resumed.ddl if s.startswith(("CREATE SCHEMA", "CREATE TABLE"))]
    assert spark.read.parquet(out + "/node").count() == 100


def test_sqlite_source_quotes_identifiers(tmp_path):
    """Table names with an embedded double quote count and probe their key
    range like any other."""
    db = str(tmp_path / "quote.db")
    con = sqlite3.connect(db)
    con.execute('CREATE TABLE "we""ird" (id INTEGER PRIMARY KEY, v TEXT)')
    con.executemany('INSERT INTO "we""ird" VALUES (?, ?)', [(3, "a"), (5, "b"), (9, "c")])
    con.commit()
    con.close()
    src = SqliteSource(db)
    (table,) = src.introspect().tables
    assert table.source_name == 'we"ird'
    assert src.count(table) == 3
    assert src.min_max(table, "id") == (3, 9)


_FAMILY = """
CREATE TABLE parent (id INTEGER PRIMARY KEY, parent_id INTEGER REFERENCES parent(id));
CREATE TABLE child (id INTEGER PRIMARY KEY, parent_id INTEGER NOT NULL REFERENCES parent(id));
CREATE TABLE grandchild (id INTEGER PRIMARY KEY, child_id INTEGER NOT NULL REFERENCES child(id));
"""


def test_fresh_run_reads_each_table_once(spark, tmp_path):
    """A fresh table that fits in one batch is read once: that read is its
    self-FK snapshot, and the key set its children clean against comes
    from the target."""
    db = _fk_db(str(tmp_path / "family.db"), _FAMILY, {
        "parent": [(i, i - 1 or None) for i in range(1, 31)],  # 3 chunks
        "child": [(i, 999 if i == 7 else i % 30 + 1) for i in range(1, 41)],  # 4 chunks
        "grandchild": [(i, i) for i in range(1, 21)],  # 2 chunks
    })

    class CountingSource(SqliteSource):
        def __init__(self, *a, **kw):
            super().__init__(*a, **kw)
            self.reads = {}

        def read_table(self, spark, table, predicates):
            self.reads[table.pg_name] = self.reads.get(table.pg_name, 0) + 1
            return super().read_table(spark, table, predicates)

    src = CountingSource(db)
    target = SpoolTarget(spark, str(tmp_path / "out"))
    result = _chunked_pipeline(spark, db, target, source=src).run()
    assert result.ok
    assert src.reads == {"parent": 1, "child": 1, "grandchild": 1}
    rows = {r.table: (r.rows_written, r.orphans_removed) for r in result.tables}
    # child 7 is an orphan, and so is grandchild 7 that references it
    assert rows == {"parent": (30, 0), "child": (39, 1), "grandchild": (19, 1)}


def test_sqlite_run_reads_counts_and_probes_through_one_connection(
    spark, tmp_path, monkeypatch,
):
    """Every read, count and MIN/MAX probe of a SQLite run shares one
    source connection; introspection opens its own."""
    import sys

    from pgferry_spark.sources import sqlite_introspect as sq

    db = _fk_db(str(tmp_path / "family.db"), _FAMILY + "CREATE TABLE solo (id INTEGER PRIMARY KEY);", {
        "parent": [(i, i - 1 or None) for i in range(1, 31)],
        "child": [(i, i % 30 + 1) for i in range(1, 41)],
        "grandchild": [(i, i) for i in range(1, 21)],
        "solo": [(i,) for i in range(1, 26)],
    })
    opened, open_readonly = [], sq.open_readonly

    def spy(path, **kw):
        if sys._getframe(1).f_code.co_name not in (
            "introspect_schema", "introspect_source_objects",
        ):
            opened.append(path)
        return open_readonly(path, **kw)

    monkeypatch.setattr(sq, "open_readonly", spy)
    target = SpoolTarget(spark, str(tmp_path / "out"))
    result = _chunked_pipeline(spark, db, target).run()
    assert result.ok and len(result.tables) == 4
    assert opened == [db]


def test_sqlite_validation_counts_on_the_pool_thread(spark, tmp_path):
    """With the advisor off, a table without FK validates against a source
    COUNT(*) issued from the validation pool's thread, on the connection the
    run's reads opened on the main thread."""
    import threading

    db = _fk_db(str(tmp_path / "solo.db"), "CREATE TABLE solo (id INTEGER PRIMARY KEY, v TEXT);", {
        "solo": [(i, f"v{i}") for i in range(1, 26)],
    })
    threads = []

    class Source(SqliteSource):
        def count(self, table):
            threads.append(threading.current_thread())
            return super().count(table)

    cfg = MigrationConfig(
        source_type="sqlite", source_dsn=db, target_dsn="spool://x",
        target_schema="app", chunk_size=10, advise=False,
    )
    result = MigrationPipeline(
        spark, cfg, Source(db), SpoolTarget(spark, str(tmp_path / "out")),
        map_sqlite_type, map_sqlite_default,
    ).run()
    assert result.ok
    assert [(v.table, v.source_rows, v.target_rows) for v in result.validation] == [
        ("solo", 25, 25)
    ]
    assert threads and threading.main_thread() not in threads


_NOTED_FAMILY = """
CREATE TABLE parent (id INTEGER PRIMARY KEY, parent_id INTEGER REFERENCES parent(id), note TEXT);
CREATE TABLE child (id INTEGER PRIMARY KEY, parent_id INTEGER NOT NULL REFERENCES parent(id), note TEXT);
CREATE TABLE grandchild (id INTEGER PRIMARY KEY, child_id INTEGER NOT NULL REFERENCES child(id), note TEXT);
"""


def _crashed_noted_family(spark, tmp_path):
    """The family with a payload column, 3 batches per table (child 50
    dangles, and so grandchild 50 with it), after a run that crashed
    instead of the grandchild's 2nd batch write: parent and child are done,
    the grandchild's first batch (ids 1-40) is landed and recorded.
    Returns the database, checkpoint and target paths."""
    db = _fk_db(str(tmp_path / "noted.db"), _NOTED_FAMILY, {
        "parent": [(i, i - 1 or None, f"p{i}") for i in range(1, 101)],
        "child": [(i, 999 if i == 50 else i, f"c{i}") for i in range(1, 101)],
        "grandchild": [(i, i, f"g{i}") for i in range(1, 101)],
    })
    ckpt, out = str(tmp_path / "ckpt.json"), str(tmp_path / "out")
    crashing = _CrashingTarget(spark, out, table="grandchild", crash_on=2)
    with pytest.raises(RuntimeError, match="simulated crash"):
        _chunked_pipeline(spark, db, crashing, ckpt).run()
    return db, ckpt, out


class _ReadLog(SqliteSource):
    """Records every read as (table, column names, chunked)."""

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.reads = []

    def read_table(self, spark, table, predicates):
        self.reads.append((table.pg_name, [c.pg_name for c in table.columns], bool(predicates)))
        return super().read_table(spark, table, predicates)


def test_resume_reads_no_done_table_and_validates_without_reads(
    spark, tmp_path, monkeypatch,
):
    """The resume reads no row of the done parent and child (the key sets
    the grandchild cleans against come from the target's landed rows),
    re-moves the grandchild's 2 pending batches at full width, and
    validates from the checkpoint's row totals with no source read."""
    import pgferry_spark.pipeline as P

    db, ckpt, out = _crashed_noted_family(spark, tmp_path)
    src = _ReadLog(db)
    validate, during = P.validate_row_counts, []

    def spied(*a, **kw):
        n = len(src.reads)
        try:
            return validate(*a, **kw)
        finally:
            during.append(src.reads[n:])

    monkeypatch.setattr(P, "validate_row_counts", spied)
    result = _chunked_pipeline(spark, db, SpoolTarget(spark, out), ckpt, source=src).run()
    assert result.ok
    assert during == [[]]
    full = ["id", "child_id", "note"]
    assert src.reads == [("grandchild", full, True), ("grandchild", full, True)]
    expected = {v.table: v.source_rows for v in result.validation}
    assert expected == {"parent": 100, "child": 99, "grandchild": 99}
    assert spark.read.parquet(out + "/grandchild").count() == 99


@pytest.mark.parametrize("tamper", ["drop", "duplicate"])
def test_validation_fails_on_a_batch_changed_behind_the_checkpoint(spark, tmp_path, tamper):
    """A landed, recorded batch dropped from or duplicated in the target
    between the crash and the resume fails that table's validation: the
    target no longer holds the rows the checkpoint says landed."""
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    db, ckpt, out = _crashed_noted_family(spark, tmp_path)
    landed = os.path.join(out, "grandchild")
    batch = pq.read_table(landed)
    assert batch.num_rows == 40
    shutil.rmtree(landed)
    os.makedirs(landed)
    pq.write_table(
        batch.slice(0, 0) if tamper == "drop" else pa.concat_tables([batch, batch]),
        os.path.join(landed, "part-0.parquet"),
    )
    result = _chunked_pipeline(spark, db, SpoolTarget(spark, out), ckpt).run()
    assert not result.ok
    assert [v.table for v in result.validation if not v.ok] == ["grandchild"]


def test_chunked_child_sums_orphans_across_batches(spark, tmp_path):
    """A DELETE-rule child moved in 3 batches reports every batch's orphans."""
    db = _fk_db(str(tmp_path / "orph.db"), _FAMILY, {
        "parent": [(i, None) for i in range(1, 11)],
        "child": [(i, 999 if i in (5, 55, 95) else i % 10 + 1) for i in range(1, 101)],
        "grandchild": [(1, 1)],
    })
    result = _chunked_pipeline(spark, db, SpoolTarget(spark, str(tmp_path / "out"))).run()
    assert result.ok
    child = next(r for r in result.tables if r.table == "child")
    assert (child.chunks, child.rows_written, child.orphans_removed) == (10, 97, 3)


def test_failed_run_releases_persisted_frames(spark, tmp_path):
    """A target that raises mid-table leaves no persisted frame behind: the
    parent's self-FK snapshot and its key set, and the parents' key sets
    are all released."""
    db = _fk_db(str(tmp_path / "leak.db"), _FAMILY, {
        "parent": [(i, i - 1 or None) for i in range(1, 101)],  # 3 batches
        "child": [(i, i) for i in range(1, 41)],  # 1 batch
        "grandchild": [(i, i % 40 + 1) for i in range(1, 101)],
    })
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    crashing = _CrashingTarget(spark, str(tmp_path / "out"), table="grandchild", crash_on=2)
    with pytest.raises(RuntimeError, match="simulated crash"):
        _chunked_pipeline(spark, db, crashing).run()
    assert set(jsc.getPersistentRDDs().keys()) == before


_GRANDCHILD_SET_NULL = _FAMILY.replace(
    "child_id INTEGER NOT NULL REFERENCES child(id));",
    "child_id INTEGER NOT NULL REFERENCES child(id),"
    " parent_id INTEGER REFERENCES parent(id) ON DELETE SET NULL);",
)


def _orphan_family(path, rows=100):
    """Chunked family, 3 batches per table (2 at 60 ``rows``): a self-FK
    parent chain with one dangling row (60), a child with 3 dangling rows
    (2 at 60 rows), and a grandchild whose DELETE-rule FK to the child and
    SET NULL FK to the parent both dangle in several batches."""
    ids = range(1, rows + 1)
    return _fk_db(path, _GRANDCHILD_SET_NULL, {
        "parent": [(i, 999 if i == 60 else i - 1 or None) for i in ids],
        "child": [(i, 888 if i in (9, 49, 89) else i) for i in ids],
        "grandchild": [
            (i, 777 if i in (5, 45, 85) else i, 555 if i in (7, 47) else i)
            for i in ids
        ],
    })


def test_orphan_counting_runs_no_job_outside_the_write(
    spark, tmp_path, monkeypatch, jobs_in_group,
):
    """Counting removed orphans costs no Spark job: inside
    ``clean_orphans`` every job belongs to the target's write."""
    import uuid

    sc = spark.sparkContext
    group = f"clean-orphans-{uuid.uuid4().hex}"
    clean = MigrationPipeline.clean_orphans

    def spied(self, *a, **kw):
        sc.setJobGroup(group, "clean_orphans")
        try:
            return clean(self, *a, **kw)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    class GroupedWrites(SpoolTarget):
        def write(self, df, table, append=False):
            outer = sc.getLocalProperty("spark.jobGroup.id")
            sc.setJobGroup(group + "-write", "write")
            try:
                return super().write(df, table, append=append)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", outer)

    monkeypatch.setattr(MigrationPipeline, "clean_orphans", spied)
    db = _orphan_family(str(tmp_path / "spy.db"))
    result = _chunked_pipeline(spark, db, GroupedWrites(spark, str(tmp_path / "out"))).run()
    assert result.ok
    removed = {r.table: r.orphans_removed for r in result.tables}
    assert removed == {"parent": 1, "child": 4, "grandchild": 7}
    assert jobs_in_group(group + "-write")
    assert not jobs_in_group(group)


def test_chunked_family_job_budget(spark, tmp_path, jobs_in_group):
    """A whole fresh run of the chunked family (9 batches) stays within a
    job budget: orphan counts are observed in the write jobs, each
    parent's key set is projected once from its landed rows, and each
    batch write is one pass over its read (27 jobs). Building each key set
    from a source re-read with the parent's FK rules run again took 30;
    cleaning against persisted full-width parent frames, with a two-scan
    DELETE rule and every batch read persisted, took 64; counting with two
    ``count()`` jobs per DELETE batch took 153."""
    db = _orphan_family(str(tmp_path / "budget.db"))
    j0 = jobs_in_group(None)
    result = _chunked_pipeline(spark, db, SpoolTarget(spark, str(tmp_path / "out"))).run()
    assert result.ok
    assert len(jobs_in_group(None) - j0) <= 29


def test_grandchild_orphans_exact_with_delete_and_set_null_fks(spark, tmp_path):
    """Only the DELETE-rule FK removes rows, in all 3 batches: 3 dangling
    child ids and 4 references to removed child rows (child 60 lost its
    parent). The 2 dangling parent ids are nulled."""
    db = _orphan_family(str(tmp_path / "gc.db"))
    out = str(tmp_path / "out")
    result = _chunked_pipeline(spark, db, SpoolTarget(spark, out)).run()
    assert result.ok
    gc = next(r for r in result.tables if r.table == "grandchild")
    dropped = {5, 45, 85, 9, 49, 89, 60}
    assert (gc.chunks, gc.orphans_removed, gc.rows_written) == (10, 7, 93)
    rows = spark.read.parquet(str(tmp_path / "out" / "grandchild")).collect()
    assert sorted(r["id"] for r in rows) == [i for i in range(1, 101) if i not in dropped]
    assert sorted(r["id"] for r in rows if r["parent_id"] is None) == [7, 47]


def test_empty_table_with_delete_rule_fk_reports_zero(spark, tmp_path):
    """A zero-row child still resolves its row-count observations."""
    db = _fk_db(str(tmp_path / "empty.db"), _FAMILY, {
        "parent": [(i, None) for i in range(1, 11)],
        "child": [(1, 1)],
    })
    result = _chunked_pipeline(spark, db, SpoolTarget(spark, str(tmp_path / "out"))).run()
    assert result.ok
    assert {r.table: (r.rows_written, r.orphans_removed) for r in result.tables} == {
        "parent": (10, 0), "child": (1, 0), "grandchild": (0, 0),
    }


def test_two_fks_to_one_parent_share_its_key_set(spark, tmp_path):
    """Both FKs of ``doc`` reference ``users(id)``, so both join the one
    key set of ``users``: the DELETE rule drops doc 3, the SET NULL rule
    nulls doc 2's ``updated_by``."""
    db = _fk_db(str(tmp_path / "two.db"), """
        CREATE TABLE users (id INTEGER PRIMARY KEY, name TEXT);
        CREATE TABLE doc (id INTEGER PRIMARY KEY,
          created_by INTEGER REFERENCES users(id),
          updated_by INTEGER REFERENCES users(id) ON DELETE SET NULL);
    """, {"users": [(1, "a"), (2, "b")], "doc": [(1, 1, 2), (2, 2, 9), (3, 9, 1)]})
    out = str(tmp_path / "out")
    result = _chunked_pipeline(spark, db, SpoolTarget(spark, out)).run()
    assert result.ok
    doc = next(r for r in result.tables if r.table == "doc")
    assert (doc.rows_written, doc.orphans_removed) == (2, 1)
    rows = spark.read.parquet(str(tmp_path / "out" / "doc")).collect()
    assert sorted(map(tuple, rows)) == [(1, 1, 2), (2, 2, None)]


def test_spool_directories_removed_after_run(spark, tmp_path, monkeypatch):
    """SQLite reads spool through temp dirs; a finished run, successful or
    failed, leaves none behind."""
    import tempfile

    spool_root = tmp_path / "tmp"
    spool_root.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(spool_root))
    db = _orphan_family(str(tmp_path / "spool.db"))
    result = _chunked_pipeline(spark, db, SpoolTarget(spark, str(tmp_path / "ok"))).run()
    assert result.ok
    assert not list(spool_root.glob("pgferry_spool_*"))
    crashing = _CrashingTarget(spark, str(tmp_path / "bad"), table="grandchild", crash_on=2)
    with pytest.raises(RuntimeError, match="simulated crash"):
        _chunked_pipeline(spark, db, crashing).run()
    assert not list(spool_root.glob("pgferry_spool_*"))


def test_spool_delete_where_runs_one_job(spark, tmp_path, jobs_in_group):
    """A purge is one Spark job, its rewrite: the scan takes the footer's
    schema instead of running a job to infer one."""
    target = SpoolTarget(spark, str(tmp_path / "out"))
    assert target.write(spark.range(1, 101), "t") == 100
    before = jobs_in_group(None)
    target.delete_where("t", '"id" >= 41 AND "id" <= 100')
    assert len(jobs_in_group(None) - before) == 1
    ids = target.read("t", StructType([StructField("id", LongType())]))
    assert sorted(r.id for r in ids.collect()) == list(range(1, 41))


_KEYED_FAMILY = """
CREATE TABLE parent (id INTEGER PRIMARY KEY, parent_id INTEGER REFERENCES parent(id));
CREATE TABLE pair (a INTEGER, b INTEGER, parent_id INTEGER NOT NULL REFERENCES parent(id),
  PRIMARY KEY (a, b));
CREATE TABLE child (id INTEGER PRIMARY KEY, a INTEGER, b INTEGER,
  code INTEGER REFERENCES parent(id) ON DELETE SET NULL,
  FOREIGN KEY (a, b) REFERENCES pair(a, b));
CREATE TABLE grandchild (id INTEGER PRIMARY KEY, code INTEGER NOT NULL REFERENCES child(code));
"""


def _keyed_family(path, seed):
    """Seeded family with a composite key and a key column that a SET NULL
    rule nulls: a self-FK parent (2 dangling rows), ``pair`` keyed by
    ``(a, b)`` (2 rows whose parent is gone), a chunked child whose
    composite FK dangles or is NULL and whose ``code`` FK to the parent is
    nulled when it dangles, and a grandchild referencing ``child(code)``."""
    import random

    rng = random.Random(seed)
    dangling = set(rng.sample(range(2, 51), 2))
    parent = [(i, 900 + i if i in dangling else i - 1 or None) for i in range(1, 51)]
    gone = sorted(dangling)  # the parent rows the self-FK rule removes
    pairs = [(a, b, rng.randint(1, 50)) for a in range(1, 9) for b in range(1, 6)]
    pairs[0], pairs[1] = (1, 1, gone[0]), (1, 2, 777)
    child = []
    for i in range(1, 61):
        a, b = rng.choice([(a, b) for a, b, _ in pairs] + [(99, 1), (None, 3)])
        child.append((i, a, b, rng.choice([rng.randint(1, 50), 600 + i])))
    codes = [c[3] for c in child]
    grandchild = [(i, rng.choice(codes)) for i in range(1, 41)]
    return _fk_db(path, _KEYED_FAMILY, {
        "parent": parent, "pair": pairs, "child": child, "grandchild": grandchild,
    })


def _key_rows(df):
    return {tuple(r) for r in df.collect()}


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_key_sets_from_the_target_equal_key_sets_of_the_cleaned_source(
    spark, tmp_path, seed,
):
    """Each referenced table's key set projected from its landed rows is the
    key set of its whole source read with its FK rules applied: the
    composite ``pair(a, b)`` and ``child(code)``, whose dangling codes the
    SET NULL rule nulled."""
    from pgferry_spark.operators.orphans import parent_keys

    db = _keyed_family(str(tmp_path / "keyed.db"), seed)
    pipe = _chunked_pipeline(spark, db, SpoolTarget(spark, str(tmp_path / "out")))
    assert pipe.run().ok
    assert pipe._referenced == {"parent": {("id",)}, "pair": {("a", "b")}, "child": {("code",)}}
    rebuilt = _chunked_pipeline(spark, db, SpoolTarget(spark, str(tmp_path / "unused")))
    tables = _parents_first(pipe.source.introspect().tables)
    try:
        for t in tables:
            if t.pg_name not in pipe._referenced:
                continue
            pipe._build_key_sets(t)
            cleaned, _ = rebuilt._apply_fk_rules(rebuilt._read_transformed(t, None), t)
            for ref in pipe._referenced[t.pg_name]:
                keys = parent_keys(cleaned, list(ref))
                # collected: a fresh frame per key set, as a persisted one
                # read back from a target is
                keys = spark.createDataFrame(keys.collect(), keys.schema)
                rebuilt._key_sets[(t.pg_name, ref)] = keys
                assert _key_rows(pipe._key_sets[(t.pg_name, ref)]) == _key_rows(
                    rebuilt._key_sets[(t.pg_name, ref)]
                ), (t.pg_name, ref)
        pairs = _key_rows(pipe._key_sets[("pair", ("a", "b"))])
        assert len(pairs) < 40 and (1, 2) not in pairs
        assert (None,) in _key_rows(pipe._key_sets[("child", ("code",))])
    finally:
        for keys in pipe._key_sets.values():
            keys.unpersist()
        rebuilt.source.close()


class _Crash(Exception):
    pass


class _CrashAt(SpoolTarget):
    """Raises ``_Crash`` before the ``at``-th data write of a run runs or
    after it lands (``when``), or right after a purge lands."""

    def __init__(self, *a, at: int = 0, when: str, **kw):
        super().__init__(*a, **kw)
        self.at, self.when, self.writes = at, when, 0

    def write(self, df, table, append=False):
        self.writes += 1
        if (self.writes, self.when) == (self.at, "before"):
            raise _Crash
        rows = super().write(df, table, append=append)
        if (self.writes, self.when) == (self.at, "after"):
            raise _Crash
        return rows

    def delete_where(self, table, predicate):
        super().delete_where(table, predicate)
        if self.when == "purge":
            raise _Crash


def _landed(spark, out):
    return {
        t: sorted(map(tuple, spark.read.parquet(f"{out}/{t}").collect()), key=lambda r: r[0])
        for t in ("parent", "child", "grandchild")
    }


@pytest.fixture(scope="module")
def _crash_family(spark, tmp_path_factory):
    """The 60-row orphan family (2 batches per table, 6 writes) and the
    rows an uncrashed run lands."""
    root = tmp_path_factory.mktemp("crash_family")
    db = _orphan_family(str(root / "family.db"), rows=60)
    out = str(root / "out")
    assert _chunked_pipeline(spark, db, SpoolTarget(spark, out)).run().ok
    return db, _landed(spark, out)


@pytest.mark.parametrize("when", ["before", "after"])
@pytest.mark.parametrize("write", range(1, 7))
def test_resume_after_a_crash_anywhere_lands_the_uncrashed_rows(
    spark, tmp_path, _crash_family, write, when,
):
    """Crash before or after any write lands, resume (crashing once more
    right after the resume's purge, when it purges), and the target holds
    exactly the rows of an uncrashed run. A crash in a table's 2nd batch
    leaves its 1st recorded, so the resume purges."""
    db, want = _crash_family
    ckpt, out = str(tmp_path / "ckpt.json"), str(tmp_path / "out")
    with pytest.raises(_Crash):
        _chunked_pipeline(spark, db, _CrashAt(spark, out, at=write, when=when), ckpt).run()
    purged = False
    try:
        result = _chunked_pipeline(spark, db, _CrashAt(spark, out, when="purge"), ckpt).run()
    except _Crash:
        purged = True
        result = _chunked_pipeline(spark, db, SpoolTarget(spark, out), ckpt).run()
    assert result.ok
    assert purged == (write % 2 == 0)
    assert _landed(spark, out) == want


class TestContentDiff:
    def test_all_four_statuses(self, spark):
        from pgferry_spark.plans.validation import content_diff

        src = spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
        )
        tgt = spark.createDataFrame(
            [(1, "a"), (2, "CHANGED"), (4, "d")], "k long, v string"
        )
        got = {r.status: r.n_rows for r in content_diff(src, tgt, ["k"], ["v"]).collect()}
        assert got == {
            "equal": 1, "changed": 1, "only_in_source": 1, "only_in_target": 1,
        }

    def test_null_differs_from_empty_and_concat_is_unambiguous(self, spark):
        from pgferry_spark.plans.validation import content_diff

        src = spark.createDataFrame(
            [(1, None, "x"), (2, "ab", "c")], "k long, a string, b string"
        )
        tgt = spark.createDataFrame(
            [(1, "", "x"), (2, "a", "bc")], "k long, a string, b string"
        )
        got = {r.status: r.n_rows for r in content_diff(src, tgt, ["k"], ["a", "b"]).collect()}
        # NULL vs '' must differ; ("ab","c") vs ("a","bc") must differ
        assert got == {"changed": 2}

    def test_equal_counts_can_hide_drift_that_diff_catches(self, spark):
        from pgferry_spark.plans.validation import content_diff

        # same row count both sides (the reference's validation passes),
        # but one row swapped for another
        src = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
        tgt = spark.createDataFrame([(1, "a"), (9, "z")], "k long, v string")
        assert src.count() == tgt.count()
        got = {r.status: r.n_rows for r in content_diff(src, tgt, ["k"], ["v"]).collect()}
        assert got == {"equal": 1, "only_in_source": 1, "only_in_target": 1}


class TestPsiDrift:
    def test_identical_distributions_score_zero(self, spark):
        from pgferry_spark.plans.validation import psi_drift

        df = spark.createDataFrame([(float(i),) for i in range(100)], "v double")
        r = psi_drift(df, df, "v").collect()[0]
        assert r.psi == 0.0 and r.n_old == r.n_new == 100

    def test_shift_scores_above_action_threshold(self, spark):
        from pgferry_spark.plans.validation import psi_drift

        old = spark.createDataFrame([(float(i),) for i in range(100)], "v double")
        # whole population shifted past the old max -> lands in edge bin
        new = spark.createDataFrame([(float(i) + 1000,) for i in range(100)], "v double")
        r = psi_drift(old, new, "v").collect()[0]
        assert r.psi > 0.25  # "action" reading

    def test_moderate_shift_between_thresholds(self, spark):
        from pgferry_spark.plans.validation import psi_drift

        old = spark.createDataFrame([(float(i % 100),) for i in range(1000)], "v double")
        # 15% of mass moved to the top decile
        new = spark.createDataFrame(
            [(float(i % 100),) for i in range(850)]
            + [(95.0,) for _ in range(150)],
            "v double",
        )
        r = psi_drift(old, new, "v").collect()[0]
        assert 0.0 < r.psi < 0.25


def test_extension_wiring_in_pipeline(spark, blog_db, tmp_path):
    """ensure_extensions: no-query targets skip with the plan report still
    listing the requirement; probing targets get the real decision table."""
    from pgferry_spark.catalog.model import Column, Table

    pipe, target = make_pipeline(spark, blog_db, tmp_path)
    pipe.cfg.type_mapping.ci_as_citext = True
    ci_tables = [
        Table("t", "t", columns=[
            Column("name", "name", "varchar", collation="utf8mb4_general_ci"),
        ])
    ]
    # SpoolTarget exposes no query(): catalog probe impossible -> documented skip
    assert pipe.ensure_extensions(ci_tables) == []

    created = []

    class ProbingTarget:
        def query(self, sql):
            if sql.startswith("CREATE"):
                created.append(sql)
                return []
            return [(False, True)]  # not installed, available

    pipe.target = ProbingTarget()
    assert pipe.ensure_extensions(ci_tables) == ["citext: created (ci_as_citext)"]
    assert created == ['CREATE EXTENSION IF NOT EXISTS "citext"']
    # schema without CI columns -> no requirements, no probes
    created.clear()
    assert pipe.ensure_extensions([]) == []
    assert created == []


def test_run_ensures_extensions_before_ddl(spark, blog_db, tmp_path):
    order = []

    class Spy(MigrationPipeline):
        def ensure_extensions(self, tables):
            order.append("extensions")
            return super().ensure_extensions(tables)

        def create_schema_objects(self, tables):
            order.append("ddl")
            return super().create_schema_objects(tables)

    cfg = MigrationConfig(
        source_type="sqlite", source_dsn=blog_db, target_schema="blog",
        target_dsn="spool://x",
    )
    target = SpoolTarget(spark, str(tmp_path / "targ2"))
    result = Spy(
        spark, cfg, SqliteSource(blog_db), target,
        map_sqlite_type, map_sqlite_default,
    ).run()
    assert result.ok
    assert order[:2] == ["extensions", "ddl"]
