"""The plan advisor WIRED into the migration pipeline (VERDICT r4 ask #3):
measured source stats -> plans/advisor.py -> applied session conf +
broadcast hints + plan-report advice section.  Companion to
test_advisor.py's pure-rule tests."""

import sqlite3

import pytest

from pgferry_spark.backends import SpoolTarget, SqliteSource
from pgferry_spark.config import MigrationConfig
from pgferry_spark.pipeline import MigrationPipeline
from pgferry_spark.types import map_sqlite_default, map_sqlite_type


@pytest.fixture()
def skewed_db(tmp_path):
    """Parent/child with a measured hot FK key: 180 of 200 child rows hang
    off parent 1 (share 0.9 >> 1/parallelism)."""
    path = str(tmp_path / "skew.db")
    con = sqlite3.connect(path)
    con.executescript(
        """
        CREATE TABLE dims (id INTEGER PRIMARY KEY, label TEXT);
        CREATE TABLE facts (
          id INTEGER PRIMARY KEY,
          dim_id INTEGER NOT NULL,
          payload TEXT,
          FOREIGN KEY (dim_id) REFERENCES dims(id)
        );
        """
    )
    con.executemany("INSERT INTO dims VALUES (?,?)", [(i, f"d{i}") for i in range(1, 21)])
    rows = [(i, 1 if i <= 180 else (i % 20) + 1, f"p{i}") for i in range(1, 201)]
    con.executemany("INSERT INTO facts VALUES (?,?,?)", rows)
    con.commit()
    con.close()
    return path


def _run(spark, db, tmp_path, **cfg_kw):
    cfg = MigrationConfig(
        source_type="sqlite", source_dsn=db, target_dsn="spool://x",
        target_schema="adv", **cfg_kw,
    )
    target = SpoolTarget(spark, str(tmp_path / "target"))
    pipe = MigrationPipeline(
        spark, cfg, SqliteSource(db), target, map_sqlite_type, map_sqlite_default,
    )
    return pipe, pipe.run()


@pytest.fixture()
def restore_conf(spark):
    keys = [
        "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.skewJoin.enabled",
    ]
    before = {k: spark.conf.get(k, None) for k in keys}
    yield
    for k, v in before.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def test_advice_applied_and_reported(spark, skewed_db, tmp_path, restore_conf):
    """Broadcast-sized parent -> recorded as a broadcast parent, shuffle
    partition conf actually set, advice in the plan report (text + dict)."""
    pipe, result = _run(spark, skewed_db, tmp_path)
    assert result.ok
    advice = result.report.advice
    assert advice, "advisor produced no advice"
    assert advice["broadcast_parents"] == ["dims"]
    assert advice["joins"]["facts->dims"]["strategy"] == "broadcast"
    applied = advice["conf"]["spark.sql.shuffle.partitions"]
    assert spark.conf.get("spark.sql.shuffle.partitions") == applied
    assert pipe._broadcast_parents == frozenset({"dims"})
    text = result.report.to_text()
    assert "Physical-plan advice" in text
    assert "broadcast FK parents: dims" in text
    # correctness unchanged by the hints
    rows = {r.table: r.rows_written for r in result.tables}
    assert rows == {"dims": 20, "facts": 200}


def test_skewed_fixture_changes_applied_conf(spark, skewed_db, tmp_path, restore_conf):
    """With the parent forced past the (tiny) broadcast threshold, the
    MEASURED 0.9 hot-key share must turn on AQE skew-join handling, and a
    tiny partition-size target must raise the shuffle-partition conf above
    the session default — the conf provably follows the fixture."""
    before = spark.conf.get("spark.sql.shuffle.partitions")
    pipe, result = _run(
        spark, skewed_db, tmp_path,
        advisor_skew_min_rows=1,
        advisor_broadcast_threshold=1,      # nothing broadcasts
        advisor_target_partition_bytes=64,  # ~200-row facts -> many partitions
    )
    assert result.ok
    advice = result.report.advice
    join = advice["joins"]["facts->dims"]
    assert join["strategy"] == "salted_shuffle"
    assert join["salt_factor"] >= 2
    assert advice["conf"]["spark.sql.adaptive.skewJoin.enabled"] == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    applied = int(advice["conf"]["spark.sql.shuffle.partitions"])
    assert applied > int(before)
    assert spark.conf.get("spark.sql.shuffle.partitions") == str(applied)


def test_advise_off_leaves_conf_alone(spark, skewed_db, tmp_path, restore_conf):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    _, result = _run(spark, skewed_db, tmp_path, advise=False)
    assert result.ok
    assert result.report.advice == {}
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_validation_reuses_advisor_counts(spark, skewed_db, tmp_path, restore_conf):
    """The advisor's plan-time COUNT(*) is the validation expected count for
    FK-free tables — no second source count."""
    pipe, result = _run(spark, skewed_db, tmp_path)
    assert result.ok
    assert pipe._source_counts == {"dims": 20, "facts": 200}
    assert result.validation and all(v.ok for v in result.validation)


def test_skew_probe_reads_only_the_fk_column(spark, skewed_db, tmp_path, restore_conf, monkeypatch):
    """The advisor's skew profile of ``facts.dim_id`` asks the source for
    that one column, not the whole table, and still measures the hot key."""
    reads, probe = [], []

    class ReadLog(SqliteSource):
        def read_table(self, spark, table, predicates):
            reads.append((table.pg_name, [c.pg_name for c in table.columns]))
            return super().read_table(spark, table, predicates)

    advise = MigrationPipeline.plan_advice

    def spied(self, tables):
        n = len(reads)
        try:
            return advise(self, tables)
        finally:
            probe.extend(reads[n:])

    monkeypatch.setattr(MigrationPipeline, "plan_advice", spied)
    cfg = MigrationConfig(
        source_type="sqlite", source_dsn=skewed_db, target_dsn="spool://x",
        target_schema="adv", advisor_skew_min_rows=0, advisor_broadcast_threshold=1,
    )
    result = MigrationPipeline(
        spark, cfg, ReadLog(skewed_db), SpoolTarget(spark, str(tmp_path / "target")),
        map_sqlite_type, map_sqlite_default,
    ).run()
    assert result.ok
    assert probe == [("facts", ["dim_id"])]
    assert result.report.advice["joins"]["facts->dims"]["strategy"] == "salted_shuffle"
