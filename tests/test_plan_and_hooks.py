"""Plan report, advisories, hooks, and SQLite introspection tests."""

import json
import sqlite3

import pytest

from pgferry_spark.catalog.model import Column, Index, Schema, SourceObjects, Table
from pgferry_spark.hooks import render_hook_sql, run_hooks
from pgferry_spark.extensions import collect_extension_requirements
from pgferry_spark.plan_report import build_plan_report, collation_warnings
from pgferry_spark.sources import sqlite_introspect as sq
from pgferry_spark.types import TypeMappingConfig, map_mysql_type


def sample_schema():
    return Schema(
        tables=[
            Table(
                "Events", "events",
                columns=[
                    Column("id", "id", "int", "int(11)", nullable=False),
                    Column("geo", "geo", "point", "point"),
                    Column("name", "name", "varchar", "varchar(50)",
                           collation="utf8mb4_general_ci"),
                    Column("total", "total", "int", "int",
                           extra="VIRTUAL GENERATED", generation_expression="a+b"),
                ],
                indexes=[
                    Index("ft_name", "ft_name", ["name"], type="FULLTEXT"),
                    Index("ok_idx", "ok_idx", ["id"]),
                ],
            )
        ]
    )


class TestPlanReport:
    def test_unsupported_columns_probed(self):
        cfg = TypeMappingConfig()  # spatial_mode=error -> geo unsupported
        rep = build_plan_report(sample_schema(), SourceObjects(), cfg, map_mysql_type)
        assert [c["column"] for c in rep.unsupported_columns] == ["geo"]
        assert [g["column"] for g in rep.generated_columns] == ["total"]
        assert [s["index"] for s in rep.skipped_indexes] == ["ft_name"]
        assert [w["column"] for w in rep.collation_warnings] == ["name"]

    def test_extensions(self):
        def names(cfg):
            return [r.name for r in collect_extension_requirements(sample_schema(), cfg)]

        assert names(TypeMappingConfig(spatial_mode="postgis")) == ["postgis"]
        assert names(TypeMappingConfig(ci_as_citext=True)) == ["citext"]
        assert names(TypeMappingConfig()) == []

    def test_report_lists_required_extensions(self):
        # a _ci varchar column and a spatial column, postgis on
        cfg = TypeMappingConfig(ci_as_citext=True, spatial_mode="postgis")
        rep = build_plan_report(sample_schema(), SourceObjects(), cfg, map_mysql_type)
        assert rep.required_extensions == ["citext", "postgis"]

    def test_citext_silences_collation_warning(self):
        assert collation_warnings(sample_schema(), TypeMappingConfig(ci_as_citext=True)) == []

    def test_render_text_and_json(self):
        cfg = TypeMappingConfig(spatial_mode="postgis")
        rep = build_plan_report(
            sample_schema(), SourceObjects(views=["v1"], triggers=["trg"]), cfg, map_mysql_type
        )
        txt = rep.to_text()
        assert "Required extensions" in txt and "postgis" in txt and "v1" in txt
        data = json.loads(rep.to_json())
        assert data["views"] == ["v1"] and data["triggers"] == ["trg"]


class TestHooks:
    def test_schema_substitution_and_splitting(self):
        stmts = render_hook_sql("CREATE VIEW {{schema}}.v AS SELECT 1; DROP TABLE {{schema}}.t;", "s1")
        assert stmts == ["CREATE VIEW s1.v AS SELECT 1", "DROP TABLE s1.t"]

    def test_run_hooks_executes_in_order(self, tmp_path):
        f1 = tmp_path / "a.sql"
        f1.write_text("X1; X2;")
        f2 = tmp_path / "b.sql"
        f2.write_text("X3;")
        executed = []
        n = run_hooks({"after_all": [str(f1), str(f2)]}, "after_all", "s", executed.append)
        assert n == 3 and executed == ["X1", "X2", "X3"]

    def test_unknown_phase_rejected(self):
        with pytest.raises(ValueError):
            run_hooks({}, "mid_flight", "s", lambda s: None)


class TestSqliteIntrospect:
    @pytest.fixture()
    def db(self, tmp_path):
        path = str(tmp_path / "t.db")
        con = sqlite3.connect(path)
        con.executescript(
            """
            CREATE TABLE "Order Items" (
              id INTEGER PRIMARY KEY AUTOINCREMENT,
              OrderID INTEGER NOT NULL REFERENCES orders(id) ON DELETE CASCADE,
              qty NUMERIC(8,2) DEFAULT 1,
              note TEXT
            );
            CREATE TABLE orders (id INTEGER PRIMARY KEY, a INT, b INT);
            CREATE UNIQUE INDEX idx_items_order ON "Order Items"(OrderID, qty);
            CREATE INDEX idx_partial ON orders(a) WHERE a > 0;
            CREATE VIEW v_orders AS SELECT * FROM orders;
            CREATE TRIGGER trg AFTER INSERT ON orders BEGIN SELECT 1; END;
            """
        )
        con.commit()
        con.close()
        return path

    def test_tables_columns_normalized(self, db):
        schema = sq.introspect_schema(db, snake_case=True)
        t = schema.table("order_items")
        assert [c.pg_name for c in t.columns] == ["id", "order_id", "qty", "note"]
        assert t.column("order_id").nullable is False
        assert t.column("qty").default == "1"
        assert t.column("id").is_auto_increment

    def test_pk_indexes_fks(self, db):
        t = sq.introspect_schema(db, snake_case=True).table("order_items")
        assert t.primary_key.columns == ["id"]
        named = {i.name: i for i in t.indexes}
        assert named["idx_items_order"].unique
        assert named["idx_items_order"].columns == ["order_id", "qty"]
        assert len(t.foreign_keys) == 1
        fk = t.foreign_keys[0]
        assert fk.ref_pg_table == "orders" and fk.delete_rule == "CASCADE"

    def test_partial_index_flagged_as_expression(self, db):
        t = sq.introspect_schema(db, snake_case=True).table("orders")
        partial = [i for i in t.indexes if i.name == "idx_partial"]
        assert partial and partial[0].has_expression  # skipped downstream

    def test_source_objects(self, db):
        objs = sq.introspect_source_objects(db)
        assert objs.views == ["v_orders"] and objs.triggers == ["trg"]

    def test_memory_rejected(self):
        with pytest.raises(ValueError, match="in-memory"):
            sq.open_readonly(":memory:")

    def test_readonly_enforced(self, db):
        con = sq.open_readonly(db)
        with pytest.raises(sqlite3.OperationalError):
            con.execute("INSERT INTO orders VALUES (99, 1, 2)")
        con.close()


@pytest.mark.parametrize("name", ["data#1.db", "a?b.db"])
def test_path_with_uri_characters_opens_that_file(tmp_path, name):
    """A ``#`` or ``?`` in the path is part of the file name: introspection
    and the wizard's probe open that file, read-only, and create no other."""
    from pgferry_spark.wizard import probe_connection

    path = str(tmp_path / name)
    con = sqlite3.connect(path)
    con.execute("CREATE TABLE t (id INTEGER PRIMARY KEY)")
    con.close()
    before = sorted(p.name for p in tmp_path.iterdir())
    assert [t.source_name for t in sq.introspect_schema(path).tables] == ["t"]
    probe_connection("sqlite", path)
    assert sorted(p.name for p in tmp_path.iterdir()) == before
