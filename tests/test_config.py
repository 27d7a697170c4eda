"""Config validation matrix tests (mirror of reference config_test.go coverage)."""

import pytest

from pgferry_spark.config import ConfigError, MigrationConfig, config_from_dict, load_config


def valid_raw(**over):
    raw = {"source_type": "mysql", "source_dsn": "dsn", "target_dsn": "pg"}
    raw.update(over)
    return raw


def test_minimal_valid():
    cfg = config_from_dict(valid_raw())
    assert cfg.mode == "full" and cfg.chunk_size == 100_000
    assert cfg.snake_case_identifiers and cfg.unlogged_tables


def test_unknown_keys_rejected():
    with pytest.raises(ConfigError, match="unknown key"):
        config_from_dict(valid_raw(bogus=1))
    with pytest.raises(ConfigError, match="type_mapping"):
        config_from_dict(valid_raw(type_mapping={"nope": True}))
    with pytest.raises(ConfigError, match="hooks"):
        config_from_dict(valid_raw(hooks={"mid_flight": ["x.sql"]}))


def test_required_fields():
    with pytest.raises(ConfigError, match="source_type"):
        config_from_dict({"source_dsn": "x", "target_dsn": "y"})
    with pytest.raises(ConfigError, match="source_dsn"):
        config_from_dict({"source_type": "mysql", "target_dsn": "y"})
    with pytest.raises(ConfigError, match="target_dsn"):
        config_from_dict({"source_type": "mysql", "source_dsn": "x"})
    # schema_only doesn't need a target
    cfg = config_from_dict({"source_type": "mysql", "source_dsn": "x", "mode": "schema_only"})
    assert cfg.mode == "schema_only"


def test_mode_matrix():
    for bad_field, bad_value in [
        ("mode", "sideways"),
        ("on_schema_exists", "overwrite"),
        ("validation", "checksum"),
        ("source_snapshot_mode", "both"),
        ("source_type", "oracle"),
    ]:
        with pytest.raises(ConfigError, match=bad_field):
            config_from_dict(valid_raw(**{bad_field: bad_value}))


def test_cross_field_rules():
    with pytest.raises(ConfigError, match="single_tx"):
        config_from_dict(valid_raw(source_snapshot_mode="single_tx", workers=4))
    with pytest.raises(ConfigError, match="resume"):
        config_from_dict(valid_raw(resume=True, mode="schema_only"))
    with pytest.raises(ConfigError, match="mutually exclusive"):
        config_from_dict(valid_raw(include_tables=["a"], exclude_tables=["b"]))
    with pytest.raises(ConfigError, match="chunk_size"):
        config_from_dict(valid_raw(chunk_size=0))
    with pytest.raises(ConfigError, match="uuid_to_bin_swap"):
        config_from_dict(valid_raw(type_mapping={"mysql_uuid_to_bin_swap": True}))
    with pytest.raises(ConfigError, match="sqlite"):
        config_from_dict(
            valid_raw(source_type="sqlite", source_snapshot_mode="single_tx", workers=1)
        )


def test_type_mapping_modes_validated():
    with pytest.raises(ConfigError, match="enum_mode"):
        config_from_dict(valid_raw(type_mapping={"enum_mode": "exotic"}))
    cfg = config_from_dict(valid_raw(type_mapping={"enum_mode": "native", "set_mode": "text_array"}))
    assert cfg.type_mapping.enum_mode == "native"


def test_effective_workers():
    assert MigrationConfig(source_type="sqlite").effective_workers() == 1
    assert MigrationConfig(source_type="mysql", workers=3).effective_workers() == 3
    auto = MigrationConfig(source_type="mysql").effective_workers()
    assert 1 <= auto <= 8


def test_toml_roundtrip_and_hook_paths(tmp_path):
    toml = tmp_path / "mig.toml"
    toml.write_text(
        """
        source_type = "sqlite"
        source_dsn = "/data/app.db"
        target_dsn = "postgres://h/db"
        chunk_size = 500

        [type_mapping]
        tinyint1_as_boolean = true

        [hooks]
        before_fk = ["cleanup.sql"]
        """
    )
    cfg = load_config(str(toml))
    assert cfg.chunk_size == 500
    assert cfg.type_mapping.tinyint1_as_boolean
    assert cfg.hooks["before_fk"] == [str(tmp_path / "cleanup.sql")]
