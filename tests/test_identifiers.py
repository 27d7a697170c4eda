from pgferry_spark.catalog.identifiers import (
    enum_type_name,
    fnv1a_32,
    fnv1a_64,
    mssql_ident,
    mysql_ident,
    pg_ident,
    pg_literal,
    to_snake_case,
    truncate_identifier,
)


def test_fnv_test_vectors():
    # public FNV-1a reference vectors
    assert fnv1a_32(b"") == 0x811C9DC5
    assert fnv1a_32(b"a") == 0xE40C292C
    assert fnv1a_64(b"") == 0xCBF29CE484222325
    assert fnv1a_64(b"a") == 0xAF63DC4C8601EC8C


def test_snake_case_acronym_aware():
    assert to_snake_case("HTMLParser") == "html_parser"
    assert to_snake_case("userID") == "user_id"
    assert to_snake_case("UserName") == "user_name"
    assert to_snake_case("already_snake") == "already_snake"
    assert to_snake_case("My Table-Name") == "my_table_name"
    assert to_snake_case("ABC") == "abc"
    assert to_snake_case("parseJSONData") == "parse_json_data"


def test_quoting():
    assert pg_ident('we"ird') == '"we""ird"'
    assert pg_literal("it's") == "'it''s'"
    assert mysql_ident("a`b") == "`a``b`"
    assert mssql_ident("a]b") == "[a]]b]"


def test_truncate_identifier_deterministic_and_distinct():
    long_a = "x" * 100 + "a"
    long_b = "x" * 100 + "b"
    ta, tb = truncate_identifier(long_a), truncate_identifier(long_b)
    assert len(ta) <= 63 and len(tb) <= 63
    assert ta != tb
    assert truncate_identifier(long_a) == ta  # deterministic
    assert truncate_identifier("short") == "short"


def test_enum_type_name_sorted_content_addressed():
    assert enum_type_name(["b", "a"]) == enum_type_name(["a", "b"])
    assert enum_type_name(["a", "b"]) != enum_type_name(["a", "c"])
    assert enum_type_name(["a", "b"]).startswith("pgferry_enum_")
