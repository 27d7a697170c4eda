"""Identifier normalization & quoting.

Behavioral parity targets: acronym-aware snake_case (reference
schema.go:12-33: ``HTMLParser`` → ``html_parser``), double-quoted PG
identifiers (reference schema.go:37-39), single-quote literal escaping
(reference ddl.go:100-102), and deterministic FNV-1a-suffixed truncation of
generated identifiers to PostgreSQL's 63-byte limit (reference
post.go:185-203).
"""

from __future__ import annotations

PG_MAX_IDENT = 63

_FNV32_OFFSET = 0x811C9DC5
_FNV32_PRIME = 0x01000193
_FNV64_OFFSET = 0xCBF29CE484222325
_FNV64_PRIME = 0x00000100000001B3


def fnv1a_32(data: bytes) -> int:
    h = _FNV32_OFFSET
    for b in data:
        h ^= b
        h = (h * _FNV32_PRIME) & 0xFFFFFFFF
    return h


def fnv1a_64(data: bytes) -> int:
    h = _FNV64_OFFSET
    for b in data:
        h ^= b
        h = (h * _FNV64_PRIME) & 0xFFFFFFFFFFFFFFFF
    return h


def to_snake_case(name: str) -> str:
    """Acronym-aware snake_case: ``HTMLParser`` → ``html_parser``,
    ``userID`` → ``user_id``, ``My Table-Name`` → ``my_table_name``."""
    out: list[str] = []
    n = len(name)
    for i, ch in enumerate(name):
        if ch in (" ", "-", "."):
            if out and out[-1] != "_":
                out.append("_")
            continue
        # "uppercase" only when lowering actually changes the char:
        # titlecase-less symbols like U+1F130 '🄰' report isupper() yet
        # survive .lower() unchanged, which made a second pass see a
        # lower→"upper" boundary the first pass didn't (hypothesis-found
        # idempotence break). Titlecase (Lt) letters like 'ᾨ' report
        # isupper() False but still need lowering for the lowercase
        # postcondition to hold (hypothesis-found).
        if (ch.isupper() or ch.istitle()) and ch.lower() != ch:
            prev = name[i - 1] if i > 0 else ""
            nxt = name[i + 1] if i + 1 < n else ""
            boundary = False
            if prev and prev not in (" ", "-", ".", "_"):
                if prev.islower() or prev.isdigit():
                    boundary = True  # userID -> user_id
                elif (prev.isupper() or prev.istitle()) and nxt.islower():
                    boundary = True  # HTMLParser -> html_parser
            if boundary and out and out[-1] != "_":
                out.append("_")
            out.append(ch.lower())
        else:
            out.append(ch)
    return "".join(out)


def normalize_identifier(name: str, snake_case: bool) -> str:
    return to_snake_case(name) if snake_case else name.lower()


def pg_ident(name: str) -> str:
    """Double-quote a PostgreSQL identifier, doubling embedded quotes."""
    return '"' + name.replace('"', '""') + '"'


def pg_literal(value: str) -> str:
    """Single-quote a PostgreSQL string literal, doubling embedded quotes."""
    return "'" + value.replace("'", "''") + "'"


def mysql_ident(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def mssql_ident(name: str) -> str:
    return "[" + name.replace("]", "]]") + "]"


def source_ident(kind: str, name: str) -> str:
    """Quote a table or column name for SQL that a source of ``kind``
    evaluates: Spark SQL (a parquet source's filters) and MySQL quote with
    backticks, MSSQL with brackets, SQLite and other ANSI sources (e.g.
    Derby over JDBC) like PostgreSQL."""
    if kind in ("parquet", "mysql"):
        return mysql_ident(name)
    if kind == "mssql":
        return mssql_ident(name)
    return pg_ident(name)


def truncate_identifier(name: str, max_len: int = PG_MAX_IDENT) -> str:
    """Deterministically shorten an identifier to ``max_len`` by replacing the
    tail with an 8-hex-digit FNV-1a-32 content hash, so two long names that
    differ only past the cut point stay distinct."""
    if len(name) <= max_len:
        return name
    suffix = f"_{fnv1a_32(name.encode('utf-8')):08x}"
    return name[: max_len - len(suffix)] + suffix


def enum_type_name(values: list[str]) -> str:
    """Content-addressed native-enum type name: FNV-1a-64 over the sorted,
    NUL-joined value list (semantics of reference ddl.go:117-128)."""
    payload = "\x00".join(sorted(values)).encode("utf-8")
    return f"pgferry_enum_{fnv1a_64(payload):016x}"
