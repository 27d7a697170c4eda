"""Per-value transform library — the reference's ``TransformValue`` layer
(reference source.go:32-33 applied at migrate.go:459-466; implementations in
source_mysql.go:652-1035 and source_mssql.go:856-914) re-expressed as Spark
``Column`` expressions.

Everything here stays JVM-side (whole-stage codegen, no Python round-trip):
the reference transforms row-at-a-time in Go; at 100 TB these expressions
vectorize inside Tungsten instead. Byte-surgery cases (spatial EWKB, UUID
endian fixes) are done via hex-string algebra on BinaryType rather than UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType

UUID_RE = r"^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"


def _uuid_from_hex32(h: Column) -> Column:
    """Format 32 lowercase hex chars as a canonical dashed UUID."""
    return F.concat_ws(
        "-",
        F.substring(h, 1, 8),
        F.substring(h, 9, 4),
        F.substring(h, 13, 4),
        F.substring(h, 17, 4),
        F.substring(h, 21, 12),
    )


def binary16_to_uuid(col: Column, swap: bool = False) -> Column:
    """F1 — BINARY(16) → canonical lowercase UUID string
    (source_mysql.go:652-668).

    ``swap=True`` un-swaps ``UUID_TO_BIN(u, 1)`` storage, where the stored
    byte order is time_hi ‖ time_mid ‖ time_low ‖ clock ‖ node.
    """
    h = F.lower(F.hex(col))
    if swap:
        h = F.concat(
            F.substring(h, 9, 8),  # time_low
            F.substring(h, 5, 4),  # time_mid
            F.substring(h, 1, 4),  # time_hi
            F.substring(h, 17, 16),  # clock + node
        )
    return F.when(col.isNull(), F.lit(None).cast("string")).otherwise(_uuid_from_hex32(h))


def validate_uuid_string(col: Column, strict: bool = True) -> Column:
    """F3 — CHAR(36) UUID: validate format, lowercase; invalid → error
    (strict) or NULL (source_mysql.go:679-693)."""
    ok = col.rlike(UUID_RE)
    lowered = F.lower(col)
    if strict:
        bad = F.raise_error(F.concat(F.lit("invalid UUID value: "), col))
        return F.when(col.isNull(), F.lit(None).cast("string")).when(ok, lowered).otherwise(bad)
    return F.when(ok, lowered).otherwise(F.lit(None).cast("string"))


def strip_null_bytes(col: Column) -> Column:
    """F2/F11 — remove NUL bytes from text/JSON values (PG rejects them;
    source_mysql.go:670-677, 840-850)."""
    return F.translate(col, "\x00", "")


def tinyint1_to_boolean(col: Column, strict: bool = True) -> Column:
    """F4 — tinyint(1): 0→false, 1→true, other → error (strict) or !=0
    (source_mysql.go:695-716)."""
    if not strict:
        return F.when(col.isNull(), F.lit(None).cast("boolean")).otherwise(col != 0)
    return (
        F.when(col.isNull(), F.lit(None).cast("boolean"))
        .when(col == 0, F.lit(False))
        .when(col == 1, F.lit(True))
        .otherwise(F.raise_error(F.concat(F.lit("invalid tinyint(1) boolean value: "), col.cast("string"))))
    )


def set_to_array(col: Column) -> Column:
    """F5 — MySQL SET → text[]: strip NULs, '' → empty array, else split on ','
    (source_mysql.go:718-733)."""
    clean = strip_null_bytes(col)
    return (
        F.when(col.isNull(), F.lit(None).cast("array<string>"))
        .when(clean == "", F.array().cast("array<string>"))
        .otherwise(F.split(clean, ","))
    )


def bit_to_bitstring(col: Column, n: int) -> Column:
    """F6 — BIT(n) bytes → right-aligned n-char '0'/'1' string
    (source_mysql.go:735-758). Supports n ≤ 64."""
    if not 1 <= n <= 64:
        raise ValueError("bit width must be in 1..64")
    full = F.lpad(F.conv(F.hex(col), 16, 2), 64, "0")
    return F.when(col.isNull(), F.lit(None).cast("string")).otherwise(
        F.substring(full, 64 - n + 1, n)
    )


def year_to_int(col: Column) -> Column:
    """F7 — MySQL YEAR → integer (source_mysql.go:760-777)."""
    return col.cast("int")


_TIME_RE = r"^(-?)(\d+):(\d{1,2}):(\d{1,2})(?:\.\d+)?$"


def mysql_time_to_interval_literal(col: Column) -> Column:
    """F8 — MySQL TIME ('HH:MM:SS', range ±838:59:59) → PG interval literal
    ``'H hours M mins S secs'`` with per-component negation
    (source_mysql.go:779-794, 998-1035)."""
    sign = F.when(F.regexp_extract(col, _TIME_RE, 1) == "-", F.lit("-")).otherwise(F.lit(""))
    h = F.regexp_extract(col, _TIME_RE, 2)
    m = F.regexp_extract(col, _TIME_RE, 3)
    s = F.regexp_extract(col, _TIME_RE, 4)
    lit = F.concat(
        sign, h, F.lit(" hours "), sign, m.cast("int").cast("string"), F.lit(" mins "),
        sign, s.cast("int").cast("string"), F.lit(" secs"),
    )
    return F.when(col.isNull() | (h == ""), F.lit(None).cast("string")).otherwise(lit)


def zero_date_to_null(col: Column, strict: bool = False) -> Column:
    """F9 — MySQL zero dates '0000-00-00[ 00:00:00]' → NULL (default) or
    error (source_mysql.go:796-814). Operates on the *string* form: the read
    path keeps zero-date columns as strings so the JDBC driver cannot coerce
    them first (SURVEY §7 hard-part 3)."""
    is_zero = col.startswith("0000-00-00")
    if strict:
        return F.when(
            is_zero, F.raise_error(F.concat(F.lit("zero date value: "), col))
        ).otherwise(col)
    return F.when(is_zero, F.lit(None).cast("string")).otherwise(col)


def _rev_bytes_hex(h: Column, n_bytes: int) -> Column:
    """Reverse the byte order of a 2*n_bytes hex string."""
    parts = [F.substring(h, 2 * i + 1, 2) for i in reversed(range(n_bytes))]
    return F.concat(*parts)


def mysql_spatial_to_ewkb(col: Column) -> Column:
    """F10 — MySQL internal geometry (4-byte LE SRID ‖ WKB) → PostGIS EWKB
    (source_mysql.go:940-986), as hex-string surgery on BinaryType:

    * SRID = 0 → plain WKB (prefix stripped);
    * SRID > 0 → set the 0x20000000 SRID flag in the WKB type word and splice
      the 4-byte LE SRID after it;
    * byte-order marker must be 00/01, else error.
    """
    h = F.lower(F.hex(col))
    srid_le = F.substring(h, 1, 8)
    srid = F.conv(_rev_bytes_hex(srid_le, 4), 16, 10).cast("long")
    order = F.substring(h, 9, 2)  # '01' little / '00' big endian
    type_word = F.substring(h, 11, 8)
    rest = F.substring(h, 19, 1 << 30)
    # flag byte: LE → most-significant byte is the 4th byte; BE → the 1st
    le_flag = F.lpad(
        F.lower(F.hex(F.conv(F.substring(type_word, 7, 2), 16, 10).cast("int") + F.lit(0x20))),
        2, "0",
    )
    be_flag = F.lpad(
        F.lower(F.hex(F.conv(F.substring(type_word, 1, 2), 16, 10).cast("int") + F.lit(0x20))),
        2, "0",
    )
    flagged_le = F.concat(F.substring(type_word, 1, 6), le_flag)
    flagged_be = F.concat(be_flag, F.substring(type_word, 3, 6))
    flagged = F.when(order == "01", flagged_le).otherwise(flagged_be)
    # EWKB stores the SRID in the geometry's declared byte order: the input
    # prefix is always little-endian (MySQL internal format), so a
    # big-endian geometry needs the SRID bytes reversed before the splice
    srid_out = F.when(order == "01", srid_le).otherwise(_rev_bytes_hex(srid_le, 4))
    ewkb_hex = F.concat(order, flagged, srid_out, rest)
    wkb_hex = F.substring(h, 9, 1 << 30)
    out_hex = F.when(srid == 0, wkb_hex).otherwise(ewkb_hex)
    bad = F.raise_error(F.concat(F.lit("invalid WKB byte-order marker in value: "), h))
    return (
        F.when(col.isNull(), F.lit(None).cast("binary"))
        .when(~order.isin("00", "01"), bad.cast("binary"))
        .otherwise(F.unhex(out_hex))
    )


def mssql_uniqueidentifier_to_uuid(col: Column) -> Column:
    """F12 — MSSQL uniqueidentifier bytes (first three groups little-endian)
    → canonical lowercase UUID string (source_mssql.go:856-878)."""
    h = F.lower(F.hex(col))
    canon = F.concat(
        _rev_bytes_hex(F.substring(h, 1, 8), 4),
        _rev_bytes_hex(F.substring(h, 9, 4), 2),
        _rev_bytes_hex(F.substring(h, 13, 4), 2),
        F.substring(h, 17, 16),
    )
    return F.when(col.isNull(), F.lit(None).cast("string")).otherwise(_uuid_from_hex32(canon))


def mssql_money_to_decimal(col: Column) -> Column:
    """F13 — MSSQL money → numeric(19,4); fixed 4-dp (source_mssql.go:880-891).
    Casting to DecimalType side-steps float-repr issues the reference's
    string formatting works around."""
    return col.cast(DecimalType(19, 4))


def json_sanitize(col: Column) -> Column:
    """F2 — JSON values: strip NUL bytes (PG jsonb rejects \\u0000;
    source_mysql.go:670-677)."""
    return strip_null_bytes(col)
