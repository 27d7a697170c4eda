"""Migration-side entries: type transforms, orphans, change capture, profiling."""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType

from pgferry_spark.entries.common import lake_table as _t
from pgferry_spark.entries.registry import register
from pgferry_spark.functions import transforms as X
from pgferry_spark.operators import orphans, queries as Q
from pgferry_spark.plans.chunk import plan_table_chunks
from pgferry_spark.sources.parquet import chunked_parquet_read


# distinct lower-cased part names and their shared character 3-gram
# counts per pair
_NAME_TRIGRAM_PAIRS = """WITH reps AS (
              SELECT lower(trim(p_name)) AS nm, min(p_partkey) AS id
              FROM part GROUP BY p_name
            ),
            sized AS (SELECT id, nm, length(nm) AS ln FROM reps),
            grams AS (
              SELECT id,
                     CASE WHEN ln >= 3
                          THEN list_distinct(list_transform(
                                 range(1, ln - 1), i -> substr(nm, CAST(i AS INT), 3)))
                          ELSE [nm] END AS gs
              FROM sized
            ),
            gx AS (SELECT id, unnest(gs) AS g, len(gs) AS n_grams FROM grams),
            pairs AS (
              SELECT a.id AS id_a, b.id AS id_b,
                     a.n_grams AS na, b.n_grams AS nb, count(*) AS shared
              FROM gx a JOIN gx b ON a.g = b.g AND a.id < b.id
              GROUP BY 1, 2, 3, 4
            )"""


@register("name_match_verified", oracle=lambda: f"""
            {_NAME_TRIGRAM_PAIRS},
            cand AS (
              SELECT id_a, id_b,
                     ROUND(shared / CAST(na + nb - shared AS DOUBLE), 4) AS jacc
              FROM pairs
              WHERE ROUND(shared / CAST(na + nb - shared AS DOUBLE), 4) >= 0.3
            )
            SELECT c.id_a, c.id_b, c.jacc,
                   CAST(levenshtein(x.nm, y.nm) AS INTEGER) AS edit_dist
            FROM cand c
            JOIN reps x ON x.id = c.id_a
            JOIN reps y ON y.id = c.id_b
            WHERE levenshtein(x.nm, y.nm) <= 3
        """)
def _name_match_verified(spark, sf):
    """Block→verify entity resolution: low-threshold gram blocking for
    recall, exact Levenshtein <= 3 for precision."""
    from pgferry_spark.operators.dedup import name_match_pairs_verified

    p = _t(spark, sf, "part")
    reps = p.groupBy("p_name").agg(F.min("p_partkey").alias("name_id"))
    return name_match_pairs_verified(
        reps, "p_name", "name_id", threshold=0.3, max_edit=3
    )


@register("content_diff_summary", oracle="""
            WITH cols AS (
              SELECT c_custkey, c_name, c_nationkey, c_mktsegment FROM customer
            ),
            src AS (
              SELECT c_custkey,
                     md5(concat_ws(chr(31),
                         COALESCE(CAST(c_name AS VARCHAR), chr(0)),
                         COALESCE(CAST(c_nationkey AS VARCHAR), chr(0)),
                         COALESCE(CAST(c_mktsegment AS VARCHAR), chr(0)))) AS fp
              FROM cols
            ),
            drift AS (
              SELECT c_custkey, c_name, c_nationkey,
                     CASE WHEN c_custkey % 101 = 0 THEN 'DRIFTED'
                          ELSE c_mktsegment END AS c_mktsegment
              FROM cols WHERE c_custkey % 97 <> 0
              UNION ALL
              SELECT c_custkey + 1000000, c_name, c_nationkey, c_mktsegment
              FROM cols WHERE c_custkey % 103 = 0
            ),
            tgt AS (
              SELECT c_custkey,
                     md5(concat_ws(chr(31),
                         COALESCE(CAST(c_name AS VARCHAR), chr(0)),
                         COALESCE(CAST(c_nationkey AS VARCHAR), chr(0)),
                         COALESCE(CAST(c_mktsegment AS VARCHAR), chr(0)))) AS fp
              FROM drift
            )
            SELECT CASE WHEN s.fp IS NULL THEN 'only_in_target'
                        WHEN t.fp IS NULL THEN 'only_in_source'
                        WHEN s.fp = t.fp THEN 'equal'
                        ELSE 'changed' END AS status,
                   COUNT(*) AS n_rows
            FROM src s FULL OUTER JOIN tgt t USING (c_custkey)
            GROUP BY status
        """)
def _content_diff(spark, sf):
    """Content-level migration validation: the reference compares COUNT(*)
    only; this diffs canonical row hashes through one full outer join.
    The 'target' is a deterministic drifted copy of customer (some rows
    changed, dropped, added) so every status bucket is exercised."""
    from pgferry_spark.plans.validation import content_diff

    cols = ["c_name", "c_nationkey", "c_mktsegment"]
    c = _t(spark, sf, "customer")
    src = c.select("c_custkey", *cols)
    drift = (
        src.filter(F.col("c_custkey") % 97 != 0)  # dropped rows
        .withColumn(
            "c_mktsegment",
            F.when(F.col("c_custkey") % 101 == 0, F.lit("DRIFTED")).otherwise(
                F.col("c_mktsegment")
            ),
        )
        .unionAll(  # new keys only the target has
            src.filter(F.col("c_custkey") % 103 == 0).select(
                (F.col("c_custkey") + 1000000).alias("c_custkey"), *cols
            )
        )
    )
    return content_diff(src, drift, ["c_custkey"], cols)


@register("psi_drift", oracle="""
            WITH oldv AS (SELECT CAST(c_acctbal AS DOUBLE) AS v FROM customer),
            newv AS (
              SELECT CAST(c_acctbal AS DOUBLE)
                     + CASE WHEN c_custkey % 3 = 0 THEN 1000.0 ELSE 0.0 END AS v
              FROM customer
            ),
            st AS (SELECT MIN(v) AS mn, MAX(v) AS mx FROM oldv),
            ho AS (
              SELECT CASE WHEN st.mx = st.mn THEN 0
                          ELSE LEAST(GREATEST(CAST(FLOOR((v - st.mn)
                               / ((st.mx - st.mn) / 10.0)) AS INT), 0), 9) END AS bin,
                     COUNT(*) AS c
              FROM oldv, st GROUP BY 1
            ),
            hn AS (
              SELECT CASE WHEN st.mx = st.mn THEN 0
                          ELSE LEAST(GREATEST(CAST(FLOOR((v - st.mn)
                               / ((st.mx - st.mn) / 10.0)) AS INT), 0), 9) END AS bin,
                     COUNT(*) AS c
              FROM newv, st GROUP BY 1
            ),
            m AS (
              SELECT COALESCE(ho.c, 0) AS c_old, COALESCE(hn.c, 0) AS c_new
              FROM ho FULL OUTER JOIN hn USING (bin)
            ),
            t AS (SELECT (SELECT SUM(c_old) FROM m) AS n_old,
                         (SELECT SUM(c_new) FROM m) AS n_new),
            terms AS (
              SELECT t.n_old, t.n_new,
                     (GREATEST(c_new / CAST(t.n_new AS DOUBLE), 1e-6)
                      - GREATEST(c_old / CAST(t.n_old AS DOUBLE), 1e-6))
                     * ln(GREATEST(c_new / CAST(t.n_new AS DOUBLE), 1e-6)
                          / GREATEST(c_old / CAST(t.n_old AS DOUBLE), 1e-6)) AS tt
              FROM m, t
            )
            SELECT ROUND(SUM(tt), 6) AS psi,
                   CAST(ANY_VALUE(n_old) AS BIGINT) AS n_old,
                   CAST(ANY_VALUE(n_new) AS BIGINT) AS n_new
            FROM terms
        """)
def _psi_drift(spark, sf):
    """PSI distribution-shift between customer balances and a
    deterministically shifted copy (+1000 for a third of customers) —
    the numeric member of the drift suite."""
    from pgferry_spark.plans.validation import psi_drift

    c = _t(spark, sf, "customer")
    old = c.select(F.col("c_acctbal").cast("double").alias("bal"))
    new = c.select(
        (
            F.col("c_acctbal").cast("double")
            + F.when(F.col("c_custkey") % 3 == 0, F.lit(1000.0)).otherwise(0.0)
        ).alias("bal")
    )
    return psi_drift(old, new, "bal", n_bins=10)


@register("zorder_keys", oracle="""
            SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
                   CAST(list_sum(list_transform(range(16), i ->
                        ((l_partkey >> i) & 1) * (CAST(1 AS BIGINT) << (2 * i))
                      + ((l_suppkey >> i) & 1) * (CAST(1 AS BIGINT) << (2 * i + 1))
                   )) AS BIGINT) AS zkey
            FROM lineitem
        """)
def _zorder_keys(spark, sf):
    """Morton keys over (partkey, suppkey) — the clustering key behind
    2-D data skipping; pure bit-math Column expression, map-only."""
    from pgferry_spark.sources.layout import zorder_key

    li = _t(spark, sf, "lineitem")
    return li.select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
        zorder_key(F.col("l_partkey"), F.col("l_suppkey"), bits=16).alias("zkey"),
    )


@register("sequence_reset", oracle="""
            SELECT 'customer' AS table_name, COALESCE(MAX(c_custkey), 0) + 1 AS next_val FROM customer
            UNION ALL SELECT 'orders', COALESCE(MAX(o_orderkey), 0) + 1 FROM orders
            UNION ALL SELECT 'part', COALESCE(MAX(p_partkey), 0) + 1 FROM part
        """)
def _sequence_reset(spark, sf):
    return Q.sequence_reset_values(
        {
            "customer": (_t(spark, sf, "customer"), "c_custkey"),
            "orders": (_t(spark, sf, "orders"), "o_orderkey"),
            "part": (_t(spark, sf, "part"), "p_partkey"),
        }
    )


@register("chunked_scan", oracle="""
            SELECT o_orderkey, o_custkey,
                   CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS o_totalprice
            FROM orders
        """)
def _chunked_scan(spark, sf):
    """S2 — chunk-planned partitioned scan == full scan (coverage proof)."""
    orders = _t(spark, sf, "orders")
    lo, hi = orders.agg(F.min("o_orderkey"), F.max("o_orderkey")).first()
    plan = plan_table_chunks("orders", "o_orderkey", lo, hi, chunk_size=4096)
    df = chunked_parquet_read(
        spark, os.path.join(sf, "orders.parquet"), plan,
        columns=["o_orderkey", "o_custkey", "o_totalprice"],
    )
    return df.select(
        "o_orderkey", "o_custkey", F.col("o_totalprice").cast(DecimalType(12, 2)).cast("double").alias("o_totalprice")
    )


@register("orphan_anti_join", oracle="""
            SELECT event_id, user_id FROM events e
            WHERE user_id IS NOT NULL
              AND NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey < 100 AND c.c_custkey = e.user_id)
        """)
def _orphan_events(spark, sf):
    """J1 — null-aware anti join: events whose user has no parent row in the
    migrated subset (customers < 100)."""
    parent = _t(spark, sf, "customer").filter(F.col("c_custkey") < 100)
    child = _t(spark, sf, "events")
    return orphans.find_orphans(child, parent, ["user_id"], ["c_custkey"]).select(
        "event_id", "user_id"
    )


# from-scratch recomputation on purpose: the Spark side runs the
# retract/apply delta path, so a green row proves incremental
# maintenance equals full re-aggregation
@register("incremental_agg", oracle="""
            WITH base AS (
              SELECT o_orderkey AS k, o_custkey AS g,
                     CAST(o_totalprice AS DECIMAL(12,2)) AS v
              FROM orders
            ),
            ch AS (
              SELECT k, 'U' AS op, 1 AS seq, g,
                     v + CAST(10 AS DECIMAL(12,2)) AS v
              FROM base WHERE k % 100 = 0
              UNION ALL
              SELECT k, 'D', 2, g, v FROM base WHERE k % 97 = 0
              UNION ALL
              SELECT k + 10000000, 'I', 1, g, v FROM base WHERE k % 103 = 0
            ),
            latest AS (
              SELECT k, op, g, v FROM (
                SELECT *, row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
                FROM ch) WHERE rn = 1
            ),
            applied AS (
              SELECT COALESCE(l.k, b.k) AS k,
                     CASE WHEN l.k IS NOT NULL THEN l.g ELSE b.g END AS g,
                     CASE WHEN l.k IS NOT NULL THEN l.v ELSE b.v END AS v,
                     COALESCE(l.op, 'K') AS op
              FROM base b FULL OUTER JOIN latest l ON l.k = b.k
            )
            SELECT g AS o_custkey,
                   CAST(COUNT(*) AS BIGINT) AS n_orders,
                   CAST(SUM(v) AS DOUBLE) AS total_price
            FROM applied WHERE op <> 'D'
            GROUP BY g
        """)
def _incremental_agg(spark, sf):
    """Incremental view maintenance: per-customer order count+revenue
    maintained through a deterministic CDC batch via retract/apply
    deltas. THE ORACLE RECOMPUTES FROM SCRATCH — a green row proves the
    delta path equals full re-aggregation."""
    from pgferry_spark.operators.incremental import maintain_grouped_agg

    o = _t(spark, sf, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_custkey").alias("g"),
        F.col("o_totalprice").cast("decimal(12,2)").alias("v"),
    )
    upd = o.filter(F.col("k") % 100 == 0).select(
        "k", F.lit("U").alias("op"), F.lit(1).alias("seq"), "g",
        (F.col("v") + F.lit(10).cast("decimal(12,2)")).alias("v"),
    )
    dele = o.filter(F.col("k") % 97 == 0).select(
        "k", F.lit("D").alias("op"), F.lit(2).alias("seq"), "g", "v"
    )
    ins = o.filter(F.col("k") % 103 == 0).select(
        (F.col("k") + 10_000_000).alias("k"), F.lit("I").alias("op"),
        F.lit(1).alias("seq"), "g", "v",
    )
    changes = upd.unionByName(dele).unionByName(ins)
    old_agg = o.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("total")
    )
    out = maintain_grouped_agg(old_agg, o, changes, "k", "g", "v", "seq")
    return out.select(
        F.col("g").alias("o_custkey"),
        F.col("n").alias("n_orders"),
        F.col("total").cast("double").alias("total_price"),
    )


@register("ri_audit", oracle="""
            WITH child1 AS (
              SELECT event_id,
                     CASE WHEN event_id % 50 = 0 THEN NULL ELSE user_id END AS user_id
              FROM events
            ),
            p1 AS (SELECT DISTINCT c_custkey FROM customer WHERE c_custkey < 100)
            SELECT 'events_user' AS fk_name,
                   CAST((SELECT count(*) FROM child1) AS BIGINT) AS child_rows,
                   CAST((SELECT count(*) FROM child1 WHERE user_id IS NULL) AS BIGINT) AS null_fk_rows,
                   CAST((SELECT count(*) FROM child1
                         WHERE user_id IS NOT NULL
                           AND user_id NOT IN (SELECT c_custkey FROM p1)) AS BIGINT) AS orphan_rows
            UNION ALL
            SELECT 'orders_customer',
                   CAST((SELECT count(*) FROM orders) AS BIGINT),
                   CAST((SELECT count(*) FROM orders WHERE o_custkey IS NULL) AS BIGINT),
                   CAST((SELECT count(*) FROM orders
                         WHERE o_custkey IS NOT NULL
                           AND o_custkey NOT IN (SELECT c_custkey FROM customer)) AS BIGINT)
            UNION ALL
            SELECT 'lineitem_orders',
                   CAST((SELECT count(*) FROM lineitem) AS BIGINT),
                   CAST((SELECT count(*) FROM lineitem WHERE l_orderkey IS NULL) AS BIGINT),
                   CAST((SELECT count(*) FROM lineitem
                         WHERE l_orderkey IS NOT NULL
                           AND l_orderkey NOT IN (SELECT o_orderkey FROM orders)) AS BIGINT)
        """)
def _ri_audit(spark, sf):
    """Whole-schema referential-integrity scorecard over three FKs: one
    with synthesized NULL components + a truncated parent (orphans and
    MATCH SIMPLE exemptions both non-zero), two clean production FKs."""
    ev = _t(spark, sf, "events").select(
        "event_id",
        F.when(F.col("event_id") % 50 == 0, F.lit(None).cast("long"))
        .otherwise(F.col("user_id"))
        .alias("user_id"),
    )
    cust_small = _t(spark, sf, "customer").filter(F.col("c_custkey") < 100)
    return orphans.ri_audit([
        ("events_user", ev, cust_small, ["user_id"], ["c_custkey"]),
        ("orders_customer", _t(spark, sf, "orders"), _t(spark, sf, "customer"),
         ["o_custkey"], ["c_custkey"]),
        ("lineitem_orders", _t(spark, sf, "lineitem"), _t(spark, sf, "orders"),
         ["l_orderkey"], ["o_orderkey"]),
    ])


@register("orphan_set_null", oracle="""
            SELECT event_id,
                   CASE WHEN user_id IS NOT NULL
                             AND NOT EXISTS (SELECT 1 FROM customer c
                                             WHERE c.c_custkey < 100 AND c.c_custkey = e.user_id)
                        THEN NULL ELSE user_id END AS user_id
            FROM events e
        """)
def _orphan_set_null(spark, sf):
    """J1 SET NULL rule — orphan FK columns nulled, rows kept."""
    parent = _t(spark, sf, "customer").filter(F.col("c_custkey") < 100)
    child = _t(spark, sf, "events")
    cleaned = orphans.clean_orphans_set_null(child, parent, ["user_id"], ["c_custkey"])
    return cleaned.select("event_id", "user_id")


@register("transform_uuid", oracle="""
            WITH h AS (SELECT c_custkey, md5(c_name) AS x FROM customer)
            SELECT c_custkey,
                   substr(x,1,8) || '-' || substr(x,9,4) || '-' || substr(x,13,4) || '-' ||
                   substr(x,17,4) || '-' || substr(x,21,12) AS uuid_plain,
                   substr(x,9,8) || '-' || substr(x,5,4) || '-' || substr(x,1,4) || '-' ||
                   substr(x,17,4) || '-' || substr(x,21,12) AS uuid_unswapped,
                   substr(x,7,2) || substr(x,5,2) || substr(x,3,2) || substr(x,1,2) || '-' ||
                   substr(x,11,2) || substr(x,9,2) || '-' || substr(x,15,2) || substr(x,13,2) || '-' ||
                   substr(x,17,4) || '-' || substr(x,21,12) AS uuid_mssql,
                   substr(x,1,8) || '-' || substr(x,9,4) || '-' || substr(x,13,4) || '-' ||
                   substr(x,17,4) || '-' || substr(x,21,12) AS uuid_validated
            FROM h
        """)
def _uuid_transforms(spark, sf):
    """F1/F3/F12 — binary16→UUID (plain + MySQL swap + MSSQL endian fix)
    over deterministic md5-derived payload bytes."""
    c = _t(spark, sf, "customer")
    payload = F.unhex(F.md5("c_name"))
    return c.select(
        "c_custkey",
        X.binary16_to_uuid(payload).alias("uuid_plain"),
        X.binary16_to_uuid(payload, swap=True).alias("uuid_unswapped"),
        X.mssql_uniqueidentifier_to_uuid(payload).alias("uuid_mssql"),
        X.validate_uuid_string(X.binary16_to_uuid(payload)).alias("uuid_validated"),
    )


@register("transform_strings", oracle="""
            SELECT doc_id,
                   replace(text || chr(0) || 'tail' || chr(0), chr(0), '') AS clean_text,
                   length(replace(text || chr(0) || 'tail' || chr(0), chr(0), '')) AS clean_len,
                   '{"v":"x"}' AS clean_json
            FROM documents
        """)
def _string_transforms(spark, sf):
    """F2/F11 — NUL-byte stripping on text and JSON payloads."""
    d = _t(spark, sf, "documents")
    dirty = F.concat(F.col("text"), F.lit("\x00"), F.lit("tail\x00"))
    return d.select(
        "doc_id",
        X.strip_null_bytes(dirty).alias("clean_text"),
        F.length(X.strip_null_bytes(dirty)).alias("clean_len"),
        X.json_sanitize(F.concat(F.lit('{"v":"'), F.lit("\x00"), F.lit('x"}'))).alias("clean_json"),
    )


@register("transform_bool", oracle="""
            SELECT l_orderkey, l_linenumber,
                   (l_linenumber % 2) = 1 AS flag_strict,
                   l_linenumber <> 0 AS flag_loose
            FROM lineitem
        """)
def _bool_transform(spark, sf):
    """F4 — tinyint(1) → boolean (strict: only 0/1 admissible)."""
    li = _t(spark, sf, "lineitem")
    flag = F.col("l_linenumber") % 2
    return li.select(
        "l_orderkey",
        "l_linenumber",
        X.tinyint1_to_boolean(flag).alias("flag_strict"),
        X.tinyint1_to_boolean(F.col("l_linenumber"), strict=False).alias("flag_loose"),
    )


@register("transform_set_split", oracle="""
            SELECT p_partkey, unnest(string_split(p_name, ' ')) AS feature FROM part
        """)
def _set_split(spark, sf):
    """F5 — SET → text[]: split + explode (p_name words as the set)."""
    p = _t(spark, sf, "part")
    arr = X.set_to_array(F.translate(F.col("p_name"), " ", ","))
    return p.select("p_partkey", F.explode(arr).alias("feature"))


@register("transform_bits", oracle="""
            SELECT p_partkey, lpad(bin(p_partkey % 32), 5, '0') AS bits5 FROM part
        """)
def _bit_transform(spark, sf):
    """F6 — BIT(5) → right-aligned bit string."""
    p = _t(spark, sf, "part")
    byte = F.unhex(F.lpad(F.hex(F.col("p_partkey") % 256), 2, "0"))
    return p.select("p_partkey", X.bit_to_bitstring(byte, 5).alias("bits5"))


@register("transform_time_interval", oracle="""
            WITH base AS (
              SELECT event_id, CAST(floor(value * 10) AS INT) AS secs FROM events
            ), parts AS (
              SELECT event_id, secs // 3600 AS h, (secs % 3600) // 60 AS m, secs % 60 AS s,
                     CASE WHEN event_id % 2 = 1 THEN '-' ELSE '' END AS sgn
              FROM base
            )
            SELECT event_id,
                   sgn || h || ':' || lpad(CAST(m AS VARCHAR), 2, '0') || ':' ||
                   lpad(CAST(s AS VARCHAR), 2, '0') AS mysql_time,
                   sgn || h || ' hours ' || sgn || m || ' mins ' || sgn || s || ' secs' AS pg_interval
            FROM parts
        """)
def _time_interval(spark, sf):
    """F8 — MySQL TIME string → interval literal with per-component negation."""
    ev = _t(spark, sf, "events")
    secs = F.floor(F.col("value") * 10).cast("int")
    h, m, s = (secs / 3600).cast("int"), ((secs % 3600) / 60).cast("int"), secs % 60
    hms = F.format_string("%d:%02d:%02d", h, m, s)
    signed = F.when(F.col("event_id") % 2 == 1, F.concat(F.lit("-"), hms)).otherwise(hms)
    return ev.select(
        "event_id",
        signed.alias("mysql_time"),
        X.mysql_time_to_interval_literal(signed).alias("pg_interval"),
    )


@register("transform_year_money", oracle="""
            SELECT o_orderkey,
                   CAST(year(o_orderdate) AS INT) AS order_year,
                   CAST(CAST(o_totalprice AS DECIMAL(19,4)) AS VARCHAR) AS money_str
            FROM orders
        """)
def _year_money(spark, sf):
    """F7/F13 — YEAR → int; money → numeric(19,4) fixed 4-dp string."""
    o = _t(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        X.year_to_int(F.year("o_orderdate")).alias("order_year"),
        X.mssql_money_to_decimal(F.col("o_totalprice")).cast("string").alias("money_str"),
    )


@register("transform_zero_date", oracle="""
            SELECT o_orderkey,
                   CASE WHEN o_orderkey % 100 = 0 THEN NULL
                        ELSE strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') END AS clean_date
            FROM orders
        """)
def _zero_date(spark, sf):
    """F9 — zero dates → NULL; real dates pass through (string form)."""
    o = _t(spark, sf, "orders")
    datestr = F.when(
        F.col("o_orderkey") % 100 == 0, F.lit("0000-00-00 00:00:00")
    ).otherwise(F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss"))
    return o.select("o_orderkey", X.zero_date_to_null(datestr).alias("clean_date"))


@register("quality_checks", oracle="""
            SELECT 'l_returnflag_enum' AS check_name,
                   CAST(SUM(CASE WHEN NOT (l_returnflag IS NULL OR l_returnflag IN ('A','N','R'))
                            THEN 1 ELSE 0 END) AS BIGINT) AS violations,
                   COUNT(*) AS total FROM lineitem
            UNION ALL
            SELECT 'l_discount_range',
                   CAST(SUM(CASE WHEN NOT (l_discount IS NULL OR (l_discount >= 0.0 AND l_discount <= 0.1))
                            THEN 1 ELSE 0 END) AS BIGINT), COUNT(*) FROM lineitem
            UNION ALL
            SELECT 'l_linenumber_unsigned',
                   CAST(SUM(CASE WHEN NOT (l_linenumber IS NULL OR (l_linenumber >= 0 AND l_linenumber <= 4294967295))
                            THEN 1 ELSE 0 END) AS BIGINT), COUNT(*) FROM lineitem
            UNION ALL
            SELECT 'l_orderkey_not_null',
                   CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT), COUNT(*) FROM lineitem
        """)
def _quality_checks(spark, sf):
    """P4 — CHECK-constraint predicates as one-pass data-quality counters."""
    from pgferry_spark.operators import checks as C

    li = _t(spark, sf, "lineitem")
    return C.run_checks(
        li,
        [
            C.enum_check("l_returnflag", ["A", "N", "R"]),
            C.range_check("l_discount", 0.0, 0.1),
            C.unsigned_check("l_linenumber", "int"),
            C.not_null_check("l_orderkey"),
        ],
    )


def _change_log(spark, sf):
    """Deterministic synthetic CDC log over customer (shared by the merge
    and SCD2 queries and reproduced literally in their oracles):
    updates for custkey%7==0 (acctbal+100), deletes for custkey%11==3,
    inserts at custkey+10M for custkey%13==5. seq = custkey*2 + {1,2};
    when a key matches both U and D, the delete's higher seq wins."""
    c = _t(spark, sf, "customer").select("c_custkey", "c_name", "c_acctbal")
    ups = c.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey",
        F.lit("U").alias("op"),
        (F.col("c_custkey") * 2 + 1).alias("seq"),
        "c_name",
        (F.col("c_acctbal").cast(Q.D12_2) + 100).cast("double").alias("c_acctbal"),
    )
    dels = c.filter(F.col("c_custkey") % 11 == 3).select(
        "c_custkey",
        F.lit("D").alias("op"),
        (F.col("c_custkey") * 2 + 2).alias("seq"),
        "c_name",
        "c_acctbal",
    )
    ins = c.filter(F.col("c_custkey") % 13 == 5).select(
        (F.col("c_custkey") + 10_000_000).alias("c_custkey"),
        F.lit("I").alias("op"),
        F.lit(1).cast("long").alias("seq"),
        F.col("c_name"),
        "c_acctbal",
    )
    return ups.unionByName(dels).unionByName(ins)


@register("cdc_merge", oracle="""
            WITH changes AS (
              SELECT c_custkey, 'U' AS op, c_custkey * 2 + 1 AS seq, c_name,
                     CAST(CAST(c_acctbal AS DECIMAL(12,2)) + 100 AS DOUBLE) AS c_acctbal
              FROM customer WHERE c_custkey % 7 = 0
              UNION ALL
              SELECT c_custkey, 'D', c_custkey * 2 + 2, c_name, c_acctbal
              FROM customer WHERE c_custkey % 11 = 3
              UNION ALL
              SELECT c_custkey + 10000000, 'I', 1, c_name, c_acctbal
              FROM customer WHERE c_custkey % 13 = 5
            ),
            latest AS (
              SELECT * FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY c_custkey
                                             ORDER BY seq DESC) AS rn
                FROM changes)
              WHERE rn = 1
            )
            SELECT COALESCE(b.c_custkey, l.c_custkey) AS c_custkey,
                   CASE WHEN l.op IS NOT NULL THEN l.c_name ELSE b.c_name END AS c_name,
                   CASE WHEN l.op IS NOT NULL THEN l.c_acctbal ELSE b.c_acctbal END AS c_acctbal
            FROM (SELECT c_custkey, c_name, c_acctbal FROM customer) b
            FULL OUTER JOIN latest l ON b.c_custkey = l.c_custkey
            WHERE l.op IS NULL OR l.op <> 'D'
        """)
def _cdc_merge(spark, sf):
    """CDC apply: customer snapshot + change log -> next snapshot (full
    outer join on the key after a window collapse of the log)."""
    from pgferry_spark.operators.incremental import apply_changes

    base = _t(spark, sf, "customer").select("c_custkey", "c_name", "c_acctbal")
    return apply_changes(base, _change_log(spark, sf), "c_custkey", "seq")


@register("scd2_history", oracle="""
            WITH changes AS (
              SELECT c_custkey, 'U' AS op, c_custkey * 2 + 1 AS seq, c_name,
                     CAST(CAST(c_acctbal AS DECIMAL(12,2)) + 100 AS DOUBLE) AS c_acctbal
              FROM customer WHERE c_custkey % 7 = 0
              UNION ALL
              SELECT c_custkey, 'D', c_custkey * 2 + 2, c_name, c_acctbal
              FROM customer WHERE c_custkey % 11 = 3
              UNION ALL
              SELECT c_custkey + 10000000, 'I', 1, c_name, c_acctbal
              FROM customer WHERE c_custkey % 13 = 5
            )
            SELECT c_custkey, op, c_acctbal,
                   seq AS valid_from,
                   LEAD(seq) OVER (PARTITION BY c_custkey ORDER BY seq ASC) AS valid_to,
                   (LEAD(seq) OVER (PARTITION BY c_custkey ORDER BY seq ASC) IS NULL
                    AND op <> 'D') AS is_current
            FROM changes
            QUALIFY op <> 'D'
        """)
def _scd2_history(spark, sf):
    """SCD2 dimension history from the change log: (key, version) rows with
    sequence-bounded validity and a current flag."""
    from pgferry_spark.operators.incremental import scd2_history

    return scd2_history(_change_log(spark, sf), "c_custkey", "seq").select(
        "c_custkey", "op", "c_acctbal", "valid_from", "valid_to", "is_current"
    )


@register("name_match_pairs", oracle=lambda: f"""
            {_NAME_TRIGRAM_PAIRS}
            SELECT id_a, id_b, CAST(shared AS BIGINT) AS shared,
                   ROUND(shared / CAST(na + nb - shared AS DOUBLE), 4) AS jacc
            FROM pairs
            WHERE ROUND(shared / CAST(na + nb - shared AS DOUBLE), 4) >= 0.35
        """)
def _name_match_pairs(spark, sf):
    """Entity resolution on part names: exact-dedup to distinct-name
    representatives FIRST (the realistic pre-step — fuzzy-matching raw
    rows squares every exact-dup group), then char-3-gram-blocked Jaccard
    pairs at >= 0.35."""
    from pgferry_spark.operators.dedup import name_match_pairs

    p = _t(spark, sf, "part")
    reps = p.groupBy("p_name").agg(F.min("p_partkey").alias("name_id"))
    return name_match_pairs(reps, "p_name", "name_id", threshold=0.35)


def _profile_orders_oracle() -> str:
    """UNION-ALL per-column replay of profile_table(orders): one shared
    aggregate CTE, per-column projection rows with the exact NULL-typed
    placeholder columns the Spark struct schema carries."""
    cols = [
        ("o_orderkey", "bigint", "num"),
        ("o_custkey", "bigint", "num"),
        ("o_orderstatus", "string", "str"),
        ("o_totalprice", "double", "num"),
        ("o_orderdate", "timestamp", "ts"),
        ("o_orderpriority", "string", "str"),
    ]
    aggs = ["COUNT(*) AS n"]
    for c, _, kind in cols:
        aggs.append(f"COUNT({c}) AS nn_{c}")
        aggs.append(f"COUNT(DISTINCT {c}) AS ndv_{c}")
        if kind == "num":
            aggs.append(f"ROUND(CAST(MIN({c}) AS DOUBLE), 6) AS min_{c}")
            aggs.append(f"ROUND(CAST(MAX({c}) AS DOUBLE), 6) AS max_{c}")
        elif kind == "ts":
            aggs.append(f"strftime(MIN({c}), '%Y-%m-%d %H:%M:%S') AS smin_{c}")
            aggs.append(f"strftime(MAX({c}), '%Y-%m-%d %H:%M:%S') AS smax_{c}")
        else:
            aggs.append(f"MIN({c}) AS smin_{c}")
            aggs.append(f"MAX({c}) AS smax_{c}")
    selects = []
    for c, dtype, kind in cols:
        mn = f"min_{c}" if kind == "num" else "CAST(NULL AS DOUBLE)"
        mx = f"max_{c}" if kind == "num" else "CAST(NULL AS DOUBLE)"
        smn = f"smin_{c}" if kind in ("ts", "str") else "CAST(NULL AS VARCHAR)"
        smx = f"smax_{c}" if kind in ("ts", "str") else "CAST(NULL AS VARCHAR)"
        selects.append(
            f"SELECT '{c}' AS col_name, '{dtype}' AS data_type,"
            f" n AS n_rows, n - nn_{c} AS n_nulls, ndv_{c} AS n_distinct,"
            f" {mn} AS min_num, {mx} AS max_num,"
            f" {smn} AS min_str, {smx} AS max_str FROM s"
        )
    return (
        "WITH s AS (SELECT " + ", ".join(aggs) + " FROM orders)\n"
        + "\nUNION ALL\n".join(selects)
    )


@register("profile_orders", oracle=_profile_orders_oracle)
def _profile_orders(spark, sf):
    """ANALYZE-style per-column profile of the orders table: one
    aggregation pass computes rows/nulls/ndv/min/max for every column,
    pivoted to per-column rows via an inline struct explode. The CBO /
    migration-validation statistics surface."""
    from pgferry_spark.operators.checks import profile_table

    return profile_table(_t(spark, sf, "orders"))


@register("skew_profile", oracle="""
            WITH c AS (
              SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY o_custkey
            ), t AS (SELECT SUM(cnt) AS total FROM c)
            SELECT o_custkey, CAST(cnt AS BIGINT) AS cnt,
                   ROUND(CAST(cnt AS DOUBLE) / t.total, 4) AS share
            FROM c CROSS JOIN t
            ORDER BY cnt DESC, o_custkey ASC
            LIMIT 10
        """)
def _skew_profile(spark, sf):
    """Top-10 heaviest order keys with corpus share — the pre-join skew
    diagnostic (decides salting/AQE-skew before the shuffle). Lazy
    single-scan form: total derives from the grouped counts, no second
    fact pass, no driver count."""
    from pgferry_spark.operators.skew import skew_profile

    o = _t(spark, sf, "orders")
    return skew_profile(o, "o_custkey", top=10)
