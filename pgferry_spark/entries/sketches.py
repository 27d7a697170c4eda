"""Probabilistic sketches: HLL, count-min, Bloom and log-histogram entries."""

from __future__ import annotations

from pyspark.sql import functions as F

from pgferry_spark.entries.common import lake_table as _t, _TOKS
from pgferry_spark.entries.registry import register
from pgferry_spark.operators.sketches import _alpha_m2 as _hll_alpha_m2


@register("hll_registers", oracle="""
            WITH h AS (
              SELECT l_returnflag,
                     ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15))::BIGINT AS hv
              FROM lineitem
            )
            SELECT l_returnflag, CAST(hv & 255 AS INT) AS bucket,
                   CAST(max(52 - (CASE WHEN (hv >> 8) = 0 THEN 0
                                  ELSE length(bin(hv >> 8)) END) + 1) AS INT) AS register
            FROM h GROUP BY 1, 2
        """)
def _hll_registers(spark, sf):
    """Per-returnflag HyperLogLog register tables over order keys: one
    aggregate whose output is <= 256 rows per group regardless of input
    size — the sketch a 100 TB pipeline ships instead of a distinct
    shuffle. Deterministic md5-derived hash, so every register is
    oracle-exact."""
    from pgferry_spark.operators.sketches import hll_registers

    li = _t(spark, sf, "lineitem")
    return hll_registers(li, "l_orderkey", group_cols=("l_returnflag",), p=8)


_alpha_m2_256 = _hll_alpha_m2(8)


@register("hll_union_estimate", oracle=lambda: f"""
            WITH h AS (
              SELECT ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15))::BIGINT AS hv
              FROM lineitem
            ),
            regs AS (
              SELECT CAST(hv & 255 AS INT) AS bucket,
                     max(52 - (CASE WHEN (hv >> 8) = 0 THEN 0
                               ELSE length(bin(hv >> 8)) END) + 1) AS register
              FROM h GROUP BY 1
            ),
            est AS (
              SELECT round({_alpha_m2_256!r} / (sum(pow(2.0, -register))
                                                + (256 - count(*))), 4) AS est_distinct,
                     CAST(count(*) AS BIGINT) AS n_present
              FROM regs
            ),
            ex AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_distinct
                   FROM lineitem)
            SELECT est_distinct, n_present, exact_distinct,
                   round(abs(est_distinct - exact_distinct) / exact_distinct, 4) AS rel_err
            FROM est, ex
        """)
def _hll_union_estimate(spark, sf):
    """Mergeability demo + accuracy scorecard: the three per-flag
    sketches merge via max-per-bucket (no raw-data rescan), the raw HLL
    estimate (exact power-of-two sums, literal alpha*m^2 constant) lands
    within ~1/sqrt(256) of the exact distinct order-key count."""
    from pgferry_spark.operators.sketches import (
        hll_estimate,
        hll_merge,
        hll_registers,
    )

    li = _t(spark, sf, "lineitem")
    regs = hll_registers(li, "l_orderkey", group_cols=("l_returnflag",), p=8)
    est = hll_estimate(hll_merge(regs), p=8)
    exact = li.agg(F.countDistinct("l_orderkey").alias("exact_distinct"))
    return est.crossJoin(F.broadcast(exact)).select(
        "est_distinct",
        "n_present",
        "exact_distinct",
        F.round(
            F.abs(F.col("est_distinct") - F.col("exact_distinct"))
            / F.col("exact_distinct"),
            4,
        ).alias("rel_err"),
    )


@register("cms_token_sketch", oracle=lambda: f"""
            WITH tok AS (SELECT unnest({_TOKS}) AS w FROM documents),
            cells AS (
              SELECT CAST(j AS INT) AS row,
                     CAST(('0x' || substr(md5('cms' || j || ':' || w), 1, 15))::BIGINT
                          % 32 AS INT) AS col
              FROM tok, unnest([0,1,2,3]) AS u(j)
            )
            SELECT row, col, CAST(count(*) AS BIGINT) AS cnt
            FROM cells GROUP BY 1, 2
        """)
def _cms_token_sketch(spark, sf):
    """Count-Min sketch of corpus token frequencies: 4 salted hash rows x
    32 counters — the cell table IS the aggregate output (<= 128 rows),
    merging two corpora is cell-wise sum. Width 32 is deliberately small
    so collisions exist and the overestimate law is visible in
    cms_heavy_hitters."""
    from pgferry_spark.functions.text import tokens
    from pgferry_spark.operators.sketches import cms_sketch

    d = _t(spark, sf, "documents")
    tok = d.select(F.explode_outer(tokens(F.col("text"))).alias("w")).filter(
        F.col("w").isNotNull()
    )
    return cms_sketch(tok, "w", depth=4, width=32)


@register("cms_heavy_hitters", oracle=lambda: f"""
            WITH tok AS (SELECT unnest({_TOKS}) AS w FROM documents),
            tc AS (SELECT w AS key, CAST(count(*) AS BIGINT) AS true_cnt FROM tok
                   GROUP BY 1 ORDER BY true_cnt DESC, key ASC LIMIT 20),
            cells AS (
              SELECT CAST(j AS INT) AS row,
                     CAST(('0x' || substr(md5('cms' || j || ':' || w), 1, 15))::BIGINT
                          % 32 AS INT) AS col
              FROM tok, unnest([0,1,2,3]) AS u(j)
            ),
            sk AS (SELECT row, col, CAST(count(*) AS BIGINT) AS cnt
                   FROM cells GROUP BY 1, 2),
            probe AS (
              SELECT tc.key, tc.true_cnt, CAST(j AS INT) AS row,
                     CAST(('0x' || substr(md5('cms' || j || ':' || key), 1, 15))::BIGINT
                          % 32 AS INT) AS col
              FROM tc, unnest([0,1,2,3]) AS u(j)
            )
            SELECT p.key, p.true_cnt,
                   CAST(min(coalesce(sk.cnt, 0)) AS BIGINT) AS est_cnt
            FROM probe p LEFT JOIN sk USING (row, col) GROUP BY 1, 2
        """)
def _cms_heavy_hitters(spark, sf):
    """True top-20 tokens vs their Count-Min point estimates: est_cnt =
    min over the 4 rows of the hashed cell, always >= true_cnt, over only
    by colliding mass — the frequency scorecard that certifies the sketch
    before it replaces an exact token count at scale."""
    from pgferry_spark.functions.text import tokens
    from pgferry_spark.operators.sketches import cms_lookup, cms_sketch

    d = _t(spark, sf, "documents")
    tok = d.select(F.explode_outer(tokens(F.col("text"))).alias("w")).filter(
        F.col("w").isNotNull()
    )
    sk = cms_sketch(tok, "w", depth=4, width=32)
    top = (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).alias("true_cnt"))
        .orderBy(F.desc("true_cnt"), F.asc("w"))
        .limit(20)
    )
    est = cms_lookup(sk, top, "w", depth=4, width=32)
    return top.join(est, top.w == est.key).select("key", "true_cnt", "est_cnt")


@register("bloom_custkey_probe", oracle="""
            WITH src AS (SELECT o_custkey FROM orders
                         WHERE o_orderpriority = '1-URGENT'),
            bits AS (
              SELECT DISTINCT
                     CAST(('0x' || substr(md5('bf' || j || ':' || o_custkey), 1, 15))::BIGINT
                          % 8192 AS INT) AS bit
              FROM src, unnest([0,1,2,3,4]) AS u(j)
            ),
            cells AS (
              SELECT c_custkey AS key,
                     CAST(('0x' || substr(md5('bf' || j || ':' || c_custkey), 1, 15))::BIGINT
                          % 8192 AS INT) AS bit
              FROM customer, unnest([0,1,2,3,4]) AS u(j)
            ),
            probe AS (
              SELECT key, min(CASE WHEN bits.bit IS NULL THEN 0 ELSE 1 END) = 1
                            AS maybe_present
              FROM cells LEFT JOIN bits USING (bit) GROUP BY 1
            )
            SELECT p.key, p.maybe_present,
                   EXISTS (SELECT 1 FROM src s WHERE s.o_custkey = p.key) AS has_urgent
            FROM probe p
        """)
def _bloom_custkey_probe(spark, sf):
    """Bloom-filter membership pre-filter: build an 8192-bit / 5-hash
    filter over urgent-order customers, probe every customer. No false
    negatives by construction; the has_urgent truth column makes the
    false-positive rate measurable. At scale this is the shuffle-avoiding
    semi-join: ship the bit table, drop non-members before the join."""
    from pgferry_spark.operators.sketches import bloom_bits, bloom_probe

    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT")
    bits = bloom_bits(urgent, "o_custkey", num_bits=8192, num_hashes=5)
    probed = bloom_probe(bits, c, "c_custkey", num_bits=8192, num_hashes=5)
    actual = (
        urgent.select(F.col("o_custkey").alias("key"))
        .distinct()
        .withColumn("has_urgent", F.lit(True))
    )
    return probed.join(actual, "key", "left").select(
        "key",
        "maybe_present",
        F.coalesce("has_urgent", F.lit(False)).alias("has_urgent"),
    )


@register("loghist_price_quantiles", oracle="""
            WITH scaled AS (
              SELECT l_returnflag,
                     CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS w
              FROM lineitem
            ),
            b AS (
              SELECT l_returnflag,
                     CAST(length(bin(w)) - 1 AS INT) AS e,
                     CAST((w * 16) // CAST(pow(2.0, length(bin(w)) - 1) AS BIGINT)
                          - 16 AS INT) AS sub
              FROM scaled WHERE w >= 1
            ),
            hist AS (SELECT l_returnflag, e, sub, count(*) AS cnt
                     FROM b GROUP BY 1, 2, 3),
            cum AS (
              SELECT l_returnflag, e, sub,
                     sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY e, sub
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS cum,
                     sum(cnt) OVER (PARTITION BY l_returnflag) AS total
              FROM hist
            ),
            qs AS (SELECT CAST(q AS DOUBLE) AS q
                   FROM (SELECT unnest([0.5, 0.95, 0.99]) AS q)),
            sel AS (
              SELECT c.l_returnflag, qs.q, min(c.e * 16 + c.sub) AS bk
              FROM cum c, qs WHERE c.cum >= qs.q * c.total
              GROUP BY 1, 2
            ),
            est AS (
              SELECT l_returnflag, q,
                     round(pow(2.0, bk // 16) * (16 + bk % 16) / 16 / 100, 4) AS est
              FROM sel
            ),
            exq AS (
              SELECT l_returnflag,
                     round(quantile_cont(v, 0.5), 4) AS e50,
                     round(quantile_cont(v, 0.95), 4) AS e95,
                     round(quantile_cont(v, 0.99), 4) AS e99
              FROM (SELECT l_returnflag,
                           CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS DOUBLE) AS v
                    FROM lineitem) GROUP BY 1
            ),
            ex AS (
              SELECT l_returnflag, qs.q,
                     CASE WHEN qs.q = 0.5 THEN e50
                          WHEN qs.q = 0.95 THEN e95
                          ELSE e99 END AS exact
              FROM exq, qs
            )
            SELECT est.l_returnflag, est.q, est.est, ex.exact,
                   round(abs(est.est - ex.exact) / ex.exact, 4) AS rel_err
            FROM est JOIN ex ON est.l_returnflag = ex.l_returnflag
                            AND est.q = ex.q
        """)
def _loghist_price_quantiles(spark, sf):
    """Mergeable-quantiles sketch scorecard (DDSketch lineage): per-flag
    log-histogram of l_extendedprice — exact integer (octave, sub-bucket)
    buckets, <= 63*16 rows per group from ONE aggregate — then p50/p95/p99
    read off the cumulative histogram next to the exact percentiles. The
    rel_err column certifies the <= 1/k relative-error bound that lets a
    100 TB pipeline ship per-day histograms instead of sorting the data."""
    from pgferry_spark.operators.sketches import loghist_counts, loghist_quantiles

    li = _t(spark, sf, "lineitem")
    hist = loghist_counts(
        li, "l_extendedprice", group_cols=("l_returnflag",), k=16, decimals=2
    )
    est = loghist_quantiles(
        hist, (0.5, 0.95, 0.99), group_cols=("l_returnflag",), k=16, decimals=2
    )
    exact = (
        li.groupBy("l_returnflag")
        .agg(
            F.expr(
                "percentile(cast(cast(l_extendedprice as decimal(12,2)) as double),"
                " array(0.5d, 0.95d, 0.99d))"
            ).alias("p")
        )
        .select(
            "l_returnflag",
            F.explode(
                F.arrays_zip(
                    F.array(F.lit(0.5), F.lit(0.95), F.lit(0.99)).alias("q"),
                    F.col("p").alias("exact"),
                )
            ).alias("z"),
        )
        .select(
            "l_returnflag",
            F.col("z.q").alias("q"),
            F.round(F.col("z.exact"), 4).alias("exact"),
        )
    )
    return est.join(exact, ["l_returnflag", "q"]).select(
        "l_returnflag",
        "q",
        "est",
        "exact",
        F.round(F.abs(F.col("est") - F.col("exact")) / F.col("exact"), 4).alias(
            "rel_err"
        ),
    )


# p=8 HLL registers of the distinct o_custkey sets of 1995 orders (ra)
# and 1996 orders (rb), and their register-wise max union (ru)
_HLL_1995_1996 = f"""WITH ra AS (
              SELECT CAST(hv & 255 AS INT) AS bucket,
                     max(52 - (CASE WHEN (hv >> 8) = 0 THEN 0
                               ELSE length(bin(hv >> 8)) END) + 1) AS register
              FROM (SELECT ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT AS hv
                    FROM orders WHERE year(o_orderdate) = 1995) GROUP BY 1
            ),
            rb AS (
              SELECT CAST(hv & 255 AS INT) AS bucket,
                     max(52 - (CASE WHEN (hv >> 8) = 0 THEN 0
                               ELSE length(bin(hv >> 8)) END) + 1) AS register
              FROM (SELECT ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT AS hv
                    FROM orders WHERE year(o_orderdate) = 1996) GROUP BY 1
            ),
            ru AS (SELECT bucket, max(register) AS register
                   FROM (SELECT * FROM ra UNION ALL SELECT * FROM rb) GROUP BY 1)"""


@register("hll_intersect_customers", oracle=lambda: f"""
            {_HLL_1995_1996},
            ea AS (SELECT round({_alpha_m2_256!r} / (sum(pow(2.0, -register))
                                 + (256 - count(*))), 4) AS est_a FROM ra),
            eb AS (SELECT round({_alpha_m2_256!r} / (sum(pow(2.0, -register))
                                 + (256 - count(*))), 4) AS est_b FROM rb),
            eu AS (SELECT round({_alpha_m2_256!r} / (sum(pow(2.0, -register))
                                 + (256 - count(*))), 4) AS est_union FROM ru),
            ex AS (
              SELECT CAST(count(*) AS BIGINT) AS exact_intersect
              FROM (SELECT DISTINCT o_custkey FROM orders
                    WHERE year(o_orderdate) = 1995) a
              JOIN (SELECT DISTINCT o_custkey FROM orders
                    WHERE year(o_orderdate) = 1996) b USING (o_custkey)
            )
            SELECT est_a, est_b, est_union,
                   greatest(0.0, round(est_a + est_b - est_union, 4))
                     AS est_intersect,
                   exact_intersect,
                   round(abs(greatest(0.0, round(est_a + est_b - est_union, 4))
                             - exact_intersect)
                         / exact_intersect, 4) AS rel_err
            FROM ea, eb, eu, ex
        """)
def _hll_intersect_customers(spark, sf):
    """Sketch set-intersection: how many customers ordered in BOTH 1995
    and 1996, answered by inclusion-exclusion over two 256-register HLLs
    (est_a + est_b - est_union) — three bounded register tables instead
    of a distinct-shuffle on either side. The exact intersection and
    rel_err columns are the accuracy scorecard."""
    from pgferry_spark.operators.sketches import (
        hll_intersect_estimate,
        hll_registers,
    )

    o = _t(spark, sf, "orders")
    a95 = o.filter(F.year("o_orderdate") == 1995).select("o_custkey")
    b96 = o.filter(F.year("o_orderdate") == 1996).select("o_custkey")
    est = hll_intersect_estimate(
        hll_registers(a95, "o_custkey", p=8),
        hll_registers(b96, "o_custkey", p=8),
        p=8,
    )
    exact = (
        a95.distinct()
        .join(b96.distinct(), "o_custkey")
        .agg(F.count(F.lit(1)).alias("exact_intersect"))
    )
    return est.crossJoin(F.broadcast(exact)).select(
        "est_a",
        "est_b",
        "est_union",
        "est_intersect",
        "exact_intersect",
        F.round(
            F.abs(F.col("est_intersect") - F.col("exact_intersect"))
            / F.col("exact_intersect"),
            4,
        ).alias("rel_err"),
    )


@register("compaction_plan", oracle="""
            WITH m AS (
              SELECT source,
                     CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                          % 8 AS INT) AS file_id,
                     CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(length(text)) AS BIGINT) AS bytes
              FROM documents GROUP BY 1, 2
            )
            SELECT source, file_id, n_docs, bytes,
                   CAST(floor(coalesce(sum(bytes) OVER (PARTITION BY source
                              ORDER BY file_id ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING), 0) / 65536) AS INT) AS bin
            FROM m
        """)
def _compaction_plan(spark, sf):
    """Lake-maintenance small-file compaction plan: a per-(source, shard)
    file manifest (count + bytes, built the same md5-shard way as
    shard_manifest) packed into ~64 KiB output bins by ordered next-fit
    on the running byte total. Order-preserving packing keeps clustered
    key ranges contiguous (what Delta/Iceberg OPTIMIZE does); the window
    runs over file METADATA (one row per file), never data — the rewrite
    this plan feeds is embarrassingly parallel per bin."""
    from pgferry_spark.operators.curate import assign_shards, compaction_plan

    d = _t(spark, sf, "documents")
    manifest = (
        assign_shards(d, "doc_id", 8)
        .groupBy("source", F.col("shard").alias("file_id"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text").cast("long")).alias("bytes"),
        )
    )
    return compaction_plan(
        manifest, "bytes", "file_id", target_bytes=65536, group_cols=("source",)
    )


@register("cms_join_size_custkey", oracle="""
            WITH sa AS (
              SELECT CAST(j AS INT) AS row,
                     CAST(('0x' || substr(md5('cms' || j || ':' || o_custkey), 1, 15))::BIGINT
                          % 8192 AS INT) AS col,
                     CAST(count(*) AS BIGINT) AS cnt
              FROM orders, unnest([0,1,2,3]) AS u(j) GROUP BY 1, 2
            ),
            sb AS (
              SELECT CAST(j AS INT) AS row,
                     CAST(('0x' || substr(md5('cms' || j || ':' || c_custkey), 1, 15))::BIGINT
                          % 8192 AS INT) AS col,
                     CAST(count(*) AS BIGINT) AS cnt
              FROM customer, unnest([0,1,2,3]) AS u(j) GROUP BY 1, 2
            ),
            dots AS (
              SELECT sa.row, sum(sa.cnt * sb.cnt) AS dot
              FROM sa JOIN sb USING (row, col) GROUP BY 1
            ),
            -- spine of every hash row in either sketch: a row with fully
            -- disjoint cells has true dot = 0 and must bound the MIN
            -- (mirrors cms_join_size's left-join-and-coalesce)
            spine AS (
              SELECT DISTINCT row
              FROM (SELECT row FROM sa UNION ALL SELECT row FROM sb)
            ),
            est AS (
              SELECT CAST(min(coalesce(dot, 0)) AS BIGINT) AS est_join_size
              FROM spine LEFT JOIN dots USING (row)
            ),
            ex AS (
              SELECT CAST(count(*) AS BIGINT) AS exact_join_size
              FROM orders JOIN customer ON o_custkey = c_custkey
            )
            SELECT est_join_size, exact_join_size,
                   round((est_join_size - exact_join_size)
                         / CAST(exact_join_size AS DOUBLE), 4) AS rel_overestimate
            FROM est, ex
        """)
def _cms_join_size_custkey(spark, sf):
    """Sketch-estimated equi-join output cardinality (AMS/CMS inner
    product): |orders ⋈ customer on custkey| from two bounded cell
    tables — the join-size oracle a planner consults before committing
    to a shuffle at 100 TB, where the true answer costs the join
    itself. Never an underestimate (collisions only add mass); the
    exact count + rel_err columns are the accuracy scorecard."""
    from pgferry_spark.operators.sketches import cms_join_size, cms_sketch

    o = _t(spark, sf, "orders").select(F.col("o_custkey").alias("k"))
    c = _t(spark, sf, "customer").select(F.col("c_custkey").alias("k"))
    est = cms_join_size(
        cms_sketch(o, "k", depth=4, width=8192),
        cms_sketch(c, "k", depth=4, width=8192),
    )
    exact = (
        _t(spark, sf, "orders")
        .join(
            _t(spark, sf, "customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .agg(F.count(F.lit(1)).alias("exact_join_size"))
    )
    return est.crossJoin(F.broadcast(exact)).select(
        "est_join_size",
        "exact_join_size",
        F.round(
            (F.col("est_join_size") - F.col("exact_join_size"))
            / F.col("exact_join_size"),
            4,
        ).alias("rel_overestimate"),
    )


@register("hll_rolling_users", oracle=lambda: f"""
            WITH e AS (SELECT CAST(ts AS DATE) AS day, user_id FROM events),
            h AS (
              SELECT day,
                     ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS hv
              FROM e
            ),
            regs AS (
              SELECT day, CAST(hv & 255 AS INT) AS bucket,
                     max(52 - (CASE WHEN (hv >> 8) = 0 THEN 0
                               ELSE length(bin(hv >> 8)) END) + 1) AS register
              FROM h GROUP BY 1, 2
            ),
            contrib AS (
              SELECT day + CAST(i AS INT) AS day2, bucket, register
              FROM regs, unnest(range(7)) AS u(i)
            ),
            merged AS (SELECT day2 AS day, bucket, max(register) AS register
                       FROM contrib GROUP BY 1, 2),
            est AS (
              SELECT day,
                     round({_alpha_m2_256!r} / (sum(pow(2.0, -register))
                           + (256 - count(*))), 4) AS est_distinct,
                     CAST(count(*) AS BIGINT) AS n_present
              FROM merged GROUP BY 1
            ),
            ex AS (
              SELECT day + CAST(i AS INT) AS day,
                     count(DISTINCT user_id) AS exact_distinct
              FROM e, unnest(range(7)) AS u(i) GROUP BY 1
            )
            SELECT est.day, est.est_distinct, est.n_present, ex.exact_distinct,
                   round(abs(est.est_distinct - ex.exact_distinct)
                         / ex.exact_distinct, 4) AS rel_err
            FROM est JOIN ex USING (day)
        """)
def _hll_rolling_users(spark, sf):
    """Rolling 7-day distinct users (WAU) from per-day HLL register
    tables: each day's events are sketched ONCE (<= 256 rows/day) and
    every trailing window is register arithmetic — vs an exact rolling
    COUNT(DISTINCT) that re-shuffles 7 days of raw keys per output day.
    The exact count + rel_err columns are the accuracy scorecard; both
    sides use the same contribute-explode so the day sets align."""
    from pgferry_spark.operators.sketches import hll_rolling_distinct

    e = _t(spark, sf, "events")
    est = hll_rolling_distinct(e, "ts", "user_id", window_days=7, p=8)
    exact = (
        e.select(
            F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"),
            F.to_date("ts").alias("d"),
            "user_id",
        )
        .select(F.date_add(F.col("d"), F.col("i")).alias("day"), "user_id")
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("exact_distinct"))
    )
    return est.join(exact, "day").select(
        "day",
        "est_distinct",
        "n_present",
        "exact_distinct",
        F.round(
            F.abs(F.col("est_distinct") - F.col("exact_distinct"))
            / F.col("exact_distinct"),
            4,
        ).alias("rel_err"),
    )


@register("cms_weighted_spenders", oracle="""
            WITH o AS (
              SELECT o_custkey AS k,
                     CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                       AS cents
              FROM orders
            ),
            cells AS (
              SELECT CAST(j AS INT) AS row,
                     CAST(('0x' || substr(md5('cms' || j || ':' || k), 1, 15))::BIGINT
                          % 1024 AS INT) AS col,
                     cents
              FROM o, unnest([0,1,2,3]) AS u(j)
            ),
            sk AS (SELECT row, col, CAST(sum(cents) AS BIGINT) AS cnt
                   FROM cells GROUP BY 1, 2),
            tc AS (SELECT k AS key, CAST(sum(cents) AS BIGINT) AS true_cents
                   FROM o GROUP BY 1
                   ORDER BY true_cents DESC, key ASC LIMIT 15),
            probe AS (
              SELECT tc.key, tc.true_cents, CAST(j AS INT) AS row,
                     CAST(('0x' || substr(md5('cms' || j || ':' || key), 1, 15))::BIGINT
                          % 1024 AS INT) AS col
              FROM tc, unnest([0,1,2,3]) AS u(j)
            )
            SELECT p.key, p.true_cents,
                   CAST(min(coalesce(sk.cnt, 0)) AS BIGINT) AS est_cents
            FROM probe p LEFT JOIN sk USING (row, col) GROUP BY 1, 2
        """)
def _cms_weighted_spenders(spark, sf):
    """Weighted Count-Min: top customers by TOTAL ORDER VALUE (integer
    cents — any non-negative additive measure works) against their CMS
    revenue estimates. Same never-underestimate law as the count
    sketch, so the bounded cell table answers "who are the heavy
    spenders" at 100 TB without a per-key revenue shuffle."""
    from pgferry_spark.operators.sketches import cms_lookup, cms_sketch

    o = _t(spark, sf, "orders").select(
        F.col("o_custkey").alias("k"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    sk = cms_sketch(o, "k", depth=4, width=1024, weight_col="cents")
    top = (
        o.groupBy("k")
        .agg(F.sum("cents").alias("true_cents"))
        .orderBy(F.desc("true_cents"), F.asc("k"))
        .limit(15)
    )
    est = cms_lookup(sk, top, "k", depth=4, width=1024)
    return top.join(est, top.k == est.key).select(
        "key", "true_cents", F.col("est_cnt").alias("est_cents")
    )


@register("loghist_rolling_value", oracle="""
            WITH scaled AS (
              SELECT CAST(ts AS DATE) AS day,
                     CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS w
              FROM events
            ),
            b AS (
              SELECT day,
                     CAST(length(bin(w)) - 1 AS INT) AS e,
                     CAST((w * 16) // CAST(pow(2.0, length(bin(w)) - 1) AS BIGINT)
                          - 16 AS INT) AS sub
              FROM scaled WHERE w >= 1
            ),
            hist AS (SELECT day, e, sub, count(*) AS cnt FROM b GROUP BY 1, 2, 3),
            contrib AS (
              SELECT day + CAST(i AS INT) AS day2, e, sub, cnt
              FROM hist, unnest(range(7)) AS u(i)
            ),
            merged AS (SELECT day2 AS day, e, sub, sum(cnt) AS cnt
                       FROM contrib GROUP BY 1, 2, 3),
            cum AS (
              SELECT day, e, sub,
                     sum(cnt) OVER (PARTITION BY day ORDER BY e, sub
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS cum,
                     sum(cnt) OVER (PARTITION BY day) AS total
              FROM merged
            ),
            qs AS (SELECT CAST(q AS DOUBLE) AS q
                   FROM (SELECT unnest([0.5, 0.99]) AS q)),
            sel AS (
              SELECT c.day, qs.q, min(c.e * 16 + c.sub) AS bk
              FROM cum c, qs WHERE c.cum >= qs.q * c.total
              GROUP BY 1, 2
            )
            SELECT day, q,
                   round(pow(2.0, bk // 16) * (16 + bk % 16) / 16 / 100, 4) AS est
            FROM sel
        """)
def _loghist_rolling_value(spark, sf):
    """Rolling 7-day p50/p99 of the event value signal from per-day
    log-histograms — the SLO-monitor shape: each day's values
    histogrammed once, every trailing window rebuilt by cell-sum merge
    (the loghist analogue of hll_rolling_users). An exact rolling
    percentile would re-sort 7 days of raw values per output day."""
    from pgferry_spark.operators.sketches import loghist_rolling_quantiles

    e = _t(spark, sf, "events")
    return loghist_rolling_quantiles(
        e, "ts", "value", window_days=7, qs=(0.5, 0.99), k=16, decimals=2
    )


@register("hll_churn_customers", oracle=lambda: f"""
            {_HLL_1995_1996},
            ea AS (SELECT round({_alpha_m2_256!r} / (sum(pow(2.0, -register))
                                 + (256 - count(*))), 4) AS est_a FROM ra),
            eb AS (SELECT round({_alpha_m2_256!r} / (sum(pow(2.0, -register))
                                 + (256 - count(*))), 4) AS est_b FROM rb),
            eu AS (SELECT round({_alpha_m2_256!r} / (sum(pow(2.0, -register))
                                 + (256 - count(*))), 4) AS est_union FROM ru),
            inter AS (
              SELECT est_a,
                     greatest(0.0, round(est_a + est_b - est_union, 4))
                       AS est_intersect
              FROM ea, eb, eu
            ),
            est AS (
              SELECT est_a, est_intersect,
                     greatest(0.0, round(est_a - est_intersect, 4))
                       AS est_churned
              FROM inter
            ),
            ex AS (
              SELECT CAST(count(*) AS BIGINT) AS exact_churned
              FROM (SELECT DISTINCT o_custkey FROM orders
                    WHERE year(o_orderdate) = 1995) a
              WHERE NOT EXISTS (
                SELECT 1 FROM orders b
                WHERE year(b.o_orderdate) = 1996
                  AND b.o_custkey = a.o_custkey
              )
            )
            SELECT est_a, est_intersect, est_churned, exact_churned,
                   round(abs(est_churned - exact_churned) / exact_churned, 4)
                     AS rel_err
            FROM est, ex
        """)
def _hll_churn_customers(spark, sf):
    """Churn estimation by sketch set-difference: customers who ordered
    in 1995 but NOT in 1996, estimated as est(A) - est(A ∩ B) with the
    intersection from inclusion-exclusion — the year-over-year churn
    question answered from three bounded register tables instead of a
    distinct anti-join over either year. Exact churn + rel_err are the
    scorecard."""
    from pgferry_spark.operators.sketches import (
        hll_intersect_estimate,
        hll_registers,
    )

    o = _t(spark, sf, "orders")
    a95 = o.filter(F.year("o_orderdate") == 1995).select("o_custkey")
    b96 = o.filter(F.year("o_orderdate") == 1996).select("o_custkey")
    inter = hll_intersect_estimate(
        hll_registers(a95, "o_custkey", p=8),
        hll_registers(b96, "o_custkey", p=8),
        p=8,
    )
    est = inter.select(
        "est_a",
        "est_intersect",
        F.greatest(
            F.lit(0.0), F.round(F.col("est_a") - F.col("est_intersect"), 4)
        ).alias("est_churned"),
    )
    exact = (
        a95.distinct()
        .join(b96.distinct(), "o_custkey", "left_anti")
        .agg(F.count(F.lit(1)).alias("exact_churned"))
    )
    return est.crossJoin(F.broadcast(exact)).select(
        "est_a",
        "est_intersect",
        "est_churned",
        "exact_churned",
        F.round(
            F.abs(F.col("est_churned") - F.col("exact_churned"))
            / F.col("exact_churned"),
            4,
        ).alias("rel_err"),
    )


def _sketchval_col_sql(col: str) -> str:
    """Per-column SQL block for the sketch_validation oracle: HLL
    distinct estimate + loghist p50/p99 over the DECIMAL-normalized
    column (src == dst in the identity round-trip entry)."""
    return f"""
        SELECT '{col}' AS "column",
               rd.reg_diff,
               e.est AS est_distinct_src, e.est AS est_distinct_dst,
               pq.p50 AS p50_src, pq.p50 AS p50_dst,
               pq.p99 AS p99_src, pq.p99 AS p99_dst
        FROM (
          SELECT CAST(count(*) AS BIGINT) AS reg_diff
          FROM (
            SELECT CAST(hv & 255 AS INT) AS bucket,
                   max(52 - (CASE WHEN (hv >> 8) = 0 THEN 0
                             ELSE length(bin(hv >> 8)) END) + 1) AS register
            FROM (SELECT ('0x' || substr(md5(CAST(CAST({col} AS DECIMAL(18,2))
                                              AS VARCHAR)), 1, 15))::BIGINT AS hv
                  FROM lineitem) GROUP BY 1
          ) ra FULL OUTER JOIN (
            SELECT CAST(hv & 255 AS INT) AS bucket,
                   max(52 - (CASE WHEN (hv >> 8) = 0 THEN 0
                             ELSE length(bin(hv >> 8)) END) + 1) AS register
            FROM (SELECT ('0x' || substr(md5(CAST(CAST({col} AS DECIMAL(18,2))
                                              AS VARCHAR)), 1, 15))::BIGINT AS hv
                  FROM lineitem) GROUP BY 1
          ) rb USING (bucket)
          WHERE ra.register IS DISTINCT FROM rb.register
        ) rd, (
          SELECT round({_alpha_m2_256!r} / (sum(pow(2.0, -register))
                       + (256 - count(*))), 4) AS est
          FROM (
            SELECT CAST(hv & 255 AS INT) AS bucket,
                   max(52 - (CASE WHEN (hv >> 8) = 0 THEN 0
                             ELSE length(bin(hv >> 8)) END) + 1) AS register
            FROM (SELECT ('0x' || substr(md5(CAST(CAST({col} AS DECIMAL(18,2))
                                              AS VARCHAR)), 1, 15))::BIGINT AS hv
                  FROM lineitem) GROUP BY 1
          )
        ) e, (
          SELECT max(CASE WHEN q = 0.5
                     THEN round(pow(2.0, bk // 16) * (16 + bk % 16) / 16 / 100, 4)
                     END) AS p50,
                 max(CASE WHEN q = 0.99
                     THEN round(pow(2.0, bk // 16) * (16 + bk % 16) / 16 / 100, 4)
                     END) AS p99
          FROM (
            SELECT qs.q, min(c.e * 16 + c.sub) AS bk
            FROM (
              SELECT e, sub,
                     sum(cnt) OVER (ORDER BY e, sub ROWS BETWEEN UNBOUNDED
                                    PRECEDING AND CURRENT ROW) AS cum,
                     sum(cnt) OVER () AS total
              FROM (
                SELECT e, sub, count(*) AS cnt
                FROM (
                  SELECT CAST(length(bin(w)) - 1 AS INT) AS e,
                         CAST((w * 16) // CAST(pow(2.0, length(bin(w)) - 1)
                              AS BIGINT) - 16 AS INT) AS sub
                  FROM (SELECT CAST(CAST({col} AS DECIMAL(18,2)) * 100 AS BIGINT)
                          AS w FROM lineitem)
                  WHERE w >= 1
                ) GROUP BY 1, 2
              )
            ) c, (SELECT CAST(q AS DOUBLE) AS q
                  FROM (SELECT unnest([0.5, 0.99]) AS q)) qs
            WHERE c.cum >= qs.q * c.total
            GROUP BY 1
          )
        ) pq
    """


@register("sketch_validation_lineitem", oracle=lambda: _sketchval_col_sql("l_quantity")
            + " UNION ALL "
            + _sketchval_col_sql("l_extendedprice"))
def _sketch_validation_lineitem(spark, sf):
    """Content-shape migration validation at sketch cost — the scale
    extension of the reference's COUNT(*) check: per-column HLL
    distinct estimate + log-histogram p50/p99 for source AND target
    (here the post-transform identity round-trip, so the sides agree
    row-for-row). Row counts catch dropped rows; these catch silent
    value truncation and botched type coercion, at one bounded
    aggregate per (table, column) instead of exact COUNT(DISTINCT) +
    sort at 100 TB."""
    from pgferry_spark.plans.validation import sketch_validation

    li = _t(spark, sf, "lineitem")
    return sketch_validation(
        li, li, ["l_quantity", "l_extendedprice"], p=8, k=16, decimals=2
    )
