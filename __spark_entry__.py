"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes every implemented operator from SURVEY.md §2 (plus the
training-data-pipeline operators) as (spark, sf_dir) -> DataFrame callables;
``oracle_sql()`` provides the DuckDB-runnable ANSI-SQL twin for each.
Operators whose semantics are not SQL-expressible (xxhash64 fast paths,
MLlib KMeans / LBFGS / Lloyd-trained float metadata, iterative BPE
learning, deflate ratios) have no oracle entry and get the driver's
rows-only check — each has an oracle-checked deterministic twin or an
independent-reference pytest pinning the same code path.

Determinism rules shared by both sides: exact DECIMAL internal math with
DOUBLE only at the output edge, md5-based portable hashing, total-order
tie-breaks on every top-k, one terminal round per float column.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType

from pgferry_spark.functions import text as T
from pgferry_spark.functions import transforms as X
from pgferry_spark.multimodal import attach_fake_media, decode_image_meta, frame_sample
from pgferry_spark.operators import dedup, filters, orphans, queries as Q, ranking, similarity
from pgferry_spark.plans.chunk import plan_table_chunks
from pgferry_spark.sources.parquet import chunked_parquet_read, load_tables, read_parquet
from pgferry_spark.utils import fan_out

SF0001 = "/root/testdata/sf0.001"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # session-scoped memo of the lazy plan handle (r14, guide §1.2):
    # a bench pass constructs each entry 3x over 1-5 tables, and every
    # fresh spark.read.parquet re-runs listing + footer schema
    # inference (~0.2 s driver-side) on ten immutable fixture files.
    # See sources/parquet.read_parquet_memo for the safety contract.
    from pgferry_spark.sources.parquet import read_parquet_memo

    return read_parquet_memo(spark, os.path.join(sf_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# entry — flagship smoke query
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: TPC-H Q1-shaped pricing summary at sf0.001."""
    return Q.q1_pricing_summary(_t(spark, SF0001, "lineitem"))


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def _q1(spark, sf):
    return Q.q1_pricing_summary(_t(spark, sf, "lineitem"))


def _q3(spark, sf):
    return Q.q3_shipping_priority(
        _t(spark, sf, "customer"), _t(spark, sf, "orders"), _t(spark, sf, "lineitem")
    )


def _q5(spark, sf):
    return Q.q5_local_supplier_volume(
        _t(spark, sf, "region"),
        _t(spark, sf, "nation"),
        _t(spark, sf, "customer"),
        _t(spark, sf, "supplier"),
        _t(spark, sf, "orders"),
        _t(spark, sf, "lineitem"),
        region_name="ASIA",
    )


def _q10(spark, sf):
    return Q.q10_returned_revenue(
        _t(spark, sf, "customer"), _t(spark, sf, "orders"),
        _t(spark, sf, "lineitem"), _t(spark, sf, "nation"),
    )


def _q12(spark, sf):
    return Q.q12_priority_counts(_t(spark, sf, "orders"), _t(spark, sf, "lineitem"))


def _q17(spark, sf):
    return Q.q17_small_quantity_revenue(
        _t(spark, sf, "part"), _t(spark, sf, "lineitem")
    )


def _q6(spark, sf):
    return Q.q6_forecast_revenue(_t(spark, sf, "lineitem"))


def _q14(spark, sf):
    return Q.q14_promo_revenue(_t(spark, sf, "part"), _t(spark, sf, "lineitem"))


def _q19(spark, sf):
    return Q.q19_disjunctive_revenue(_t(spark, sf, "part"), _t(spark, sf, "lineitem"))


def _q22(spark, sf):
    return Q.q22_idle_customers(_t(spark, sf, "customer"), _t(spark, sf, "orders"))


def _q4(spark, sf):
    return Q.q4_order_priority(_t(spark, sf, "orders"), _t(spark, sf, "lineitem"))


def _q7(spark, sf):
    return Q.q7_volume_shipping(
        _t(spark, sf, "supplier"), _t(spark, sf, "lineitem"),
        _t(spark, sf, "orders"), _t(spark, sf, "customer"), _t(spark, sf, "nation"),
    )


def _q8(spark, sf):
    return Q.q8_market_share(
        _t(spark, sf, "part"), _t(spark, sf, "supplier"), _t(spark, sf, "lineitem"),
        _t(spark, sf, "orders"), _t(spark, sf, "customer"), _t(spark, sf, "nation"),
        _t(spark, sf, "region"),
    )


def _q9(spark, sf):
    return Q.q9_product_profit(
        _t(spark, sf, "part"), _t(spark, sf, "supplier"), _t(spark, sf, "lineitem"),
        _t(spark, sf, "orders"), _t(spark, sf, "nation"),
    )


def _q13(spark, sf):
    return Q.q13_order_count_distribution(
        _t(spark, sf, "customer"), _t(spark, sf, "orders")
    )


def _q15(spark, sf):
    return Q.q15_top_supplier(_t(spark, sf, "supplier"), _t(spark, sf, "lineitem"))


def _q18(spark, sf):
    return Q.q18_large_volume_customers(
        _t(spark, sf, "customer"), _t(spark, sf, "orders"), _t(spark, sf, "lineitem")
    )


def _top_order(spark, sf):
    return Q.top_order_per_customer(_t(spark, sf, "orders"))


def _rollup(spark, sf):
    return Q.rollup_pricing(_t(spark, sf, "lineitem"))


def _cube(spark, sf):
    return Q.cube_pricing(_t(spark, sf, "lineitem"))


def _compression_ratio(spark, sf):
    """Deflate-ratio quality signal over documents — rows-only (no SQL
    deflate); semantics pinned by tests (repetitive << prose < random)."""
    return filters.compression_ratio_stats(
        _t(spark, sf, "documents"), "text", "doc_id"
    )


def _debounce(spark, sf):
    """Greedy 5-minute cooldown throttle per user — sequential kept-set
    state via one Arrow-batched per-user scan; the oracle replays the
    greedy rule as a recursive LATERAL query."""
    from pgferry_spark.operators.temporal import debounce_events

    e = _t(spark, sf, "events")
    return debounce_events(e, "user_id", "ts", "event_id", cooldown_s=300)


def _name_match_verified(spark, sf):
    """Block→verify entity resolution: low-threshold gram blocking for
    recall, exact Levenshtein <= 3 for precision."""
    from pgferry_spark.operators.dedup import name_match_pairs_verified

    p = _t(spark, sf, "part")
    reps = p.groupBy("p_name").agg(F.min("p_partkey").alias("name_id"))
    return name_match_pairs_verified(
        reps, "p_name", "name_id", threshold=0.3, max_edit=3
    )


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


def _zorder_keys(spark, sf):
    """Morton keys over (partkey, suppkey) — the clustering key behind
    2-D data skipping; pure bit-math Column expression, map-only."""
    from pgferry_spark.sources.layout import zorder_key

    li = _t(spark, sf, "lineitem")
    return li.select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
        zorder_key(F.col("l_partkey"), F.col("l_suppkey"), bits=16).alias("zkey"),
    )


def _distinct(spark, sf):
    return Q.distinct_orders_per_flag(_t(spark, sf, "lineitem"))


def _events_hourly(spark, sf):
    return Q.events_hourly(_t(spark, sf, "events"))


def _events_json(spark, sf):
    ev = _t(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"), F.count(F.lit(1)).alias("n_events")
    )


def _big_orders(spark, sf):
    return Q.big_order_customers(
        _t(spark, sf, "customer"), _t(spark, sf, "orders"), _t(spark, sf, "lineitem")
    )


def _cheapest_supplier(spark, sf):
    return Q.cheapest_supplier_per_part(
        _t(spark, sf, "part"), _t(spark, sf, "supplier"), _t(spark, sf, "lineitem")
    )


def _set_ops(spark, sf):
    return Q.customer_set_ops(
        _t(spark, sf, "customer"), _t(spark, sf, "orders"), _t(spark, sf, "events")
    )


def _sql_surface(spark, sf):
    """The SQL API surface: register temp views and execute literal SQL —
    an EXISTS subquery Catalyst decorrelates into a semi join."""
    for name in ("customer", "orders"):
        _t(spark, sf, name).createOrReplaceTempView(name)
    return spark.sql(
        """
        SELECT c_custkey, c_mktsegment
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
        """
    )


def _events_pivot(spark, sf):
    return Q.events_pivot(_t(spark, sf, "events"))


def _lineitem_stats(spark, sf):
    return Q.lineitem_column_stats(_t(spark, sf, "lineitem"))


def _percentiles(spark, sf):
    return Q.revenue_percentiles(_t(spark, sf, "lineitem"))


def _sessionize(spark, sf):
    return Q.sessionize(_t(spark, sf, "events"), gap_minutes=30)


def _asof_join(spark, sf):
    return Q.asof_join_purchase_view(_t(spark, sf, "events"))


def _minmax(spark, sf):
    return Q.minmax_probe(_t(spark, sf, "orders"), "o_orderkey", "orders")


def _row_counts(spark, sf):
    return Q.row_counts(load_tables(spark, sf))


def _sequence_reset(spark, sf):
    return Q.sequence_reset_values(
        {
            "customer": (_t(spark, sf, "customer"), "c_custkey"),
            "orders": (_t(spark, sf, "orders"), "o_orderkey"),
            "part": (_t(spark, sf, "part"), "p_partkey"),
        }
    )


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


def _orphan_events(spark, sf):
    """J1 — null-aware anti join: events whose user has no parent row in the
    migrated subset (customers < 100)."""
    parent = _t(spark, sf, "customer").filter(F.col("c_custkey") < 100)
    child = _t(spark, sf, "events")
    return orphans.find_orphans(child, parent, ["user_id"], ["c_custkey"]).select(
        "event_id", "user_id"
    )


def _rfm_features(spark, sf):
    """RFM behavioral scoring: one aggregate + the broadcast-CDF
    calibration pass; anchored as_of keeps it reproducible."""
    from pgferry_spark.operators.curate import rfm_features

    e = _t(spark, sf, "events")
    return rfm_features(
        e, "user_id", "ts", "value", as_of="1996-01-01 00:00:00"
    )


def _decayed_topk(spark, sf):
    """Recency-weighted trending users (24h half-life, fixed as_of so the
    score is a pure function of the data)."""
    from pgferry_spark.operators.temporal import decayed_topk

    e = _t(spark, sf, "events")
    return decayed_topk(
        e, "user_id", "ts", as_of="1996-01-01 00:00:00", k=20
    )


def _k_anonymity(spark, sf):
    """k=5 anonymity audit over (nationkey, mktsegment) quasi-identifiers
    — the release gate's violating equivalence classes."""
    from pgferry_spark.operators.checks import k_anonymity_check

    c = _t(spark, sf, "customer")
    return k_anonymity_check(c, ["c_nationkey", "c_mktsegment"], k=5)


def _l_diversity(spark, sf):
    """l=3 diversity audit: (nationkey, mktsegment) classes whose order
    priorities are near-homogeneous — the homogeneity attack k-anonymity
    misses."""
    from pgferry_spark.operators.checks import l_diversity_check

    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    joined = o.join(
        F.broadcast(c.select("c_custkey", "c_nationkey", "c_mktsegment")),
        F.col("o_custkey") == F.col("c_custkey"),
    )
    return l_diversity_check(
        joined, ["c_nationkey", "c_mktsegment"], "o_orderpriority", l=3
    )


def _t_closeness(spark, sf):
    """t=0.1 closeness audit — the skewness attack the l-diversity gate
    misses: (nationkey, mktsegment) classes whose order-priority
    distribution sits > 0.1 variational distance from the table-wide
    distribution. Integer arithmetic over the common denominator with
    one final 6dp division, so the oracle replays every digit."""
    from pgferry_spark.operators.checks import t_closeness_check

    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    joined = o.join(
        F.broadcast(c.select("c_custkey", "c_nationkey", "c_mktsegment")),
        F.col("o_custkey") == F.col("c_custkey"),
    )
    return t_closeness_check(
        joined, ["c_nationkey", "c_mktsegment"], "o_orderpriority", t=0.1
    )


def _seasonal_anomalies(spark, sf):
    """Hour-of-week seasonal z-scores per event type — the baseline the
    trailing-window rate_anomalies can't provide."""
    from pgferry_spark.operators.temporal import seasonal_anomalies

    return seasonal_anomalies(_t(spark, sf, "events"))


def _lsh_knn_join(spark, sf):
    """Batch kNN join: every 10th embedding queries the rest of the
    corpus through shared 6-bit LSH band buckets — RAG batch retrieval,
    never |Q|x|C|."""
    from pgferry_spark.operators.similarity import lsh_knn_join

    e = _t(spark, sf, "embeddings")
    qs = e.filter(F.col("vec_id") % 10 == 0)
    corpus = e.filter(F.col("vec_id") % 10 != 0)
    return lsh_knn_join(qs, corpus, "embedding", "vec_id", k=5,
                        n_planes=24, bands=4, dim=64)


def _signal_percentiles(spark, sf):
    """Percentile calibration of (n_chars, token count) via broadcast CDF
    histograms — no global-order window — plus the blended composite."""
    from pgferry_spark.operators.curate import percentile_calibrate

    d = _t(spark, sf, "documents").select(
        "doc_id",
        F.col("n_chars").cast("double").alias("chars"),
        F.size(T.tokens(F.col("text"))).cast("double").alias("toks"),
    )
    return percentile_calibrate(d, "doc_id", ["chars", "toks"])


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


def _orphan_set_null(spark, sf):
    """J1 SET NULL rule — orphan FK columns nulled, rows kept."""
    parent = _t(spark, sf, "customer").filter(F.col("c_custkey") < 100)
    child = _t(spark, sf, "events")
    cleaned = orphans.clean_orphans_set_null(child, parent, ["user_id"], ["c_custkey"])
    return cleaned.select("event_id", "user_id")


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


def _set_split(spark, sf):
    """F5 — SET → text[]: split + explode (p_name words as the set)."""
    p = _t(spark, sf, "part")
    arr = X.set_to_array(F.translate(F.col("p_name"), " ", ","))
    return p.select("p_partkey", F.explode(arr).alias("feature"))


def _bit_transform(spark, sf):
    """F6 — BIT(5) → right-aligned bit string."""
    p = _t(spark, sf, "part")
    byte = F.unhex(F.lpad(F.hex(F.col("p_partkey") % 256), 2, "0"))
    return p.select("p_partkey", X.bit_to_bitstring(byte, 5).alias("bits5"))


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


def _year_money(spark, sf):
    """F7/F13 — YEAR → int; money → numeric(19,4) fixed 4-dp string."""
    o = _t(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        X.year_to_int(F.year("o_orderdate")).alias("order_year"),
        X.mssql_money_to_decimal(F.col("o_totalprice")).cast("string").alias("money_str"),
    )


def _zero_date(spark, sf):
    """F9 — zero dates → NULL; real dates pass through (string form)."""
    o = _t(spark, sf, "orders")
    datestr = F.when(
        F.col("o_orderkey") % 100 == 0, F.lit("0000-00-00 00:00:00")
    ).otherwise(F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss"))
    return o.select("o_orderkey", X.zero_date_to_null(datestr).alias("clean_date"))


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


def _text_stats(spark, sf):
    d = _t(spark, sf, "documents")
    txt = F.col("text")
    toked = d.select("doc_id", "text", T.tokens(txt).alias("__toks"))
    return toked.select(
        "doc_id",
        F.size("__toks").alias("n_tokens"),
        T.char_count(txt).alias("n_chars_m"),
        F.round(T.avg_token_len_t(F.col("__toks")), 4).alias("avg_token_len"),
        F.round(T.punct_ratio(txt), 4).alias("punct_ratio"),
        T.quality_score_t(F.col("__toks"), txt).alias("quality"),
    )


def _lang_id(spark, sf):
    d = _t(spark, sf, "documents")
    ltoks = T.tokens(F.lower(F.col("text")))
    return d.select("doc_id", "lang", T.lang_id_t(ltoks).alias("lang_guess"))


def _bpe_token_count(spark, sf):
    """Subword (BPE-ish) token counting — LLM token-cost estimation."""
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        T.bpe_token_count(F.col("text")).alias("n_subwords"),
        T.token_count(F.col("text")).alias("n_words"),
    )


def _winnow_summary(spark, sf):
    """Winnowing (rolling-hash) fingerprints, summarized per doc: compact
    but fully value-determined check of the fingerprint set (count + min +
    max + bigint sum).  Fingerprints come from the Arrow-batched UDF
    (functions/text.py winnow_fingerprints_batch): the higher-order-lambda
    expression form is interpreted, ~180 ms/doc; the UDF is ~1 ms/doc with
    bit-identical output, so the md5 oracle is unchanged.  fan_out first —
    a single parquet file is one partition, serializing the UDF on a core."""
    d = fan_out(_t(spark, sf, "documents"), "doc_id")
    fps = d.select(
        "doc_id", T.winnow_fingerprints_batch(k=5, w=4)(F.col("text")).alias("fps")
    )
    return fps.select(
        "doc_id",
        F.size("fps").alias("n_fp"),
        F.array_min("fps").alias("min_fp"),
        F.array_max("fps").alias("max_fp"),
        F.aggregate("fps", F.lit(0).cast("long"), lambda a, x: a + x).alias("sum_fp"),
    )


def _winnow_fp_table(spark, sf):
    """Shared (doc_id, fp) winnow fingerprint table: Arrow-batched
    fingerprinting (see _winnow_summary), exploded AFTER the UDF result is
    a materialized column so the generator never re-evaluates the
    fingerprint computation, persisted because the self-join in
    _winnow_shared_pairs reads it twice."""
    d = fan_out(_t(spark, sf, "documents"), "doc_id")
    return (
        d.select(
            "doc_id",
            F.explode_outer(
                T.winnow_fingerprints_batch(k=5, w=4)(F.col("text"))
            ).alias("fp"),
        )
        .filter(F.col("fp").isNotNull())
        .persist()
    )


def _winnow_pairs(spark, sf, max_df: int | None = None):
    """Shared pair-generation core; ``max_df`` drops fingerprints whose
    document frequency exceeds the cap BEFORE the self-join (left-semi
    against the small broadcast fingerprint whitelist)."""
    fps = _winnow_fp_table(spark, sf)
    if max_df is not None:
        good = (
            fps.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_df)
            .select("fp")
        )
        fps = fps.join(F.broadcast(good), "fp", "left_semi")
    a = fps.select(F.col("doc_id").alias("id_a"), "fp")
    b = fps.select(F.col("doc_id").alias("id_b"), "fp")
    return (
        a.join(b, on="fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_fp"))
        .filter(F.col("shared_fp") >= 50)
    )


def _winnow_shared_pairs(spark, sf):
    """MOSS-style near-dup candidates: doc pairs sharing >= 50 winnowed
    fingerprints (any shared substring of length >= k+w-1 = 8 chars shares
    a fingerprint; the synthetic corpus shares template phrasing, so the
    bar selects genuinely heavy overlap). One explode + one equi-self-join
    on the fingerprint value — never all-pairs.

    SCALE CAVEAT (measured, docs/SCALE.md): on a vocabulary-saturated
    corpus the self-join generates sum(df^2) intermediate rows — 2e8 at
    sf0.1, where one boilerplate fingerprint reaches 78% document
    frequency. Production runs should use the _capped variant below."""
    return _winnow_pairs(spark, sf)


def _winnow_shared_pairs_capped(spark, sf):
    """The production-scale winnow pair generator: fingerprints with
    document frequency > 100 are dropped before the self-join (MOSS's own
    over-common-fingerprint rule). A fingerprint shared by most of the
    corpus is template boilerplate — it bloats the join quadratically
    (sum(df^2)) while carrying no near-dup signal; capping bounds the join
    at n_fps x cap^2 regardless of corpus size. Same >= 50 shared bar,
    now counting only discriminative fingerprints."""
    return _winnow_pairs(spark, sf, max_df=100)


def _inverted_index(spark, sf):
    """Inverted-index rows over documents (scalar exploded form: token,
    doc_id, tf, doc_freq, posting_rank)."""
    d = _t(spark, sf, "documents")
    return T.inverted_index_pairs(d, "text", "doc_id")


def _keyword_search(spark, sf):
    """Conjunctive keyword search ('table' AND 'window') with summed tf."""
    d = _t(spark, sf, "documents")
    return T.keyword_search_all(d, "text", "doc_id", ["table", "window"])


def _dedup_clusters(spark, sf):
    """Connected components over the winnow near-dup pair graph: pairwise
    candidates -> transitive keep-one-per-cluster groups (min-label
    propagation; oracle = recursive-CTE transitive closure)."""
    return dedup.dedup_clusters(_winnow_shared_pairs(spark, sf))


def _fingerprint_dedup(spark, sf):
    """Fingerprint dedup: one keeper per normalized-text fingerprint."""
    d = _t(spark, sf, "documents")
    fp = d.select("doc_id", T.fingerprint(F.col("text")).alias("fp"))
    return fp.groupBy("fp").agg(
        F.min("doc_id").alias("keeper_id"), F.count(F.lit(1)).alias("dup_count")
    )


def _exact_dedup(spark, sf):
    d = _t(spark, sf, "documents")
    return dedup.exact_dup_groups(d, "text", "doc_id")


def _lsh_pairs_capped(spark, sf):
    """Production LSH candidate pairs: xxhash64 leaf hashes (the JVM
    intrinsic fast path) with the hot-bucket cap ON (max_bucket=3, below
    the max observed bucket at the test SFs so the drop path executes).
    Rows-only check by design — xxhash64 has no SQL twin; the md5 twin
    `lsh_candidate_pairs_md5_capped` replays the identical drop/keep rule
    at the oracle gate. (r14: the uncapped xxhash64 spellings
    minhash_buckets/lsh_candidate_pairs were retired from the registry —
    this entry keeps the intrinsic-hash production posture driver-visible;
    the library fast path stays pinned by test_plan_shapes/test_dedup.)"""
    d = _t(spark, sf, "documents")
    return dedup.lsh_candidate_pairs(
        d, "text", "doc_id", num_hashes=12, bands=4, shingle=3,
        hash_fn="xxhash64", max_bucket=3,
    )


def _lsh_pairs_md5_capped(spark, sf):
    """Oracle-checkable twin of the capped production pairs: same
    max_bucket=3 semi-join drop, md5 band hashes the SQL oracle replays
    as GROUP BY ... HAVING COUNT(*) <= 3."""
    d = _t(spark, sf, "documents")
    return dedup.lsh_candidate_pairs(
        d, "text", "doc_id", num_hashes=12, bands=4, shingle=3, max_bucket=3
    )


def _minhash_buckets_md5(spark, sf):
    d = _t(spark, sf, "documents")
    return dedup.lsh_bucket_table(d, "text", "doc_id", num_hashes=12, bands=4, shingle=3)


def _lsh_pairs_md5(spark, sf):
    d = _t(spark, sf, "documents")
    return dedup.lsh_candidate_pairs(d, "text", "doc_id", num_hashes=12, bands=4, shingle=3)


def _jaccard_adjacent(spark, sf):
    """Exact 3-gram Jaccard over consecutive-id doc pairs (verify step)."""
    d = _t(spark, sf, "documents")
    a = d.select(F.col("doc_id").alias("id_a"))
    b = d.select(F.col("doc_id").alias("id_b"))
    pairs = a.join(b, F.col("id_b") == F.col("id_a") + 1)
    return dedup.jaccard_pairs(d, pairs, "text", "doc_id", n=3)


def _containment_adjacent(spark, sf):
    """Asymmetric 3-gram containment over the same adjacent-id pairs —
    the excerpt/quote detector Jaccard structurally misses."""
    d = _t(spark, sf, "documents")
    a = d.select(F.col("doc_id").alias("id_a"))
    b = d.select(F.col("doc_id").alias("id_b"))
    pairs = a.join(b, F.col("id_b") == F.col("id_a") + 1)
    return dedup.containment_pairs(d, pairs, "text", "doc_id", n=3)


def _dedup_pair_recall(spark, sf):
    """Recall/precision of the capped winnow candidate generator against
    the EXACT >=0.5-Jaccard all-pairs ground truth (gram-blocked audit;
    at 100 TB this runs on a sample, which is precisely how production
    measures a blocker's recall) — 'measure, don't guess' for the dedup
    family, the pair-set twin of ann_recall."""
    d = _t(spark, sf, "documents")
    exact = dedup.jaccard_all_pairs(d, "text", "doc_id", n=3, threshold=0.5)
    approx = _winnow_pairs(spark, sf, max_df=100)
    return dedup.pair_recall(exact, approx)


def _near_dup_verified(spark, sf):
    """The measured generate→verify composition the scorecards imply:
    MinHash-LSH candidates (measured recall 1.0) verified by exact
    n-gram Jaccard at >=0.5 (measured precision 1.0 after verify) —
    full-recall near-dup pairs at candidate-linear verify cost.
    r15: the composed operator shares ONE shingle pass between the
    blocker and the verifier (results byte-identical; guide §2.4)."""
    d = _t(spark, sf, "documents")
    return dedup.near_dup_verified_pairs(
        d, "text", "doc_id", num_hashes=12, bands=4, shingle=3,
        min_jaccard=0.5,
    )


def _minhash_pair_recall(spark, sf):
    """The comparative row to dedup_pair_recall: the MinHash-LSH blocker
    (recall-oriented, 4 bands x 3 rows) against the same exact >=0.5
    ground truth — winnow trades recall for precision; this one the
    reverse. Together they turn the blocker choice into a measured
    trade."""
    d = _t(spark, sf, "documents")
    exact = dedup.jaccard_all_pairs(d, "text", "doc_id", n=3, threshold=0.5)
    approx = dedup.lsh_candidate_pairs(
        d, "text", "doc_id", num_hashes=12, bands=4, shingle=3
    )
    return dedup.pair_recall(exact, approx)


def _simhash_pairs(spark, sf):
    """SimHash near-dup pairs (xxhash64-based; no SQL oracle).

    max_hamming=3 (the standard near-dup bound): 4 pigeonhole bands of 16
    bits, so random docs almost never share a band — candidate volume stays
    ~linear in true near-pairs. A looser bound like 8 makes 9 bands of 7
    bits where this corpus bucket-collides 12% of ALL pairs (quadratic)."""
    d = _t(spark, sf, "documents")
    return dedup.simhash_near_pairs(d, "text", "doc_id", max_hamming=3)


def _simhash32(spark, sf):
    """Oracle-portable 32-bit SimHash fingerprints (md5 token hashes)."""
    d = _t(spark, sf, "documents")
    return dedup.simhash32_md5(d, "text", "doc_id")


def _simhash_pairs_md5(spark, sf):
    """Oracle-checked SimHash near-pairs: 32-bit md5 fingerprints, pigeonhole
    banding (4 bands × 8 bits for max_hamming=3) — the SQL-portable twin of
    the xxhash64 production variant, same banded-join plan."""
    d = _t(spark, sf, "documents")
    return dedup.simhash_near_pairs_md5(d, "text", "doc_id", max_hamming=3)


def _embedding_near_dup(spark, sf):
    """Exact embedding-cosine near-dup pairs (all-pairs verify baseline)."""
    e = _t(spark, sf, "embeddings")
    return dedup.embedding_near_dup_pairs(e, "embedding", "vec_id", threshold=0.35)


def _embedding_near_dup_lsh(spark, sf):
    """LSH-blocked embedding near-dup (scale path; approximate recall, no
    SQL oracle)."""
    e = _t(spark, sf, "embeddings")
    return dedup.embedding_near_dup_pairs_lsh(
        e, "embedding", "vec_id", threshold=0.35, n_planes=16, bands=8
    )


def _embedding_dedup(spark, sf):
    """Cosine dedup keep-set: vectors surviving the smaller-id-keeper rule."""
    e = _t(spark, sf, "embeddings")
    kept = dedup.embedding_dedup(e, "embedding", "vec_id", threshold=0.35)
    return kept.select("vec_id", "label")


def _cosine_topk(spark, sf):
    e = _t(spark, sf, "embeddings")
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    return similarity.cosine_topk(e, "embedding", "vec_id", qvec, k=10)


def _pairwise_topk(spark, sf):
    e = _t(spark, sf, "embeddings")
    probe = e.filter(F.col("vec_id") < 3)
    out = similarity.pairwise_cosine_topk(e, "embedding", "vec_id", probe, k=5)
    return out.withColumnRenamed("rank", "nn_rank")


def _ivf_assign(spark, sf):
    """IVF cell assignment over deterministic centroids (vec_id < 8)."""
    e = _t(spark, sf, "embeddings")
    return similarity.ivf_assign(e, "embedding", "vec_id", n_cells=8)


def _ivf_topk(spark, sf):
    """ANN probe of one IVF cell: query = vec_id 0. Index metadata (the C
    centroids) collects driver-side once; the query cell is a driver-side
    argmax over it; the probe itself is ONE filtered map-only corpus scan +
    top-k — no ivf_assign stage, no joins (the plan a repeated probe runs)."""
    e = _t(spark, sf, "embeddings")
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    cents = similarity.ivf_centroids(e, "embedding", "vec_id", n_cells=8)
    qcell = similarity.ivf_query_cell(cents, qvec)
    return similarity.ivf_topk(
        e, "embedding", "vec_id", qvec, qcell, k=10, centroids=cents
    )


def _corpus_filter(spark, sf):
    """Combined training-data filter: quality gate + lang-id agreement +
    fingerprint dedup keeper — the one-pass corpus curation query.

    Tokenizes once (``__toks``) and derives every metric from the array:
    one split + one elementwise lower instead of ~7 splits, which halves
    both the codegen'd projection and the steady-state scan cost."""
    d = _t(spark, sf, "documents")
    from pyspark.sql.window import Window

    toked = d.select(
        "doc_id", "lang", "text", T.tokens(F.col("text")).alias("__toks")
    )
    scored = toked.select(
        "doc_id", "lang",
        T.quality_score_t(F.col("__toks"), F.col("text")).alias("quality"),
        T.lang_id_t(F.transform(F.col("__toks"), F.lower)).alias("lang_guess"),
        T.fingerprint(F.col("text")).alias("fp"),
    )
    # keeper = min doc_id per fingerprint via window: ONE shuffle and one
    # scoring pass, vs groupBy + semi-join which shuffles twice and computes
    # the scoring projection on both join sides
    keep = F.min("doc_id").over(Window.partitionBy("fp"))
    return (
        scored.withColumn("__keep", keep)
        .filter(
            (F.col("doc_id") == F.col("__keep"))
            & (F.col("quality") >= 0.5)
            & (F.col("lang_guess") == F.col("lang"))
        )
        .select("doc_id", "quality", "lang_guess")
    )


def _bm25_topk(spark, sf):
    """BM25 top-15 for a 3-term query mixing common and rare terms."""
    d = _t(spark, sf, "documents")
    return ranking.bm25_topk(d, "text", "doc_id", ["spark", "window", "dup"], k=15)


def _mmr_diversify_ivf(spark, sf):
    """Scale-path MMR: the candidate pool is ONE probed IVF cell (per-row
    argmax against broadcast centroid literals — the ivf_topk probe plan)
    instead of the exact full-corpus scan; the greedy stage is identical.
    Pairs with `mmr_diversify` the way ivf_topk pairs with cosine_topk."""
    from pgferry_spark.operators.similarity import _cell_of

    e = _t(spark, sf, "embeddings")
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    cents = similarity.ivf_centroids(e, "embedding", "vec_id", n_cells=8)
    qcell = similarity.ivf_query_cell(cents, qvec)
    members = e.filter(_cell_of(F.col("embedding"), cents) == qcell)
    return similarity.mmr_select(
        members, "embedding", "vec_id", qvec, k=10, lam=0.5, n_candidates=50
    )


def _dedup_method_agreement(spark, sf):
    """Ensemble-dedup calibration scorecard: how much do TEXTUAL near-dup
    pairs (MinHash-LSH candidates verified at n-gram Jaccard >= 0.5) and
    SEMANTIC near-dup pairs (embedding cosine >= 0.35, shared id space)
    agree? One row (n_text_pairs, n_vec_pairs, n_both, method_jaccard) —
    the gap is exactly the paraphrase set lexical dedup misses. Both pair
    sets are already bounded near-dup outputs, so the full-outer overlap
    join is metadata-sized."""
    t = _near_dup_verified(spark, sf).select("id_a", "id_b").withColumn(
        "__t", F.lit(1)
    )
    v = _embedding_near_dup(spark, sf).select("id_a", "id_b").withColumn(
        "__v", F.lit(1)
    )
    j = t.join(v, ["id_a", "id_b"], "full_outer")
    nt = F.sum(F.coalesce(F.col("__t"), F.lit(0)))
    nv = F.sum(F.coalesce(F.col("__v"), F.lit(0)))
    nb = F.sum(
        F.when(F.col("__t").isNotNull() & F.col("__v").isNotNull(), 1).otherwise(0)
    )
    denom = nt + nv - nb
    return j.agg(
        nt.cast("long").alias("n_text_pairs"),
        nv.cast("long").alias("n_vec_pairs"),
        nb.cast("long").alias("n_both"),
        F.when(denom > 0, F.round(nb.cast("double") / denom, 6)).alias(
            "method_jaccard"
        ),
    )


def _compressibility_entropy(spark, sf):
    """Oracle-backed deterministic twin of the rows-only
    `compression_ratio` (zlib deflate): Shannon character entropy as the
    compressibility floor, sequential-fold over sorted distinct chars so
    both engines sum in the same order. Completes the twin discipline —
    every rows-only family now has an oracle-green counterpart."""
    from pgferry_spark.operators.filters import compressibility_entropy

    return compressibility_entropy(_t(spark, sf, "documents"), "text", "doc_id")


def _kmeans_exact_assign(spark, sf):
    """Deterministic distributed Lloyd's (3 iterations, 8 cells): the
    reproducible, oracle-verifiable trained-clustering counterpart to the
    MLlib rows (`ivf_kmeans_assign`) — decimal-exact mean reductions make
    the result independent of partitioning and reduction order."""
    e = _t(spark, sf, "embeddings")
    return similarity.kmeans_deterministic(
        e, "embedding", "vec_id", n_cells=8, n_iters=3
    )


def _ivf_kmeans_exact_topk(spark, sf):
    """ANN probe over the TRAINED deterministic index: centroids from
    kmeans_deterministic (3 Lloyd iterations, decimal-exact means), the
    query's cell by the same argmin rule, then exact cosine top-10 within
    that one cell — the trained-index end-to-end, fully oracle-backed
    (unlike the MLlib ivf_kmeans rows). One filtered map-only scan."""
    e = _t(spark, sf, "embeddings")
    # r15: the fit's init collect already holds vector 0 (ids < n_cells)
    # raw+quantized — reuse it for the query vector instead of a
    # separate first() job (guide §1.2: one less driver job)
    cents, init = similarity.kmeans_deterministic_fit(
        e, "embedding", "vec_id", n_cells=8, n_iters=3
    )
    qvec = [float(x) for x in init[0]["embedding"]]
    # query cell driver-side with the identical quantize/round/tie rules
    from pgferry_spark.operators.similarity import _round_half_up

    vq = [_round_half_up(v, 6) for v in qvec]
    dists = []
    for i, c in enumerate(cents):
        acc = 0.0
        for a, b in zip(vq, c):
            acc += (a - b) * (a - b)
        dists.append((_round_half_up(acc, 6), i))
    qcell = min(dists)[1]
    pre = e.select(
        "vec_id", "embedding",
        F.transform(
            F.col("embedding").cast("array<double>"), lambda x: F.round(x, 6)
        ).alias("__vq"),
    )
    members = pre.filter(
        similarity.kmeans_cell_of(F.col("__vq"), cents, prequantized=True)
        == qcell
    ).drop("__vq")
    return similarity.cosine_topk(members, "embedding", "vec_id", qvec, k=10)


def _pii_luhn_cards(spark, sf):
    """Checksum-validated card detection: deterministic card-shaped
    numbers are synthesized from doc_id on BOTH engines (the fixtures
    contain no digit runs — same attach-deterministic-payload pattern
    as the media entries: every third doc gets a 16-digit number whose
    Luhn check digit is correct only for even doc_ids), then detected
    by the RE2-safe run pattern, separator-stripped, length-gated, and
    Luhn-validated. Map-only JVM expressions end to end."""
    d = _t(spark, sf, "documents")
    d6 = F.lpad(((F.col("doc_id") * 7919) % 1000000).cast("string"), 6, "0")
    d8 = F.lpad((F.col("doc_id") % 100000000).cast("string"), 8, "0")
    base15 = F.concat(F.lit("4"), d6, d8)
    check = (10 - (T.luhn_sum(F.concat(base15, F.lit("0"))) % 10)) % 10
    chk = F.when(F.col("doc_id") % 2 == 0, check).otherwise((check + 5) % 10)
    card16 = F.concat(base15, chk.cast("string"))
    formatted = F.concat_ws(
        " ",
        F.substring(card16, 1, 4), F.substring(card16, 5, 4),
        F.substring(card16, 9, 4), F.substring(card16, 13, 4),
    )
    txt = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(F.col("text"), F.lit(" pay "), formatted),
    ).otherwise(F.col("text"))
    cands = T.card_candidates(txt)
    return d.select(
        "doc_id",
        F.size(cands).alias("n_candidates"),
        F.size(F.filter(cands, T.luhn_valid)).alias("n_valid_cards"),
    )


def _pii_card_gate(spark, sf):
    """`curate.pii_card_gate` (map-only Column expressions): same
    deterministic card synthesis as `pii_luhn_cards`, then the redact-mode
    gate — docs carrying a Luhn-valid number get every card-shaped run
    masked."""
    from pgferry_spark.operators.curate import pii_card_gate

    d = _t(spark, sf, "documents")
    d6 = F.lpad(((F.col("doc_id") * 7919) % 1000000).cast("string"), 6, "0")
    d8 = F.lpad((F.col("doc_id") % 100000000).cast("string"), 8, "0")
    base15 = F.concat(F.lit("4"), d6, d8)
    check = (10 - (T.luhn_sum(F.concat(base15, F.lit("0"))) % 10)) % 10
    chk = F.when(F.col("doc_id") % 2 == 0, check).otherwise((check + 5) % 10)
    card16 = F.concat(base15, chk.cast("string"))
    formatted = F.concat_ws(
        " ",
        F.substring(card16, 1, 4), F.substring(card16, 5, 4),
        F.substring(card16, 9, 4), F.substring(card16, 13, 4),
    )
    carded = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.col("text"), F.lit(" pay "), formatted),
        ).otherwise(F.col("text")).alias("text"),
    )
    return pii_card_gate(carded, "text", mode="redact").select(
        "doc_id", "n_valid_cards", "text"
    )


def _mmr_diversify(spark, sf):
    """MMR-diversified top-10 (lam=0.5) from the exact cosine top-50
    candidate list for query vec 0 — relevance traded against redundancy.
    Only stage 1 touches the corpus; the greedy loop runs on the bounded
    candidate batch. Oracle: the k-step loop unrolled as chained CTEs."""
    e = _t(spark, sf, "embeddings")
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    return similarity.mmr_select(
        e, "embedding", "vec_id", qvec, k=10, lam=0.5, n_candidates=50
    )


def _dedup_keep_best(spark, sf):
    """Quality-aware dedup keeper: per normalized-text fingerprint group,
    keep the doc maximizing the heuristic quality score (ties → min id),
    with the group's dup_count — the curation-grade alternative to the
    min-id keeper. One map-side-combinable aggregate shuffle."""
    d = _t(spark, sf, "documents")
    scored = d.select(
        "doc_id",
        T.fingerprint(F.col("text")).alias("fp"),
        T.quality_score(F.col("text")).alias("quality"),
    )
    return dedup.keep_best(scored, "doc_id", "fp", "quality")


def _hybrid_rrf_topk(spark, sf):
    """Hybrid retrieval: BM25 lexical top-50 + embedding-cosine top-50
    fused by reciprocal-rank fusion (k0=60), final top-10. Documents and
    embeddings share the id space (doc_id == vec_id in the fixtures), so
    the two candidate lists fuse directly. Both inputs are bounded top-N
    lists, so fusion is metadata-sized regardless of corpus scale."""
    d = _t(spark, sf, "documents")
    e = _t(spark, sf, "embeddings")
    lex = ranking.bm25_topk(
        d, "text", "doc_id", ["spark", "window", "dup"], k=50
    ).select("doc_id", "score")
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    sem = similarity.cosine_topk(e, "embedding", "vec_id", qvec, k=50).select(
        F.col("vec_id").alias("doc_id"), F.col("cosine_sim").alias("score")
    )
    return ranking.rrf_fuse([lex, sem], "doc_id", "score", k=10, k0=60)


def _repetition_stats(spark, sf):
    """Gopher-style per-doc repetition stats (map-only, no shuffle)."""
    return filters.repetition_stats(_t(spark, sf, "documents"), "text", "doc_id")


def _contamination_check(spark, sf):
    """Benchmark contamination: docs sharing any 4-gram with the
    deterministic pseudo-benchmark slice (doc_id % 101 == 0)."""
    d = _t(spark, sf, "documents")
    bench = d.filter(F.col("doc_id") % 101 == 0)
    corpus = d.filter(F.col("doc_id") % 101 != 0)
    return filters.contamination_check(corpus, bench, "text", "doc_id", n=4)


def _incremental_dedup(spark, sf):
    """Daily-crawl ingestion dedup: the doc_id >= 400 slice arrives as the
    new batch and dedups against the older corpus without re-deduping it."""
    d = _t(spark, sf, "documents")
    return dedup.incremental_dedup(
        d.filter(F.col("doc_id") >= 400), d.filter(F.col("doc_id") < 400),
        "text", "doc_id",
    )


def _stratified_split(spark, sf):
    """Exact per-language stratified train/val/test assignment."""
    from pgferry_spark.operators.curate import stratified_split

    return stratified_split(_t(spark, sf, "documents"), "lang", "doc_id")


def _rate_anomalies(spark, sf):
    """Daily per-type event-rate z-scores vs the trailing 7 days."""
    from pgferry_spark.operators.temporal import rate_anomalies

    return rate_anomalies(_t(spark, sf, "events"), "ts", "event_type", "day", 7)


def _quantize_embeddings(spark, sf):
    """Symmetric int8 embedding quantization with reconstruction error."""
    return similarity.quantize_embeddings(
        _t(spark, sf, "embeddings"), "embedding", "vec_id"
    )


def _token_budget(spark, sf):
    """Quality-ranked corpus selection to an 8k-token budget (FineWeb-style
    'best docs until the budget is spent'), via the scalable histogram-
    threshold plan instead of a global-order window."""
    from pgferry_spark.operators.curate import select_to_token_budget

    d = _t(spark, sf, "documents")
    scored = d.select(
        "doc_id",
        T.quality_score(F.col("text")).alias("quality"),
        T.token_count(F.col("text")).alias("n_toks"),
    )
    return select_to_token_budget(scored, "quality", "n_toks", "doc_id", 8000)


def _fill_gaps(spark, sf):
    """Per-user daily event counts with silent days zero-filled."""
    from pgferry_spark.operators.temporal import fill_time_gaps

    e = _t(spark, sf, "events").filter(F.col("user_id").isNotNull())
    return fill_time_gaps(e, "user_id", "ts", step="day")


def _approx_distinct(spark, sf):
    """HLL approx distinct users per event type, tolerance-gated vs exact
    (the sketch is what ships at scale; the gate qualifies it).

    rel_tol=0.10, not the operator's 0.05 default: the oracle asserts
    within_tolerance=true, so the gate must sit comfortably above
    approx_count_distinct's default rsd (0.05) — at 0.05 a legal ~1-sigma
    sketch deviation at some future SF would read as a WRONG ANSWER every
    run. 0.10 = 2 sigma; the qualification intent survives, the false-
    alarm mode doesn't."""
    from pgferry_spark.operators.checks import approx_distinct_check

    return approx_distinct_check(
        _t(spark, sf, "events"), "event_type", "user_id", rel_tol=0.10
    )


def _unigram_logprob(spark, sf):
    """CCNet-style unigram LM quality score over the document corpus."""
    return filters.unigram_logprob_scores(_t(spark, sf, "documents"), "text", "doc_id")


def _ann_recall_lsh(spark, sf):
    """Recall@10 of the single-bucket LSH probe vs the exact scan — the
    sibling scorecard to `ann_recall_ivfpq`, measuring the other ANN
    family's recall dial (n_planes)."""
    e = _t(spark, sf, "embeddings")
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    approx = similarity.lsh_topk(e, "embedding", "vec_id", qvec, k=10)
    exact = similarity.cosine_topk(e, "embedding", "vec_id", qvec, k=10)
    return similarity.ann_recall(exact, approx, id_col="vec_id")


def _session_concurrency(spark, sf):
    """Peak concurrent sessions per hour via the distributed sweep line:
    per-bucket local running sums + a cumulative carry over the bounded
    bucket table — no global single-partition window."""
    from pgferry_spark.operators.temporal import concurrency_profile

    e = _t(spark, sf, "events")
    s = Q.sessionize(e)
    return concurrency_profile(s, "session_start", "session_end", "hour")


def _quality_classifier(spark, sf):
    """fastText-style quality classifier: weak labels from the heuristic
    quality score train a hashed-BoW logistic model; the whole corpus is
    scored map-only against the broadcast coefficients. Rows-only (LBFGS
    floats are iteration-order sensitive); semantics pinned by
    tests/test_classify.py's heuristic-agreement check."""
    from pgferry_spark.operators.classify import (
        score_quality, train_quality_classifier,
    )

    d = _t(spark, sf, "documents")
    weak = d.select(
        "doc_id", "text",
        # 0.8 ~ corpus median: balanced classes (0.5 is degenerate here —
        # every synthetic doc clears it and LBFGS learns zero coefficients)
        (T.quality_score(F.col("text")) >= 0.8).cast("double").alias("label"),
    )
    # train on a bounded md5-ordered sample (the documented production
    # posture: training is sample-bound, SCORING is the corpus-scale part)
    train = weak.orderBy(F.md5(F.col("doc_id").cast("string"))).limit(2000)
    model = train_quality_classifier(train, "text", "label")
    return score_quality(model, d, "text", "doc_id")


def _embedding_drift_psi(spark, sf):
    """Embedding-space drift: even-id vectors play the baseline snapshot,
    odd-id the current one; both assign to the baseline's deterministic
    IVF cells and PSI compares cell occupancy — the representation-space
    drift monitor (encoder/scraper/topic shifts move cell mass before
    any scalar aggregate changes)."""
    from pgferry_spark.operators.similarity import embedding_drift_psi

    e = _t(spark, sf, "embeddings")
    old = e.filter(F.col("vec_id") % 2 == 0)
    new = e.filter(F.col("vec_id") % 2 == 1)
    return embedding_drift_psi(old, new, "embedding", "vec_id", n_cells=8)


def _mixture_epochs(spark, sf):
    """Fractional-epoch source repetition (LLaMA-style mixture knob):
    src0 × 2.4 epochs, src1 × 0.5, src2 × 1.0 — floor copies for
    everyone plus an md5-selected extra-copy cohort sized to the
    fraction. Map-only sequence-explode; the epoch map is a literal."""
    from pgferry_spark.operators.curate import mixture_epochs

    d = _t(spark, sf, "documents")
    out = mixture_epochs(
        d, "source", "doc_id", {"src0": 2.4, "src1": 0.5, "src2": 1.0}
    )
    return out.select("doc_id", "source", "copy_idx")


def _boilerplate_ngrams(spark, sf):
    """Corpus boilerplate profiler: top-50 3-grams by document frequency
    (doc_freq >= 2) with corpus share — the diagnostic that finds the
    repeated phrases (headers, templates, licenses) that inflate LSH
    buckets and leak across splits. Deterministic (doc_freq desc, ngram
    asc) tie-break; one gram-keyed aggregate."""
    from pgferry_spark.functions.text import ngram_topk

    d = _t(spark, sf, "documents")
    return ngram_topk(d, "text", "doc_id", n=3, k=50, min_doc_freq=2)


def _weak_labels(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id", "text",
        # 0.8 ~ corpus median -> balanced weak labels at every test SF
        (T.quality_score(F.col("text")) >= 0.8).cast("int").alias("label"),
    )


def _quality_twin_auc(spark, sf):
    """ROC-AUC scorecard of the DETERMINISTIC hashed-BoW log-odds twin
    (md5 buckets, Laplace-smoothed NB weights in integer micro-units)
    against the weak heuristic labels — fully oracle-replayable, the
    quantitative yardstick the float-bound LBFGS row is compared to
    (`quality_classifier_auc`)."""
    from pgferry_spark.operators.classify import (
        auc_scorecard, hashed_log_odds_scores,
    )

    labeled = _weak_labels(spark, sf)
    scores = hashed_log_odds_scores(
        labeled, labeled, "text", "doc_id", "label"
    )
    joined = scores.join(labeled.select("doc_id", "label"), "doc_id")
    return auc_scorecard(joined, "score_micro", "label")


def _quality_classifier_auc(spark, sf):
    """ROC-AUC scorecard of the LBFGS hashed-BoW classifier's prob_good
    against the weak heuristic labels — the measured-quality row for the
    rows-only `quality_classifier` (LBFGS floats), mirroring the IVFADC
    `ann_recall_*` pattern. Compare to `quality_twin_auc` (deterministic
    twin, oracle-green) for the quantitative gap."""
    from pgferry_spark.operators.classify import (
        auc_scorecard, score_quality, train_quality_classifier,
    )

    labeled = _weak_labels(spark, sf)
    train = (
        labeled.withColumn("label", F.col("label").cast("double"))
        .orderBy(F.md5(F.col("doc_id").cast("string")))
        .limit(2000)
    )
    model = train_quality_classifier(train, "text", "label")
    scored = score_quality(model, labeled, "text", "doc_id")
    joined = scored.join(labeled.select("doc_id", "label"), "doc_id")
    return auc_scorecard(joined, "prob_good", "label")


def _trust_propagation(spark, sf):
    """Trusted-set diffusion: label-0 embeddings seed score 1.0, everyone
    else 0.0, and two rounds of personalized propagation over the kNN
    graph (same 24-plane/4-band config as `knn_graph`) spread trust to
    lookalike neighbors — graph-based curation without a model."""
    from pgferry_spark.operators.graph import propagate_scores
    from pgferry_spark.operators.similarity import knn_graph

    e = _t(spark, sf, "embeddings")
    edges = knn_graph(e, "embedding", "vec_id", k=5, n_planes=24, bands=4)
    seeds = e.select(
        "vec_id",
        F.when(F.col("label") == 0, F.lit(1.0)).otherwise(F.lit(0.0)).alias("score"),
    )
    return propagate_scores(edges, seeds, alpha=0.5, iters=2)


def _bigram_logprob(spark, sf):
    """Interpolated bigram LM score (λ=0.75): one tokenize pass, lag-window
    bigrams, natural-key vocab aggregates — the perplexity-filter rung
    above the unigram model."""
    return filters.bigram_logprob_scores(
        _t(spark, sf, "documents"), "text", "doc_id"
    )


# within-doc repeat synthesis for the line-repetition entry: every third
# document re-renders its first extracted line at the end (the
# nav/footer-every-screenful shape Gopher's dup-line signals exist
# for).  Shared verbatim by both engines; first-line extraction via
# regexp (the two engines' array indexing differs, their regex does
# not), newline spelled chr(10).
LINE_REP_SYNTH_SQL = (
    "CASE WHEN doc_id % 3 = 0 AND clean_text <> '' THEN"
    " clean_text || chr(10) ||"
    " regexp_extract(clean_text, '^[^' || chr(10) || ']*', 0)"
    " ELSE clean_text END"
)


def _line_repetition(spark, sf):
    """Gopher within-doc duplicate-line signals (round 10 — the
    repetition-table complement of repetition_stats' word/bigram
    fractions and of corpus-wide line_dedup): dup_line_frac +
    dup_line_char_frac per document over the extracted HTML corpus,
    with every third doc re-rendering its first line so the signal is
    genuinely non-zero.  Two doc-keyed shuffles, partition sizes
    bounded by document length."""
    from pgferry_spark.operators.html import attach_html, html_extract

    d = fan_out(_t(spark, sf, "documents"), "doc_id")
    rep = html_extract(attach_html(d)).withColumn(
        "rep_text", F.expr(LINE_REP_SYNTH_SQL)
    )
    return filters.line_repetition_stats(rep, "rep_text", "doc_id")


def _ccnet_buckets(spark, sf):
    """CCNet perplexity tiers (round 10; re-keyed round 14): per
    language, head/middle/tail thirds by interpolated Kneser–Ney
    trigram LM score (the CCNet-published scorer class — Wenzek et al.
    2020 §4.2 — replacing the r10 bigram rung) — the CommonCrawl
    quality-mixture stage.  Bucketing is by distinct (lang, score)
    CLASS with integer tier arithmetic (3*n_gt < n), so ties never
    straddle a boundary and the class window ranks the bounded class
    table, never documents."""
    return filters.ccnet_buckets(
        _t(spark, sf, "documents"), "text", "doc_id"
    )


def _ngram_perplexity(spark, sf):
    """Interpolated Kneser–Ney trigram LM perplexity (round 14, VERDICT
    r13 Next #1): per document, avg ln p₃ and exp(−avg) over the
    corpus-trained KN model — continuation counts, absolute discount
    D=0.75 (exact binary double), every model table an exact-integer
    aggregate of the trigram TYPE table so the float formula replays
    closed-form in SQL.  One tokenize pass, two lags on one (doc, pos)
    window, natural-key model aggregates, token-keyed join-backs."""
    return filters.kn_trigram_logprob_scores(
        _t(spark, sf, "documents"), "text", "doc_id"
    )


def _length_outliers(spark, sf):
    """Per-language exact-percentile length outliers (docs a curation
    pass would drop)."""
    return filters.length_outlier_filter(
        _t(spark, sf, "documents"), "lang", "n_chars", "doc_id"
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


def _cdc_merge(spark, sf):
    """CDC apply: customer snapshot + change log -> next snapshot (full
    outer join on the key after a window collapse of the log)."""
    from pgferry_spark.operators.incremental import apply_changes

    base = _t(spark, sf, "customer").select("c_custkey", "c_name", "c_acctbal")
    return apply_changes(base, _change_log(spark, sf), "c_custkey", "seq")


def _scd2_history(spark, sf):
    """SCD2 dimension history from the change log: (key, version) rows with
    sequence-bounded validity and a current flag."""
    from pgferry_spark.operators.incremental import scd2_history

    return scd2_history(_change_log(spark, sf), "c_custkey", "seq").select(
        "c_custkey", "op", "c_acctbal", "valid_from", "valid_to", "is_current"
    )


def _range_join_incidents(spark, sf):
    """Bucketed range join: every event inside a 30-minute incident window
    (windows anchored at every 20th error event). Equi-join on quantized
    buckets + exact boundary filter — never points × intervals."""
    from pgferry_spark.operators.temporal import range_join

    ev = _t(spark, sf, "events")
    iv = ev.filter(
        (F.col("event_type") == "error") & (F.col("event_id") % 20 == 0)
    ).select(
        F.col("event_id").alias("incident_id"),
        F.col("ts").alias("lo"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("hi"),
    )
    out = range_join(ev.select("event_id", "ts"), iv, "ts", "lo", "hi")
    return out.select(
        "event_id",
        "incident_id",
        ((F.unix_micros(F.col("ts")) - F.unix_micros(F.col("lo"))) / 1_000_000.0)
        .alias("secs_into_incident"),
    )


def _time_rollup(spark, sf):
    """Multi-resolution continuous-aggregate rollup: minute/hour/day counts
    per event type in ONE scan via GROUPING SETS."""
    from pgferry_spark.operators.temporal import time_bucket_rollup

    return time_bucket_rollup(_t(spark, sf, "events"))


def _pii_scrub(spark, sf):
    """PII redaction pass: emails/IPv4/phones → typed placeholders, with a
    per-doc redaction count. Map-only regexp chain."""
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        T.pii_scrub(F.col("text")).alias("scrubbed"),
        T.pii_count(F.col("text")).cast("int").alias("n_pii"),
    )


def _dataset_split(spark, sf):
    """Deterministic 80/10/10 train/val/test assignment by md5-bucketed id
    (portable across engines; no RNG state)."""
    from pgferry_spark.operators.curate import dataset_split

    d = _t(spark, sf, "documents")
    return dataset_split(d, "doc_id").select("doc_id", "split")


def _quota_sample(spark, sf):
    """Per-language quota sampling: top 20 docs per lang by length (doc_id
    tie-break) — corpus balance control."""
    from pgferry_spark.operators.curate import quota_sample

    d = _t(spark, sf, "documents")
    return quota_sample(
        d.select("doc_id", "lang", "n_chars"), "lang", "n_chars", "doc_id", 20
    )


def _pack_sequences(spark, sf):
    """Token-budget sequence packing: per-language shards, 2048-token bins,
    one window cumulative sum."""
    from pgferry_spark.operators.curate import pack_sequences

    d = _t(spark, sf, "documents")
    toked = d.select(
        "doc_id", "lang", T.token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    return pack_sequences(toked, "doc_id", "n_tokens", 2048, shard_col="lang")


def _packing_efficiency(spark, sf):
    """One-row packing scorecard over pack_sequences' bins: bin count,
    token total, mean fill ratio against the 2048 budget, and the
    overflow (oversized single doc) / underfull (trailing bin per shard)
    tails. All-integer aggregation with ONE final division, so the
    result is reduction-order independent."""
    packed = _pack_sequences(spark, sf)
    per_bin = packed.groupBy("lang", "bin_id").agg(
        F.sum("n_tokens").alias("t")
    )
    return per_bin.agg(
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.sum("t").cast("long").alias("total_tokens"),
        F.round(
            F.sum("t").cast("double") / (F.count(F.lit(1)) * 2048.0), 6
        ).alias("mean_fill"),
        F.sum((F.col("t") > 2048).cast("long")).alias("n_overflow_bins"),
        F.sum((F.col("t") < 2048).cast("long")).alias("n_underfull_bins"),
    )


def _lsh_topk(spark, sf):
    """ANN via hyperplane-LSH bucket (approximate; no SQL oracle)."""
    e = _t(spark, sf, "embeddings")
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    return similarity.lsh_topk(e, "embedding", "vec_id", qvec, k=10)


def _lsh_topk_multiprobe(spark, sf):
    """Multi-probe LSH ANN: 4 probes over least-confident bit flips
    (approximate; no SQL oracle)."""
    e = _t(spark, sf, "embeddings")
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    return similarity.lsh_topk_multiprobe(
        e, "embedding", "vec_id", qvec, k=10, n_probes=4
    )


def _ivf_kmeans(spark, sf):
    """IVF assignment over MLlib KMeans centroids (floats are iteration-
    dependent; rows-only check)."""
    e = _t(spark, sf, "embeddings")
    return similarity.ivf_assign_kmeans(
        e, "embedding", "vec_id", n_cells=8, fit_sample=2048
    )


def _multimodal_meta(spark, sf):
    """Multimodal decode plumbing (mapInPandas; stubbed codec)."""
    d = _t(spark, sf, "documents")
    media = attach_fake_media(d, "doc_id", "text")
    return decode_image_meta(media)


def _frame_sample(spark, sf):
    d = _t(spark, sf, "documents")
    media = attach_fake_media(d, "doc_id", "text")
    return frame_sample(media, every_n=5)


def _vocab_topk(spark, sf):
    """Corpus vocabulary heavy hitters with cumulative coverage share (the
    first report a tokenizer/vocab build runs on a new corpus)."""
    d = _t(spark, sf, "documents")
    return T.vocab_topk(d, "text", "doc_id", k=100)


def _span_dedup(spark, sf):
    """C4-style duplicate-span removal: chunk each doc into 5-token spans,
    keep the FIRST corpus-wide occurrence of every span, reassemble docs
    from their surviving spans. Two shuffles (span key, then doc id).
    fan_out first: the r8 slope audit measured the sf1 single-file scan
    serializing the tokenize+explode map side onto 2 of 32 cores —
    5.5x wall at 10x data, 1.3x after (BASELINE.md §11)."""
    from pgferry_spark.operators.dedup import span_dedup

    d = fan_out(_t(spark, sf, "documents"), "doc_id")
    return span_dedup(d, "text", "doc_id", span=5)


def _mixture_sample(spark, sf):
    """Deterministic training-data mixing: draw a fixed quota per source in
    md5-of-id order — 40% src0 / 30% src1 / 20% src2 / 10% src3 of a
    60-doc mixture. Pure function of the data; no RNG state."""
    from pgferry_spark.operators.curate import mixture_sample

    d = _t(spark, sf, "documents")
    out = mixture_sample(
        d, "source", "doc_id",
        {"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1},
        total=60,
    )
    return out.select("doc_id", "source", "sample_rank")


def _shard_manifest(spark, sf):
    """Training-shard audit manifest: per-md5-shard doc/token/byte totals —
    the accounting artifact a shard write ships with."""
    from pgferry_spark.operators.curate import shard_manifest

    d = _t(spark, sf, "documents")
    return shard_manifest(d, "doc_id", "text", n_shards=8)


def _inter_event_gaps(spark, sf):
    """Per-user event-cadence profile (min/median/max inter-event gap) —
    the data-driven input to session-gap tuning and bot detection."""
    from pgferry_spark.operators.temporal import inter_event_gaps

    e = _t(spark, sf, "events")
    return inter_event_gaps(e, "user_id", "ts", "event_id")


def _ivf_pq_topk(spark, sf):
    """FAISS-style IVFADC: one-scan (cell, PQ codes) index build, then a
    probe that filters 2 of 8 cells and scores by m literal-array lookups
    per row — raw vectors never touched at probe time. At 100 TB the
    index table is written bucketed by cell_id and this probe reads two
    buckets; here build+probe fuse into one job."""
    e = _t(spark, sf, "embeddings")
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    cents = similarity.ivf_centroids(e, "embedding", "vec_id", n_cells=8)
    books = similarity.pq_codebooks(e, "embedding", "vec_id", m=4, k=16)
    idx = similarity.ivf_pq_index(
        e, "embedding", "vec_id", centroids=cents, codebooks=books
    )
    return similarity.ivf_pq_topk(
        idx, qvec, cents, books, id_col="vec_id", k=10, nprobe=2
    )


def _ann_recall_ivfpq(spark, sf):
    """Recall@10 of the IVFADC probe against the exact cosine scan — the
    'measure, don't guess' scorecard for the ANN recall dials (nprobe,
    m, k). Both sides are top-k tables; the comparison is a broadcast
    semi-join + 1-row aggregate, corpus-size independent."""
    e = _t(spark, sf, "embeddings")
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    cents = similarity.ivf_centroids(e, "embedding", "vec_id", n_cells=8)
    books = similarity.pq_codebooks(e, "embedding", "vec_id", m=4, k=16)
    idx = similarity.ivf_pq_index(
        e, "embedding", "vec_id", centroids=cents, codebooks=books
    )
    approx = similarity.ivf_pq_topk(
        idx, qvec, cents, books, id_col="vec_id", k=10, nprobe=2
    )
    exact = similarity.cosine_topk(e, "embedding", "vec_id", qvec, k=10)
    return similarity.ann_recall(exact, approx, id_col="vec_id")


def _attribution(spark, sf):
    """Last-touch conversion attribution: each purchase credits the most
    recent preceding non-purchase event — one user-keyed window pass."""
    from pgferry_spark.operators.temporal import last_touch_attribution

    e = _t(spark, sf, "events")
    return last_touch_attribution(
        e, "user_id", "ts", "event_type", "event_id", conversion="purchase"
    )


def _approx_quantile_check(spark, sf):
    """KLL-style approx median per return flag, tolerance-gated vs the
    exact percentile (oracle asserts within_tolerance, so the gate sits
    well above the sketch's rank error — the approx_distinct lesson)."""
    from pgferry_spark.operators.checks import approx_quantile_check

    li = _t(spark, sf, "lineitem")
    return approx_quantile_check(
        li.withColumn("price_d", F.col("l_extendedprice").cast("double")),
        "l_returnflag", "price_d", q=0.5, rel_tol=0.10,
    )


def _tfidf_pairs(spark, sf):
    """All-pairs TF-IDF cosine similarity join at >= 0.9 — term-weighted
    lexical overlap, token-blocked (never corpus-quadratic)."""
    from pgferry_spark.operators.ranking import tfidf_similarity_pairs

    d = _t(spark, sf, "documents")
    return tfidf_similarity_pairs(d, "text", "doc_id", threshold=0.9)


def _curate_corpus(spark, sf):
    """Full curation DAG (scrub → quality gate → fingerprint dedup →
    split → shard) — one wide shuffle total, everything else fused map
    work. Returns the training-ready assignment table. fan_out first
    (same single-file parallelism floor as _curate_corpus_best)."""
    from pgferry_spark.operators.curate import curate_corpus

    d = fan_out(_t(spark, sf, "documents"), "doc_id").select("doc_id", "text")
    out = curate_corpus(d, "text", "doc_id", min_quality=0.3)
    return out.select("doc_id", "quality", "split", "shard")


def _curate_corpus_best(spark, sf):
    """curate_corpus with the quality-aware keeper: per fingerprint group
    the HIGHEST-quality row survives (ties to min id) instead of min-id —
    same single wide shuffle, keeper semantics from dedup.keep_best.
    fan_out first: the regex-heavy scrub/quality stages run BEFORE the
    dedup shuffle, so on a single-file scan they would serialize onto one
    core (measured 11.9x at the 10x sf1 slope test; linear after)."""
    from pgferry_spark.operators.curate import curate_corpus

    d = fan_out(_t(spark, sf, "documents"), "doc_id").select("doc_id", "text")
    out = curate_corpus(d, "text", "doc_id", min_quality=0.3, keeper="best")
    return out.select("doc_id", "quality", "split", "shard")


def _corpus_report(spark, sf):
    """One-row dataset datasheet: doc/token/char totals, language and
    source breadth, duplication rate, mean quality — the summary table a
    corpus release ships with. One scan, one global aggregate."""
    d = _t(spark, sf, "documents")
    toks = T.tokens(F.col("text"))
    fp = F.md5(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")))
    return d.agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(F.size(toks).cast("bigint")).alias("tokens"),
        F.sum(F.length("text").cast("bigint")).alias("chars"),
        F.count_distinct(F.col("lang")).alias("n_langs"),
        F.count_distinct(F.col("source")).alias("n_sources"),
        F.round(
            1.0 - F.count_distinct(fp) / F.count(F.lit(1)), 6
        ).alias("dup_rate"),
        F.round(F.avg(T.quality_score(F.col("text"))), 6).alias("mean_quality"),
    )


def _token_histogram(spark, sf):
    """Token-count distribution in width-10 buckets — the length histogram
    behind packing/outlier decisions. Map-side bucketing, one tiny agg."""
    d = _t(spark, sf, "documents")
    bucket = (F.floor(F.size(T.tokens(F.col("text"))) / 10) * 10).cast("int")
    return (
        d.groupBy(bucket.alias("bucket_lo"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def _q16_adapted(spark, sf):
    """Q16-shaped distinct-supplier counts per (brand, type, size), with
    shipped (partkey, suppkey) pairs standing in for the absent partsupp."""
    return Q.q16_supplier_part_types(
        _t(spark, sf, "part"), _t(spark, sf, "lineitem")
    )


def _q20_adapted(spark, sf):
    """Q20-shaped excess shippers: > 100 units of red* parts in 1995,
    supplier/nation broadcast dims."""
    return Q.q20_excess_shippers(
        _t(spark, sf, "supplier"), _t(spark, sf, "nation"),
        _t(spark, sf, "part"), _t(spark, sf, "lineitem"),
    )


def _q2_adapted(spark, sf):
    """Q2-shaped min-cost supplier: window-min decorrelation of the
    correlated scalar subquery; shipped unit cost stands in for partsupp
    supplycost."""
    return Q.q2_min_cost_supplier(
        _t(spark, sf, "part"), _t(spark, sf, "supplier"),
        _t(spark, sf, "nation"), _t(spark, sf, "region"),
        _t(spark, sf, "lineitem"),
    )


def _q11_adapted(spark, sf):
    """Q11-shaped important parts: HAVING vs a global scalar decorrelated
    into re-aggregation of the grouped result + broadcast cross join."""
    return Q.q11_important_parts(
        _t(spark, sf, "supplier"), _t(spark, sf, "nation"),
        _t(spark, sf, "lineitem"),
    )


def _q21_adapted(spark, sf):
    """Q21-shaped waiting suppliers: EXISTS/NOT-EXISTS pair decorrelated
    into a two-level aggregate; the oracle runs the textbook correlated
    form, so the gate verifies the decorrelation."""
    return Q.q21_waiting_suppliers(
        _t(spark, sf, "supplier"), _t(spark, sf, "orders"),
        _t(spark, sf, "lineitem"),
    )


def _name_match_pairs(spark, sf):
    """Entity resolution on part names: exact-dedup to distinct-name
    representatives FIRST (the realistic pre-step — fuzzy-matching raw
    rows squares every exact-dup group), then char-3-gram-blocked Jaccard
    pairs at >= 0.35."""
    from pgferry_spark.operators.dedup import name_match_pairs

    p = _t(spark, sf, "part")
    reps = p.groupBy("p_name").agg(F.min("p_partkey").alias("name_id"))
    return name_match_pairs(reps, "p_name", "name_id", threshold=0.35)


def _audio_segments(spark, sf):
    """Audio segmentation windows (5 s, tail-clipped) from Arrow-batched
    pseudo-duration decode — the transcription-pipeline fan-out shape."""
    from pgferry_spark.multimodal.ops import audio_segments

    d = _t(spark, sf, "documents")
    media = attach_fake_media(d, "doc_id", "text")
    return audio_segments(media, segment_ms=5000)


def _json_key_profile(spark, sf):
    """Semi-structured payload profiling: per-key row/distinct-value counts
    over the events props JSON (dynamic keys via map explode)."""
    from pgferry_spark.operators.checks import json_key_profile

    e = _t(spark, sf, "events")
    return json_key_profile(e, "props")


def _retention_cohorts(spark, sf):
    """Cohort retention: users by first-seen day × activity-day offset.
    Two shuffles; distinct (user, day) first so chatty users count once."""
    from pgferry_spark.operators.temporal import retention_cohorts

    e = _t(spark, sf, "events")
    return retention_cohorts(e, "user_id", "ts")


def _transition_counts(spark, sf):
    """Markov transition matrix of event types per user timeline (lag
    window, event_id tie-break) — one window shuffle + one count."""
    from pgferry_spark.operators.temporal import transition_counts

    e = _t(spark, sf, "events")
    return transition_counts(e, "user_id", "ts", "event_type", order_col="event_id")


def _weighted_sample(spark, sf):
    """Efraimidis–Spirakis weighted sampling with a hashed uniform: top-50
    docs by u^(1/n_chars) — weight-proportional inclusion, zero RNG state,
    TakeOrdered plan (no global sort)."""
    from pgferry_spark.operators.curate import weighted_sample

    d = _t(spark, sf, "documents")
    return weighted_sample(d, "doc_id", "n_chars", n=50).select(
        "doc_id", "n_chars", "sample_key"
    )


def _temperature_sample(spark, sf):
    """UNIMAX-style temperature rebalancing: per-lang quota ∝ count^0.5,
    drawn in md5 order — up-samples low-resource languages. Quotas derive
    from the data (no driver collect); one tiny aggregate + broadcast."""
    from pgferry_spark.operators.curate import temperature_sample

    d = _t(spark, sf, "documents")
    out = temperature_sample(d, "lang", "doc_id", alpha=0.5, total=200)
    return out.select("doc_id", "lang", "sample_rank")


def _chunk_documents(spark, sf):
    """Sliding-window chunking (64-token windows, 16-token overlap) — the
    RAG/long-context prep pass; map-only, zero shuffle."""
    d = _t(spark, sf, "documents")
    return T.chunk_documents(d, "text", "doc_id", max_tokens=64, overlap=16)


_FUNNEL_STEPS = ["view", "click", "purchase"]


def _user_funnel(spark, sf):
    """Per-user ordered-funnel progress (view → click → purchase, each step
    strictly after the previous match): ONE shuffle + a sort/fold per user,
    vs the step-per-self-join formulation's shuffle per step."""
    from pgferry_spark.operators.temporal import funnel_steps

    e = _t(spark, sf, "events")
    return funnel_steps(e, "user_id", "ts", "event_type", _FUNNEL_STEPS)


def _funnel_report(spark, sf):
    """The aggregate funnel: users reaching >= step k for each step."""
    from pgferry_spark.operators.temporal import funnel_report

    e = _t(spark, sf, "events")
    return funnel_report(e, "user_id", "ts", "event_type", _FUNNEL_STEPS)


def _bpe_merges(spark, sf):
    """BPE merge learning: one distributed word-count shuffle, then a
    driver loop over the vocab-bounded frequency table — 50 learned
    merges as (rank, left, right, pair_count). Oracle-backed since round
    6: the greedy loop unrolls into 50 chained MATERIALIZED CTE steps
    (pair explode -> argmax -> replace-based merge application on a
    unit-separator symbol encoding) — see _bpe_merges_oracle. Also
    pinned by test_vocab's independent-reference equivalence."""
    from pgferry_spark.operators.vocab import bpe_merges_df, learn_bpe_merges

    d = _t(spark, sf, "documents")
    return bpe_merges_df(spark, learn_bpe_merges(d, "text", n_merges=50))


def _bpe_encode(spark, sf):
    """Distributed encode pass under the learned BPE vocabulary: per-doc
    token counts via an Arrow-batched UDF with a per-batch word cache.
    Oracle-backed since round 6: the oracle replays the unrolled-learned
    merges over every distinct word (sequential-by-rank global replace ≡
    the UDF's priority encode for learned merge lists, whose operand
    symbols only arise from earlier merges) and sums per document."""
    from pgferry_spark.operators.vocab import bpe_encode_counts, learn_bpe_merges

    d = _t(spark, sf, "documents")
    merges = learn_bpe_merges(d, "text", n_merges=50)
    return bpe_encode_counts(d, "text", "doc_id", merges)


def _bpe_roundtrip(spark, sf):
    """Tokenizer losslessness (round 10, second wave): encode every
    word under the learned merges, decode the symbol sequence back
    (concatenate, strip the end-of-word marker), rejoin — the oracle is
    the ORIGINAL documents text, so hash-green means the greedy
    merge-apply loop never corrupts a symbol boundary for any word in
    the corpus (the regression class token COUNTS cannot catch).
    Whitespace-normalized boundary documented in vocab.py."""
    from pgferry_spark.operators.vocab import (
        bpe_roundtrip_texts,
        learn_bpe_merges,
    )

    d = _t(spark, sf, "documents")
    merges = learn_bpe_merges(d, "text", n_merges=50)
    return bpe_roundtrip_texts(d, "text", "doc_id", merges)


def _knn_graph(spark, sf):
    """Approximate kNN graph over embeddings: per-vector top-5 neighbors
    among LSH band-bucket candidates (24 planes / 4 six-bit bands, seed
    42) — the substrate for diversity sampling and graph-based curation.

    Band width is the candidate-volume dial: the near-dup family's 2-bit
    bands put ~1/4 of the corpus in each bucket, which is right for
    recall-first dedup but makes a kNN graph's directed-edge volume
    sum(bucket²) — measured 3.1 s at sf0.1. Six-bit bands (64 buckets)
    cut candidates ~256x for a graph that only needs NEAR neighbors."""
    from pgferry_spark.operators.similarity import knn_graph

    e = _t(spark, sf, "embeddings")
    return knn_graph(e, "embedding", "vec_id", k=5, n_planes=24, bands=4, dim=64)


def _knn_graph_capped(spark, sf):
    """The PRODUCTION kNN-graph configuration: same 24-plane/4-band graph
    as `knn_graph` with the hot-bucket cap engaged — a degenerate band
    value (near-zero/boilerplate embeddings sharing one sign pattern)
    would otherwise concentrate an O(B²) matmul on one executor. The cap
    here (15 ≈ 2× the median bucket at the gate SF, where the largest
    bucket is 18) is chosen so the DROP path actually executes at
    sf0.01; production tunes it to a few× the expected bucket size. The
    oracle replays the cap as a HAVING filter over the same bucket
    counts, so the gate certifies the cap's exact drop/keep semantics,
    not just its existence."""
    from pgferry_spark.operators.similarity import knn_graph

    e = _t(spark, sf, "embeddings")
    return knn_graph(
        e, "embedding", "vec_id", k=5, n_planes=24, bands=4, dim=64,
        max_bucket=15,
    )


def _ivf_pq_kmeans_topk(spark, sf):
    """IVFADC probe over the PRODUCTION index configuration: MLlib-KMeans
    coarse centroids and per-subspace Lloyd-trained PQ codebooks (m=8)
    instead of the deterministic id<k stand-ins, wired through the same
    ivf_pq_index path, with the ADC shortlist re-ranked exactly
    (shortlist=50, nprobe=2). Rows-only at the gate (k-means floats are
    iteration-order sensitive); the verification instruments are the
    `ann_recall_ivfpq_kmeans` scorecard and the oracle-checked
    `ivf_pq_rerank_topk` twin that certifies the identical composition
    on deterministic index metadata."""
    e = _t(spark, sf, "embeddings")
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    cents = similarity.kmeans_centroids(e, "embedding", "vec_id", n_cells=8, seed=42)
    books = similarity.pq_codebooks_kmeans(e, "embedding", "vec_id", m=8, k=16)
    idx = similarity.ivf_pq_index(
        e, "embedding", "vec_id", centroids=cents, codebooks=books
    )
    return similarity.ivf_pq_topk_rerank(
        idx, e, qvec, cents, books, "embedding", id_col="vec_id",
        k=10, shortlist=50, nprobe=2,
    )


def _ann_recall_ivfpq_kmeans(spark, sf):
    """Recall@10 of the production IVFADC probe (k-means centroids,
    trained codebooks, exact re-rank) vs the exact cosine scan — the
    deterministic-vs-production comparison the recall table in
    docs/SCALE.md records (~0.2 ADC-only → ~0.7+ re-ranked). Rows-only
    (k-means floats)."""
    e = _t(spark, sf, "embeddings")
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    cents = similarity.kmeans_centroids(e, "embedding", "vec_id", n_cells=8, seed=42)
    books = similarity.pq_codebooks_kmeans(e, "embedding", "vec_id", m=8, k=16)
    idx = similarity.ivf_pq_index(
        e, "embedding", "vec_id", centroids=cents, codebooks=books
    )
    approx = similarity.ivf_pq_topk_rerank(
        idx, e, qvec, cents, books, "embedding", id_col="vec_id",
        k=10, shortlist=50, nprobe=2,
    )
    exact = similarity.cosine_topk(e, "embedding", "vec_id", qvec, k=10)
    return similarity.ann_recall(exact, approx, id_col="vec_id")


def _ivf_pq_rerank_topk(spark, sf):
    """ADC-shortlist → exact-re-rank composition on DETERMINISTIC index
    metadata (id<8 centroids, id<16 codebooks) so the whole two-stage
    probe — cell routing, PQ codes, ADC shortlist ranking, raw-vector
    fetch, cosine re-rank — replays in ANSI SQL at the oracle gate. The
    `ivf_pq_kmeans_topk` production twin runs the same composition on
    trained metadata."""
    e = _t(spark, sf, "embeddings")
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    cents = similarity.ivf_centroids(e, "embedding", "vec_id", n_cells=8)
    books = similarity.pq_codebooks(e, "embedding", "vec_id", m=4, k=16)
    idx = similarity.ivf_pq_index(
        e, "embedding", "vec_id", centroids=cents, codebooks=books
    )
    return similarity.ivf_pq_topk_rerank(
        idx, e, qvec, cents, books, "embedding", id_col="vec_id",
        k=10, shortlist=50, nprobe=2,
    )


def _image_meta_real(spark, sf):
    """REAL image bytes through the multimodal path: spec-conformant PNGs
    are generated in the executors (pure-stdlib encoder, pixel law a pure
    function of doc_id), then decoded for real — signature, chunk CRC32s,
    IHDR, IDAT inflate, scanline defilter, pixel sum. The oracle
    recomputes every output column arithmetically from doc_id, so a green
    row certifies the whole encode→decode byte round-trip, not a fake."""
    from pgferry_spark.multimodal.ops import attach_real_images, image_meta_real

    d = _t(spark, sf, "documents")
    return image_meta_real(attach_real_images(d, "doc_id"))


def _image_meta_jpeg(spark, sf):
    """REAL baseline-JPEG bytes through the multimodal path: executors
    generate spec-conformant JPEGs whose decoded pixels are a pure
    function of doc_id (constant 8x8 blocks + all-ones quantization —
    DC-only blocks make the Huffman+IDCT round trip BIT-exact), then
    decode them for real (marker walk, DQT/DHT, entropy decode, IDCT).
    The oracle recomputes width/height/pixel_sum arithmetically from
    doc_id, so a green row certifies the whole JPEG encode→decode path —
    the same certificate image_meta_real gives the PNG codec."""
    from pgferry_spark.multimodal.ops import (
        attach_real_jpegs,
        image_pixelsum_real,
    )

    d = _t(spark, sf, "documents")
    return image_pixelsum_real(attach_real_jpegs(d, "doc_id"))


def _video_frame_index(spark, sf):
    """REAL MP4 container indexing: executors generate minimal
    conforming ISO-BMFF files (full stbl sample table, mdat-first
    layout) whose per-frame byte ranges are a pure function of doc_id,
    then parse them back with the real stsc chunk-run algorithm and
    explode to one row per frame with its exact byte range + start
    time — the bounded-range-read index a 100 TB video pipeline hands
    its decode tasks. The oracle recomputes every offset/size/time
    arithmetically from doc_id."""
    from pgferry_spark.multimodal.ops import (
        attach_real_videos,
        video_frame_index,
    )

    d = _t(spark, sf, "documents")
    return video_frame_index(attach_real_videos(d, "doc_id"))


def _audio_segment_index(spark, sf):
    """REAL WAV range indexing: executors generate canonical-header
    PCM16 WAVs whose geometry is a pure function of doc_id, parse the
    fmt/data chunks back, and explode to one row per 250 ms segment
    with its EXACT byte range — PCM is its own index (sample k at
    data_offset + k*block_align), so transcription workers range-read
    segments instead of fetching whole objects. The oracle recomputes
    every offset/length/time arithmetically from doc_id."""
    from pgferry_spark.multimodal.ops import (
        attach_real_audio,
        audio_segment_index,
    )

    d = _t(spark, sf, "documents")
    return audio_segment_index(attach_real_audio(d, "doc_id"))


def _image_ahash_real(spark, sf):
    """Perceptual average-hash over REAL decoded PNG pixels: 8×8 block
    mosaic, bit = block mean > global mean — the near-duplicate-image
    fingerprint, computed from actual bytes (full CRC/inflate/defilter
    decode) and certified by an arithmetic oracle that replays all 64
    block comparisons in exact integer math."""
    from pgferry_spark.multimodal.ops import attach_real_images, image_ahash

    d = _t(spark, sf, "documents")
    return image_ahash(attach_real_images(d, "doc_id"))


def _image_near_dup(spark, sf):
    """Near-duplicate image pairs: REAL PNG decode → 64-bit aHash →
    4-band bucket join → exact hamming ≤ 3 verify (pigeonhole-exact
    recall at this threshold). The content key groups every 3 doc_ids
    onto one identical image so the duplicate structure exists; the
    oracle replays hash, banding, and hamming arithmetically."""
    from pgferry_spark.multimodal.ops import attach_real_images, image_near_dup_pairs

    d = _t(spark, sf, "documents")
    media = attach_real_images(
        d, "doc_id", content_col=F.col("doc_id") - F.col("doc_id") % 3
    )
    return image_near_dup_pairs(media, max_hamming=3, bands=4)


def _curation_funnel(spark, sf):
    """One-row run manifest of the curation DAG: survivors at every stage
    (input → quality gate → dedup → split) counted in ONE pass with
    conditional aggregates — the artifact a data team diffs across runs
    to catch a filter suddenly eating a source."""
    from pgferry_spark.operators.curate import curation_funnel

    d = _t(spark, sf, "documents")
    return curation_funnel(d, "text", "doc_id", min_quality=0.3)


def _source_datasheet(spark, sf):
    """Per-source mixture-design datasheet: docs, token volume, distinct
    fingerprints, dup rate, mean quality — one aggregation shuffle."""
    from pgferry_spark.operators.curate import source_datasheet

    d = _t(spark, sf, "documents")
    return source_datasheet(d, "text", "doc_id", "source")


def _margin_mine(spark, sf):
    """Margin-based pair mining (the LASER/CCMatrix bitext recipe): every
    10th embedding is the source set, the rest the target pool; banded
    kNN joins both ways, margin = cos / mean-of-neighborhood-cosines,
    threshold 1.02 — density-normalized pairing instead of a brittle
    absolute-cosine cut."""
    from pgferry_spark.operators.similarity import margin_mine

    e = _t(spark, sf, "embeddings")
    src = e.filter(F.col("vec_id") % 10 == 0)
    tgt = e.filter(F.col("vec_id") % 10 != 0)
    return margin_mine(
        src, tgt, "embedding", "vec_id", k=5, threshold=1.02,
        n_planes=24, bands=4, dim=64,
    )


def _hard_negatives(spark, sf):
    """Semi-hard negative mining for contrastive training: the kNN-graph
    neighbors ranked 6-15 — similar enough to be informative, not so
    close they're positives (the FaceNet semi-hard band). Pure
    composition over the capped kNN graph; pairs with `negative_samples`
    (uniform negatives) to build a full contrastive batch."""
    from pgferry_spark.operators.similarity import knn_graph

    e = _t(spark, sf, "embeddings")
    g = knn_graph(e, "embedding", "vec_id", k=15, n_planes=24, bands=4, dim=64)
    return g.filter(F.col("rank") >= 6)


def _negative_samples(spark, sf):
    """Contrastive-training negative sampling: 4 deterministic pseudo-
    random partner docs per anchor via md5 bucket routing + min-hash
    pick — RNG-free, rerun-stable, candidate-linear join."""
    from pgferry_spark.operators.curate import negative_samples

    d = _t(spark, sf, "documents")
    return negative_samples(d, "doc_id", k=4, n_buckets=64, seed=7)


def _profile_orders(spark, sf):
    """ANALYZE-style per-column profile of the orders table: one
    aggregation pass computes rows/nulls/ndv/min/max for every column,
    pivoted to per-column rows via an inline struct explode. The CBO /
    migration-validation statistics surface."""
    from pgferry_spark.operators.checks import profile_table

    return profile_table(_t(spark, sf, "orders"))


def _cluster_safe_split(spark, sf):
    """Leakage-safe split: hash bucket computed on the near-dup CLUSTER id
    (winnow-pair connected components), so near-duplicate documents can
    never straddle train/test; singletons fall back to their own id —
    a drop-in upgrade of dataset_split."""
    from pgferry_spark.operators.curate import cluster_safe_split

    d = _t(spark, sf, "documents")
    clusters = dedup.dedup_clusters(_winnow_shared_pairs(spark, sf))
    return cluster_safe_split(d, clusters, "doc_id").select("doc_id", "split")


def _skew_profile(spark, sf):
    """Top-10 heaviest order keys with corpus share — the pre-join skew
    diagnostic (decides salting/AQE-skew before the shuffle). Lazy
    single-scan form: total derives from the grouped counts, no second
    fact pass, no driver count."""
    from pgferry_spark.operators.skew import skew_profile

    o = _t(spark, sf, "orders")
    return skew_profile(o, "o_custkey", top=10)


def _cross_corpus_near_dup(spark, sf):
    """Two-table decontamination: every 10th document plays the benchmark
    set, the rest the training corpus; MinHash-LSH candidates across the
    tables, exact 3-gram Jaccard ≥ 0.5 verify. The near-dup upgrade of
    incremental_dedup's exact-fingerprint anti-join."""
    from pgferry_spark.operators.dedup import cross_corpus_near_dup

    d = _t(spark, sf, "documents")
    left = d.filter(F.col("doc_id") % 10 == 0)
    right = d.filter(F.col("doc_id") % 10 != 0)
    return cross_corpus_near_dup(
        left, right, "text", "doc_id", min_jaccard=0.5
    ).withColumnRenamed("left_id", "bench_id").withColumnRenamed(
        "right_id", "corpus_id"
    )


def _cross_corpus_near_dup_capped(spark, sf):
    """Production POSTURE of _cross_corpus_near_dup: corpus-side
    hot-bucket cap ON (max_bucket=3 < max observed corpus bucket at the
    test SFs, so dropped buckets exist at the gate). The oracle replays
    the drop as HAVING COUNT(*) <= 3 over the corpus bucket counts."""
    from pgferry_spark.operators.dedup import cross_corpus_near_dup

    d = _t(spark, sf, "documents")
    left = d.filter(F.col("doc_id") % 10 == 0)
    right = d.filter(F.col("doc_id") % 10 != 0)
    return cross_corpus_near_dup(
        left, right, "text", "doc_id", min_jaccard=0.5, max_bucket=3
    ).withColumnRenamed("left_id", "bench_id").withColumnRenamed(
        "right_id", "corpus_id"
    )


def _dsir_weights(spark, sf):
    """DSIR-style hashed-n-gram importance weights against the English
    slice as the target domain: one tokenize pass, a ≤4096-row bucket
    distribution broadcast back as log ratios, one per-doc mean. The
    data-selection scorer for 'make the corpus look like the target'."""
    d = _t(spark, sf, "documents")
    return filters.dsir_importance_weights(
        d, "text", "doc_id", F.col("lang") == "en", n_buckets=4096
    )


def _dup_rate_by_source(spark, sf):
    """Per-source duplication-rate report (docs, distinct fingerprints,
    dup rate) — the corpus-health table that decides which sources need
    aggressive dedup before mixing. One aggregation shuffle."""
    from pgferry_spark.operators.dedup import dup_rate_by_source

    d = _t(spark, sf, "documents")
    return dup_rate_by_source(d, "text", "doc_id", "source")


def _pq_encode(spark, sf):
    """Product quantization: 64-dim vectors → 4 one-byte codes (nearest
    subspace centroid by 4dp-rounded L2, ties to lowest code) + total
    reconstruction error. Map-only literal-codebook register math."""
    from pgferry_spark.operators.similarity import pq_encode

    e = _t(spark, sf, "embeddings")
    out = pq_encode(e, "embedding", "vec_id", m=4, k=16)
    return out.select(
        "vec_id",
        F.array_join("codes", ",").alias("codes_csv"),
        "recon_err",
    )


def _semdedup(spark, sf):
    """SemDeDup: cluster embeddings into IVF cells (map-only literal-centroid
    argmax), then drop rows with a lower-id ≥0.35-cosine neighbor in the
    same cell — per-cell BLAS verify, never corpus-quadratic."""
    from pgferry_spark.operators.dedup import semdedup

    e = _t(spark, sf, "embeddings")
    out = semdedup(e, "embedding", "vec_id", threshold=0.35, n_cells=8)
    return out.withColumnRenamed("id", "vec_id")


def _exact_substring_spans(spark, sf):
    """Exact-substring duplicate spans (Lee et al. 2022 ExactSubstr,
    suffix-array-free): stride-1 8-token windows, keep-first corpus-wide
    per repeated window, merge each doc's surviving duplicate windows
    into maximal [start, end) token spans. The shuffle carries md5 window
    keys, never text; the keeper is a count+min aggregate (no hot-window
    occurrence lists). fan_out first (the span_dedup single-file
    parallelism-floor lesson, r8 slope audit)."""
    from pgferry_spark.operators.dedup import exact_substring_spans

    d = fan_out(_t(spark, sf, "documents"), "doc_id")
    return exact_substring_spans(d, "text", "doc_id", w=8)


def _exact_substring_spans_chars(spark, sf):
    """ExactSubstr spans with Lee et al.'s CHARACTER-length floor
    (arXiv:2107.06499 uses a 50-char suffix-array threshold, not a token
    count): same windowed span merge, then each span's reconstructed
    text (single-space joined tokens) must reach 50 chars. The extra
    cost is one equi-join of the duplicate-bounded span table back to a
    (doc_id, tokens) projection — AQE broadcast in practice."""
    from pgferry_spark.operators.dedup import exact_substring_spans

    d = fan_out(_t(spark, sf, "documents"), "doc_id")
    return exact_substring_spans(
        d, "text", "doc_id", w=8, min_match_chars=50
    )


def _exact_substring_spans_exact(spark, sf):
    """EXACT ExactSubstr at the paper's 50-CHAR threshold (VERDICT r13
    Next #4): fixed-depth suffix-prefix grouping — every token-boundary
    suffix keyed by its first 50 chars; identical keys are exactly the
    suffix-array buckets of Lee et al. 2022, so every >= 50-char corpus
    repeat starting at a token boundary is found regardless of how many
    tokens it spans (the w-token window needs w whole aligned tokens;
    the staggered band reads recall 0.84 on the misaligned scorecard,
    this reads 1.0). Keep-first min (id, pos) per bucket; char-space
    island merge; spans are [start, end) CHARACTER offsets into the
    normalized single-space text. Shuffle carries (id, pos, off, md5),
    never suffix text; keys built from <= 50-token slices map-side."""
    from pgferry_spark.operators.dedup import exact_substring_spans_exact

    d = fan_out(_t(spark, sf, "documents"), "doc_id")
    return exact_substring_spans_exact(d, "text", "doc_id", depth=50)


def _hll_registers(spark, sf):
    """Per-returnflag HyperLogLog register tables over order keys: one
    aggregate whose output is <= 256 rows per group regardless of input
    size — the sketch a 100 TB pipeline ships instead of a distinct
    shuffle. Deterministic md5-derived hash, so every register is
    oracle-exact."""
    from pgferry_spark.operators.sketches import hll_registers

    li = _t(spark, sf, "lineitem")
    return hll_registers(li, "l_orderkey", group_cols=("l_returnflag",), p=8)


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


def _exact_substring_scrub(spark, sf):
    """The removal half of Lee et al. ExactSubstr: every document
    rebuilt with its later-occurrence duplicated windows cut out (first
    corpus-wide copy survives). The spans table is tiny; the only
    corpus-sized work is one token posexplode and a per-document
    ordered re-aggregation — no suffix array, no all-pairs. fan_out
    first (single-file parallelism floor, r8 slope audit)."""
    from pgferry_spark.operators.dedup import remove_exact_substrings

    d = fan_out(_t(spark, sf, "documents"), "doc_id")
    return remove_exact_substrings(d, "text", "doc_id", w=8)


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


# ---------------------------------------------------------------------------
# domain-aware curation (round 7) — RefinedWeb/C4 source-policy layer
# ---------------------------------------------------------------------------

# Blocked registrable domains for the blocklist entry: one news-style
# domain, one org domain, and the co.uk suffix (which the documented
# last-two-label heuristic maps every *.co.uk host onto — blocking it
# exercises the approximation's blast radius deliberately).
_BLOCKED_DOMAINS = ("src1-news.com", "src2.org", "co.uk")


def _docs_with_urls(spark, sf):
    from pgferry_spark.operators.domains import attach_urls

    return attach_urls(_t(spark, sf, "documents"))


def _domain_stats(spark, sf):
    """Per-domain corpus-health rollup (docs, hosts, dup rate, bytes) —
    dup_rate_by_source keyed on the PARSED registrable domain instead of
    the ingest label. One aggregation shuffle; extraction is map-only
    codegen regexp (no parse_url: java.net.URI semantics aren't oracle-
    replayable)."""
    from pgferry_spark.operators.domains import domain_stats

    return domain_stats(_docs_with_urls(spark, sf))


def _domain_quota_sample(spark, sf):
    """C4-style per-domain cap: at most 5 docs per domain by
    deterministic content-independent md5(doc_id) order. One partitioned
    window, rank prunes in place."""
    from pgferry_spark.operators.domains import domain_quota_sample

    return domain_quota_sample(_docs_with_urls(spark, sf), n_per_domain=5)


def _blocklist_filter(spark, sf):
    """URL-blocklist gate: anti join on the parsed domain against a
    config-sized blocklist (AQE broadcasts it; no forced hint)."""
    from pgferry_spark.operators.domains import blocklist_filter

    blocked = spark.createDataFrame(
        [(x,) for x in _BLOCKED_DOMAINS], "domain: string"
    )
    return blocklist_filter(_docs_with_urls(spark, sf), blocked)


def _url_dedup(spark, sf):
    """URL-level exact dedup on the canonical crawl key (scheme/port/
    userinfo/www/fragment/tracking-params stripped): keep-min-id per
    normalized URL — the C4 step that runs BEFORE content dedup. One
    map-side-combinable aggregation shuffle."""
    from pgferry_spark.operators.domains import url_dedup

    return url_dedup(_docs_with_urls(spark, sf))


def _image_exif_meta(spark, sf):
    """REAL EXIF through the multimodal path: executors build JPEGs with
    spec-shaped TIFF IFD APP1 blocks (both byte orders, GPS sub-IFD on
    2/3 of rows) whose every field is an arithmetic function of doc_id,
    then parse them back with the real IFD walker — the oracle
    recomputes the fields from doc_id, so a green row certifies the
    encode→parse byte round trip (the image_meta_jpeg pattern applied
    to metadata)."""
    from pgferry_spark.multimodal.ops import attach_exif_jpegs, image_exif_meta

    d = _t(spark, sf, "documents")
    return image_exif_meta(attach_exif_jpegs(d, "doc_id"))


def _exif_gps_scrub(spark, sf):
    """The image-side PII gate: copy the full IFD0 tree minus only the
    GPS pointer (round 8 — unknown tags and the 0x8769 EXIF sub-IFD now
    survive, VERDICT r7 #1) and re-parse the scrubbed bytes — green
    means GPS is gone AND every other field, including the sub-IFD's
    ExposureTime/ISO, survived the surgery. Map-only Arrow pass;
    payloads never leave the executor."""
    from pgferry_spark.multimodal.ops import attach_exif_jpegs, exif_gps_scrub

    d = _t(spark, sf, "documents")
    return exif_gps_scrub(attach_exif_jpegs(d, "doc_id"))


def _script_profile(spark, sf):
    """Unicode-script profile over a deterministically multiscript-
    decorated corpus: per-doc character counts for Latin/Cyrillic/CJK/
    Arabic literal ranges + dominant script. Literal-endpoint ranges are
    the one spelling Java regex and RE2 read identically (\\p{Script}
    names and \\u escapes both diverge). Map-only codegen."""
    from pgferry_spark.functions.text import (
        MULTISCRIPT_SYNTH_SQL,
        script_profile,
    )

    d = _t(spark, sf, "documents").withColumn(
        "mtext", F.expr(MULTISCRIPT_SYNTH_SQL.format(id="doc_id", txt="text"))
    )
    return script_profile(d, "mtext", "doc_id")


def _line_dedup(spark, sf):
    """RefinedWeb corpus-wide exact-line dedup over the extracted HTML
    corpus: keep-first per line across ALL documents (agg keeper —
    map-side partial min(struct), hot boilerplate lines never
    concentrate), short lines exempt, docs rebuilt from survivors. The
    html synth plants identical boilerplate lines across docs of the
    same template class, so cross-doc dedup is genuinely exercised."""
    from pgferry_spark.operators.html import (
        attach_html,
        html_extract,
        line_dedup,
    )

    d = fan_out(_t(spark, sf, "documents"), "doc_id")
    return line_dedup(html_extract(attach_html(d)), min_line_chars=10)


def _domain_token_budget(spark, sf):
    """Per-domain TOKEN budget (the unit mixture construction actually
    allocates): subword counts per doc, then a domain-partitioned
    cumulative window admits docs in deterministic md5(id) order while
    the domain's running total stays within budget. No global sort
    anywhere (contrast select_to_token_budget's global two-pass)."""
    from pgferry_spark.operators.domains import domain_token_budget

    d = _docs_with_urls(spark, sf).withColumn(
        "n_toks", T.bpe_token_count(F.col("text"))
    )
    return domain_token_budget(d, budget=300)


def _extract_links(spark, sf):
    """Outbound-link extraction from raw HTML (pre-strip — links live in
    the markup the text extractor throws away): (doc_id, link_no, href)
    via regexp_extract_all + one narrow posexplode_outer (plain explode
    would clone the array expression into a pushed size()>0 scan
    filter). The crawl-frontier / web-graph edge list."""
    from pgferry_spark.operators.html import attach_html, extract_links

    d = fan_out(_t(spark, sf, "documents"), "doc_id")
    return extract_links(attach_html(d))


def _link_graph_stats(spark, sf):
    """Domain-level link in-degree: parse every href's registrable
    domain, count inbound links + distinct linking docs — the
    link-authority table trust-propagation signals and crawl-frontier
    prioritization read. Map-only parse, ONE aggregation shuffle."""
    from pgferry_spark.operators.domains import domain_link_stats
    from pgferry_spark.operators.html import attach_html, extract_links

    d = fan_out(_t(spark, sf, "documents"), "doc_id")
    return domain_link_stats(extract_links(attach_html(d)))


def _host_pagerank(spark, sf):
    """Classic crawl-prioritization PageRank (Page et al. 1999) over the
    registrable-domain link graph — the host-rank table a CommonCrawl-
    style scheduler publishes, and the upgrade path for crawl_frontier's
    inbound-count authority column.  Edges: each document's OWN domain
    (URL synth + host/domain templates) → each outbound href's domain,
    deduped, self-loops dropped.  K=3 quantized power iterations in
    integer micro-units (the crawl_budget_allocate discipline: integer
    div + integer sums replace order-dependent float summation, so both
    engines replay bit-exactly).  Rank table is |domains| rows; per
    iteration one src-keyed join + one dst-keyed aggregate over the
    edge list; N and the dangling pool are single-row broadcast
    scalar-joins."""
    from pgferry_spark.operators.domains import (
        attach_urls,
        host_pagerank,
        with_host_domain,
    )
    from pgferry_spark.operators.html import attach_html, extract_links

    docs = fan_out(_t(spark, sf, "documents"), "doc_id")
    src = with_host_domain(attach_urls(docs)).select(
        "doc_id", F.col("domain").alias("src")
    )
    dst = with_host_domain(
        extract_links(attach_html(docs)), "href"
    ).select("doc_id", F.col("domain").alias("dst"))
    edges = dst.join(src, "doc_id").select("src", "dst")
    return host_pagerank(edges)


_URL_BLOCK_KWS = ("post", "raw", "login", "cart")


def _url_keyword_filter(spark, sf):
    """RefinedWeb URL word-list gate: drop documents whose URL
    path/query contains a blocked keyword (utility/login/search pages),
    keyed on the path so domains are not punished for their names.
    Map-only filter, no join."""
    from pgferry_spark.operators.domains import url_keyword_filter

    return url_keyword_filter(_docs_with_urls(spark, sf), _URL_BLOCK_KWS)


def _web_curation_funnel(spark, sf):
    """The whole round-8 web stack composed end-to-end into a per-stage
    funnel report: raw → URL keyword gate → domain blocklist → HTML
    extraction + C4 page clean → canonical-URL dedup keepers. The two
    URL gates are map-side flags counted in ONE aggregate (no joins);
    the page clean runs only over gated survivors; five rows out."""
    from pgferry_spark.operators.domains import web_curation_funnel
    from pgferry_spark.operators.html import attach_html

    docs = attach_html(_docs_with_urls(spark, sf))
    docs = fan_out(docs, "doc_id")
    return web_curation_funnel(docs, _BLOCKED_DOMAINS, _URL_BLOCK_KWS)


def _crawl_snapshot_frames(spark, sf):
    """Two deterministic crawl snapshots over the shared URL synthesis:
    the previous snapshot (doc_id % 4 != 0, capture_ts 100+id%7) and a
    re-crawl (doc_id % 2 = 0, capture_ts 200+id%7, content mutated on
    id % 10 = 0) — overlap/new/carried/changed all populated by the
    filter arithmetic, so the oracle replays everything."""
    from pgferry_spark.functions.text import fingerprint
    from pgferry_spark.operators.domains import attach_urls, snapshot_reduce

    d = _t(spark, sf, "documents")
    corpus = attach_urls(d.filter("doc_id % 4 <> 0")).select(
        "doc_id", "url",
        fingerprint(F.col("text")).alias("fp"),
        (F.lit(100) + F.col("doc_id") % 7).alias("capture_ts"),
    )
    mutated = F.when(
        F.col("doc_id") % 10 == 0, F.concat(F.col("text"), F.lit(" updated"))
    ).otherwise(F.col("text"))
    batch = attach_urls(d.filter("doc_id % 2 = 0")).select(
        "doc_id", "url",
        fingerprint(mutated).alias("fp"),
        (F.lit(200) + F.col("doc_id") % 7).alias("capture_ts"),
    )
    return snapshot_reduce(corpus), batch


def _crawl_snapshot_merge(spark, sf):
    """Crawl-snapshot keep-newest merge on the canonical URL key
    (CommonCrawl re-crawl posture): previous snapshot's per-nurl URL
    index full-outer-joined with the reduced new crawl; newest capture
    wins, every nurl labeled new/changed/unchanged/carried. The corpus
    side is zero-exchange when bucketed by nurl (plan-pinned in
    tests/test_domains.py, mirroring incremental_dedup)."""
    from pgferry_spark.operators.domains import crawl_snapshot_merge

    corpus_index, batch = _crawl_snapshot_frames(spark, sf)
    return crawl_snapshot_merge(corpus_index, batch)


def _crawl_delta_counts(spark, sf):
    """Snapshot-over-snapshot audit: URL counts per merge status — one
    map-side-combinable agg over the merge."""
    from pgferry_spark.operators.domains import (
        crawl_delta_counts,
        crawl_snapshot_merge,
    )

    corpus_index, batch = _crawl_snapshot_frames(spark, sf)
    return crawl_delta_counts(crawl_snapshot_merge(corpus_index, batch))


_BLOCKWORDS = ("slow", "legacy")


def _blockword_flags(spark, sf):
    """C4 document word-list gate (round 9): per-doc blocked flag on
    TOKEN equality (lowercased whitespace tokens vs the config list) —
    not substring containment, so embedded innocents never trip
    (Scunthorpe-safe). One arrays_overlap against a literal array,
    map-only; the blocklist here is an innocuous stand-in vocabulary
    ('slow', 'legacy') — the semantics are the named C4 stage, the
    list is config."""
    from pgferry_spark.operators.filters import blockword_flags

    return blockword_flags(
        _t(spark, sf, "documents"), _BLOCKWORDS, "text", "doc_id"
    )


def _gopher_quality_flags(spark, sf):
    """Gopher A1.1 document-quality gates (round 9): the eight named
    per-document rules as one map-only flag table over a decorated
    corpus (one class per failure mode: all-bullet doc, ellipsis line,
    symbol soup, undecorated). Word bounds tuned to the synthetic
    10-99-word docs; stopword floor 1 (the corpus vocabulary carries
    'the' but not the rest of the canonical eight)."""
    from pgferry_spark.operators.filters import (
        GOPHER_SYNTH_SQL,
        gopher_quality_flags,
    )

    d = _t(spark, sf, "documents").withColumn(
        "gtext", F.expr(GOPHER_SYNTH_SQL.format(id="doc_id", txt="text"))
    )
    return gopher_quality_flags(
        d, "gtext", "doc_id", min_words=25, min_stopwords=1
    )


def _moji_docs(spark, sf):
    from pgferry_spark.operators.encoding import MOJIBAKE_SYNTH_SQL

    return _t(spark, sf, "documents").withColumn(
        "mtext", F.expr(MOJIBAKE_SYNTH_SQL.format(id="doc_id", txt="text"))
    )


def _mojibake_stats(spark, sf):
    """Mojibake census (round 10, second wave — the ftfy-style
    encoding-repair stage CCNet/OSCAR pipelines run before quality
    scoring): per-document occurrence counts over a bounded literal
    table generated from the actual UTF-8→cp1252 round trip, gated on
    the three possible lead chars. Synthesis appends letter-mojibake /
    punctuation-mojibake / nothing per id%3. Map-only, no regex."""
    from pgferry_spark.operators.encoding import mojibake_stats

    return mojibake_stats(_moji_docs(spark, sf), "mtext", "doc_id")


def _mojibake_repair(spark, sf):
    """The repair itself: every table spelling decoded back to its
    intended character via sentinel-framed chained replaces (the
    charref double-decode lesson — several targets are themselves
    cp1252 pattern chars). Hash-green means byte-identical repaired
    text on both engines."""
    from pgferry_spark.operators.encoding import mojibake_repair

    return mojibake_repair(_moji_docs(spark, sf), "mtext", "doc_id")


def _html_title_meta(spark, sf):
    """Title + meta-description extraction (round 10, second wave —
    the two metadata fields every curation pipeline keeps and every
    WAT envelope carries), off the raw synthetic HTML decorated with
    uppercase/lowercase title spellings and both meta attribute
    orders (quoted name-first, unquoted-name content-first); the
    undecorated class falls back to the base template's constant
    title. Quote chars splice into the capture patterns via chr(34) —
    the one spelling both engines' literal rules share. Map-only."""
    from pgferry_spark.operators.html import (
        TITLE_META_SYNTH_SQL,
        attach_html,
        html_title_meta,
    )

    d = attach_html(_t(spark, sf, "documents")).withColumn(
        "html",
        F.expr(TITLE_META_SYNTH_SQL.format(id="doc_id", html="html")),
    )
    return html_title_meta(d)


def _extract_tables(spark, sf):
    """HTML table harvesting (round 10, second wave): every <table>
    cell with (table, row, col) ordinality — the structured-data
    stream curation routes separately from prose (exactly the content
    the C4 line rules would drop as short punctuation-less lines).
    Three narrow ordinality-preserving explodes; synthesis layers a
    two-column key/value table (header row, attributed tags), an
    uppercase single-cell table, and undecorated pages on top of the
    untouched base synth."""
    from pgferry_spark.operators.html import (
        TABLE_SYNTH_SQL,
        attach_html,
        extract_tables,
    )

    d = attach_html(_t(spark, sf, "documents")).withColumn(
        "html",
        F.expr(
            TABLE_SYNTH_SQL.format(id="doc_id", html="html", src="source")
        ),
    )
    return extract_tables(d)


def _utf8_sanity_flags(spark, sf):
    """UTF-8 sanity census (round 10, second wave — the OSCAR-style
    encoding-error gate, complementary to mojibake): U+FFFD replacement
    characters mean the decode already LOST bytes (no repair exists —
    drop candidates), raw C0 controls are the binary-junk fingerprint.
    Literal replace-diff scans only (regex character-class escape
    spellings diverge between engines); synthesis covers
    replacement-only / control-only / mixed / clean classes."""
    from pgferry_spark.operators.encoding import (
        UTF8_SYNTH_SQL,
        utf8_sanity_flags,
    )

    d = _t(spark, sf, "documents").withColumn(
        "utext", F.expr(UTF8_SYNTH_SQL.format(id="doc_id", txt="text"))
    )
    return utf8_sanity_flags(d, "utext", "doc_id")


def _fineweb_quality_flags(spark, sf):
    """FineWeb custom quality gates (round 10, second wave — Penedo et
    al. 2024 §3.6): terminal-punctuation line ratio, short-line ratio,
    and duplicated-line character fraction as ONE zero-shuffle map-only
    flag table (the dup fraction rides array_distinct inside the row —
    no per-line aggregate exchange). Decoration classes: passing
    (sentence-terminated), punct-fail (raw unterminated text),
    short-line fail (which also trips the dup gate — the conjunction
    class), dup-only fail (whole line repeated)."""
    from pgferry_spark.operators.filters import (
        FINEWEB_SYNTH_SQL,
        fineweb_quality_flags,
    )

    d = _t(spark, sf, "documents").withColumn(
        "ftext", F.expr(FINEWEB_SYNTH_SQL.format(id="doc_id", txt="text"))
    )
    return fineweb_quality_flags(d, "ftext", "doc_id")


def _robots_noindex_flags(spark, sf):
    """Per-document robots meta-noindex verdict over the raw synthetic
    HTML (round 9): the page-level opt-out a polite crawl honors before
    extraction — template 3 pages carry a real <meta name=robots> tag,
    noindex on half of them, index,follow on the rest, so both
    polarities and the no-meta case are exercised. Map-only codegen;
    the shared ROBOTS_NOINDEX_SQL template is evaluated verbatim by
    both engines."""
    from pgferry_spark.operators.html import attach_html, robots_noindex_flags

    d = _t(spark, sf, "documents")
    return robots_noindex_flags(attach_html(d))


def _warc_record_index(spark, sf):
    """WARC-style crawl-container record index (round 9): documents are
    packed 8-at-a-time into real ISO 28500-framed containers
    (version line + typed headers + Content-Length payload + trailing
    CRLFs), then REAL byte parsing inside Arrow batches emits one row
    per record with its exact record/payload byte ranges — the index
    that turns 100 TB re-extraction into bounded range reads (the
    video_frame_index geometry applied to text archives). The oracle
    replays every offset as closed-form header arithmetic + a
    cumulative window, so green means parser and arithmetic agree to
    the byte. Container bytes never shuffle; index rows do."""
    from pgferry_spark.sources.warc import attach_warc, warc_record_index

    return warc_record_index(attach_warc(_docs_with_urls(spark, sf)))


def _robots_domains(spark, sf):
    from pgferry_spark.operators.domains import (
        ROBOTS_TXT_SYNTH_SQL,
        with_host_domain,
    )

    d = with_host_domain(_docs_with_urls(spark, sf))
    return (
        d.select("domain")
        .dropDuplicates()
        .withColumn(
            "robots_txt",
            F.expr(ROBOTS_TXT_SYNTH_SQL.format(domain="domain")),
        )
    )


def _robots_txt_rules(spark, sf):
    """RFC 9309 robots.txt parsing (round 9): per-domain Disallow rules
    with User-agent group attribution — a running last-non-null window
    over each file's line list (partition = one tiny robots.txt). The
    synth exercises a googlebot group followed by a * group, an
    allow-all file (empty Disallow → no rule), and domains with no
    file."""
    from pgferry_spark.operators.domains import parse_robots_rules

    return parse_robots_rules(_robots_domains(spark, sf))


def _robots_disallow_filter(spark, sf):
    """The pre-fetch politeness gate: drop documents whose URL path
    starts with a Disallow prefix their domain's robots.txt declares
    for User-agent: * — left-anti join on (domain equi + prefix
    startswith), the rules side robots-file-sized so AQE broadcasts
    it. Oracle replays the gate as NOT EXISTS over the same shared
    templates."""
    from pgferry_spark.operators.domains import (
        parse_robots_rules,
        robots_disallow_filter,
    )

    rules = parse_robots_rules(_robots_domains(spark, sf))
    return robots_disallow_filter(_docs_with_urls(spark, sf), rules)


def _robots_sitemap_urls(spark, sf):
    """Sitemap DISCOVERY from robots.txt (round 10, second wave): the
    sitemaps.org 'Sitemap:' directive — the standard announcement edge
    between the robots stack and the sitemap parser.  The directive is
    group-independent and its URL is case-sensitive, so the parser
    rides a case-PRESERVING line pipeline (only the field name folds,
    via (?i) — the one spelling both regex engines read identically);
    synthesis layers LF + CRLF terminators and all three case spellings
    on TOP of the untouched base robots synth.  Map-only, no window."""
    from pgferry_spark.operators.domains import (
        ROBOTS_SITEMAP_SYNTH_SQL,
        ROBOTS_TXT_SYNTH_SQL,
        robots_sitemap_urls,
        with_host_domain,
    )

    base = ROBOTS_TXT_SYNTH_SQL.format(domain="domain")
    deco = ROBOTS_SITEMAP_SYNTH_SQL.format(domain="domain", txt=f"({base})")
    d = with_host_domain(_docs_with_urls(spark, sf))
    dm = (
        d.select("domain")
        .dropDuplicates()
        .withColumn("robots_txt", F.expr(deco))
    )
    return robots_sitemap_urls(dm)


def _robots_status_gate(spark, sf):
    """RFC 9309 §2.3.1 fetch-status policy (round 12): the robots.txt
    FETCH status decides before any rule is read — 5xx (unreachable)
    drops the whole domain, 4xx (unavailable) admits it, 2xx applies
    the full rule verdict.  Per-domain statuses synthesized by the
    shared template (503/404/200 classes cross-cutting the body
    shapes); the rule verdict is computed once over all documents and
    policy-filtered after.  Oracle: the policy CASE + the nested full
    rule-verdict replay."""
    from pgferry_spark.operators.domains import (
        ROBOTS_STATUS_SYNTH_SQL,
        parse_robots_rules,
        robots_status_gate,
        with_host_domain,
    )

    docs = with_host_domain(_docs_with_urls(spark, sf))
    rules = parse_robots_rules(_robots_domains(spark, sf))
    statuses = (
        docs.select("domain")
        .dropDuplicates()
        .withColumn(
            "rstatus",
            F.expr(
                ROBOTS_STATUS_SYNTH_SQL.format(domain="domain")
            ).cast("int"),
        )
    )
    return robots_status_gate(docs, rules, statuses)


def _robots_crawl_delays(spark, sf):
    """Per-(domain, agent) Crawl-delay seconds parsed from robots.txt —
    the politeness budget the frontier scheduler consumes (round 9).
    Same bounded per-file attribution window as the rules parser."""
    from pgferry_spark.operators.domains import robots_crawl_delays

    return robots_crawl_delays(_robots_domains(spark, sf))


def _crawl_frontier(spark, sf):
    """The crawl loop closed (round 9): outbound hrefs canonicalized,
    already-crawled URLs dropped by an anti join against the URL index
    (the bucketed nurl table crawl_snapshot_merge maintains — zero
    corpus-side exchange at scale), survivors scored by link authority
    and capped per domain by one pruning window. The list a
    politeness-aware scheduler fetches next."""
    from pgferry_spark.operators.domains import (
        attach_urls,
        crawl_frontier,
        normalize_urls,
    )
    from pgferry_spark.operators.html import attach_html, extract_links

    d = _t(spark, sf, "documents")
    links = extract_links(attach_html(fan_out(d, "doc_id")))
    crawled = (
        normalize_urls(attach_urls(d.filter("doc_id % 2 = 0")))
        .select("nurl")
        .dropDuplicates()
    )
    return crawl_frontier(links, crawled)


def _sitemap_locs(spark, sf):
    """Sitemap ingestion (round 9, third wave): per-domain sitemap.xml
    synthesis (even-length domains publish, odd-length don't) parsed to
    (domain, loc_no, loc_url) via the shared <loc> template —
    regexp_extract_all + one narrow posexplode_outer, map-only. The
    crawl's volunteered-URL frontier source."""
    from pgferry_spark.operators.domains import (
        SITEMAP_SYNTH_SQL,
        parse_sitemap_locs,
        with_host_domain,
    )

    d = with_host_domain(_docs_with_urls(spark, sf))
    dm = (
        d.select("domain")
        .dropDuplicates()
        .withColumn(
            "sitemap_xml",
            F.expr(SITEMAP_SYNTH_SQL.format(domain="domain")),
        )
    )
    return parse_sitemap_locs(dm)


def _frontier_schedule(spark, sf):
    """Politeness scheduling (round 9, third wave): the frontier wave
    joined against the robots Crawl-delay budgets — each domain's URLs
    fetch sequentially at its declared spacing (default 1 s), domains
    in parallel; fetch_at_s = (rank-1)*delay. One broadcast equi-join,
    no new window (the frontier's per-domain rank IS the schedule)."""
    from pgferry_spark.operators.domains import (
        frontier_schedule,
        robots_crawl_delays,
    )

    frontier = _crawl_frontier(spark, sf)
    delays = robots_crawl_delays(_robots_domains(spark, sf))
    return frontier_schedule(frontier, delays)


def _warc_payload_extract(spark, sf):
    """Index-driven payload recovery (round 9): parse + slice fused in
    ONE Arrow pass per container — the proof that the record index's
    (offset, length) ranges recover every document byte-exactly. The
    oracle compares against the ORIGINAL documents text; container
    bytes are read once and never shuffle."""
    from pgferry_spark.sources.warc import attach_warc, warc_payload_extract

    return warc_payload_extract(attach_warc(_docs_with_urls(spark, sf)))


def _warc_gzip_index(spark, sf):
    """Gzip-member WARC indexing (round 10 — the CommonCrawl transport
    reality: one deflate member per record, members concatenated).
    Documents pack into REAL per-record-gzipped containers; the index
    operator detects the member magic and walks member boundaries with
    capped inflation, emitting the member byte ranges a ranged GET
    fetches.  Compressed offsets are deflate-dependent (pinned by the
    pytest round-trip, not SQL-expressible), so the oracle checks the
    closed-form fields: record identity, UNCOMPRESSED payload length,
    payload md5 (byte-exact recovery through gzip), type, URI.
    Container bytes never shuffle."""
    from pgferry_spark.sources.warc import attach_warc, warc_record_index

    idx = warc_record_index(
        attach_warc(_docs_with_urls(spark, sf), gzip_members=True)
    )
    return idx.select(
        "container_id", "record_no", "payload_len", "payload_md5",
        "warc_type", "target_uri",
    )


def _warc_gzip_extract(spark, sf):
    """Index-driven payload recovery THROUGH gzip members (round 10):
    member walk + capped inflate + slice fused in one Arrow pass. The
    oracle compares against the ORIGINAL documents text, so green means
    byte-exact recovery through the deflate round-trip."""
    from pgferry_spark.sources.warc import attach_warc, warc_payload_extract

    return warc_payload_extract(
        attach_warc(_docs_with_urls(spark, sf), gzip_members=True)
    )


def _cdx_index(spark, sf):
    """CDX-style capture index (round 10 — the OTHER half of the
    CommonCrawl access pattern): the WARC record index keyed by SURT
    (host labels reversed + ')' + path), so sorting by the key clusters
    every capture under a domain — and all its subdomains — into one
    contiguous range, turning 'all captures of example.org' into a
    range scan over the index instead of a filter over 100 TB of
    containers.  Composition: warc_record_index ∘ surt_keys; map-only
    on top of the index rows.  The oracle replays the closed-form WARC
    arithmetic + the shared SURT template."""
    from pgferry_spark.operators.domains import surt_keys
    from pgferry_spark.sources.warc import attach_warc, warc_record_index

    idx = warc_record_index(attach_warc(_docs_with_urls(spark, sf)))
    return surt_keys(idx, url_col="target_uri").select(
        "surt", "container_id", "record_no", "rec_offset", "rec_len",
        "payload_md5",
    )


def _cdx_zipnum_index(spark, sf):
    """Zipnum SECONDARY index content (round 11 — the cluster.idx
    pattern, the public CommonCrawl access path's second level): the
    SURT-sorted CDX lines grouped every-N into gzip-member blocks, per
    block its first/last key, line count, and an order-sensitive
    digest of every line byte that lands in it (block = global rank
    div N — closed-form, so the oracle replays the blocking exactly).
    The physical (offset, length) pointers come from
    ``publish_zipnum_sharded`` (official format), and the bounded
    lookup cost is pinned in pytest
    (tests/test_warc.py::TestCdxjOfficialFormat) — a URL lookup over a
    300 GB index inflates only the blocks holding the key, plus at most
    one leading probe."""
    from pgferry_spark.operators.domains import surt_keys
    from pgferry_spark.sources.warc import attach_warc, warc_record_index
    from pgferry_spark.sources.zipnum import cdx_zipnum_cluster

    idx = warc_record_index(attach_warc(_docs_with_urls(spark, sf)))
    cdx = surt_keys(idx, url_col="target_uri").select(
        "surt", "container_id", "record_no", "rec_offset", "rec_len",
        "payload_md5",
    )
    return cdx_zipnum_cluster(cdx)


def _cdxj_facts(spark, sf):
    """Shared CDXJ fact table: the real-parse CDX composition
    (warc_record_index ∘ surt_keys over real container bytes) enriched
    with the closed-form capture metadata the official line carries —
    fetch timestamp, media type, status (the shared synthesis
    templates over the record's document id), and the official
    crawl-data shard filename."""
    from pgferry_spark.operators.domains import surt_keys
    from pgferry_spark.sources.httpmsg import (
        HTTP_MEDIA_SQL,
        HTTP_STATUS_SQL,
    )
    from pgferry_spark.sources.warc import attach_warc, warc_record_index
    from pgferry_spark.sources.zipnum import (
        FETCH_TS_SQL,
        WARC_FILENAME_SQL,
    )

    idx = warc_record_index(attach_warc(_docs_with_urls(spark, sf)))
    cdx = surt_keys(idx, url_col="target_uri")
    i = "(container_id * 8 + record_no)"
    return (
        cdx.withColumn("fetch_ts", F.expr(FETCH_TS_SQL.format(id=i)))
        .withColumn("mime", F.expr(HTTP_MEDIA_SQL.format(id=i)))
        .withColumn(
            "status", F.expr(HTTP_STATUS_SQL.format(id=i)).cast("int")
        )
        .withColumn(
            "filename",
            F.expr(WARC_FILENAME_SQL.format(cid="container_id")),
        )
    )


def _cdxj_index(spark, sf):
    """Official CDXJ index lines (round 12 — VERDICT r11 missing #1):
    ``urlkey<SP>timestamp<SP>{json}`` with the public key order (url,
    mime, status, digest, length, offset, filename) over the
    real-parse CDX facts.  Hash-green = every byte of the public wire
    format, including the json escaping, matches the closed-form
    replay.  Digest deviation (md5 hex, not base32-sha1) pinned in
    sources/zipnum.py."""
    from pgferry_spark.sources.zipnum import cdxj_lines

    return cdxj_lines(_cdxj_facts(spark, sf)).select(
        "surt", "fetch_ts", "cdxj_line"
    )


def _cdxj_field_extract(spark, sf):
    """The READ side of the official wire format: emit the CDXJ lines,
    parse them back with the real parser (split + from_json + typed
    casts), return the typed fields.  Green = emit ∘ parse recovers
    every field exactly against the closed-form oracle."""
    from pgferry_spark.sources.zipnum import cdxj_lines, cdxj_parse

    return cdxj_parse(
        cdxj_lines(_cdxj_facts(spark, sf)).select("cdxj_line")
    )


def _cdxj_zipnum_cluster(spark, sf):
    """Official-format zipnum blocking CONTENT (round 12): the CDXJ
    lines in total key order grouped every-N, per block its first/last
    ``urlkey<SP>timestamp`` key, line count, and the ordered digest of
    every line byte that lands in it — the cdx_zipnum_index discipline
    over the PUBLIC line format.  The physical artifacts
    (gzip members, the 5-column cluster.idx TSV, the firsts-only
    lookup) are pinned in tests/test_warc.py::TestCdxjOfficialFormat."""
    from pgferry_spark.sources.zipnum import (
        cdxj_lines,
        cdxj_zipnum_cluster,
    )

    lines = cdxj_lines(_cdxj_facts(spark, sf)).select(
        "surt", "fetch_ts", "container_id", "record_no", "cdxj_line"
    )
    return cdxj_zipnum_cluster(lines)


def _cdxj_http_index(spark, sf):
    """CDXJ over REAL HTTP captures (round 12, closing wave) — the
    full-fidelity public-index build: one fused walk
    (http_capture_index) parses WARC framing AND the HTTP envelope
    from real bytes, so the line's status/mime are the server's, the
    digest is the §5.9 BODY digest, and (offset, length) address the
    real record span.  Restricted to the utf-8/undeclared charset
    classes — the md5-replayable ones (the http_body_extract oracle
    precedent; single-byte-charset body bytes have no VARCHAR spelling
    in DuckDB) — via the PARSED charset column, not synth knowledge.
    Oracle: the envelope head-length arithmetic + the 241-byte WARC
    header constant (empirically pinned) + the shared line template."""
    from pgferry_spark.operators.domains import surt_keys
    from pgferry_spark.sources.httpmsg import (
        attach_warc_http,
        http_capture_index,
    )
    from pgferry_spark.sources.zipnum import (
        FETCH_TS_SQL,
        WARC_FILENAME_SQL,
        cdxj_lines,
    )

    idx = http_capture_index(
        attach_warc_http(_docs_with_urls(spark, sf))
    )
    cdx = surt_keys(idx, url_col="target_uri")
    i = "(container_id * 8 + record_no)"
    cdx = (
        cdx.withColumn("fetch_ts", F.expr(FETCH_TS_SQL.format(id=i)))
        .withColumn(
            "filename",
            F.expr(WARC_FILENAME_SQL.format(cid="container_id")),
        )
        .filter(F.col("charset").isin("", "utf-8"))
    )
    return cdxj_lines(cdx).select("surt", "fetch_ts", "cdxj_line")


def _index_routed_retrieval(spark, sf):
    """The 100 TB retrieval story END-TO-END (round 13, VERDICT r12
    Next #3): real WARC shard files published under the official
    crawl-data basenames, the real zipnum layout (range-partitioned
    shards + merged cluster.idx) published over the CDXJ lines, then
    the production access path — every distinct urlkey routed through
    zipnum_bulk_lookup (cluster bisect → ONE inflated block per task
    per block) → cdxj_parse → index_routed_rehydrate (open the named
    shard, seek offset, read exactly length bytes, parse the single
    record + HTTP envelope from the slice alone, md5 the §5.9 body
    span).  ``ok`` certifies the published index routes to byte-exact
    payloads: rehydrated digest == the digest the full-scan walk wrote
    into the line.  Oracle replays (urlkey, fetch_ts, digest) in
    closed form with rehydrated = digest and ok = true — one
    hash-green gate over the whole publish→lookup→ranged-read seam.
    Artifacts live in a per-invocation temp dir (the local stand-in
    for the object store); the index/capture walk is persisted until
    the lookup side is built, and only slim audit rows return."""
    import os
    import tempfile

    from pgferry_spark.operators.domains import surt_keys
    from pgferry_spark.sources.httpmsg import (
        attach_warc_http,
        http_capture_index,
    )
    from pgferry_spark.sources.warc import write_warc_files
    from pgferry_spark.sources.zipnum import (
        FETCH_TS_SQL,
        WARC_FILENAME_SQL,
        cdxj_lines,
        cdxj_parse,
        index_routed_rehydrate,
        publish_zipnum_sharded,
        read_zipnum_lines,
        zipnum_bulk_lookup,
    )

    from pgferry_spark.utils import persisted

    root = tempfile.mkdtemp(prefix="pgferry_retrieval_")
    warc_dir = os.path.join(root, "warc")
    idx_dir = os.path.join(root, "zipnum")
    containers = attach_warc_http(_docs_with_urls(spark, sf))
    with persisted(containers):
        # both publish actions run inside the scope: the container
        # build happens once, no cache residue survives the entry
        write_warc_files(
            containers,
            warc_dir,
            prefix="CC-MAIN-20240815000000-20240815235959-",
            id_width=5,
        )
        idx = http_capture_index(containers)
        cdx = surt_keys(idx, url_col="target_uri")
        i = "(container_id * 8 + record_no)"
        cdx = (
            cdx.withColumn("fetch_ts", F.expr(FETCH_TS_SQL.format(id=i)))
            .withColumn(
                "filename",
                F.expr(WARC_FILENAME_SQL.format(cid="container_id")),
            )
            .filter(F.col("charset").isin("", "utf-8"))
        )
        lines = cdxj_lines(cdx).select(
            "surt", "fetch_ts", "container_id", "record_no", "cdxj_line"
        )
        cluster = publish_zipnum_sharded(lines, idx_dir, n_shards=2)
    # the lookup side reads only the published artifacts: the key
    # census comes from the DISTRIBUTED read-back of the index itself
    # (read_zipnum_lines — bounded ranged block reads, nothing
    # recomputed from the corpus), then every distinct urlkey routes
    # through the production lookup
    keys = (
        read_zipnum_lines(spark, cluster, idx_dir)
        .select(
            F.expr("split_part(cdxj_line, ' ', 1)").alias("urlkey")
        )
        .distinct()
    )
    hits = zipnum_bulk_lookup(keys, cluster, idx_dir)
    return index_routed_rehydrate(cdxj_parse(hits), warc_dir)


def _cdx_closest_capture(spark, sf):
    """The wayback CDX API ``closest=<ts>`` query (round 13): per
    urlkey elect the capture nearest the probe timestamp
    20240815120000 — the replay UI's core lookup.  One window
    partitioned by urlkey over the slim CDX facts (per-key capture
    counts are revisit-bounded, never corpus-sized); deterministic
    tiebreak (earlier ts, then container/record address) so the
    election is oracle-replayable.  Multi-capture keys exist by
    synthesis (URL class 2 collapses many docs onto one urlkey), so
    the election is substantive, not an identity."""
    from pgferry_spark.sources.zipnum import cdx_closest_capture

    facts = _cdxj_facts(spark, sf).select(
        "surt", "fetch_ts", "container_id", "record_no",
        "rec_offset", "rec_len", "status", "mime",
    )
    return cdx_closest_capture(facts, "20240815120000")


def _capture_history(spark, sf):
    """Deterministic per-URL capture history: 1 + doc_id % 4 captures
    at 2-hour strides from 2024-08-15T12:00:00Z, digest stepping
    whenever (doc_id + i) div 3 increments — the shared input of the
    recrawl_change_rate and crawl_budget_allocate entries."""
    from pgferry_spark.operators.domains import normalize_urls

    base = 1723723200
    u = normalize_urls(_docs_with_urls(spark, sf))
    return (
        u.select("nurl", "doc_id", "text")
        .withColumn(
            "i", F.explode(F.sequence(F.lit(0), F.col("doc_id") % 4))
        )
        .withColumn("ts_s", F.lit(base) + F.col("i") * 7200)
        .withColumn(
            "digest",
            F.md5(
                F.concat(
                    F.col("text"),
                    F.expr("CAST((doc_id + i) div 3 AS STRING)"),
                )
            ),
        )
        .select("nurl", "ts_s", "digest")
    )


def _recrawl_change_rate(spark, sf):
    """Change-frequency estimation for recrawl scheduling (round 13)
    — the Cho & Garcia-Molina bias-corrected estimator (ACM TOIT 3(3)
    2003) over a deterministic capture history: each document yields
    1 + doc_id % 4 captures at 2-hour strides, and the payload digest
    steps whenever (doc_id + i) div 3 increments — so histories mix
    never-changed, sometimes-changed and always-changing pages, and
    URL class 2 merges several documents onto one nurl (multi-writer
    history with the (ts, digest) tiebreak exercised).  One lag window
    + one map-side-combinable aggregate per URL; oracle replays the
    synthesis, the adjacency, and the estimator arithmetic in closed
    form (round-6 both sides)."""
    from pgferry_spark.operators.domains import recrawl_change_rate

    return recrawl_change_rate(_capture_history(spark, sf))


def _sitemap_lastmod_entries(spark, sf):
    """Full-entry sitemap parse (round 13): every <url> block yields
    (domain, loc_no, loc_url, lastmod) with the lastmod paired
    BLOCK-SCOPED (a flat regex would cross-pair fields between
    entries); the synthesis exercises both documented lastmod shapes
    (W3C date, full datetime) and its absence.  The protocol field a
    changed-since recrawl keys off.  Map-only; oracle replays blocks
    and per-block extracts in closed form."""
    from pgferry_spark.operators.domains import (
        SITEMAP_FULL_SYNTH_SQL,
        parse_sitemap_entries,
        with_host_domain,
    )

    d = with_host_domain(_docs_with_urls(spark, sf))
    dm = (
        d.select("domain")
        .dropDuplicates()
        .withColumn(
            "sitemap_xml",
            F.expr(SITEMAP_FULL_SYNTH_SQL.format(domain="domain")),
        )
    )
    return parse_sitemap_entries(dm)


def _sitemap_changed_since(spark, sf):
    """The sitemaps.org changed-since decision (round 13): announced
    URLs split into fetch/skip against per-URL capture watermarks —
    fetch when new, lastmod-less, or lastmod postdates the capture;
    skip only when the site's own declaration proves freshness.
    Captures synthesize for /guide and /news (watermark = 2024-08-15
    noon minus (domain length % 5) days; /faq stays uncaptured = the
    new-URL branch), so every decision arm occurs and both lastmod
    shapes parse to epoch.  One left equi-join; oracle replays the
    parse (try_strptime twin) and the verdict in closed form."""
    from pgferry_spark.operators.domains import (
        SITEMAP_FULL_SYNTH_SQL,
        parse_sitemap_entries,
        sitemap_changed_since,
        with_host_domain,
    )

    d = with_host_domain(_docs_with_urls(spark, sf))
    dm = (
        d.select("domain")
        .dropDuplicates()
        .withColumn(
            "sitemap_xml",
            F.expr(SITEMAP_FULL_SYNTH_SQL.format(domain="domain")),
        )
    )
    entries = parse_sitemap_entries(dm)
    base = 1723723200  # 2024-08-15T12:00:00Z
    caps = (
        dm.select("domain")
        .withColumn(
            "__p", F.explode(F.array(F.lit("/guide"), F.lit("/news")))
        )
        .select(
            F.concat(
                F.lit("https://"), F.col("domain"), F.col("__p")
            ).alias("loc_url"),
            (
                F.lit(base)
                - (F.length("domain") % 5) * 86400
            ).alias("last_capture_s"),
        )
    )
    return sitemap_changed_since(entries, caps)


def _crawl_budget_allocate(spark, sf):
    """Fetch-budget allocation (round 13): 10^6 fetches apportioned
    across sites by largest remainder over integer micro-unit change
    demand — allocations sum to the budget EXACTLY (the invariant the
    integer arithmetic exists for; float summation order would make
    near-tie remainder seats engine-dependent).  Composes the CGM
    change-rate estimates; unobservable URLs demand the default
    weekly cadence.  One aggregate + two broadcast scalar joins + one
    window over the bounded site table."""
    from pgferry_spark.operators.domains import (
        crawl_budget_allocate,
        recrawl_change_rate,
    )

    rates = recrawl_change_rate(_capture_history(spark, sf))
    rates = rates.withColumn(
        "site", F.expr("split_part(nurl, '/', 1)")
    )
    return crawl_budget_allocate(rates, 1_000_000)


def _cc_index_host_stats(spark, sf):
    """The consumer story for the official schema (round 12): the
    first query every cc-index-table user runs — per-host capture
    census over the OFFICIAL column names (captures, ok_rate, distinct
    media types, total stored bytes, earliest/latest fetch).  One
    aggregation shuffle on url_host_name; at 100 TB this is the
    athena-style rollup the public table exists to serve."""
    t = _cc_index_table(spark, sf)
    return t.groupBy("url_host_name").agg(
        F.count(F.lit(1)).alias("n_captures"),
        F.sum((F.col("fetch_status") == 200).cast("int")).alias("n_ok"),
        F.count_distinct("content_mime_type").alias("n_mimes"),
        F.sum("warc_record_length").alias("stored_bytes"),
        F.min("fetch_time").alias("first_fetch"),
        F.max("fetch_time").alias("last_fetch"),
    )


def _cdx11_index(spark, sf):
    """Classic 11-field CDX lines (round 12): the ' CDX N b a m s k r
    M S V g' format the wayback CDX server speaks — urlkey, timestamp,
    original url, mime, status, digest, '-' redirect, '-' meta tags,
    record length, record offset, filename, space-separated, over the
    same real-parse CDX facts as cdxj_index.  The parse round-trip
    (cdx11_parse) is pytest-pinned."""
    from pgferry_spark.sources.zipnum import cdx11_lines

    return cdx11_lines(_cdxj_facts(spark, sf)).select(
        "surt", "fetch_ts", "cdx11_line"
    )


def _cc_index_table(spark, sf):
    """cc-index-table columnar projection (round 12 — VERDICT r11
    missing #2): the same capture facts under the OFFICIAL parquet
    column names CommonCrawl publishes (url_surtkey, url,
    url_host_name, fetch_time, fetch_status, content_digest,
    content_mime_type, content_charset, warc_filename,
    warc_record_offset, warc_record_length, warc_segment, crawl) — the
    join target a consumer of the public table points at.  Map-only
    rename/cast over the CDX facts; fetch_time is a real timestamp."""
    from pgferry_spark.sources.httpmsg import HTTP_CHARSET_SQL

    i = "(container_id * 8 + record_no)"
    f = _cdxj_facts(spark, sf)
    return f.select(
        F.col("surt").alias("url_surtkey"),
        F.col("target_uri").alias("url"),
        F.col("host").alias("url_host_name"),
        F.to_timestamp("fetch_ts", "yyyyMMddHHmmss").alias("fetch_time"),
        F.col("status").alias("fetch_status"),
        F.col("payload_md5").alias("content_digest"),
        F.col("mime").alias("content_mime_type"),
        F.expr(HTTP_CHARSET_SQL.format(id=i)).alias("content_charset"),
        F.col("filename").alias("warc_filename"),
        F.col("rec_offset").alias("warc_record_offset"),
        F.col("rec_len").alias("warc_record_length"),
        F.lit("1723000000000.0").alias("warc_segment"),
        F.lit("CC-MAIN-2024-33").alias("crawl"),
    )


def _warc_dedup_manifest(spark, sf):
    """Index-level exact dedup BEFORE any extraction (round 10, second
    wave): warc_record_index carries payload_md5 computed in the same
    parse pass, so electing one keeper per digest and emitting the
    skip-list manifest (every capture → its keeper's (container,
    record) address) costs one 16-byte-keyed aggregate + a slim join —
    no second container read, no payload bytes shuffled.  At 100 TB
    this manifest IS the dedup: extraction jobs range-read keepers
    only.  Keeper = lexicographic min (container_id, record_no), an
    AGGREGATE election (the hot-line-safe line_dedup pattern — no
    window over a possibly-hot digest).  The capture stream carries
    deterministic re-captures (doc_id % 4 == 1 fetched twice), so both
    polarities exist; the oracle replays the closed-form container
    arithmetic + a window-min over md5(text)."""
    from pgferry_spark.sources.warc import attach_warc, warc_record_index

    idx = warc_record_index(
        attach_warc(_warc_captures(spark, sf), id_col="capture_id")
    )
    keepers = idx.groupBy("payload_md5").agg(
        F.min(F.struct("container_id", "record_no")).alias("__k")
    )
    m = idx.join(keepers, "payload_md5")
    return m.select(
        "container_id",
        "record_no",
        "target_uri",
        "payload_md5",
        (
            (F.col("container_id") == F.col("__k.container_id"))
            & (F.col("record_no") == F.col("__k.record_no"))
        ).alias("is_keeper"),
        F.col("__k.container_id").alias("keeper_container"),
        F.col("__k.record_no").alias("keeper_record"),
    )


def _frontier_bloom_gate(spark, sf):
    """Two-tier frontier seen-set (round 10, second wave): at 100 TB
    the frontier's anti-join against the crawled URL index is the
    scale bottleneck Bloom pre-filtering exists for — ship a bounded
    bit table (8192 bits here; GBs at web scale, still broadcastable),
    drop the definite-unseens map-side, and reserve the exact
    (bucketed, zero-corpus-exchange) anti-join for the maybe-seen
    survivors.  No false negatives by construction, so the gate never
    re-crawls a crawled URL's worth of work downstream.  The entry
    probes every candidate nurl against bits built from the crawled
    half (doc_id % 2 == 0) and carries the exact truth column so the
    false-positive rate is measurable; the oracle replays the salted
    md5 hash bit-for-bit."""
    from pgferry_spark.operators.domains import attach_urls, normalize_urls
    from pgferry_spark.operators.sketches import bloom_bits, bloom_probe

    d = _t(spark, sf, "documents")
    crawled = (
        normalize_urls(attach_urls(d.filter("doc_id % 2 = 0")))
        .select("nurl")
        .dropDuplicates()
    )
    cand = (
        normalize_urls(attach_urls(d)).select("nurl").dropDuplicates()
    )
    bits = bloom_bits(crawled, "nurl", num_bits=8192, num_hashes=5)
    probed = bloom_probe(bits, cand, "nurl", num_bits=8192, num_hashes=5)
    truth = crawled.select(F.col("nurl").alias("key")).withColumn(
        "seen", F.lit(True)
    )
    return probed.join(truth, "key", "left").select(
        "key",
        "maybe_present",
        F.coalesce("seen", F.lit(False)).alias("seen"),
    )


def _wet_conversion_index(spark, sf):
    """WET export + index (round 10, second wave — the CommonCrawl
    EXTRACTED-TEXT companion format): documents are re-published as WET
    containers (a warcinfo leader record + one ``conversion`` record
    per page carrying WARC-Refers-To back at the original capture),
    then the UNCHANGED warc_record_index parses the emitted bytes —
    WET is ISO 28500 framing, so the ingest stack serves it for free.
    The oracle replays every offset as closed-form header arithmetic
    (the warcinfo leader is a per-container constant shift; each
    conversion header adds the Refers-To line), so hash-green means
    the EXPORTER's bytes and the arithmetic agree to the byte — the
    publication-side twin of the warc_record_index ingest proof."""
    from pgferry_spark.sources.warc import warc_record_index, wet_export

    idx = warc_record_index(wet_export(_docs_with_urls(spark, sf)))
    return idx.filter(F.col("warc_type") == "conversion")


def _wet_gzip_extract(spark, sf):
    """The actual CommonCrawl WET transport (.warc.wet.gz — one deflate
    member per record, warcinfo leader included): export with
    gzip_members=True, then recover every conversion payload through
    the SAME member walk the gzip WARC path uses (capped inflate,
    bounds-checked). Oracle = the ORIGINAL documents text — green means
    byte-exact recovery through gzip + WET framing combined."""
    from pgferry_spark.sources.warc import warc_payload_extract, wet_export

    return warc_payload_extract(
        wet_export(_docs_with_urls(spark, sf), gzip_members=True)
    ).filter(F.col("record_no") >= 1)


def _wat_docs(spark, sf):
    from pgferry_spark.sources.warc import WAT_JSON_SQL

    return _docs_with_urls(spark, sf).withColumn(
        "wat_json",
        F.expr(
            WAT_JSON_SQL.format(url="url", text="text", blen="octet_length")
        ),
    )


def _wat_export_index(spark, sf):
    """WAT export + index (round 10, second wave — the METADATA third
    of the CommonCrawl WARC/WET/WAT triad): per-capture JSON envelopes
    (target URI, payload digest, payload length — built by the shared
    WAT_JSON_SQL template both engines evaluate byte-identically) are
    packed into metadata-record containers the unchanged
    warc_record_index then parses.  Oracle = the WET closed-form
    arithmetic with the metadata header width and the envelope's
    template length; green means the exporter's bytes and the
    arithmetic agree to the byte."""
    from pgferry_spark.sources.warc import warc_record_index, wat_export

    idx = warc_record_index(wat_export(_wat_docs(spark, sf)))
    return idx.filter(F.col("warc_type") == "metadata")


def _wat_metadata_extract(spark, sf):
    """The WAT consumption proof: parse the exported containers, then
    parse the JSON envelopes BACK OUT of the payload bytes
    (get_json_object over the extracted text).  The oracle replays the
    fields straight from the source corpus — green means a consumer
    reading the sidecar recovers exactly the describing fields (URI,
    digest, length) without touching payload bytes."""
    from pgferry_spark.sources.warc import warc_payload_extract, wat_export

    ext = warc_payload_extract(wat_export(_wat_docs(spark, sf))).filter(
        F.col("record_no") >= 1
    )
    return ext.select(
        "container_id",
        "record_no",
        "target_uri",
        F.get_json_object("text", "$.u").alias("meta_url"),
        F.get_json_object("text", "$.d").alias("meta_md5"),
        F.get_json_object("text", "$.l").cast("bigint").alias("meta_len"),
    )


def _wet_text_extract(spark, sf):
    """The WET consumption proof: extract payloads back OUT of the
    exported WET containers (one Arrow parse+slice pass; record_no >= 1
    skips each container's warcinfo leader). The oracle is the ORIGINAL
    documents text — green means a consumer reading our WET shards
    recovers every training byte without ever touching the HTML."""
    from pgferry_spark.sources.warc import warc_payload_extract, wet_export

    return warc_payload_extract(
        wet_export(_docs_with_urls(spark, sf))
    ).filter(F.col("record_no") >= 1)


def _warc_captures(spark, sf):
    """Capture stream with deterministic RE-CAPTURES for the revisit
    entries: every doc_id % 4 == 1 document is fetched a second time
    (capture_id = doc_id + 10^7, same URL, same bytes) — the unchanged
    re-crawl a revisit record exists for."""
    d = _docs_with_urls(spark, sf).select(
        F.col("doc_id").alias("capture_id"), "url", "text"
    )
    re_caps = (
        _docs_with_urls(spark, sf)
        .filter(F.col("doc_id") % 4 == 1)
        .select(
            (F.col("doc_id") + F.lit(10_000_000)).alias("capture_id"),
            "url", "text",
        )
    )
    return d.unionAll(re_caps)


def _warc_revisit_resolve(spark, sf):
    """ISO 28500 revisit records (round 10) — crawl-time storage dedup:
    per payload digest the first capture stores a response record,
    every later identical capture a small revisit record
    (WARC-Refers-To + WARC-Payload-Digest, no payload); the resolver
    rehydrates every capture from the single stored copy via a slim
    digest equi-join.  The oracle replays the keeper election as a
    window-min over md5(text) and hands back the ORIGINAL text for all
    captures, so green certifies the whole loop — digest keep-first,
    revisit framing, cross-container resolution — byte-exactly."""
    from pgferry_spark.sources.warc import (
        attach_warc_revisits,
        warc_revisit_resolve,
    )

    return warc_revisit_resolve(
        attach_warc_revisits(_warc_captures(spark, sf))
    )


def _warc_revisit_stats(spark, sf):
    """The storage-savings rollup a crawl operator reads: captures,
    revisits, and the payload bytes the revisit records did NOT store
    (octet length of the deduplicated payloads)."""
    from pgferry_spark.sources.warc import (
        attach_warc_revisits,
        warc_revisit_resolve,
    )

    r = warc_revisit_resolve(attach_warc_revisits(_warc_captures(spark, sf)))
    return r.agg(
        F.count(F.lit(1)).alias("n_captures"),
        F.sum(F.col("is_revisit").cast("bigint")).alias("n_revisits"),
        F.sum(
            F.when(F.col("is_revisit"), F.octet_length("text")).otherwise(
                F.lit(0)
            )
        ).alias("bytes_saved"),
    )


# ---------------------------------------------------------------------------
# HTTP message envelopes in WARC response records (round 11) — the last
# gap between the WARC stack and a drop-in CommonCrawl reader: real
# response records carry application/http payloads (status line + HTTP
# headers + body), the WARC-Payload-Digest covers the HTTP BODY per
# ISO 28500 §5.9, and every downstream stage (status gate, charset
# transcode, quality, dedup) keys off what the envelope parse surfaces.
# ---------------------------------------------------------------------------


def _http_containers(spark, sf, gz: bool = False):
    from pgferry_spark.sources.httpmsg import attach_warc_http

    return attach_warc_http(_docs_with_urls(spark, sf), gzip_members=gz)


def _http_response_index(spark, sf):
    """HTTP envelope index (round 11): documents become real HTTP
    response messages (status/Content-Type/charset classes keyed on
    doc_id via the shared HTTP_*_SQL templates) inside WARC response
    records marked ``application/http; msgtype=response``; one fused
    Arrow walk parses WARC framing AND the HTTP envelope, emitting per
    record the status, reason, media type, normalized charset, body
    (offset, len) within the payload, a truncation flag, and
    digest_ok — md5 over the PARSED body span vs the record's
    WARC-Payload-Digest (the ISO 28500 body-digest subtlety).  The
    oracle replays every field and the head-length byte arithmetic in
    closed form; hash-green means the real parser and the arithmetic
    agree to the byte.  Container bytes never shuffle."""
    from pgferry_spark.sources.httpmsg import http_response_index

    return http_response_index(_http_containers(spark, sf))


def _http_status_filter(spark, sf):
    """The keep-200s gate every crawl curation runs first: the
    envelope index filtered to successful captures — 404s and
    redirects never reach extraction.  Pure filter over the index
    rows; container bytes untouched."""
    idx = _http_response_index(spark, sf)
    return idx.filter(F.col("status") == 200).select(
        "container_id", "record_no", "target_uri", "status"
    )


def _http_body_extract(spark, sf):
    """Document text recovered through HTTP + gzip + WARC framing
    COMBINED (the full CommonCrawl transport stack): gzip-member
    containers, response records, HTTP envelopes — one fused walk
    inflates each member, parses both framings, slices the body and
    decodes the utf-8 fast path (declared utf-8 or no charset; other
    charsets belong to the transcode entry).  Oracle = the ORIGINAL
    document text, so green certifies byte-exact recovery through all
    three layers."""
    from pgferry_spark.sources.httpmsg import http_body_extract

    return http_body_extract(_http_containers(spark, sf, gz=True))


def _http_charset_transcode(spark, sf):
    """The declared-charset front door (VERDICT r10 Next #4, the
    CCNet/OSCAR posture): honor the Content-Type charset parameter —
    latin-1 and cp1252 bodies (carrying real non-ASCII bytes: é © ñ €
    ™) transcode to proper UTF-8 text via stdlib codecs BEFORE any
    quality scoring.  Oracle = the decorated text in closed form, so
    green certifies the decode recovers exactly what the server
    meant.  Zero shuffle beyond container fan-out."""
    from pgferry_spark.sources.httpmsg import http_charset_transcode

    return http_charset_transcode(_http_containers(spark, sf))


def _http_charset_sniff(spark, sf):
    """WHATWG-lite charset sniffing (round 13, VERDICT r12 Next #1):
    resolve each response's effective charset in HTML Standard
    §13.2.3.2 precedence order — BOM beats the Content-Type header,
    the header beats an in-document ``<meta>`` declaration, and a
    bounded prescan of the first 1024 body bytes catches the
    header-silent pages that previously never transcoded.  The six
    synthesis classes exercise every precedence arm including both
    documented DISAGREEMENTS (BOM-vs-header: BOM wins; header-vs-meta:
    header wins).  Oracle = the closed-form decoded text (markup
    included — the meta tag is document content), the resolved label,
    and WHICH arm decided it.  Zero shuffle beyond container fan-out;
    the prescan rides the same fused walk as the envelope parse."""
    from pgferry_spark.sources.httpmsg import (
        attach_warc_http_sniff,
        http_charset_sniff,
    )

    return http_charset_sniff(
        attach_warc_http_sniff(_docs_with_urls(spark, sf))
    )


def _charset_sniff_disagreements(spark, sf):
    """The mojibake-prevented audit (round 13): the rows where WHATWG
    sniffing resolved a DIFFERENT codec than the header-only front
    door would have used — header-silent pages declaring cp1252 /
    latin-1 in-document (previously decoded as utf-8 mojibake) and the
    BOM'd page whose header mis-states latin-1.  Codec-level
    comparison via a JVM literal-map lookup over CHARSET_CODECS (label
    aliases reaching the same codec are NOT disagreements), no UDF.
    Oracle replays the three disagreement classes in closed form."""
    from pgferry_spark.sources.httpmsg import (
        attach_warc_http_sniff,
        charset_sniff_disagreements,
    )

    return charset_sniff_disagreements(
        attach_warc_http_sniff(_docs_with_urls(spark, sf))
    )


def _http_redirect_edges(spark, sf):
    """3xx responses as (uri, Location) edges — the redirect graph a
    frontier follows; only redirect rows leave the executor."""
    from pgferry_spark.sources.httpmsg import http_redirect_edges

    return http_redirect_edges(_http_containers(spark, sf))


def _http_request_pairs(spark, sf):
    """WARC request records + Concurrent-To pairing (round 11, second
    wave — the last ISO 28500 record type): the crawler's stored GET
    (absolute-form target, bodiless) sits adjacent to its response and
    links via WARC-Concurrent-To (§5.7); the pairing is a
    per-container dict lookup inside the SAME fused walk, so nothing
    shuffles but the paired audit rows (what was asked for vs the
    response verdict).  Oracle: method/target/status in closed form
    from the shared templates; a split pair is dropped, never
    mispaired."""
    from pgferry_spark.sources.httpmsg import (
        attach_warc_http,
        http_request_pairs,
    )

    return http_request_pairs(
        attach_warc_http(_docs_with_urls(spark, sf), with_requests=True)
    )


def _recrawl_plan(spark, sf):
    """Conditional-recrawl planning (round 11, second wave — the
    operational counterpart of the 304 revisit profile): the frontier
    wave (every document URL) splits against the crawled-capture index
    (documents with doc_id % 3 != 2, each carrying its payload digest)
    into 'revalidate' (send If-None-Match with the stored digest — an
    unchanged page costs zero payload bytes) and 'fetch' (unseen
    canonical URL).  Both sides ride the shared nurl canonicalization;
    one slim left equi-join.  Oracle replays the split and the
    per-nurl min-digest election in closed form."""
    from pgferry_spark.operators.domains import recrawl_plan

    cands = _docs_with_urls(spark, sf)
    caps = (
        _docs_with_urls(spark, sf)
        .filter(F.col("doc_id") % 3 != 2)
        .withColumn("digest", F.md5("text"))
    )
    return recrawl_plan(cands, caps)


def _recrawl_plan_oracle() -> str:
    from pgferry_spark.operators.domains import (
        HOST_SQL,
        NURL_SQL,
        QCLEAN_SQL,
        URL_SYNTH_SQL,
    )

    url = URL_SYNTH_SQL.format(id="doc_id", src="source")
    host = HOST_SQL.format(url="url")
    qc = QCLEAN_SQL.format(url="url", g=", 'g'")
    nurl = NURL_SQL.format(url="url", host="host")
    return f"""
        WITH u AS (SELECT doc_id, source, text, {url} AS url
                   FROM documents),
        h AS (SELECT *, {host} AS host FROM u),
        q AS (SELECT *, {qc} AS __q FROM h),
        n AS (SELECT *, {nurl} AS nurl FROM q),
        cand AS (SELECT DISTINCT nurl FROM n),
        caps AS (SELECT nurl, min(md5(text)) AS dig
                 FROM n WHERE doc_id % 3 <> 2 GROUP BY 1)
        SELECT cand.nurl,
               CASE WHEN caps.dig IS NULL THEN 'fetch'
                    ELSE 'revalidate' END AS action,
               coalesce(caps.dig, '') AS etag
        FROM cand LEFT JOIN caps ON cand.nurl = caps.nurl
    """


def _http_truncated_audit(spark, sf):
    """Truncated-capture audit (round 11, second wave — ISO 28500
    §5.13): captures cut by length policy store the HTTP head + a
    prefix of the body, keep the server's ORIGINAL Content-Length in
    the HTTP head, shrink the WARC Content-Length to the stored bytes,
    and carry WARC-Truncated with the reason.  The audit certifies the
    two truncation signals AGREE record-by-record — the HTTP parser's
    declared-vs-available flag and the WARC-layer header — and that
    the §5.9 digest still verifies over the STORED (cut) body
    (digest_ok true on every row, truncated or not).  Oracle: the cut
    class, the clamped body length, and both flags in closed form."""
    from pgferry_spark.sources.httpmsg import (
        attach_warc_http,
        http_response_index,
    )

    idx = http_response_index(
        attach_warc_http(_docs_with_urls(spark, sf), with_truncation=True)
    )
    return idx.select(
        "container_id", "record_no", "target_uri",
        "truncated", "warc_truncated", "body_len", "digest_ok",
    )


def _http_truncated_oracle() -> str:
    from pgferry_spark.sources.httpmsg import TRUNCATE_BODY_AT

    # the cut only happens when it drops real bytes (corpus bodies are
    # all longer than the policy, but the condition is spelled anyway)
    cond = f"(doc_id % 11 = 4 AND body_len > {TRUNCATE_BODY_AT})"
    return _http_cte() + f"""
        SELECT container_id, record_no, url AS target_uri,
               {cond} AS truncated,
               CASE WHEN {cond} THEN 'length' ELSE '' END
                 AS warc_truncated,
               CAST(CASE WHEN {cond} THEN {TRUNCATE_BODY_AT}
                    ELSE body_len END AS BIGINT) AS body_len,
               true AS digest_ok
        FROM hw
    """


def _cc_ingest_funnel(spark, sf):
    """The end-to-end CommonCrawl ingest funnel (round 11, second
    wave) — the composed proof that the HTTP layer feeds the curation
    stack: the CAPTURE stream (with deterministic re-captures) packs
    into real HTTP-enveloped containers, then one row per stage counts
    the survivors of each gate a production ingest runs in order —
    captured → envelope_ok (digest verified, not truncated) →
    status_200 (the keep-gate) → transcoded (declared charset on the
    codec allowlist) → unique_payload (exact dedup on the DECODED
    text digest — the re-captures drop here) → quality_len (>= 200
    decoded chars).  Every stage is one aggregate over index/transcode
    rows; container bytes are read once per walk and never shuffle.
    The oracle replays all six counts in closed form."""
    from pgferry_spark.sources.httpmsg import (
        attach_warc_http,
        http_charset_transcode,
        http_response_index,
    )

    from pyspark import StorageLevel

    caps = _warc_captures(spark, sf)
    # persist: BOTH walks (index + transcode) read the same containers;
    # without it the applyInPandas synthesis runs twice.  (A real
    # ingest reads existing containers from storage — the persist is
    # the synthesis path's stand-in for that storage; the disk-backed
    # equivalence is pinned by tests/test_warc.py::
    # TestStorageBackedFunnel.)  Lifecycle: LRU-evicted or
    # caller-unpersisted, the tok_pos convention (r11 ADVICE).
    containers = attach_warc_http(caps, id_col="capture_id").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    idx = http_response_index(containers)
    tr = http_charset_transcode(containers)

    # ONE decode pass per walk (guide §2.3/§2.4): the six per-stage
    # aggregates previously executed independently — three re-running
    # the index decode and three the transcode decode over the cached
    # containers (six Python decode passes per materialization).
    # Conditional aggregation folds each walk's stages into a single
    # pass; the digest groupBy carries per-digest multiplicities so the
    # row-level count (transcoded) and the digest-level counts (unique,
    # quality — same-digest rows share text, hence length) ride the
    # same pass. Counting semantics are unchanged: count(when(cond,1))
    # counts exactly the rows the old filters kept (NULL conditions
    # drop), the groupBy keeps a NULL-digest group exactly as
    # dropDuplicates did, and the empty-input coalesce pins the old 0.
    a = idx.agg(
        F.count(F.lit(1)).alias("__captured"),
        F.count(
            F.when(F.col("digest_ok") & ~F.col("truncated"), 1)
        ).alias("__envelope_ok"),
        F.count(F.when(F.col("status") == 200, 1)).alias("__status_200"),
    )
    u = (
        tr.filter(F.col("status") == 200)
        .select(F.md5("text").alias("__d"), F.length("text").alias("__L"))
        .groupBy("__d")
        .agg(F.count(F.lit(1)).alias("__m"), F.max("__L").alias("__L"))
    )
    c = u.agg(
        F.coalesce(F.sum("__m"), F.lit(0)).cast("long").alias("__transcoded"),
        F.count(F.lit(1)).alias("__unique"),
        F.count(F.when(F.col("__L") >= 200, 1)).alias("__quality"),
    )
    stages = F.array(
        *[
            F.struct(
                F.lit(no).cast("int").alias("stage_no"),
                F.lit(name).alias("stage"),
                F.col(col).alias("n"),
            )
            for no, name, col in [
                (0, "captured", "__captured"),
                (1, "envelope_ok", "__envelope_ok"),
                (2, "status_200", "__status_200"),
                (3, "transcoded", "__transcoded"),
                (4, "unique_payload", "__unique"),
                (5, "quality_len", "__quality"),
            ]
        ]
    )
    return (
        a.crossJoin(F.broadcast(c))
        .select(F.explode(stages).alias("__s"))
        .select("__s.stage_no", "__s.stage", "__s.n")
    )


def _cc_funnel_oracle() -> str:
    """All six stage counts in closed form over the capture stream +
    the shared HTTP templates (status/charset/body keyed on
    capture_id).  unique_payload dedups on the DECODED body text, so
    re-captures (identical text, same %5 class by construction of the
    +10^7 offset? NO — the offset shifts the classes) — the decorated
    body of a re-capture can differ from its original's, which is
    exactly what the Spark side computes too: dedup keys on the
    decoded text, not the source document."""
    from pgferry_spark.sources.httpmsg import (
        HTTP_BODY_TEXT_SQL,
        HTTP_CHARSET_SQL,
        HTTP_STATUS_SQL,
    )

    status = HTTP_STATUS_SQL.format(id="capture_id")
    body = HTTP_BODY_TEXT_SQL.format(id="capture_id", text="text")
    charset = HTTP_CHARSET_SQL.format(id="capture_id")
    return _warc_captures_cte() + f"""
        , hf AS (SELECT capture_id,
                   CAST({status} AS INT) AS status,
                   {charset} AS charset,
                   {body} AS body_text
                 FROM caps),
        k200 AS (SELECT * FROM hf WHERE status = 200),
        uq AS (SELECT md5(body_text) AS d,
                      min(length(body_text)) AS L
               FROM k200 GROUP BY 1)
        SELECT CAST(0 AS INT) AS stage_no, 'captured' AS stage,
               CAST(count(*) AS BIGINT) AS n FROM hf
        UNION ALL
        SELECT CAST(1 AS INT), 'envelope_ok',
               CAST(count(*) AS BIGINT) FROM hf
        UNION ALL
        SELECT CAST(2 AS INT), 'status_200',
               CAST(count(*) AS BIGINT) FROM k200
        UNION ALL
        SELECT CAST(3 AS INT), 'transcoded',
               CAST(count(*) AS BIGINT) FROM k200
        UNION ALL
        SELECT CAST(4 AS INT), 'unique_payload',
               CAST(count(*) AS BIGINT) FROM uq
        UNION ALL
        SELECT CAST(5 AS INT), 'quality_len',
               CAST(count(*) AS BIGINT) FROM uq WHERE L >= 200
    """


def _http_revisit_resolve(spark, sf):
    """Server-not-modified revisits (ISO 28500 §6.7.1 — the OTHER
    revisit profile, round 11 second wave): re-captures arrive as
    bodiless HTTP 304 responses (the server vouched via the stored
    ETag; no payload bytes crossed the wire) stored as revisit records
    with WARC-Profile + WARC-Refers-To + the original's payload
    digest; keepers store full HTTP 200 envelopes.  The resolver
    parses the envelope on BOTH record kinds in one fused walk and
    rehydrates every 304 from the single stored body via the digest
    window — the warc_revisit_resolve geometry composed with the HTTP
    layer.  Oracle replays the keeper election + the 200/304 split and
    hands back the ORIGINAL text for every capture."""
    from pgferry_spark.sources.httpmsg import (
        attach_warc_http_revisits,
        http_revisit_resolve,
    )

    return http_revisit_resolve(
        attach_warc_http_revisits(_warc_captures(spark, sf))
    )


def _http_wire_decode(spark, sf):
    """The HTTP wire-coding layer (round 11, second wave; deflate
    round 12): stored bodies arrive chunked transfer-coded (RFC 9112
    §7.1 — hex-size framing, no Content-Length) on doc_id % 4 == 2,
    gzip content-coded (RFC 9110 §8.4.1, capped inflate) on % 4 == 1,
    and deflate content-coded on % 4 == 3 — alternating the
    zlib-wrapped (RFC 1950) and raw (RFC 1951) spellings, the
    legacy-server ambiguity the reader absorbs — orthogonal to the
    charset and status classes so every combination occurs; the reader
    decodes in transport-then-representation-then-charset order inside
    the SAME fused walk.  Oracle = the decorated text closed form for
    every document — green certifies byte-exact recovery through
    chunked/gzip/deflate/charset/WARC framing combined.  decode_chunked
    totality is hypothesis-pinned; unsupported or malformed codings
    (brotli: no stdlib codec — docs/SCALE.md boundary) drop the row
    rather than guess."""
    from pgferry_spark.sources.httpmsg import (
        attach_warc_http,
        http_charset_transcode,
    )

    return http_charset_transcode(
        attach_warc_http(_docs_with_urls(spark, sf), wire_codings=True)
    )


def _extract_anchors(spark, sf):
    """Anchor harvesting (round 9): (doc_id, anchor_no, href,
    anchor_text) — the web's free label set, mined from whole <a>
    elements BEFORE tag stripping. regexp_extract_all + one narrow
    posexplode_outer + per-element group extracts; map-only."""
    from pgferry_spark.operators.html import attach_html, extract_anchors

    d = fan_out(_t(spark, sf, "documents"), "doc_id")
    return extract_anchors(attach_html(d))


def _anchor_domain_stats(spark, sf):
    """Inverted anchor-label index per TARGET domain (round 9):
    (domain, lowercased term, mentions, distinct linking docs) — what
    crawl-frontier relevance and retrieval training mine. Map-only
    parse + narrow explode + ONE aggregation shuffle."""
    from pgferry_spark.operators.html import (
        anchor_domain_stats,
        attach_html,
        extract_anchors,
    )

    d = fan_out(_t(spark, sf, "documents"), "doc_id")
    return anchor_domain_stats(extract_anchors(attach_html(d)))


def _html_extract(spark, sf):
    """HTML→text extraction (C4/RefinedWeb stage 0): deterministic
    messy-HTML synthesis (scripts, styles, entities, nested + unclosed
    tags, comments — six templates keyed on doc_id), then the shared-SQL
    strip pipeline: script/style/comment removal → tag strip → entity
    decode → whitespace normalization. Map-only whole-stage-codegen
    regex (no UDF); the oracle evaluates the SAME template strings, so
    both engines are identical by construction (the domains.py
    discipline)."""
    from pgferry_spark.operators.html import attach_html, html_extract

    d = fan_out(_t(spark, sf, "documents"), "doc_id")
    return html_extract(attach_html(d))


def _line_quality_filter(spark, sf):
    """C4 §2.2 line rules over extracted text: keep lines ending in
    terminal punctuation with >= 3 words that are not boilerplate
    (javascript/cookie notices, lorem ipsum, code lines with braces).
    One narrow posexplode after the map-only extraction; returns
    (doc_id, line_no, line) with original 0-based line numbers."""
    from pgferry_spark.operators.html import (
        attach_html,
        html_extract,
        line_quality_filter,
    )

    d = fan_out(_t(spark, sf, "documents"), "doc_id")
    return line_quality_filter(html_extract(attach_html(d)))


def _c4_clean_documents(spark, sf):
    """The fused C4 §2.2 pipeline end-to-end: HTML extraction → line
    rules → page-level minimum-retained-lines rule → each surviving
    document reassembled from its kept lines in original order. One
    narrow posexplode + ONE shuffle (the per-doc reassembly, bounded by
    doc length); boilerplate is pruned BEFORE the shuffle, so dropped
    lines never move."""
    from pgferry_spark.operators.html import (
        attach_html,
        c4_clean_documents,
        html_extract,
    )

    d = fan_out(_t(spark, sf, "documents"), "doc_id")
    return c4_clean_documents(html_extract(attach_html(d)), min_kept_lines=2)


def _domain_cte() -> str:
    """Shared oracle CTE: url synthesis + host/domain extraction built
    from the SAME module-level SQL templates the Spark side evaluates
    via F.expr — identical by construction."""
    from pgferry_spark.operators.domains import (
        DOMAIN_SQL,
        HOST_SQL,
        URL_SYNTH_SQL,
    )

    url = URL_SYNTH_SQL.format(id="doc_id", src="source")
    host = HOST_SQL.format(url="url")
    dom = DOMAIN_SQL.format(host="host")
    return f"""
        WITH u AS (SELECT doc_id, source, text, n_chars, {url} AS url
                   FROM documents),
        h AS (SELECT *, {host} AS host FROM u),
        d AS (SELECT *, {dom} AS domain FROM h)
    """


def _script_profile_oracle() -> str:
    """Counts from the shared SCRIPT_COUNT_SQL template; dominance CASE
    replays script_profile's fixed-order tie-break."""
    from pgferry_spark.functions.text import (
        MULTISCRIPT_SYNTH_SQL,
        SCRIPT_COUNT_SQL,
        SCRIPT_RANGES,
    )

    synth = MULTISCRIPT_SYNTH_SQL.format(id="doc_id", txt="text")
    counts = ", ".join(
        "CAST("
        + SCRIPT_COUNT_SQL.format(col="mtext", ranges=r, g=", 'g'")
        + f" AS INT) AS n_{s}"
        for s, r in SCRIPT_RANGES.items()
    )
    names = [f"n_{s}" for s in SCRIPT_RANGES]
    best = "greatest(" + ", ".join(names) + ")"
    dom = f"CASE WHEN {best} = 0 THEN 'und' " + " ".join(
        f"WHEN n_{s} = {best} THEN '{s}'" for s in list(SCRIPT_RANGES)[:-1]
    ) + f" ELSE '{list(SCRIPT_RANGES)[-1]}' END"
    return f"""
        WITH m AS (SELECT doc_id, {synth} AS mtext FROM documents),
        c AS (SELECT doc_id, {counts} FROM m)
        SELECT doc_id, {', '.join(names)}, {dom} AS dominant_script FROM c
    """


def _line_dedup_oracle() -> str:
    """Corpus keep-first per exact line replayed as a window rank over
    the md5 line fingerprint (the Spark side's 16-byte keeper key —
    round 9); the short-line exemption commutes with the partition
    (identical text implies identical length)."""
    return _html_cte() + """
        , l AS (SELECT doc_id,
            CAST(generate_subscripts(string_split(clean_text, chr(10)), 1) - 1
                 AS INT) AS line_no,
            unnest(string_split(clean_text, chr(10))) AS line FROM x),
        e AS (SELECT *, row_number() OVER (PARTITION BY md5(line)
                ORDER BY doc_id, line_no) AS rk FROM l)
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum(CASE WHEN length(line) < 10 OR rk = 1
                    THEN 1 ELSE 0 END) AS BIGINT) AS kept_lines,
               coalesce(string_agg(CASE WHEN length(line) < 10 OR rk = 1
                    THEN line END, chr(10) ORDER BY line_no), '')
                 AS kept_text
        FROM e GROUP BY doc_id
    """


def _links_cte() -> str:
    """Link list replay: same synth, same HREF template, unnest +
    generate_subscripts for the ordinality."""
    from pgferry_spark.operators.html import HREF_RE, HTML_SYNTH_SQL

    synth = HTML_SYNTH_SQL.format(id="doc_id", txt="text", src="source")
    return f"""
        WITH h AS (SELECT doc_id, source, {synth} AS html FROM documents),
        l AS (SELECT doc_id,
                CAST(generate_subscripts(
                  regexp_extract_all(html, '{HREF_RE}', 1), 1) - 1 AS INT)
                  AS link_no,
                unnest(regexp_extract_all(html, '{HREF_RE}', 1)) AS href
              FROM h)
    """


def _link_graph_oracle() -> str:
    from pgferry_spark.operators.domains import DOMAIN_SQL, HOST_SQL

    host = HOST_SQL.format(url="href")
    dom = DOMAIN_SQL.format(host="host")
    return _links_cte() + f"""
        , hh AS (SELECT *, {host} AS host FROM l),
        d AS (SELECT *, {dom} AS domain FROM hh)
        SELECT domain, CAST(count(*) AS BIGINT) AS n_links,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_src_docs
        FROM d GROUP BY domain
    """


def _host_pagerank_oracle() -> str:
    """Replays the quantized PageRank closed-form: same edge extraction
    (shared URL/HOST/DOMAIN templates), then the 3 iterations unrolled
    as CTEs — every step integer ``//`` / integer SUM, so engine float
    semantics never enter (DuckDB's BIGINT SUM widens to HUGEINT; the
    arithmetic stays exact and the final CAST restores BIGINT)."""
    from pgferry_spark.operators.domains import (
        DOMAIN_SQL,
        HOST_SQL,
        URL_SYNTH_SQL,
    )

    url = URL_SYNTH_SQL.format(id="doc_id", src="source")
    lhost = HOST_SQL.format(url="href")
    ldom = DOMAIN_SQL.format(host="lhost")
    uhost = HOST_SQL.format(url="url")
    udom = DOMAIN_SQL.format(host="uhost")
    t, d = 1_000_000_000, 85
    its, prev = "", "r0"
    for i in (1, 2, 3):
        its += f"""
        , sh{i} AS (SELECT e.dst AS dom, SUM({prev}.r // od.outdeg) AS inm
               FROM e JOIN {prev} ON e.src = {prev}.dom
                      JOIN od ON e.src = od.dom
               GROUP BY e.dst),
        dg{i} AS (SELECT COALESCE(SUM({prev}.r), 0) AS dmass
               FROM {prev} LEFT JOIN od ON {prev}.dom = od.dom
               WHERE od.dom IS NULL),
        r{i} AS (SELECT nodes.dom,
                 ({100 - d} * ({t} // (SELECT n FROM nn))) // 100
                 + ({d} * (COALESCE(sh{i}.inm, 0)
                    + ((SELECT dmass FROM dg{i})
                       // (SELECT n FROM nn)))) // 100 AS r
               FROM nodes LEFT JOIN sh{i} ON nodes.dom = sh{i}.dom)"""
        prev = f"r{i}"
    return _links_cte() + f"""
        , lh AS (SELECT doc_id, {lhost} AS lhost FROM l),
        ld AS (SELECT doc_id, {ldom} AS dst FROM lh),
        uu AS (SELECT doc_id, {url} AS url FROM documents),
        uh AS (SELECT doc_id, {uhost} AS uhost FROM uu),
        ud AS (SELECT doc_id, {udom} AS src FROM uh),
        e AS (SELECT DISTINCT ud.src AS src, ld.dst AS dst
              FROM ld JOIN ud USING (doc_id)
              WHERE ld.dst IS NOT NULL AND ld.dst <> ''
                AND ud.src IS NOT NULL AND ud.src <> ''
                AND ud.src <> ld.dst),
        nodes AS (SELECT DISTINCT src AS dom FROM e
                  UNION SELECT DISTINCT dst AS dom FROM e),
        nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
        od AS (SELECT src AS dom, CAST(count(*) AS BIGINT) AS outdeg
               FROM e GROUP BY src),
        r0 AS (SELECT dom, {t} // (SELECT n FROM nn) AS r FROM nodes)
        {its}
        SELECT r3.dom AS domain,
               CAST(COALESCE(od.outdeg, 0) AS BIGINT) AS out_links,
               CAST(r3.r AS BIGINT) AS pr_micro
        FROM r3 LEFT JOIN od ON r3.dom = od.dom
    """


def _domain_token_budget_oracle() -> str:
    from pgferry_spark.functions.text import BPE_PATTERN

    return _domain_cte() + f"""
        , t AS (SELECT doc_id, domain,
            CAST(len(regexp_extract_all(text, '{BPE_PATTERN}')) AS INT)
              AS n_toks FROM d),
        w AS (SELECT *, SUM(n_toks) OVER (PARTITION BY domain
                ORDER BY md5(CAST(doc_id AS STRING)) ASC, doc_id ASC
                ROWS UNBOUNDED PRECEDING) AS cum_toks FROM t)
        SELECT doc_id, domain, n_toks, CAST(cum_toks AS BIGINT) AS cum_toks
        FROM w WHERE cum_toks <= 300
    """


def _url_keyword_oracle() -> str:
    from pgferry_spark.operators.domains import (
        URL_PATH_SQL,
        url_keyword_sql,
    )

    path = URL_PATH_SQL.format(url="url")
    score = url_keyword_sql("__p", _URL_BLOCK_KWS)
    return _domain_cte() + f"""
        , p AS (SELECT *, {path} AS __p FROM d)
        SELECT doc_id, host, domain, url FROM p WHERE {score} = 0
    """


def _web_funnel_oracle() -> str:
    """The composed funnel replay: every stage reuses the SAME shared
    templates its standalone entry uses (url/host/domain/nurl, path
    keyword score, HTML synth/strip, C4 line predicate)."""
    from pgferry_spark.operators.domains import (
        DOMAIN_SQL,
        HOST_SQL,
        NURL_SQL,
        QCLEAN_SQL,
        URL_PATH_SQL,
        URL_SYNTH_SQL,
        url_keyword_sql,
    )
    from pgferry_spark.operators.html import (
        HTML_SYNTH_SQL,
        LINE_KEEP_SQL,
        ROBOTS_NOINDEX_SQL,
        html_strip_ctes,
    )

    url = URL_SYNTH_SQL.format(id="doc_id", src="source")
    host = HOST_SQL.format(url="url")
    dom = DOMAIN_SQL.format(host="host")
    qc = QCLEAN_SQL.format(url="url", g=", 'g'")
    nurl = NURL_SQL.format(url="url", host="host")
    path = URL_PATH_SQL.format(url="url")
    kw = url_keyword_sql("__p", _URL_BLOCK_KWS)
    synth = HTML_SYNTH_SQL.format(id="doc_id", txt="text", src="source")
    rob = ROBOTS_NOINDEX_SQL.format(html="html")
    strip_ctes, strip_final = html_strip_ctes("hh", "html", "doc_id, nurl")
    keep = LINE_KEEP_SQL.format(line="line")
    return f"""
        WITH u AS (SELECT doc_id, source, text, {url} AS url FROM documents),
        h AS (SELECT *, {host} AS host FROM u),
        d AS (SELECT *, {dom} AS domain FROM h),
        q AS (SELECT *, {qc} AS __q FROM d),
        n AS (SELECT *, {nurl} AS nurl FROM q),
        p AS (SELECT *, {path} AS __p FROM n),
        g0 AS (SELECT *, {synth} AS html FROM p),
        g AS (SELECT *, ({kw} = 0) AS g1,
                 (({kw} = 0) AND domain NOT IN {_BLOCKED_DOMAINS!r}) AS g2,
                 (({kw} = 0) AND domain NOT IN {_BLOCKED_DOMAINS!r}
                  AND NOT ({rob})) AS g3
              FROM g0),
        hh AS (SELECT doc_id, nurl, html FROM g WHERE g3)
        {strip_ctes},
        x AS (SELECT doc_id, nurl, clean_text FROM {strip_final}),
        l AS (SELECT doc_id, nurl,
                unnest(string_split(clean_text, chr(10))) AS line FROM x),
        s AS (SELECT doc_id, min(nurl) AS nurl FROM l
              GROUP BY doc_id
              HAVING sum(CASE WHEN {keep} THEN 1 ELSE 0 END) >= 2)
        SELECT '0_raw' AS stage, CAST(count(*) AS BIGINT) AS n_docs FROM g
        UNION ALL SELECT '1_url_keyword_gate',
            CAST(sum(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) FROM g
        UNION ALL SELECT '2_domain_blocklist',
            CAST(sum(CASE WHEN g2 THEN 1 ELSE 0 END) AS BIGINT) FROM g
        UNION ALL SELECT '3_robots_noindex',
            CAST(sum(CASE WHEN g3 THEN 1 ELSE 0 END) AS BIGINT) FROM g
        UNION ALL SELECT '4_page_clean', CAST(count(*) AS BIGINT) FROM s
        UNION ALL SELECT '5_url_dedup_keepers',
            CAST(count(DISTINCT nurl) AS BIGINT) FROM s
    """


def _crawl_oracle_cte() -> str:
    """Shared-template replay of the two-snapshot merge: url/host/nurl
    strings imported from operators/domains.py, fingerprints replayed as
    md5(normalized text), reduction + full outer join + status CASE."""
    from pgferry_spark.operators.domains import (
        HOST_SQL,
        NURL_SQL,
        QCLEAN_SQL,
        URL_SYNTH_SQL,
    )

    url = URL_SYNTH_SQL.format(id="doc_id", src="source")
    host = HOST_SQL.format(url="url")
    qc = QCLEAN_SQL.format(url="url", g=", 'g'")
    nurl = NURL_SQL.format(url="url", host="host")
    fp_old = "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))"
    fp_new = (
        "md5(trim(regexp_replace(lower(CASE WHEN doc_id % 10 = 0 "
        "THEN text || ' updated' ELSE text END), '\\s+', ' ', 'g')))"
    )
    take_b = (
        "(c.doc_id IS NULL OR (b.doc_id IS NOT NULL "
        "AND b.capture_ts >= c.capture_ts))"
    )
    return f"""
        WITH u AS (SELECT doc_id, source, text, {url} AS url FROM documents),
        h AS (SELECT *, {host} AS host FROM u),
        q AS (SELECT *, {qc} AS __q FROM h),
        n AS (SELECT *, {nurl} AS nurl FROM q),
        corp0 AS (SELECT nurl, doc_id,
                    CAST(100 + doc_id % 7 AS BIGINT) AS capture_ts,
                    {fp_old} AS fp,
                    row_number() OVER (PARTITION BY nurl
                      ORDER BY (100 + doc_id % 7) DESC, doc_id ASC) AS rk
                  FROM n WHERE doc_id % 4 <> 0),
        c AS (SELECT nurl, doc_id, capture_ts, fp FROM corp0 WHERE rk = 1),
        bat0 AS (SELECT nurl, doc_id,
                   CAST(200 + doc_id % 7 AS BIGINT) AS capture_ts,
                   {fp_new} AS fp,
                   row_number() OVER (PARTITION BY nurl
                     ORDER BY (200 + doc_id % 7) DESC, doc_id ASC) AS rk
                 FROM n WHERE doc_id % 2 = 0),
        b AS (SELECT nurl, doc_id, capture_ts, fp FROM bat0 WHERE rk = 1),
        m AS (SELECT
                COALESCE(c.nurl, b.nurl) AS nurl,
                CASE WHEN {take_b} THEN b.doc_id ELSE c.doc_id END AS doc_id,
                CASE WHEN {take_b} THEN b.capture_ts ELSE c.capture_ts END
                  AS capture_ts,
                CASE WHEN {take_b} THEN b.fp ELSE c.fp END AS fp,
                CASE WHEN c.doc_id IS NULL THEN 'new'
                     WHEN b.doc_id IS NULL THEN 'carried'
                     WHEN b.fp = c.fp THEN 'unchanged'
                     WHEN {take_b} THEN 'changed'
                     ELSE 'stale_capture' END AS status
              FROM c FULL OUTER JOIN b ON c.nurl = b.nurl)
    """


def _blockword_oracle() -> str:
    lits = ", ".join(f"'{w}'" for w in _BLOCKWORDS)
    return f"""
        WITH t AS (SELECT doc_id, {_LTOKS} AS ltoks FROM documents)
        SELECT doc_id, list_has_any(ltoks, [{lits}]) AS blocked FROM t
    """


def _gopher_oracle() -> str:
    """DuckDB replay of the Gopher gates: same synth template, list
    HOFs for the per-token/per-line signals, thresholds applied to the
    ROUNDED columns exactly as the Spark side does."""
    from pgferry_spark.operators.filters import (
        GOPHER_STOPWORDS,
        GOPHER_SYNTH_SQL,
    )

    synth = GOPHER_SYNTH_SQL.format(id="doc_id", txt="text")
    stops = " + ".join(
        f"CAST(list_contains(ltoks, '{w}') AS INT)" for w in GOPHER_STOPWORDS
    )
    return f"""
        WITH g AS (SELECT doc_id, {synth} AS gtext FROM documents),
        t AS (SELECT doc_id, gtext,
                (CASE WHEN trim(gtext) = '' THEN CAST([] AS VARCHAR[])
                 ELSE regexp_split_to_array(trim(gtext), '\\s+') END) AS toks,
                string_split(gtext, chr(10)) AS lines
              FROM g),
        t2 AS (SELECT *, list_transform(toks, x -> lower(x)) AS ltoks
               FROM t),
        m AS (SELECT doc_id,
                len(toks) AS n_words,
                list_aggregate(list_transform(toks, x -> length(x)), 'sum')
                  AS total_chars,
                (length(gtext) - length(replace(gtext, '#', '')))
                  + (length(gtext) - length(replace(gtext, '...', ''))) / 3
                  + (length(gtext) - length(replace(gtext, '…', '')))
                  AS sym_cnt,
                len(lines) AS n_lines,
                len(list_filter(lines, l -> starts_with(trim(l), '- ')
                    OR starts_with(trim(l), '• ')
                    OR starts_with(trim(l), '* '))) AS bullet_lines,
                len(list_filter(lines, l -> ends_with(trim(l), '...')
                    OR ends_with(trim(l), '…'))) AS ell_lines,
                len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))
                  AS alpha_words,
                ({stops}) AS n_stopword_hits
              FROM t2),
        r AS (SELECT doc_id,
                CAST(n_words AS INT) AS n_words,
                round(total_chars / n_words, 6) AS mean_word_len,
                round(sym_cnt / n_words, 6) AS symbol_ratio,
                round(bullet_lines / n_lines, 6) AS bullet_line_ratio,
                round(ell_lines / n_lines, 6) AS ellipsis_line_ratio,
                round(alpha_words / n_words, 6) AS alpha_word_ratio,
                CAST(n_stopword_hits AS INT) AS n_stopword_hits
              FROM m WHERE n_words > 0)
        SELECT *,
               (n_words >= 25 AND n_words <= 100000
                AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
                AND symbol_ratio <= 0.1
                AND bullet_line_ratio <= 0.9
                AND ellipsis_line_ratio <= 0.3
                AND alpha_word_ratio >= 0.8
                AND n_stopword_hits >= 1) AS passes
        FROM r
    """


def _html_title_meta_oracle() -> str:
    """Shared-template replay: base synth + title/meta decoration +
    the same chr(34)-spliced capture patterns."""
    from pgferry_spark.operators.html import (
        HTML_SYNTH_SQL,
        META_DESC_SQL,
        TITLE_META_SYNTH_SQL,
        TITLE_SQL,
    )

    base = HTML_SYNTH_SQL.format(id="doc_id", txt="text", src="source")
    deco = TITLE_META_SYNTH_SQL.format(id="doc_id", html=f"({base})")
    title = TITLE_SQL.format(html="html")
    desc = META_DESC_SQL.format(html="html")
    return f"""
        WITH h AS (SELECT doc_id, {deco} AS html FROM documents)
        SELECT doc_id, {title} AS title, {desc} AS meta_description
        FROM h
    """


def _extract_tables_oracle() -> str:
    """Three staged unnest levels over the same shared regex templates
    (the prototype shape verified on both engines)."""
    from pgferry_spark.operators.html import (
        HTML_SYNTH_SQL,
        TABLE_CELL_RE,
        TABLE_RE,
        TABLE_ROW_RE,
        TABLE_SYNTH_SQL,
    )

    base = HTML_SYNTH_SQL.format(id="doc_id", txt="text", src="source")
    deco = TABLE_SYNTH_SQL.format(id="doc_id", html=f"({base})", src="source")
    return f"""
        WITH h AS (SELECT doc_id, {deco} AS html FROM documents),
        t AS (SELECT doc_id,
                CAST(generate_subscripts(
                  regexp_extract_all(html, '{TABLE_RE}', 1), 1) - 1 AS INT)
                  AS table_no,
                unnest(regexp_extract_all(html, '{TABLE_RE}', 1)) AS tb
              FROM h),
        r AS (SELECT doc_id, table_no,
                CAST(generate_subscripts(
                  regexp_extract_all(tb, '{TABLE_ROW_RE}', 1), 1) - 1 AS INT)
                  AS row_no,
                unnest(regexp_extract_all(tb, '{TABLE_ROW_RE}', 1)) AS rw
              FROM t),
        c AS (SELECT doc_id, table_no, row_no,
                CAST(generate_subscripts(
                  regexp_extract_all(rw, '{TABLE_CELL_RE}', 1), 1) - 1
                  AS INT) AS col_no,
                unnest(regexp_extract_all(rw, '{TABLE_CELL_RE}', 1)) AS cell
              FROM r)
        SELECT doc_id, table_no, row_no, col_no, cell FROM c
    """


def _utf8_sanity_oracle() -> str:
    from pgferry_spark.operators.encoding import (
        UTF8_SYNTH_SQL,
        utf8_sanity_sql,
    )

    synth = UTF8_SYNTH_SQL.format(id="doc_id", txt="text")
    n_repl, n_ctrl = utf8_sanity_sql("utext")
    return f"""
        WITH m AS (SELECT doc_id, {synth} AS utext FROM documents)
        SELECT doc_id,
               CAST({n_repl} AS INT) AS n_replacement,
               CAST({n_ctrl} AS INT) AS n_control,
               ({n_repl} = 0 AND {n_ctrl} = 0) AS passes
        FROM m
    """


def _moji_cte() -> str:
    from pgferry_spark.operators.encoding import MOJIBAKE_SYNTH_SQL

    synth = MOJIBAKE_SYNTH_SQL.format(id="doc_id", txt="text")
    return f"WITH m AS (SELECT doc_id, {synth} AS mtext FROM documents)"


def _mojibake_stats_oracle() -> str:
    """Shared-template replay: the same synth + count expression both
    engines evaluate verbatim."""
    from pgferry_spark.operators.encoding import mojibake_count_sql

    cnt = mojibake_count_sql("mtext")
    return _moji_cte() + f"""
        SELECT doc_id, CAST({cnt} AS INT) AS n_mojibake,
               {cnt} > 0 AS has_mojibake
        FROM m
    """


def _mojibake_repair_oracle() -> str:
    from pgferry_spark.operators.encoding import mojibake_repair_sql

    rep = mojibake_repair_sql("mtext")
    return _moji_cte() + f"""
        SELECT doc_id, {rep} AS text FROM m
    """


def _fineweb_oracle() -> str:
    """DuckDB replay of the FineWeb gates: same synth template, list
    HOFs for the line signals, list_distinct for the dup-char
    complement, thresholds applied to the ROUNDED columns exactly as
    the Spark side does."""
    from pgferry_spark.operators.filters import (
        FINEWEB_SYNTH_SQL,
        FINEWEB_TERMINAL_PUNCT,
    )

    synth = FINEWEB_SYNTH_SQL.format(id="doc_id", txt="text")
    punct = " OR ".join(
        f"ends_with(trim(l), '{p}')" for p in FINEWEB_TERMINAL_PUNCT
    )
    return f"""
        WITH g AS (SELECT doc_id, {synth} AS ftext FROM documents),
        t AS (SELECT doc_id,
                list_filter(string_split(ftext, chr(10)),
                            l -> trim(l) <> '') AS lines
              FROM g),
        m AS (SELECT doc_id,
                len(lines) AS n_lines,
                len(list_filter(lines, l -> {punct})) AS punct_lines,
                len(list_filter(lines, l -> length(l) < 30))
                  AS short_lines,
                list_aggregate(list_transform(lines, x -> length(x)),
                               'sum') AS total_chars,
                list_aggregate(list_transform(list_distinct(lines),
                               x -> length(x)), 'sum') AS dist_chars
              FROM t),
        r AS (SELECT doc_id,
                CAST(n_lines AS INT) AS n_lines,
                round(punct_lines / n_lines, 6) AS punct_line_ratio,
                round(short_lines / n_lines, 6) AS short_line_ratio,
                round((total_chars - dist_chars)
                      / CAST(total_chars AS DOUBLE), 6)
                  AS dup_line_char_frac
              FROM m WHERE n_lines > 0)
        SELECT *,
               (punct_line_ratio > 0.12
                AND short_line_ratio < 0.67
                AND dup_line_char_frac < 0.1) AS passes
        FROM r
    """


def _robots_oracle() -> str:
    """Shared-template replay: the synth html + ROBOTS_NOINDEX_SQL
    evaluated verbatim."""
    from pgferry_spark.operators.html import (
        HTML_SYNTH_SQL,
        ROBOTS_NOINDEX_SQL,
    )

    synth = HTML_SYNTH_SQL.format(id="doc_id", txt="text", src="source")
    rob = ROBOTS_NOINDEX_SQL.format(html="html")
    return f"""
        WITH h AS (SELECT doc_id, {synth} AS html FROM documents)
        SELECT doc_id, {rob} AS noindex FROM h
    """


def _warc_index_oracle() -> str:
    """Closed-form byte arithmetic for the WARC record index: fixed
    header template = 132 bytes + the three variable-width fields
    (doc_id digits, URI octets, Content-Length digits); offsets are a
    cumulative window over doc order within each container.  The Spark
    side PARSES real container bytes, so hash-green means the parser
    and this arithmetic agree to the byte."""
    from pgferry_spark.operators.domains import URL_SYNTH_SQL

    url = URL_SYNTH_SQL.format(id="doc_id", src="source")
    return f"""
        WITH u AS (SELECT doc_id, source, text, {url} AS url FROM documents),
        r AS (SELECT doc_id,
                (doc_id // 8) AS container_id,
                url, text,
                CAST(strlen(text) AS BIGINT) AS plen,
                CAST(132 + length(CAST(doc_id AS VARCHAR)) + strlen(url)
                     + length(CAST(strlen(text) AS VARCHAR)) AS BIGINT)
                  AS hlen
              FROM u),
        w AS (SELECT *,
                CAST(row_number() OVER (PARTITION BY container_id
                     ORDER BY doc_id) - 1 AS INT) AS record_no,
                SUM(hlen + plen + 4) OVER (PARTITION BY container_id
                     ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                  - (hlen + plen + 4) AS rec_offset
              FROM r)
        SELECT container_id, record_no,
               CAST(rec_offset AS BIGINT) AS rec_offset,
               CAST(hlen + plen + 4 AS BIGINT) AS rec_len,
               CAST(rec_offset + hlen AS BIGINT) AS payload_offset,
               CAST(plen AS BIGINT) AS payload_len,
               md5(text) AS payload_md5,
               'response' AS warc_type,
               url AS target_uri
        FROM w
    """


def _http_cte() -> str:
    """Shared closed-form replay of the HTTP envelope synthesis: per
    document the status/reason/media/charset classes, the decoded body
    text, the body BYTE length (character length in the single-byte
    decorated charsets, utf-8 bytes otherwise), and the Content-Type
    header width — everything the envelope entries' oracles derive
    from.  record_no is the within-container row number over ALL docs
    (filters apply downstream of it, exactly like the parser)."""
    from pgferry_spark.operators.domains import URL_SYNTH_SQL
    from pgferry_spark.sources.httpmsg import (
        HTTP_BODY_LEN_SQL,
        HTTP_BODY_TEXT_SQL,
        HTTP_CHARSET_SQL,
        HTTP_CT_HEADER_SQL,
        HTTP_MEDIA_SQL,
        HTTP_REASON_SQL,
        HTTP_STATUS_SQL,
    )

    url = URL_SYNTH_SQL.format(id="doc_id", src="source")
    status = HTTP_STATUS_SQL.format(id="doc_id")
    reason = HTTP_REASON_SQL.format(id="doc_id")
    media = HTTP_MEDIA_SQL.format(id="doc_id")
    charset = HTTP_CHARSET_SQL.format(id="doc_id")
    cth = HTTP_CT_HEADER_SQL.format(id="doc_id")
    body_text = HTTP_BODY_TEXT_SQL.format(id="doc_id", text="text")
    body_len = HTTP_BODY_LEN_SQL.format(
        id="doc_id", text="text", blen="strlen"
    )
    return f"""
        WITH u AS (SELECT doc_id, source, text, {url} AS url
                   FROM documents),
        hr AS (SELECT doc_id, (doc_id // 8) AS container_id, url, text,
                 CAST({status} AS INT) AS status,
                 {reason} AS reason,
                 {media} AS content_type,
                 {charset} AS charset,
                 {body_text} AS body_text,
                 CAST({body_len} AS BIGINT) AS body_len,
                 CAST(strlen({cth}) AS BIGINT) AS cth_len
               FROM u),
        hw AS (SELECT *,
                 CAST(row_number() OVER (PARTITION BY container_id
                      ORDER BY doc_id) - 1 AS INT) AS record_no
               FROM hr)
    """


def _http_index_oracle() -> str:
    """Envelope-index replay: the head length is the fixed header
    template arithmetic — status line (15 + reason), 'Content-Type: '
    (16 + value), 'Content-Length: ' (18 + digits), 301-only
    'Location: ' (18 + url), final CRLF (2).  The Spark side PARSES
    real bytes, so hash-green means parser and arithmetic agree."""
    return _http_cte() + """
        SELECT container_id, record_no, url AS target_uri, status,
               reason, content_type, charset,
               CAST(15 + strlen(reason) + 16 + cth_len + 18
                    + strlen(CAST(body_len AS VARCHAR))
                    + CASE WHEN status = 301 THEN 18 + strlen(url)
                           ELSE 0 END
                    + 2 AS BIGINT) AS body_offset,
               body_len,
               false AS truncated,
               '' AS warc_truncated,
               true AS digest_ok
        FROM hw
    """


def _http_request_pairs_oracle() -> str:
    return _http_cte() + """
        SELECT container_id, url AS target_uri,
               'GET' AS method, url AS req_target, status
        FROM hw
    """


def _http_status_filter_oracle() -> str:
    return _http_cte() + """
        SELECT container_id, record_no, url AS target_uri, status
        FROM hw WHERE status = 200
    """


def _http_body_extract_oracle() -> str:
    """The ORIGINAL text for the utf-8-or-undeclared classes — green =
    byte-exact recovery through HTTP + gzip + WARC framing."""
    return _http_cte() + """
        SELECT container_id, record_no, url AS target_uri, status,
               text
        FROM hw WHERE doc_id % 5 IN (0, 3, 4)
    """


def _http_transcode_oracle() -> str:
    """The decorated text in closed form — what a charset-honoring
    reader recovers from the latin-1/cp1252 bodies."""
    return _http_cte() + """
        SELECT container_id, record_no, url AS target_uri, status,
               charset, body_text AS text
        FROM hw
    """


def _http_sniff_oracle() -> str:
    """Closed-form replay of the six sniff classes: resolved label,
    deciding precedence arm, and the decoded text (markup included,
    BOM excluded) — green certifies the real prescan, the precedence
    order, and the byte-exact decode all agree with the templates."""
    from pgferry_spark.operators.domains import URL_SYNTH_SQL
    from pgferry_spark.sources.httpmsg import (
        HTTP_SNIFF_CHARSET_SQL,
        HTTP_SNIFF_HDR_SQL,
        HTTP_SNIFF_SOURCE_SQL,
        HTTP_SNIFF_TEXT_SQL,
    )

    url = URL_SYNTH_SQL.format(id="doc_id", src="source")
    hdr = HTTP_SNIFF_HDR_SQL.format(id="doc_id")
    label = HTTP_SNIFF_CHARSET_SQL.format(id="doc_id")
    source = HTTP_SNIFF_SOURCE_SQL.format(id="doc_id")
    text = HTTP_SNIFF_TEXT_SQL.format(id="doc_id", text="text")
    return f"""
        WITH u AS (SELECT doc_id, (doc_id // 8) AS container_id,
                     text, {url} AS url
                   FROM documents),
        w AS (SELECT *,
                CAST(row_number() OVER (PARTITION BY container_id
                     ORDER BY doc_id) - 1 AS INT) AS record_no
              FROM u)
        SELECT container_id, record_no, url AS target_uri,
               {hdr} AS header_charset,
               {label} AS charset, {source} AS source,
               {text} AS text
        FROM w
    """


def _charset_sniff_disagreements_oracle() -> str:
    """Classes 1, 2 (header silent, meta declares a single-byte
    charset -> header-only utf-8 vs sniffed cp1252/latin-1) and 3
    (header latin-1, BOM utf-8 wins)."""
    from pgferry_spark.operators.domains import URL_SYNTH_SQL
    from pgferry_spark.sources.httpmsg import (
        HTTP_SNIFF_CHARSET_SQL,
        HTTP_SNIFF_HDR_SQL,
        HTTP_SNIFF_SOURCE_SQL,
    )

    url = URL_SYNTH_SQL.format(id="doc_id", src="source")
    hdr = HTTP_SNIFF_HDR_SQL.format(id="doc_id")
    label = HTTP_SNIFF_CHARSET_SQL.format(id="doc_id")
    source = HTTP_SNIFF_SOURCE_SQL.format(id="doc_id")
    return f"""
        WITH u AS (SELECT doc_id, (doc_id // 8) AS container_id,
                     text, {url} AS url
                   FROM documents),
        w AS (SELECT *,
                CAST(row_number() OVER (PARTITION BY container_id
                     ORDER BY doc_id) - 1 AS INT) AS record_no
              FROM u)
        SELECT container_id, record_no, url AS target_uri,
               {hdr} AS header_charset,
               {label} AS charset, {source} AS source
        FROM w WHERE doc_id % 6 IN (1, 2, 3)
    """


def _http_redirect_oracle() -> str:
    return _http_cte() + """
        SELECT url AS target_uri, status, url || '/moved' AS location
        FROM hw WHERE status = 301
    """


def _robots_rules_cte() -> str:
    """Shared-template robots.txt replay with RFC 9309 §2.1 MULTI-AGENT
    group union (round 12): distinct domains → synth file → line
    explode → UA-run identification (a run is broken only by a
    directive line; ``dirs_before`` — the running directive count — is
    constant across one run's UA lines) → directive lines join the
    run's FULL agent membership."""
    from pgferry_spark.operators.domains import (
        ROBOTS_DELAY_RE,
        ROBOTS_RULE_RE,
        ROBOTS_TXT_SYNTH_SQL,
        ROBOTS_UA_RE,
    )

    synth = ROBOTS_TXT_SYNTH_SQL.format(domain="domain")
    # CRLF-safe line split (round-9 ADVICE, medium): real robots.txt
    # bodies carry \r\n terminators; a bare-\n split leaves \r inside
    # every captured prefix and the gate fails open.  chr(13)||'?'||
    # chr(10) is the regex both engines read identically (no string-
    # literal escape divergence).
    return _domain_cte() + f"""
        , dd AS (SELECT DISTINCT domain FROM d),
        rt AS (SELECT domain, {synth} AS robots_txt FROM dd),
        rl AS (SELECT domain,
                 CAST(generate_subscripts(string_split_regex(robots_txt,
                   chr(13) || '?' || chr(10)), 1) - 1 AS INT)
                   AS line_no,
                 trim(lower(unnest(string_split_regex(robots_txt,
                   chr(13) || '?' || chr(10)))))
                   AS __l
               FROM rt),
        ra AS (SELECT *,
                 regexp_extract(__l, '{ROBOTS_UA_RE}', 1) AS ua,
                 regexp_extract(__l, '{ROBOTS_RULE_RE}', 1) AS rule,
                 regexp_extract(__l, '{ROBOTS_RULE_RE}', 2) AS path_prefix,
                 regexp_extract(__l, '{ROBOTS_DELAY_RE}', 1) AS delay,
                 CASE WHEN regexp_extract(__l, '{ROBOTS_RULE_RE}', 1) <> ''
                        OR regexp_extract(__l, '{ROBOTS_DELAY_RE}', 1) <> ''
                      THEN 1 ELSE 0 END AS is_dir
               FROM rl),
        rb AS (SELECT *,
                 SUM(is_dir) OVER (PARTITION BY domain ORDER BY line_no
                   ROWS UNBOUNDED PRECEDING) - is_dir AS dirs_before
               FROM ra),
        rc AS (SELECT *,
                 last_value(CASE WHEN ua <> '' THEN dirs_before END
                   IGNORE NULLS) OVER (PARTITION BY domain ORDER BY line_no
                   ROWS UNBOUNDED PRECEDING) AS grp
               FROM rb),
        ag AS (SELECT DISTINCT domain, dirs_before AS grp, ua AS agent
               FROM rc WHERE ua <> ''),
        rules AS (SELECT r.domain, a.agent, r.rule, r.path_prefix
                  FROM rc r JOIN ag a
                    ON r.domain = a.domain AND r.grp = a.grp
                  WHERE r.rule <> '' AND r.path_prefix <> '')
    """


def _robots_sitemap_oracle() -> str:
    """Shared-template replay of the sitemap discovery: the decorated
    synth (base robots synth + directive decoration, both module
    templates verbatim), a case-PRESERVING CRLF-safe line split, and
    the same (?i) field-name regex."""
    from pgferry_spark.operators.domains import (
        ROBOTS_SITEMAP_RE,
        ROBOTS_SITEMAP_SYNTH_SQL,
        ROBOTS_TXT_SYNTH_SQL,
    )

    base = ROBOTS_TXT_SYNTH_SQL.format(domain="domain")
    synth = ROBOTS_SITEMAP_SYNTH_SQL.format(domain="domain", txt=f"({base})")
    return _domain_cte() + f"""
        , dd AS (SELECT DISTINCT domain FROM d),
        rt AS (SELECT domain, {synth} AS robots_txt FROM dd),
        rl AS (SELECT domain,
                 CAST(generate_subscripts(string_split_regex(robots_txt,
                   chr(13) || '?' || chr(10)), 1) - 1 AS INT)
                   AS line_no,
                 trim(unnest(string_split_regex(robots_txt,
                   chr(13) || '?' || chr(10))))
                   AS __l
               FROM rt)
        SELECT domain, line_no,
               regexp_extract(__l, '{ROBOTS_SITEMAP_RE}', 1) AS sitemap_url
        FROM rl
        WHERE regexp_extract(__l, '{ROBOTS_SITEMAP_RE}', 1) <> ''
    """


def _pct_ctes(prev: str, col: str, keep: str, tag: str) -> tuple[str, str]:
    """Staged unreserved %-decode CTE chain over ``col`` (the shared
    pct_chunk_sql template) — returns (cte_sql, final_cte_name)."""
    from pgferry_spark.operators.domains import (
        n_pct_chunks,
        pct_chunk_sql,
        pct_flag_sql,
    )

    parts, cur = [], prev
    flag = pct_flag_sql(col)
    for i in range(n_pct_chunks()):
        nm = f"__{tag}{i}"
        parts.append(
            f", {nm} AS (SELECT {keep},"
            f" {pct_chunk_sql(col, flag, i)} AS {col} FROM {cur})"
        )
        cur = nm
    return "".join(parts), cur


def _robots_filter_oracle(agent: str = "*") -> str:
    """RFC 9309 verdict replay (round 10: full pattern semantics): the
    agent's group per domain with *-fallback, unreserved %-decode on
    BOTH sides, rule→anchored-regex translation via the shared
    robots_pattern_sql template, then the correlated argmax (pattern
    length DESC, allow-beats-disallow on ties, LIMIT 1); documents kept
    unless the winner is a disallow."""
    from pgferry_spark.operators.domains import (
        URL_PATH_SQL,
        robots_pattern_sql,
    )

    path = URL_PATH_SQL.format(url="url")
    rules_pct, rules_last = _pct_ctes("rsel", "__pn", "domain, rule", "rn")
    path_pct, path_last = _pct_ctes(
        "p", "__path", "doc_id, domain, url", "pp"
    )
    pat = robots_pattern_sql("__pn")
    return _robots_rules_cte() + f"""
        , rfall AS (SELECT *,
            max(CASE WHEN agent = '{agent}' THEN 1 ELSE 0 END)
              OVER (PARTITION BY domain) AS __spec
          FROM rules WHERE agent = '{agent}' OR agent = '*'),
        rsel AS (SELECT domain, rule, path_prefix AS __pn FROM rfall
                 WHERE agent = '{agent}' OR __spec = 0)
        {rules_pct}
        , rpat AS (SELECT domain, rule, length(__pn) AS __plen,
                     {pat} AS __pat
                   FROM {rules_last}),
        p AS (SELECT doc_id, domain, url, {path} AS __path FROM d)
        {path_pct}
        SELECT doc_id, domain, url FROM {path_last} p2
        WHERE COALESCE((
          SELECT r.rule FROM rpat r
          WHERE r.domain = p2.domain
            AND regexp_matches(p2.__path, r.__pat)
          ORDER BY r.__plen DESC,
                   CASE WHEN r.rule = 'allow' THEN 1 ELSE 0 END DESC
          LIMIT 1), 'allow') <> 'disallow'
    """


def _robots_status_gate_oracle() -> str:
    """Policy CASE over the shared status synth + the nested full
    rule-verdict replay (the _frontier_schedule_oracle composition
    pattern: a complete oracle query becomes one CTE)."""
    from pgferry_spark.operators.domains import (
        ROBOTS_POLICY_SQL,
        ROBOTS_STATUS_SYNTH_SQL,
    )

    synth = ROBOTS_STATUS_SYNTH_SQL.format(domain="domain")
    policy = ROBOTS_POLICY_SQL.format(status="rstatus")
    return _domain_cte() + f"""
        , st AS (SELECT DISTINCT domain, CAST({synth} AS INT) AS rstatus
                 FROM d),
        pol AS (SELECT domain, {policy} AS policy FROM st),
        fo AS ({_robots_filter_oracle()})
        SELECT d.doc_id, d.domain, d.url,
               COALESCE(pol.policy, 'allow_all') AS policy
        FROM d LEFT JOIN pol ON d.domain = pol.domain
        WHERE COALESCE(pol.policy, 'allow_all') <> 'disallow_all'
          AND (COALESCE(pol.policy, 'allow_all') = 'allow_all'
               OR EXISTS (SELECT 1 FROM fo WHERE fo.doc_id = d.doc_id))
    """


def _robots_delay_oracle() -> str:
    """Delay lines join the §2.1 group membership exactly like rules —
    a delay inside a multi-agent group yields one row per agent."""
    return _robots_rules_cte() + """
        SELECT c.domain, a.agent, CAST(c.delay AS INT) AS delay_s
        FROM rc c JOIN ag a ON c.domain = a.domain AND c.grp = a.grp
        WHERE c.delay <> ''
    """


def _crawl_frontier_oracle() -> str:
    """Frontier replay: href canonicalization over the link list, link-
    authority rollup per nurl, NOT EXISTS anti join against the crawled
    URL index, per-domain pruning rank."""
    from pgferry_spark.operators.domains import (
        DOMAIN_SQL,
        HOST_SQL,
        NURL_SQL,
        QCLEAN_SQL,
        URL_SYNTH_SQL,
    )

    host = HOST_SQL.format(url="href")
    dom = DOMAIN_SQL.format(host="host")
    qc = QCLEAN_SQL.format(url="href", g=", 'g'")
    nurl = NURL_SQL.format(url="href", host="host")
    url2 = URL_SYNTH_SQL.format(id="doc_id", src="source")
    host2 = HOST_SQL.format(url="url")
    qc2 = QCLEAN_SQL.format(url="url", g=", 'g'")
    nurl2 = NURL_SQL.format(url="url", host="host")
    return _links_cte() + f"""
        , lh AS (SELECT *, {host} AS host FROM l),
        ld AS (SELECT *, {dom} AS domain FROM lh),
        lq AS (SELECT *, {qc} AS __q FROM ld),
        ln AS (SELECT *, {nurl} AS nurl FROM lq),
        cand AS (SELECT nurl, min(domain) AS domain,
                   count(*) AS n_links,
                   count(DISTINCT doc_id) AS n_src_docs
                 FROM ln GROUP BY nurl),
        u2 AS (SELECT doc_id, source, {url2} AS url FROM documents
               WHERE doc_id % 2 = 0),
        h2 AS (SELECT *, {host2} AS host FROM u2),
        q2 AS (SELECT *, {qc2} AS __q FROM h2),
        n2 AS (SELECT DISTINCT {nurl2} AS nurl FROM q2),
        fresh AS (SELECT c.* FROM cand c
                  WHERE NOT EXISTS
                    (SELECT 1 FROM n2 WHERE n2.nurl = c.nurl)),
        rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY domain
                   ORDER BY n_links DESC, n_src_docs DESC, nurl ASC)
                 AS INT) AS rank
               FROM fresh)
        SELECT nurl, domain, CAST(n_links AS BIGINT) AS n_links,
               CAST(n_src_docs AS BIGINT) AS n_src_docs, rank
        FROM rk WHERE rank <= 5
    """


def _sitemap_oracle() -> str:
    from pgferry_spark.operators.domains import (
        SITEMAP_LOC_RE,
        SITEMAP_SYNTH_SQL,
    )

    synth = SITEMAP_SYNTH_SQL.format(domain="domain")
    return _domain_cte() + f"""
        , dd AS (SELECT DISTINCT domain FROM d),
        sm AS (SELECT domain, {synth} AS sitemap_xml FROM dd),
        lo AS (SELECT domain,
                 CAST(generate_subscripts(
                   regexp_extract_all(sitemap_xml, '{SITEMAP_LOC_RE}', 1), 1)
                   - 1 AS INT) AS loc_no,
                 unnest(regexp_extract_all(sitemap_xml,
                   '{SITEMAP_LOC_RE}', 1)) AS loc_url
               FROM sm)
        SELECT domain, loc_no, loc_url FROM lo
    """


def _frontier_schedule_oracle() -> str:
    """Composition by nesting: the frontier query and the delay query
    (each already shared-template replays) become CTE subqueries, the
    schedule is one left join + rank arithmetic on top."""
    return f"""
        WITH f AS ({_crawl_frontier_oracle()}),
        dl AS ({_robots_delay_oracle()}),
        dm AS (SELECT domain, min(delay_s) AS delay_s FROM dl
               WHERE agent = '*' GROUP BY domain)
        SELECT f.nurl, f.domain, f.rank,
               CAST(COALESCE(dm.delay_s, 1) AS INT) AS delay_s,
               CAST((f.rank - 1) * COALESCE(dm.delay_s, 1) AS BIGINT)
                 AS fetch_at_s
        FROM f LEFT JOIN dm ON f.domain = dm.domain
    """


def _warc_payload_oracle() -> str:
    """The recovery proof: the oracle is simply the ORIGINAL text plus
    the container/record arithmetic — if the Spark side's parse+slice
    of real container bytes differs anywhere, the hash diverges."""
    from pgferry_spark.operators.domains import URL_SYNTH_SQL

    url = URL_SYNTH_SQL.format(id="doc_id", src="source")
    return f"""
        WITH u AS (SELECT doc_id, source, text, {url} AS url FROM documents)
        SELECT (doc_id // 8) AS container_id,
               CAST(row_number() OVER (
                    PARTITION BY (doc_id // 8)
                    ORDER BY doc_id) - 1 AS INT) AS record_no,
               url AS target_uri, text
        FROM u
    """


def _bigram_logprob_sql() -> str:
    """Shared bigram-LM CTE chain (through the per-position ``scored``
    relation) — the bigram_logprob entry closes it with the per-doc
    aggregate; ccnet_buckets layers the tier arithmetic on top."""
    return f"""
            WITH tk AS (SELECT doc_id, {_LTOKS} AS toks FROM documents),
            uni AS (
              SELECT token, COUNT(*) AS cnt_u
              FROM (SELECT unnest(toks) AS token FROM tk) GROUP BY token
            ),
            tot AS (SELECT SUM(cnt_u) AS total FROM uni),
            bg AS (
              SELECT doc_id,
                     unnest(list_transform(range(len(toks) - 1),
                                           i -> [toks[i + 1], toks[i + 2]])) AS pair
              FROM tk WHERE len(toks) >= 2
            ),
            bgc AS (SELECT pair, COUNT(*) AS cnt_b FROM bg GROUP BY pair),
            scored AS (
              SELECT bg.doc_id,
                     ln(0.75 * CAST(c.cnt_b AS DOUBLE) / up.cnt_u
                        + 0.25 * CAST(uc.cnt_u AS DOUBLE) / tot.total) AS lp
              FROM bg
              JOIN bgc c USING (pair)
              JOIN uni up ON up.token = bg.pair[1]
              JOIN uni uc ON uc.token = bg.pair[2]
              CROSS JOIN tot
            )
    """


def _kn_trigram_sql() -> str:
    """Shared interpolated-Kneser–Ney trigram chain (through the
    per-position ``scored`` relation) — the ngram_perplexity entry
    closes it with the per-doc aggregate; ccnet_buckets layers the
    tier arithmetic on top.  Every model table is an exact-integer
    aggregate of the trigram TYPE table (continuation counts =
    COUNT(*) over type rows), and the probability expression is
    spelled in the same operation order as the Spark plan — discount
    0.75 is an exact binary double, so the literals agree bit-for-bit
    (the bigram chain's rationale)."""
    return f"""
            WITH tk AS (SELECT doc_id, {_LTOKS} AS toks FROM documents),
            tp AS (
              SELECT doc_id,
                     unnest(toks[1:len(toks) - 2]) AS u,
                     unnest(toks[2:len(toks) - 1]) AS v,
                     unnest(toks[3:len(toks)]) AS w
              FROM tk WHERE len(toks) >= 3
            ),
            tri AS (SELECT u, v, w, COUNT(*) AS c3
                    FROM tp GROUP BY u, v, w),
            ctx3 AS (SELECT u, v, SUM(c3) AS c_ctx, COUNT(*) AS n1p_uv
                     FROM tri GROUP BY u, v),
            cont2 AS (SELECT v, w, COUNT(*) AS cont_vw
                      FROM tri GROUP BY v, w),
            ctx2 AS (SELECT v, SUM(cont_vw) AS ctx_v, COUNT(*) AS nt_v
                     FROM cont2 GROUP BY v),
            cont1 AS (SELECT w, COUNT(*) AS cont_w FROM cont2 GROUP BY w),
            tot AS (SELECT COUNT(*) AS total_vw FROM cont2),
            scored AS (
              SELECT tp.doc_id,
                     ln(greatest(CAST(t.c3 AS DOUBLE) - 0.75, 0.0)
                          / x3.c_ctx
                        + 0.75 * x3.n1p_uv / x3.c_ctx
                          * (greatest(CAST(c2.cont_vw AS DOUBLE) - 0.75,
                                      0.0) / x2.ctx_v
                             + 0.75 * x2.nt_v / x2.ctx_v
                               * (CAST(c1.cont_w AS DOUBLE)
                                  / tot.total_vw))) AS lp
              FROM tp
              JOIN tri t USING (u, v, w)
              JOIN ctx3 x3 USING (u, v)
              JOIN cont2 c2 USING (v, w)
              JOIN ctx2 x2 USING (v)
              JOIN cont1 c1 USING (w)
              CROSS JOIN tot
            )
    """


def _ngram_perplexity_oracle() -> str:
    """Per-doc close of the shared KN chain: logprob = round(avg, 6)
    (+0.0 folds a boundary −0.0), perplexity = round(exp(−rounded), 6)
    — exp of the ROUNDED mean on both engines, so the only float
    hazard is the one the 6dp edge round absorbs."""
    return _kn_trigram_sql() + """
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_trigrams,
                   ROUND(AVG(lp), 6) + 0.0 AS logprob,
                   ROUND(exp(-(ROUND(AVG(lp), 6) + 0.0)), 6)
                     AS perplexity
            FROM scored GROUP BY doc_id
    """


def _ccnet_buckets_oracle() -> str:
    """Tier replay (re-keyed round 14 onto the KN trigram chain): the
    shared KN chain → per-doc score + lang → distinct (lang, score)
    classes → strictly-higher cumulative count → the 3·n_gt < n
    integer tier rule.  The class window ranks distinct classes (no
    ties in its ordering by construction), mirroring the Spark side
    exactly."""
    return _kn_trigram_sql() + """
            , sc AS (
              SELECT s.doc_id, d.lang, s.logprob
              FROM (SELECT doc_id, ROUND(AVG(lp), 6) + 0.0 AS logprob
                    FROM scored GROUP BY doc_id) s
              JOIN documents d USING (doc_id)
            ),
            cls AS (SELECT lang, logprob, COUNT(*) AS c
                    FROM sc GROUP BY lang, logprob),
            cw AS (SELECT lang, logprob,
                     SUM(c) OVER (PARTITION BY lang ORDER BY logprob DESC
                                  ROWS UNBOUNDED PRECEDING) - c AS gt,
                     SUM(c) OVER (PARTITION BY lang) AS n
                   FROM cls)
            SELECT sc.doc_id, sc.lang, sc.logprob,
                   CASE WHEN cw.gt * 3 < cw.n THEN 'head'
                        WHEN cw.gt * 3 < cw.n * 2 THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM sc JOIN cw USING (lang, logprob)
    """


def _line_repetition_oracle() -> str:
    """The shared extraction CTE + the repeat synthesis + the same
    count arithmetic: per (doc, line) occurrence counts, then
    sum(c-1)/sum(c) and the char-weighted twin.  length() (character
    semantics) on both engines — strlen would count BYTES and diverge
    on the decoded punctuation."""
    return _html_cte() + f"""
        , rp AS (SELECT doc_id, {LINE_REP_SYNTH_SQL} AS rep_text FROM x),
        l AS (SELECT doc_id,
                unnest(string_split(rep_text, chr(10))) AS __l
              FROM rp),
        nb AS (SELECT doc_id, __l FROM l WHERE trim(__l) <> ''),
        pl AS (SELECT doc_id, __l, count(*) AS c FROM nb
               GROUP BY doc_id, __l)
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_lines,
               ROUND(CAST(sum(c - 1) AS DOUBLE) / sum(c), 6)
                 AS dup_line_frac,
               ROUND(CAST(sum((c - 1) * length(__l)) AS DOUBLE)
                     / sum(c * length(__l)), 6) AS dup_line_char_frac
        FROM pl GROUP BY doc_id
    """


def _warc_captures_cte() -> str:
    """Shared capture-stream replay: documents + the deterministic
    doc_id % 4 == 1 re-captures at capture_id = doc_id + 10^7."""
    from pgferry_spark.operators.domains import URL_SYNTH_SQL

    url = URL_SYNTH_SQL.format(id="doc_id", src="source")
    return f"""
        WITH u AS (SELECT doc_id, source, text, {url} AS url FROM documents),
        caps AS (SELECT doc_id AS capture_id, url, text FROM u
                 UNION ALL
                 SELECT doc_id + 10000000 AS capture_id, url, text
                 FROM u WHERE doc_id % 4 = 1),
        k AS (SELECT *, min(capture_id) OVER (PARTITION BY md5(text))
                AS keeper
              FROM caps)
    """


def _warc_revisit_oracle() -> str:
    """Keeper election replayed as a window-min over md5(text); text is
    the ORIGINAL capture text for every row, so hash-green means the
    revisit loop recovered every byte through the indirection."""
    return _warc_captures_cte() + """
        SELECT capture_id, url AS target_uri,
               capture_id <> keeper AS is_revisit, text
        FROM k
    """


def _http_revisit_oracle() -> str:
    """The server-not-modified profile replay: same keeper election,
    plus the HTTP layer — keepers parsed as 200s, revisits as the
    bodiless 304 the server sent; text is the ORIGINAL capture text
    for every row through the digest indirection."""
    return _warc_captures_cte() + """
        SELECT capture_id, url AS target_uri,
               capture_id <> keeper AS is_revisit,
               CAST(CASE WHEN capture_id <> keeper THEN 304 ELSE 200 END
                    AS INT) AS status,
               text
        FROM k
    """


def _warc_revisit_stats_oracle() -> str:
    return _warc_captures_cte() + """
        SELECT CAST(count(*) AS BIGINT) AS n_captures,
               CAST(sum(CASE WHEN capture_id <> keeper THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_revisits,
               CAST(sum(CASE WHEN capture_id <> keeper
                    THEN strlen(text) ELSE 0 END) AS BIGINT) AS bytes_saved
        FROM k
    """


def _cdx_index_oracle(with_url: bool = False) -> str:
    """The WARC closed-form offset arithmetic (see _warc_index_oracle)
    + the shared SURT template over the same synthesized target URI.
    ``with_url`` appends the target URL column (the CDXJ layer needs
    it; the recorded ``cdx_index`` schema stays untouched)."""
    from pgferry_spark.operators.domains import (
        HOST_SQL,
        SURT_DUCK,
        SURT_PORT_SQL,
        SURT_SQL,
        URL_PATH_SQL,
        URL_SYNTH_SQL,
    )

    url = URL_SYNTH_SQL.format(id="doc_id", src="source")
    host = HOST_SQL.format(url="url")
    path = URL_PATH_SQL.format(url="url")
    port = SURT_PORT_SQL.format(url="url")
    surt = SURT_SQL.format(host="host", path=path, port=port, **SURT_DUCK)
    return f"""
        WITH u AS (SELECT doc_id, source, text, {url} AS url FROM documents),
        hh AS (SELECT *, {host} AS host FROM u),
        r AS (SELECT doc_id,
                (doc_id // 8) AS container_id,
                url, host, text,
                CAST(strlen(text) AS BIGINT) AS plen,
                CAST(132 + length(CAST(doc_id AS VARCHAR)) + strlen(url)
                     + length(CAST(strlen(text) AS VARCHAR)) AS BIGINT)
                  AS hlen
              FROM hh),
        w AS (SELECT *,
                CAST(row_number() OVER (PARTITION BY container_id
                     ORDER BY doc_id) - 1 AS INT) AS record_no,
                SUM(hlen + plen + 4) OVER (PARTITION BY container_id
                     ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                  - (hlen + plen + 4) AS rec_offset
              FROM r)
        SELECT {surt} AS surt,
               container_id, record_no,
               CAST(rec_offset AS BIGINT) AS rec_offset,
               CAST(hlen + plen + 4 AS BIGINT) AS rec_len,
               md5(text) AS payload_md5{", url" if with_url else ""}
        FROM w
    """


def _cdx_zipnum_oracle() -> str:
    """The CDX closed-form replay wrapped in the zipnum blocking
    arithmetic: global rank over (surt, container, record), block =
    rank div N, per-block digest via ordered string_agg."""
    from pgferry_spark.sources.zipnum import CDX_LINE_SQL

    return f"""
        WITH cdx AS ({_cdx_index_oracle()}),
        l AS (SELECT *, {CDX_LINE_SQL} AS cdx_line,
                CAST(row_number() OVER (ORDER BY surt, container_id,
                     record_no) - 1 AS BIGINT) AS rn
              FROM cdx)
        SELECT CAST(rn // 8 AS BIGINT) AS block_no,
               min(surt) AS first_surt,
               max(surt) AS last_surt,
               CAST(count(*) AS BIGINT) AS n_lines,
               md5(string_agg(cdx_line, chr(10) ORDER BY rn)) AS lines_md5
        FROM l GROUP BY 1
    """


def _cdxj_cte() -> str:
    """The CDX closed-form replay (with the target URL) enriched with
    the same shared templates the Spark side evaluates: fetch
    timestamp, media type, status, official shard filename."""
    from pgferry_spark.sources.httpmsg import (
        HTTP_MEDIA_SQL,
        HTTP_STATUS_SQL,
    )
    from pgferry_spark.sources.zipnum import (
        FETCH_TS_SQL,
        WARC_FILENAME_SQL,
    )

    i = "(container_id * 8 + record_no)"
    return f"""
        WITH cdx AS ({_cdx_index_oracle(with_url=True)}),
        e AS (SELECT *,
                {FETCH_TS_SQL.format(id=i)} AS fetch_ts,
                {HTTP_MEDIA_SQL.format(id=i)} AS mime,
                CAST({HTTP_STATUS_SQL.format(id=i)} AS INT) AS status,
                {WARC_FILENAME_SQL.format(cid="container_id")} AS filename
              FROM cdx)
    """


def _cdxj_index_oracle() -> str:
    """The official line assembled by the SAME shared template the
    Spark side evaluates — byte parity is the point."""
    from pgferry_spark.sources.zipnum import CDXJ_LINE_SQL

    line = CDXJ_LINE_SQL.format(
        urlkey="surt",
        ts="fetch_ts",
        url="url",
        mime="mime",
        status="status",
        digest="payload_md5",
        length="rec_len",
        offset="rec_offset",
        filename="filename",
    )
    return _cdxj_cte() + f"""
        SELECT surt, fetch_ts, {line} AS cdxj_line FROM e
    """


def _cdxj_extract_oracle() -> str:
    """The typed fields directly — what emit ∘ parse must recover."""
    return _cdxj_cte() + """
        SELECT surt AS urlkey, fetch_ts, url, mime, status,
               payload_md5 AS digest,
               rec_len AS "length", rec_offset AS "offset", filename
        FROM e
    """


def _cdxj_cluster_oracle() -> str:
    """The CDXJ closed-form replay wrapped in the zipnum blocking
    arithmetic over the official line: rank over the total key order,
    block = rank div N, per-block ordered digest."""
    from pgferry_spark.sources.zipnum import CDXJ_LINE_SQL

    line = CDXJ_LINE_SQL.format(
        urlkey="surt",
        ts="fetch_ts",
        url="url",
        mime="mime",
        status="status",
        digest="payload_md5",
        length="rec_len",
        offset="rec_offset",
        filename="filename",
    )
    return _cdxj_cte() + f"""
        , l AS (SELECT surt || ' ' || fetch_ts AS k, {line} AS cdxj_line,
                  CAST(row_number() OVER (ORDER BY surt, fetch_ts,
                       container_id, record_no) - 1 AS BIGINT) AS rn
                FROM e)
        SELECT CAST(rn // 8 AS BIGINT) AS block_no,
               min(k) AS first_key,
               max(k) AS last_key,
               CAST(count(*) AS BIGINT) AS n_lines,
               md5(string_agg(cdxj_line, chr(10) ORDER BY rn)) AS lines_md5
        FROM l GROUP BY 1
    """


def _cdxj_http_oracle() -> str:
    """The real-capture CDXJ replay: envelope head-length arithmetic
    (the _http_index_oracle formula) + the 241-byte WARC header
    constant (241 + id digits + url octets + payload-length digits,
    pinned empirically against encode_warc) + running record offsets
    over ALL records of the container, filtered to the utf-8 classes
    AFTER the offsets are fixed."""
    from pgferry_spark.operators.domains import (
        HOST_SQL,
        SURT_DUCK,
        SURT_PORT_SQL,
        SURT_SQL,
        URL_PATH_SQL,
    )
    from pgferry_spark.sources.zipnum import (
        CDXJ_LINE_SQL,
        FETCH_TS_SQL,
        WARC_FILENAME_SQL,
    )

    i = "(container_id * 8 + record_no)"
    head_len = (
        "(15 + strlen(reason) + 16 + cth_len + 18"
        " + length(CAST(body_len AS VARCHAR))"
        " + CASE WHEN status = 301 THEN 18 + strlen(url) ELSE 0 END"
        " + 2)"
    )
    host = HOST_SQL.format(url="url")
    path = URL_PATH_SQL.format(url="url")
    port = SURT_PORT_SQL.format(url="url")
    surt = SURT_SQL.format(host="host", path=path, port=port, **SURT_DUCK)
    line = CDXJ_LINE_SQL.format(
        urlkey="surt",
        ts="fetch_ts",
        url="url",
        mime="content_type",
        status="status",
        digest="payload_md5",
        length="rec_len",
        offset="rec_offset",
        filename="filename",
    )
    return _http_cte() + f"""
        , r AS (SELECT *,
                  CAST({head_len} + body_len AS BIGINT) AS plen
                FROM hw),
        w AS (SELECT *,
                CAST(241 + length(CAST(doc_id AS VARCHAR)) + strlen(url)
                     + length(CAST(plen AS VARCHAR)) AS BIGINT) AS hlen
              FROM r),
        o AS (SELECT *,
                SUM(hlen + plen + 4) OVER (PARTITION BY container_id
                    ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                  - (hlen + plen + 4) AS rec_offset,
                CAST(hlen + plen + 4 AS BIGINT) AS rec_len
              FROM w),
        e AS (SELECT *, {host} AS host,
                md5(text) AS payload_md5,
                {FETCH_TS_SQL.format(id=i)} AS fetch_ts,
                {WARC_FILENAME_SQL.format(cid="container_id")} AS filename
              FROM o WHERE doc_id % 5 IN (0, 3, 4)),
        e2 AS (SELECT *, {surt} AS surt FROM e)
        SELECT surt, fetch_ts, {line} AS cdxj_line FROM e2
    """


def _index_routed_retrieval_oracle() -> str:
    """Closed-form replay of the retrieval audit: per md5-replayable
    capture its urlkey, fetch timestamp, and body digest — with
    rehydrated = digest and ok = true, because a correct
    publish→lookup→ranged-read route returns exactly the bytes the
    full scan digested.  Any routing, offset, or framing defect on the
    Spark side breaks the hash."""
    from pgferry_spark.operators.domains import (
        HOST_SQL,
        SURT_DUCK,
        SURT_PORT_SQL,
        SURT_SQL,
        URL_PATH_SQL,
    )
    from pgferry_spark.sources.zipnum import FETCH_TS_SQL

    i = "(container_id * 8 + record_no)"
    host = HOST_SQL.format(url="url")
    path = URL_PATH_SQL.format(url="url")
    port = SURT_PORT_SQL.format(url="url")
    surt = SURT_SQL.format(host="host", path=path, port=port, **SURT_DUCK)
    return _http_cte() + f"""
        , e AS (SELECT *, {host} AS host,
                  md5(text) AS payload_md5,
                  {FETCH_TS_SQL.format(id=i)} AS fetch_ts
                FROM hw WHERE doc_id % 5 IN (0, 3, 4))
        SELECT {surt} AS urlkey, fetch_ts,
               payload_md5 AS digest, payload_md5 AS rehydrated,
               true AS ok
        FROM e
    """


def _cdx_closest_capture_oracle() -> str:
    """The closest election replayed over the shared CDXJ replay CTE:
    same abs-diff metric, same deterministic tiebreak."""
    return _cdxj_cte() + """
        , ranked AS (SELECT *,
            row_number() OVER (PARTITION BY surt ORDER BY
                abs(epoch(try_strptime(fetch_ts, '%Y%m%d%H%M%S'))
                    - epoch(strptime('20240815120000',
                                     '%Y%m%d%H%M%S'))) ASC NULLS LAST,
                fetch_ts, container_id, record_no) AS __rn
          FROM e)
        SELECT surt, fetch_ts, container_id, record_no,
               rec_offset, rec_len, status, mime
        FROM ranked WHERE __rn = 1
    """


def _recrawl_change_rate_oracle() -> str:
    """Synthesis + lag adjacency + the CGM estimator, replayed: ln is
    the natural log in BOTH engines' `ln`; round-6 at the edge; floor
    before the BIGINT cast (Spark truncates, DuckDB rounds)."""
    from pgferry_spark.operators.domains import (
        HOST_SQL,
        NURL_SQL,
        QCLEAN_SQL,
        URL_SYNTH_SQL,
    )

    url = URL_SYNTH_SQL.format(id="doc_id", src="source")
    host = HOST_SQL.format(url="url")
    qc = QCLEAN_SQL.format(url="url", g=", 'g'")
    nurl = NURL_SQL.format(url="url", host="host")
    return f"""
        WITH u AS (SELECT doc_id, source, text, {url} AS url
                   FROM documents),
        hh AS (SELECT *, {host} AS host FROM u),
        q AS (SELECT *, {qc} AS __q FROM hh),
        nn AS (SELECT *, {nurl} AS nurl FROM q),
        h AS (SELECT nurl,
                1723723200 + i * 7200 AS ts_s,
                md5(text || CAST((doc_id + i) // 3 AS STRING)) AS digest
              FROM nn, LATERAL (SELECT unnest(range(0,
                   CAST(doc_id % 4 AS INT) + 1)) AS i) gen),
        c AS (SELECT *,
                CASE WHEN lag(digest) OVER
                       (PARTITION BY nurl ORDER BY ts_s, digest)
                     IS NOT NULL
                     AND digest <> lag(digest) OVER
                       (PARTITION BY nurl ORDER BY ts_s, digest)
                     THEN 1 ELSE 0 END AS __chg
              FROM h),
        g AS (SELECT nurl,
                count(*) AS n_captures,
                sum(__chg) AS n_changes,
                max(ts_s) - min(ts_s) AS span_s,
                max(ts_s) AS __last
              FROM c GROUP BY nurl)
        SELECT nurl,
               CAST(n_captures AS BIGINT) AS n_captures,
               CAST(n_changes AS BIGINT) AS n_changes,
               CAST(span_s AS BIGINT) AS span_s,
               CASE WHEN n_captures - 1 > 0 AND span_s > 0 THEN
                 round(-ln((n_captures - 1 - n_changes + 0.5)
                           / (n_captures - 1 + 0.5))
                       * (n_captures - 1) / span_s * 86400.0, 6) + 0.0
               END AS change_rate_per_day,
               CASE WHEN n_captures - 1 > 0 THEN
                 CAST(floor(span_s / greatest(n_changes, 1)) AS BIGINT)
               END AS est_interval_s,
               CAST(__last + coalesce(
                 CASE WHEN n_captures - 1 > 0 THEN
                   CAST(floor(span_s / greatest(n_changes, 1)) AS BIGINT)
                 END, 604800) AS BIGINT) AS next_due_s
        FROM g
    """


def _sitemap_lastmod_oracle() -> str:
    from pgferry_spark.operators.domains import (
        SITEMAP_FULL_SYNTH_SQL,
        SITEMAP_LASTMOD_RE,
        SITEMAP_LOC_RE,
        SITEMAP_URL_BLOCK_RE,
    )

    synth = SITEMAP_FULL_SYNTH_SQL.format(domain="domain")
    return _domain_cte() + f"""
        , dd AS (SELECT DISTINCT domain FROM d),
        sm AS (SELECT domain, {synth} AS sitemap_xml FROM dd),
        bl AS (SELECT domain,
                 CAST(generate_subscripts(
                   regexp_extract_all(sitemap_xml,
                     '{SITEMAP_URL_BLOCK_RE}', 1), 1) - 1 AS INT)
                   AS loc_no,
                 unnest(regexp_extract_all(sitemap_xml,
                   '{SITEMAP_URL_BLOCK_RE}', 1)) AS __b
               FROM sm)
        SELECT domain, loc_no,
               regexp_extract(__b, '{SITEMAP_LOC_RE}', 1) AS loc_url,
               regexp_extract(__b, '{SITEMAP_LASTMOD_RE}', 1) AS lastmod
        FROM bl
    """


def _sitemap_changed_since_oracle() -> str:
    from pgferry_spark.operators.domains import (
        SITEMAP_FULL_SYNTH_SQL,
        SITEMAP_LASTMOD_RE,
        SITEMAP_LOC_RE,
        SITEMAP_URL_BLOCK_RE,
    )

    synth = SITEMAP_FULL_SYNTH_SQL.format(domain="domain")
    return _domain_cte() + f"""
        , dd AS (SELECT DISTINCT domain FROM d),
        sm AS (SELECT domain, {synth} AS sitemap_xml FROM dd),
        bl AS (SELECT domain,
                 unnest(regexp_extract_all(sitemap_xml,
                   '{SITEMAP_URL_BLOCK_RE}', 1)) AS __b
               FROM sm),
        en AS (SELECT domain,
                 regexp_extract(__b, '{SITEMAP_LOC_RE}', 1) AS loc_url,
                 regexp_extract(__b, '{SITEMAP_LASTMOD_RE}', 1)
                   AS lastmod
               FROM bl),
        ep AS (SELECT domain, loc_url,
                 CAST(epoch(coalesce(
                   try_strptime(lastmod, '%Y-%m-%dT%H:%M:%SZ'),
                   try_strptime(lastmod, '%Y-%m-%d')))
                   AS BIGINT) AS lastmod_s
               FROM en),
        cp AS (SELECT 'https://' || domain || p AS loc_url,
                 CAST(1723723200 - (length(domain) % 5) * 86400
                      AS BIGINT) AS last_capture_s
               FROM dd, LATERAL (SELECT unnest(
                 ['/guide', '/news']) AS p) pp)
        SELECT ep.domain, ep.loc_url, ep.lastmod_s,
               cp.last_capture_s,
               (cp.last_capture_s IS NULL OR ep.lastmod_s IS NULL
                OR ep.lastmod_s > cp.last_capture_s) AS fetch
        FROM ep LEFT JOIN cp ON ep.loc_url = cp.loc_url
    """


def _crawl_budget_allocate_oracle() -> str:
    """Rates chain nested as a CTE, then the integer largest-remainder
    replay: micro-unit quantization, base = du*B // tu, remainder
    seats by (du*B % tu) desc with the site tiebreak."""
    B = 1_000_000
    return f"""
        WITH r AS ({_recrawl_change_rate_oracle()}),
        s AS (SELECT split_part(nurl, '/', 1) AS site,
                CAST(round(coalesce(change_rate_per_day, 1.0/7) * 1e6)
                     AS BIGINT) AS mu
              FROM r),
        d AS (SELECT site, CAST(count(*) AS BIGINT) AS n_urls,
                CAST(sum(mu) AS BIGINT) AS du
              FROM s GROUP BY site),
        t AS (SELECT CAST(sum(du) AS BIGINT) AS tu,
                     CAST(count(*) AS BIGINT) AS ns FROM d),
        j AS (SELECT d.*, t.tu,
                CASE WHEN t.tu = 0 THEN 1 ELSE du END * {B}
                  // CASE WHEN t.tu = 0 THEN t.ns ELSE t.tu END AS base,
                CASE WHEN t.tu = 0 THEN 1 ELSE du END * {B}
                  % CASE WHEN t.tu = 0 THEN t.ns ELSE t.tu END AS rem
              FROM d CROSS JOIN t),
        lf AS (SELECT {B} - CAST(sum(base) AS BIGINT) AS leftover
               FROM j),
        rk AS (SELECT j.*, lf.leftover,
                 row_number() OVER (ORDER BY rem DESC, site ASC)
                   AS rk
               FROM j CROSS JOIN lf)
        SELECT site, n_urls, du AS demand_micro,
               CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
                    AS BIGINT) AS alloc_budget
        FROM rk
    """


def _cc_index_host_stats_oracle() -> str:
    return f"""
        WITH t AS ({_cc_index_table_oracle()})
        SELECT url_host_name,
               CAST(count(*) AS BIGINT) AS n_captures,
               CAST(sum(CASE WHEN fetch_status = 200 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_ok,
               CAST(count(DISTINCT content_mime_type) AS BIGINT)
                 AS n_mimes,
               CAST(sum(warc_record_length) AS BIGINT) AS stored_bytes,
               min(fetch_time) AS first_fetch,
               max(fetch_time) AS last_fetch
        FROM t GROUP BY url_host_name
    """


def _cdx11_index_oracle() -> str:
    """The classic line assembled by the SAME shared template."""
    from pgferry_spark.sources.zipnum import CDX11_LINE_SQL

    line = CDX11_LINE_SQL.format(
        urlkey="surt",
        ts="fetch_ts",
        url="url",
        mime="mime",
        status="status",
        digest="payload_md5",
        length="rec_len",
        offset="rec_offset",
        filename="filename",
    )
    return _cdxj_cte() + f"""
        SELECT surt, fetch_ts, {line} AS cdx11_line FROM e
    """


def _cc_index_table_oracle() -> str:
    """The official column names over the same closed forms; the one
    non-string is fetch_time (strptime of the shared 14-digit ts)."""
    from pgferry_spark.sources.httpmsg import HTTP_CHARSET_SQL

    i = "(container_id * 8 + record_no)"
    charset = HTTP_CHARSET_SQL.format(id=i)
    return _cdxj_cte() + f"""
        SELECT surt AS url_surtkey, url,
               {_cdxj_host_sql()} AS url_host_name,
               strptime(fetch_ts, '%Y%m%d%H%M%S') AS fetch_time,
               status AS fetch_status,
               payload_md5 AS content_digest,
               mime AS content_mime_type,
               {charset} AS content_charset,
               filename AS warc_filename,
               rec_offset AS warc_record_offset,
               rec_len AS warc_record_length,
               '1723000000000.0' AS warc_segment,
               'CC-MAIN-2024-33' AS crawl
        FROM e
    """


def _cdxj_host_sql() -> str:
    """The shared lowercased-host extraction over the e-CTE's url."""
    from pgferry_spark.operators.domains import HOST_SQL

    return HOST_SQL.format(url="url")


def _warc_gzip_index_oracle() -> str:
    """The closed-form half of the gzip index: record identity,
    uncompressed payload length, payload md5, type, URI — everything
    except the deflate-dependent member offsets (those are pinned by
    the pytest round-trip).  md5-green means the member walk recovered
    every payload byte-exactly through gzip."""
    from pgferry_spark.operators.domains import URL_SYNTH_SQL

    url = URL_SYNTH_SQL.format(id="doc_id", src="source")
    return f"""
        WITH u AS (SELECT doc_id, source, text, {url} AS url FROM documents)
        SELECT (doc_id // 8) AS container_id,
               CAST(row_number() OVER (
                    PARTITION BY (doc_id // 8)
                    ORDER BY doc_id) - 1 AS INT) AS record_no,
               CAST(strlen(text) AS BIGINT) AS payload_len,
               md5(text) AS payload_md5,
               'response' AS warc_type,
               url AS target_uri
        FROM u
    """


def _wet_index_oracle() -> str:
    """Closed-form byte arithmetic for the WET conversion index: the
    conversion header template is 168 bytes + twice the doc_id digits
    (record id ``conv-<id>`` + the Refers-To pointer) + URI octets +
    Content-Length digits; every offset is shifted by the container's
    warcinfo leader record, whose length is a constant (fixed manifest
    payload + fixed URI) plus the container_id digits.  The Spark side
    PARSES the exporter's real bytes, so green means export framing and
    arithmetic agree to the byte."""
    from pgferry_spark.operators.domains import URL_SYNTH_SQL
    from pgferry_spark.sources.warc import WET_INFO_PAYLOAD, WET_INFO_URI

    # warcinfo record: version line 10 + 'WARC-Type: warcinfo' 21 +
    # 'WARC-Record-ID: <urn:uuid:info-{cid}>' 34+digits + target-uri
    # line 19+len(uri) + date line 33 + content-length line
    # 18+len(str(plen)) + blank 2 + payload + trailing CRLFCRLF 4
    info_plen = len(WET_INFO_PAYLOAD)
    info_const = (
        10 + 21 + 34 + 19 + len(WET_INFO_URI) + 33
        + 18 + len(str(info_plen)) + 2 + info_plen + 4
    )
    url = URL_SYNTH_SQL.format(id="doc_id", src="source")
    return f"""
        WITH u AS (SELECT doc_id, source, text, {url} AS url FROM documents),
        r AS (SELECT doc_id,
                (doc_id // 8) AS container_id,
                url, text,
                CAST(strlen(text) AS BIGINT) AS plen,
                CAST(168 + 2 * length(CAST(doc_id AS VARCHAR)) + strlen(url)
                     + length(CAST(strlen(text) AS VARCHAR)) AS BIGINT)
                  AS hlen
              FROM u),
        w AS (SELECT *,
                CAST(row_number() OVER (PARTITION BY container_id
                     ORDER BY doc_id) AS INT) AS record_no,
                CAST({info_const}
                     + length(CAST(container_id AS VARCHAR)) AS BIGINT)
                  + SUM(hlen + plen + 4) OVER (PARTITION BY container_id
                     ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                  - (hlen + plen + 4) AS rec_offset
              FROM r)
        SELECT container_id, record_no,
               CAST(rec_offset AS BIGINT) AS rec_offset,
               CAST(hlen + plen + 4 AS BIGINT) AS rec_len,
               CAST(rec_offset + hlen AS BIGINT) AS payload_offset,
               CAST(plen AS BIGINT) AS payload_len,
               md5(text) AS payload_md5,
               'conversion' AS warc_type,
               url AS target_uri
        FROM w
    """


def _warc_dedup_manifest_oracle() -> str:
    """Keeper election replayed as a window-min over md5(text) (the
    revisit CTE), container/record addresses from the closed-form
    div-8 arithmetic, keeper address recovered by joining the keeper
    capture id back onto its own numbered row."""
    return _warc_captures_cte() + """
        , r AS (SELECT capture_id, url, text, keeper,
                 (capture_id // 8) AS container_id,
                 CAST(row_number() OVER (PARTITION BY (capture_id // 8)
                      ORDER BY capture_id) - 1 AS INT) AS record_no
               FROM k),
        kk AS (SELECT capture_id AS kid, container_id AS keeper_container,
                      record_no AS keeper_record
               FROM r)
        SELECT r.container_id, r.record_no, r.url AS target_uri,
               md5(r.text) AS payload_md5,
               (r.capture_id = r.keeper) AS is_keeper,
               kk.keeper_container, kk.keeper_record
        FROM r JOIN kk ON kk.kid = r.keeper
    """


def _frontier_bloom_oracle() -> str:
    """The bloom bit table replayed bit-for-bit: salted md5 60-bit
    hash (the sketches.py _hash60 twin) over the shared nurl
    templates."""
    from pgferry_spark.operators.domains import (
        HOST_SQL,
        NURL_SQL,
        QCLEAN_SQL,
        URL_SYNTH_SQL,
    )

    url = URL_SYNTH_SQL.format(id="doc_id", src="source")
    host = HOST_SQL.format(url="url")
    qc = QCLEAN_SQL.format(url="url", g=", 'g'")
    nurl = NURL_SQL.format(url="url", host="host")
    h = "('0x' || substr(md5('bf' || j || ':' || nurl), 1, 15))::BIGINT"
    return f"""
        WITH u AS (SELECT doc_id, source, text, {url} AS url FROM documents),
        hh AS (SELECT *, {host} AS host FROM u),
        q AS (SELECT *, {qc} AS __q FROM hh),
        n AS (SELECT doc_id, {nurl} AS nurl FROM q),
        crawled AS (SELECT DISTINCT nurl FROM n WHERE doc_id % 2 = 0),
        cand AS (SELECT DISTINCT nurl FROM n),
        bits AS (SELECT DISTINCT CAST({h} % 8192 AS INT) AS bit
                 FROM crawled, unnest([0,1,2,3,4]) AS u2(j)),
        cells AS (SELECT nurl AS key, CAST({h} % 8192 AS INT) AS bit
                  FROM cand, unnest([0,1,2,3,4]) AS u3(j)),
        probe AS (SELECT key,
                    min(CASE WHEN bits.bit IS NULL THEN 0 ELSE 1 END) = 1
                      AS maybe_present
                  FROM cells LEFT JOIN bits USING (bit) GROUP BY 1)
        SELECT p.key, p.maybe_present,
               EXISTS (SELECT 1 FROM crawled c WHERE c.nurl = p.key) AS seen
        FROM probe p
    """


def _wat_index_oracle() -> str:
    """WET arithmetic with the metadata header width: base 166
    ('metadata' is two bytes narrower than 'conversion') + twice the
    doc_id digits + URI octets + Content-Length digits, the payload
    being the shared-template JSON envelope; warcinfo shift as in
    :func:`_wet_index_oracle` with the WAT manifest constant."""
    from pgferry_spark.operators.domains import URL_SYNTH_SQL
    from pgferry_spark.sources.warc import (
        WAT_INFO_PAYLOAD,
        WAT_JSON_SQL,
        WET_INFO_URI,
    )

    info_plen = len(WAT_INFO_PAYLOAD)
    info_const = (
        10 + 21 + 34 + 19 + len(WET_INFO_URI) + 33
        + 18 + len(str(info_plen)) + 2 + info_plen + 4
    )
    url = URL_SYNTH_SQL.format(id="doc_id", src="source")
    wat = WAT_JSON_SQL.format(url="url", text="text", blen="strlen")
    return f"""
        WITH u AS (SELECT doc_id, source, text, {url} AS url FROM documents),
        j AS (SELECT doc_id, url, {wat} AS wat_json FROM u),
        r AS (SELECT doc_id,
                (doc_id // 8) AS container_id,
                url, wat_json,
                CAST(strlen(wat_json) AS BIGINT) AS plen,
                CAST(166 + 2 * length(CAST(doc_id AS VARCHAR)) + strlen(url)
                     + length(CAST(strlen(wat_json) AS VARCHAR)) AS BIGINT)
                  AS hlen
              FROM j),
        w AS (SELECT *,
                CAST(row_number() OVER (PARTITION BY container_id
                     ORDER BY doc_id) AS INT) AS record_no,
                CAST({info_const}
                     + length(CAST(container_id AS VARCHAR)) AS BIGINT)
                  + SUM(hlen + plen + 4) OVER (PARTITION BY container_id
                     ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                  - (hlen + plen + 4) AS rec_offset
              FROM r)
        SELECT container_id, record_no,
               CAST(rec_offset AS BIGINT) AS rec_offset,
               CAST(hlen + plen + 4 AS BIGINT) AS rec_len,
               CAST(rec_offset + hlen AS BIGINT) AS payload_offset,
               CAST(plen AS BIGINT) AS payload_len,
               md5(wat_json) AS payload_md5,
               'metadata' AS warc_type,
               url AS target_uri
        FROM w
    """


def _wat_extract_oracle() -> str:
    """The sidecar loop proof from the SOURCE side: the describing
    fields straight off the corpus — the Spark side must recover the
    same values by parsing JSON payloads out of real container
    bytes."""
    from pgferry_spark.operators.domains import URL_SYNTH_SQL

    url = URL_SYNTH_SQL.format(id="doc_id", src="source")
    return f"""
        WITH u AS (SELECT doc_id, source, text, {url} AS url FROM documents)
        SELECT (doc_id // 8) AS container_id,
               CAST(row_number() OVER (
                    PARTITION BY (doc_id // 8)
                    ORDER BY doc_id) AS INT) AS record_no,
               url AS target_uri,
               url AS meta_url,
               md5(text) AS meta_md5,
               CAST(strlen(text) AS BIGINT) AS meta_len
        FROM u
    """


def _wet_text_oracle() -> str:
    """The consumption proof: the ORIGINAL text, keyed by the WET
    record geometry (warcinfo is record 0, conversions 1..n in doc
    order)."""
    from pgferry_spark.operators.domains import URL_SYNTH_SQL

    url = URL_SYNTH_SQL.format(id="doc_id", src="source")
    return f"""
        WITH u AS (SELECT doc_id, source, text, {url} AS url FROM documents)
        SELECT (doc_id // 8) AS container_id,
               CAST(row_number() OVER (
                    PARTITION BY (doc_id // 8)
                    ORDER BY doc_id) AS INT) AS record_no,
               url AS target_uri, text
        FROM u
    """


def _anchors_cte() -> str:
    """Whole-anchor-element replay: same synth, same ANCHOR templates,
    unnest + generate_subscripts for the ordinality."""
    from pgferry_spark.operators.html import (
        ANCHOR_RE,
        ANCHOR_TEXT_RE,
        HREF_RE,
        HTML_SYNTH_SQL,
    )

    synth = HTML_SYNTH_SQL.format(id="doc_id", txt="text", src="source")
    return f"""
        WITH h AS (SELECT doc_id, source, {synth} AS html FROM documents),
        ax AS (SELECT doc_id,
                CAST(generate_subscripts(
                  regexp_extract_all(html, '{ANCHOR_RE}', 0), 1) - 1 AS INT)
                  AS anchor_no,
                unnest(regexp_extract_all(html, '{ANCHOR_RE}', 0)) AS el
              FROM h),
        a AS (SELECT doc_id, anchor_no,
                regexp_extract(el, '{HREF_RE}', 1) AS href,
                trim(regexp_extract(el, '{ANCHOR_TEXT_RE}', 1)) AS anchor_text
              FROM ax)
    """


def _anchor_stats_oracle() -> str:
    from pgferry_spark.operators.domains import DOMAIN_SQL, HOST_SQL

    host = HOST_SQL.format(url="href")
    dom = DOMAIN_SQL.format(host="host")
    return _anchors_cte() + f"""
        , hh AS (SELECT *, {host} AS host FROM a),
        d AS (SELECT *, {dom} AS domain FROM hh),
        t AS (SELECT doc_id, domain,
                unnest(string_split_regex(lower(anchor_text), ' +')) AS term
              FROM d)
        SELECT domain, term,
               CAST(count(*) AS BIGINT) AS n_mentions,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM t WHERE term <> '' GROUP BY domain, term
    """


def _html_cte() -> str:
    """Shared oracle CTE: messy-HTML synthesis + the full strip pipeline
    built from the SAME module-level SQL templates the Spark side
    evaluates via F.expr — identical by construction. The g placeholder
    is the one engine divergence (DuckDB regexp_replace needs the
    explicit global flag)."""
    from pgferry_spark.operators.html import HTML_SYNTH_SQL, html_strip_ctes

    synth = HTML_SYNTH_SQL.format(id="doc_id", txt="text", src="source")
    # staged strip (round 9): the charref decode table nests past
    # DuckDB's 128-deep binder cap as one expression, so the oracle
    # walks the same shared templates as chained CTE stages
    ctes, final = html_strip_ctes("h", "html", "doc_id")
    return f"""
        WITH h AS (SELECT doc_id, {synth} AS html FROM documents)
        {ctes},
        x AS (SELECT doc_id, clean_text FROM {final})
    """


def _line_quality_oracle() -> str:
    from pgferry_spark.operators.html import LINE_KEEP_SQL

    keep = LINE_KEEP_SQL.format(line="line")
    return _html_cte() + f"""
        , l AS (SELECT doc_id,
            CAST(generate_subscripts(string_split(clean_text, chr(10)), 1) - 1
                 AS INT) AS line_no,
            unnest(string_split(clean_text, chr(10))) AS line FROM x)
        SELECT doc_id, line_no, line FROM l WHERE {keep}
    """


def _c4_clean_oracle() -> str:
    """Fused C4 pipeline: line explode + shared keep predicate + ordered
    string_agg reassembly + the page-level minimum-kept-lines HAVING."""
    from pgferry_spark.operators.html import LINE_KEEP_SQL

    keep = LINE_KEEP_SQL.format(line="line")
    return _html_cte() + f"""
        , l AS (SELECT doc_id,
            CAST(generate_subscripts(string_split(clean_text, chr(10)), 1) - 1
                 AS INT) AS line_no,
            unnest(string_split(clean_text, chr(10))) AS line FROM x),
        k AS (SELECT doc_id, line_no, line, ({keep}) AS keep FROM l)
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS total_lines,
               CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
                 AS kept_lines,
               coalesce(string_agg(CASE WHEN keep THEN line END, chr(10)
                 ORDER BY line_no), '') AS kept_text
        FROM k GROUP BY doc_id
        HAVING sum(CASE WHEN keep THEN 1 ELSE 0 END) >= 2
    """


# EXIF oracle: the shared deterministic-field arithmetic (see
# multimodal/ops.attach_exif_jpegs); the two entries differ only in the
# GPS columns (parsed values vs post-scrub NULLs).
_EXIF_ORACLE_BASE = """
    SELECT CAST(doc_id AS BIGINT) AS media_id,
           'Cam' || CAST(doc_id % 5 AS STRING) AS make,
           'M' || CAST(doc_id % 7 AS STRING) AS model,
           CAST(1 + doc_id % 8 AS INT) AS orientation,
           '2026:01:' || lpad(CAST(1 + doc_id % 28 AS STRING), 2, '0')
               || ' 00:00:00' AS dt,
"""
_EXIF_GPS_COLS = """
           doc_id % 3 <> 2 AS has_gps,
           CASE WHEN doc_id % 3 <> 2 THEN
             (CASE WHEN doc_id % 2 = 0 THEN 'N' ELSE 'S' END) END AS lat_ref,
           CASE WHEN doc_id % 3 <> 2 THEN CAST(doc_id % 90 AS INT) END AS lat_deg,
           CASE WHEN doc_id % 3 <> 2 THEN CAST(doc_id % 60 AS INT) END AS lat_min,
           CASE WHEN doc_id % 3 <> 2 THEN CAST(doc_id * 7 % 60 AS INT) END AS lat_sec,
           CASE WHEN doc_id % 3 <> 2 THEN
             (CASE WHEN doc_id % 2 = 0 THEN 'E' ELSE 'W' END) END AS lon_ref,
           CASE WHEN doc_id % 3 <> 2 THEN CAST(doc_id % 180 AS INT) END AS lon_deg,
           CASE WHEN doc_id % 3 <> 2 THEN CAST(doc_id * 3 % 60 AS INT) END AS lon_min,
           CASE WHEN doc_id % 3 <> 2 THEN CAST(doc_id * 11 % 60 AS INT) END AS lon_sec
"""
_EXIF_GPS_NULLS = """
           FALSE AS has_gps,
           CAST(NULL AS STRING) AS lat_ref,
           CAST(NULL AS INT) AS lat_deg,
           CAST(NULL AS INT) AS lat_min,
           CAST(NULL AS INT) AS lat_sec,
           CAST(NULL AS STRING) AS lon_ref,
           CAST(NULL AS INT) AS lon_deg,
           CAST(NULL AS INT) AS lon_min,
           CAST(NULL AS INT) AS lon_sec
"""
# EXIF sub-IFD fields (round 8, VERDICT r7 ask #2): IDENTICAL in both
# entries — the scrub must preserve them, so a green exif_gps_scrub row
# now certifies unknown-to-the-scrub tag survival, not just GPS removal.
_EXIF_SUBIFD_COLS = """
           , CASE WHEN doc_id % 5 <> 4 THEN CAST(10 + doc_id % 990 AS INT) END
               AS exposure_den,
           CASE WHEN doc_id % 5 <> 4 THEN CAST(100 * (1 + doc_id % 32) AS INT) END
               AS iso
"""


def _url_dedup_oracle() -> str:
    """Same shared-template discipline for the canonical-URL key; the
    ``g`` placeholder is the ONE engine divergence (DuckDB regexp_replace
    needs an explicit global flag, Spark is always-global)."""
    from pgferry_spark.operators.domains import (
        HOST_SQL,
        NURL_SQL,
        QCLEAN_SQL,
        URL_SYNTH_SQL,
    )

    url = URL_SYNTH_SQL.format(id="doc_id", src="source")
    host = HOST_SQL.format(url="url")
    qc = QCLEAN_SQL.format(url="url", g=", 'g'")
    nurl = NURL_SQL.format(url="url", host="host")
    return f"""
        WITH u AS (SELECT doc_id, source, {url} AS url FROM documents),
        h AS (SELECT *, {host} AS host FROM u),
        q AS (SELECT *, {qc} AS __q FROM h),
        n AS (SELECT *, {nurl} AS nurl FROM q)
        SELECT nurl, MIN(doc_id) AS keeper_id, COUNT(*) AS dup_count
        FROM n GROUP BY nurl
    """


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Ordering contract: the round driver oracle-checks only the FIRST 50
    entries of this dict.  Round-15 (VERDICT r14 Next #1 — an
    OPTIMIZATION round, so the window is held ~fixed instead of
    rotated): 45 of the 50 r14 window names stay put; the only change
    repairs the r14 composition weakness (42/50 oracle-backed, the
    weakest driver signal since the early rounds) by swapping FIVE of
    the eight rows-only slots for the five heaviest oracle-backed
    entries this round's optimizations touch
    (cross_corpus_near_dup_capped, dedup_method_agreement,
    ccnet_buckets, kmeans_exact_assign, ivf_kmeans_exact_topk — the
    VERDICT-named list), so the driver hash-verifies the rewritten
    plans directly.  THREE rows-only slots remain
    (ivf_pq_kmeans_topk, ann_recall_ivfpq_kmeans, ivf_kmeans_assign —
    exactly the MLlib-float entries riding the r15 k-means work, so
    their spark_rows signal still covers the change), meeting the
    "never more than 2-3 rows-only per window, >=45 hash-verifiable"
    rule VERDICT r14 set.  Net: 47/50 oracle-backed, 45-name overlap
    with the r14 window, zero entries dropped from the registry.
    tests/test_entry_ordering.py pins this window arithmetic;
    tools/plan_rotation.py proposes each round's order."""
    return {
        "ngram_perplexity": _ngram_perplexity,
        "exact_substring_spans_exact": _exact_substring_spans_exact,
        "host_pagerank": _host_pagerank,
        "cross_corpus_near_dup_capped": _cross_corpus_near_dup_capped,
        "dedup_method_agreement": _dedup_method_agreement,
        "ccnet_buckets": _ccnet_buckets,
        "ivf_pq_kmeans_topk": _ivf_pq_kmeans_topk,
        "ann_recall_ivfpq_kmeans": _ann_recall_ivfpq_kmeans,
        "kmeans_exact_assign": _kmeans_exact_assign,
        "ivf_kmeans_exact_topk": _ivf_kmeans_exact_topk,
        "ivf_kmeans_assign": _ivf_kmeans,
        "embedding_near_dup": _embedding_near_dup,
        "embedding_near_dup_lsh": _embedding_near_dup_lsh,
        "embedding_dedup": _embedding_dedup,
        "cosine_topk": _cosine_topk,
        "pairwise_cosine_topk": _pairwise_topk,
        "ivf_assign": _ivf_assign,
        "ivf_topk": _ivf_topk,
        "corpus_filter": _corpus_filter,
        "lsh_topk": _lsh_topk,
        "lsh_topk_multiprobe": _lsh_topk_multiprobe,
        "multimodal_meta": _multimodal_meta,
        "frame_sample": _frame_sample,
        "bm25_topk": _bm25_topk,
        "repetition_stats": _repetition_stats,
        "contamination_check": _contamination_check,
        "length_outliers": _length_outliers,
        "unigram_logprob": _unigram_logprob,
        "approx_distinct_users": _approx_distinct,
        "fill_time_gaps": _fill_gaps,
        "token_budget_select": _token_budget,
        "quantize_embeddings": _quantize_embeddings,
        "stratified_split": _stratified_split,
        "rate_anomalies": _rate_anomalies,
        "incremental_dedup": _incremental_dedup,
        "vocab_topk": _vocab_topk,
        "winnow_shared_pairs_capped": _winnow_shared_pairs_capped,
        "chunked_scan": _chunked_scan,
        "mixture_sample": _mixture_sample,
        "shard_manifest": _shard_manifest,
        "semdedup": _semdedup,
        "pq_encode": _pq_encode,
        "dup_rate_by_source": _dup_rate_by_source,
        "knn_graph": _knn_graph,
        "user_funnel": _user_funnel,
        "q1_pricing_summary": _q1,
        "exact_dedup_groups": _exact_dedup,
        "gopher_quality_flags": _gopher_quality_flags,
        "blockword_flags": _blockword_flags,
        "robots_noindex_flags": _robots_noindex_flags,
        "robots_txt_rules": _robots_txt_rules,
        "robots_disallow_filter": _robots_disallow_filter,
        "robots_crawl_delays": _robots_crawl_delays,
        "crawl_frontier": _crawl_frontier,
        "frontier_schedule": _frontier_schedule,
        "sitemap_locs": _sitemap_locs,
        "warc_record_index": _warc_record_index,
        "warc_payload_extract": _warc_payload_extract,
        "extract_anchors": _extract_anchors,
        "anchor_domain_stats": _anchor_domain_stats,
        "html_extract": _html_extract,
        "line_quality_filter": _line_quality_filter,
        "c4_clean_documents": _c4_clean_documents,
        "line_dedup": _line_dedup,
        "web_curation_funnel": _web_curation_funnel,
        "funnel_report": _funnel_report,
        "chunk_documents": _chunk_documents,
        "temperature_sample": _temperature_sample,
        "retention_cohorts": _retention_cohorts,
        "transition_counts": _transition_counts,
        "weighted_sample": _weighted_sample,
        "json_key_profile": _json_key_profile,
        "audio_segments": _audio_segments,
        "name_match_pairs": _name_match_pairs,
        "q16_adapted": _q16_adapted,
        "q20_adapted": _q20_adapted,
        "corpus_report": _corpus_report,
        "token_histogram": _token_histogram,
        "curate_corpus": _curate_corpus,
        "tfidf_pairs": _tfidf_pairs,
        "approx_quantile_flags": _approx_quantile_check,
        "last_touch_attribution": _attribution,
        "inter_event_gaps": _inter_event_gaps,
        "ivf_pq_topk": _ivf_pq_topk,
        "ann_recall_ivfpq": _ann_recall_ivfpq,
        "bigram_logprob": _bigram_logprob,
        "q21_adapted": _q21_adapted,
        "near_dup_verified": _near_dup_verified,
        "rfm_features": _rfm_features,
        "psi_drift": _psi_drift,
        "trust_propagation": _trust_propagation,
        "session_concurrency": _session_concurrency,
        "ann_recall_lsh": _ann_recall_lsh,
        "cube_pricing": _cube,
        "zorder_keys": _zorder_keys,
        "content_diff_summary": _content_diff,
        "name_match_verified": _name_match_verified,
        "warc_dedup_manifest": _warc_dedup_manifest,
        "frontier_bloom_gate": _frontier_bloom_gate,
        "bpe_roundtrip": _bpe_roundtrip,
        "wet_conversion_index": _wet_conversion_index,
        "wet_text_extract": _wet_text_extract,
        "wet_gzip_extract": _wet_gzip_extract,
        "wat_export_index": _wat_export_index,
        "wat_metadata_extract": _wat_metadata_extract,
        "robots_sitemap_urls": _robots_sitemap_urls,
        "fineweb_quality_flags": _fineweb_quality_flags,
        "utf8_sanity_flags": _utf8_sanity_flags,
        "html_title_meta": _html_title_meta,
        "extract_tables": _extract_tables,
        "mojibake_stats": _mojibake_stats,
        "mojibake_repair": _mojibake_repair,
        "warc_gzip_index": _warc_gzip_index,
        "warc_gzip_extract": _warc_gzip_extract,
        "cdx_index": _cdx_index,
        "warc_revisit_resolve": _warc_revisit_resolve,
        "warc_revisit_stats": _warc_revisit_stats,
        "simhash_near_pairs": _simhash_pairs,
        "line_repetition": _line_repetition,
        "debounce_events": _debounce,
        "ri_audit": _ri_audit,
        "incremental_agg": _incremental_agg,
        "signal_percentiles": _signal_percentiles,
        "lsh_knn_join": _lsh_knn_join,
        "dedup_pair_recall": _dedup_pair_recall,
        "minhash_pair_recall": _minhash_pair_recall,
        "seasonal_anomalies": _seasonal_anomalies,
        "containment_adjacent": _containment_adjacent,
        "decayed_topk": _decayed_topk,
        "k_anonymity": _k_anonymity,
        "l_diversity": _l_diversity,
        "q2_adapted": _q2_adapted,
        "q11_adapted": _q11_adapted,
        "ivf_pq_rerank_topk": _ivf_pq_rerank_topk,
        "knn_graph_capped": _knn_graph_capped,
        "image_meta_real": _image_meta_real,
        "image_ahash_real": _image_ahash_real,
        "image_near_dup": _image_near_dup,
        "cross_corpus_near_dup": _cross_corpus_near_dup,
        "skew_profile": _skew_profile,
        "cluster_safe_split": _cluster_safe_split,
        "profile_orders": _profile_orders,
        "negative_samples": _negative_samples,
        "hard_negatives": _hard_negatives,
        "margin_mine": _margin_mine,
        "curation_funnel": _curation_funnel,
        "source_datasheet": _source_datasheet,
        "http_response_index": _http_response_index,
        "http_status_filter": _http_status_filter,
        "http_body_extract": _http_body_extract,
        "http_charset_transcode": _http_charset_transcode,
        "http_redirect_edges": _http_redirect_edges,
        "cdx_zipnum_index": _cdx_zipnum_index,
        "http_wire_decode": _http_wire_decode,
        "http_revisit_resolve": _http_revisit_resolve,
        "http_request_pairs": _http_request_pairs,
        "cc_ingest_funnel": _cc_ingest_funnel,
        "http_truncated_audit": _http_truncated_audit,
        "recrawl_plan": _recrawl_plan,
        "dsir_weights": _dsir_weights,
        "lsh_candidate_pairs_md5_capped": _lsh_pairs_md5_capped,
        "lsh_candidate_pairs_capped": _lsh_pairs_capped,
        "quality_twin_auc": _quality_twin_auc,
        "boilerplate_ngrams": _boilerplate_ngrams,
        "mixture_epochs": _mixture_epochs,
        "embedding_drift_psi": _embedding_drift_psi,
        "exact_substring_spans": _exact_substring_spans,
        "hll_registers": _hll_registers,
        "hll_union_estimate": _hll_union_estimate,
        "cms_token_sketch": _cms_token_sketch,
        "cms_heavy_hitters": _cms_heavy_hitters,
        "bloom_custkey_probe": _bloom_custkey_probe,
        "loghist_price_quantiles": _loghist_price_quantiles,
        "hll_intersect_customers": _hll_intersect_customers,
        "compaction_plan": _compaction_plan,
        "cms_join_size_custkey": _cms_join_size_custkey,
        "hll_rolling_users": _hll_rolling_users,
        "cms_weighted_spenders": _cms_weighted_spenders,
        "exact_substring_scrub": _exact_substring_scrub,
        "sketch_validation_lineitem": _sketch_validation_lineitem,
        "loghist_rolling_value": _loghist_rolling_value,
        "hll_churn_customers": _hll_churn_customers,
        "transform_uuid": _uuid_transforms,
        "q3_shipping_priority": _q3,
        "q5_local_supplier_volume": _q5,
        "q10_returned_revenue": _q10,
        "q12_priority_counts": _q12,
        "q17_small_quantity_revenue": _q17,
        "q6_forecast_revenue": _q6,
        "q14_promo_revenue": _q14,
        "q19_disjunctive_revenue": _q19,
        "q22_idle_customers": _q22,
        "q4_order_priority": _q4,
        "q7_volume_shipping": _q7,
        "q8_market_share": _q8,
        "q9_product_profit": _q9,
        "q13_order_count_distribution": _q13,
        "cdxj_index": _cdxj_index,
        "cdxj_field_extract": _cdxj_field_extract,
        "cc_index_table": _cc_index_table,
        "cdxj_zipnum_cluster": _cdxj_zipnum_cluster,
        "cdx11_index": _cdx11_index,
        "cc_index_host_stats": _cc_index_host_stats,
        "robots_status_gate": _robots_status_gate,
        "cdxj_http_index": _cdxj_http_index,
        "q15_top_supplier": _q15,
        "q18_large_volume_customers": _q18,
        "top_order_per_customer": _top_order,
        "big_order_customers": _big_orders,
        "cheapest_supplier_per_part": _cheapest_supplier,
        "customer_set_ops": _set_ops,
        "sql_exists_subquery": _sql_surface,
        "rollup_pricing": _rollup,
        "distinct_orders_per_flag": _distinct,
        "events_hourly": _events_hourly,
        "events_json_stats": _events_json,
        "events_pivot": _events_pivot,
        "lineitem_column_stats": _lineitem_stats,
        "revenue_percentiles": _percentiles,
        "sessionize": _sessionize,
        "asof_join": _asof_join,
        "minmax_probe": _minmax,
        "row_counts": _row_counts,
        "sequence_reset": _sequence_reset,
        "orphan_anti_join": _orphan_events,
        "orphan_set_null": _orphan_set_null,
        "transform_strings": _string_transforms,
        "transform_bool": _bool_transform,
        "transform_set_split": _set_split,
        "transform_bits": _bit_transform,
        "transform_time_interval": _time_interval,
        "transform_year_money": _year_money,
        "transform_zero_date": _zero_date,
        "quality_checks": _quality_checks,
        "text_stats": _text_stats,
        "span_dedup": _span_dedup,
        "domain_stats": _domain_stats,
        "domain_quota_sample": _domain_quota_sample,
        "blocklist_filter": _blocklist_filter,
        "url_dedup": _url_dedup,
        "image_exif_meta": _image_exif_meta,
        "exif_gps_scrub": _exif_gps_scrub,
        "bpe_merges": _bpe_merges,
        "bpe_encode": _bpe_encode,
        "exact_substring_spans_chars": _exact_substring_spans_chars,
        "image_meta_jpeg": _image_meta_jpeg,
        "t_closeness": _t_closeness,
        "http_charset_sniff": _http_charset_sniff,
        "index_routed_retrieval": _index_routed_retrieval,
        "charset_sniff_disagreements": _charset_sniff_disagreements,
        "cdx_closest_capture": _cdx_closest_capture,
        "recrawl_change_rate": _recrawl_change_rate,
        "sitemap_lastmod_entries": _sitemap_lastmod_entries,
        "sitemap_changed_since": _sitemap_changed_since,
        "crawl_budget_allocate": _crawl_budget_allocate,
        "video_frame_index": _video_frame_index,
        "audio_segment_index": _audio_segment_index,
        "hybrid_rrf_topk": _hybrid_rrf_topk,
        "dedup_keep_best": _dedup_keep_best,
        "mmr_diversify": _mmr_diversify,
        "pii_luhn_cards": _pii_luhn_cards,
        "pii_card_gate": _pii_card_gate,
        "mmr_diversify_ivf": _mmr_diversify_ivf,
        "curate_corpus_best": _curate_corpus_best,
        "quality_classifier": _quality_classifier,
        "quality_classifier_auc": _quality_classifier_auc,
        "compressibility_entropy": _compressibility_entropy,
        "compression_ratio": _compression_ratio,
        "packing_efficiency": _packing_efficiency,
        "lang_id": _lang_id,
        "bpe_token_count": _bpe_token_count,
        "winnow_summary": _winnow_summary,
        "winnow_shared_pairs": _winnow_shared_pairs,
        "pii_scrub": _pii_scrub,
        "dataset_split": _dataset_split,
        "quota_sample": _quota_sample,
        "pack_sequences": _pack_sequences,
        "range_join_incidents": _range_join_incidents,
        "time_rollup": _time_rollup,
        "cdc_merge": _cdc_merge,
        "scd2_history": _scd2_history,
        "dedup_clusters": _dedup_clusters,
        "inverted_index": _inverted_index,
        "keyword_search": _keyword_search,
        "fingerprint_dedup": _fingerprint_dedup,
        "minhash_buckets_md5": _minhash_buckets_md5,
        "lsh_candidate_pairs_md5": _lsh_pairs_md5,
        "jaccard_adjacent": _jaccard_adjacent,
        "script_profile": _script_profile,
        "url_keyword_filter": _url_keyword_filter,
        "extract_links": _extract_links,
        "link_graph_stats": _link_graph_stats,
        "domain_token_budget": _domain_token_budget,
        "crawl_snapshot_merge": _crawl_snapshot_merge,
        "crawl_delta_counts": _crawl_delta_counts,
        "simhash32": _simhash32,
        "simhash_near_pairs_md5": _simhash_pairs_md5,
    }


# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------

# Guarded tokenizations mirroring functions.text.tokens(): blank text is an
# EMPTY list (DuckDB's regexp_split_to_array would give [''] of length 1)
_TOKS = (
    "(CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[]) "
    "ELSE regexp_split_to_array(trim(text), '\\s+') END)"
)
_LTOKS = (
    "(CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[]) "
    "ELSE regexp_split_to_array(lower(trim(text)), '\\s+') END)"
)

# HLL alpha * m^2 for p=8 — imported from the operator so the oracle's
# literal constant is identical-by-construction to the Spark side's.
from pgferry_spark.operators.sketches import _alpha_m2 as _hll_alpha_m2

_alpha_m2_256 = _hll_alpha_m2(8)


def _mmr_oracle(
    k: int = 10,
    lam: float = 0.5,
    n_candidates: int = 50,
    ivf_probe: bool = False,
) -> str:
    """Unrolled-greedy MMR oracle: the k-step argmax loop is inherently
    sequential, but k is a FIXED small constant, so each step becomes one
    chained CTE (scored_i -> argmax sel_i -> prev_i accumulator) — plain
    ANSI SQL, no recursion. Mirrors similarity.mmr_select exactly: rel
    rounded to 4 dp at candidate time, pair cosines to 4 dp, MMR score to
    6 dp before each argmax, ties to the smaller id."""
    lam_s, oml_s = repr(float(lam)), repr(1.0 - float(lam))
    pair_cos = (
        "ROUND(list_dot_product(c.v, p.v) / (sqrt(list_dot_product(c.v, c.v))"
        " * sqrt(list_dot_product(p.v, p.v))), 4)"
    )
    if ivf_probe:
        # candidate pool = the query's IVF cell only (same assign/qcell
        # CTEs as the ivf_topk oracle), mirroring mmr_select over the
        # _cell_of-filtered corpus — the scale-path pairing
        cand_src = """
        c AS (SELECT vec_id AS cell_id, v AS cvec FROM e WHERE vec_id < 8),
        celldots AS (SELECT e.vec_id, c.cell_id,
                            ROUND(list_dot_product(e.v, c.cvec), 4) AS dot
                     FROM e CROSS JOIN c),
        cellranked AS (SELECT *, row_number() OVER (PARTITION BY vec_id
                                                    ORDER BY dot DESC, cell_id ASC) AS rnk
                       FROM celldots),
        assign AS (SELECT vec_id, cell_id FROM cellranked WHERE rnk = 1),
        qcell AS (SELECT cell_id FROM assign WHERE vec_id = 0),
        pool AS (SELECT e.vec_id, e.v
                 FROM e JOIN assign ON assign.vec_id = e.vec_id
                 JOIN qcell ON assign.cell_id = qcell.cell_id),"""
    else:
        cand_src = """
        pool AS (SELECT vec_id, v FROM e),"""
    parts = [
        f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        q AS (SELECT v AS qe FROM e WHERE vec_id = 0),{cand_src}
        cand AS MATERIALIZED (
          SELECT vec_id AS id, v,
                 ROUND(list_dot_product(v, q.qe)
                       / (sqrt(list_dot_product(v, v))
                          * sqrt(list_dot_product(q.qe, q.qe))), 4) AS rel
          FROM pool, q
          ORDER BY rel DESC, id ASC
          LIMIT {n_candidates}
        ),
        sel1 AS MATERIALIZED (SELECT id, v, rel, 1 AS mmr_rank, ROUND(rel, 6) AS mmr_score
                 FROM cand ORDER BY rel DESC, id ASC LIMIT 1),
        prev1 AS MATERIALIZED (SELECT id, v FROM sel1)"""
    ]
    for i in range(2, k + 1):
        parts.append(
            f""",
        scored{i} AS MATERIALIZED (
          SELECT c.id, c.v, c.rel,
                 ROUND({lam_s} * c.rel - {oml_s} * MAX({pair_cos}), 6) AS mmr_score
          FROM cand c CROSS JOIN prev{i - 1} p
          WHERE c.id NOT IN (SELECT id FROM prev{i - 1})
          GROUP BY c.id, c.v, c.rel
        ),
        sel{i} AS MATERIALIZED (SELECT id, v, rel, {i} AS mmr_rank, mmr_score FROM scored{i}
                   ORDER BY mmr_score DESC, id ASC LIMIT 1),
        prev{i} AS MATERIALIZED (SELECT id, v FROM prev{i - 1} UNION ALL SELECT id, v FROM sel{i})"""
        )
    union = "\n        UNION ALL\n".join(
        f"        SELECT id AS vec_id, mmr_rank, mmr_score FROM sel{i}"
        for i in range(1, k + 1)
    )
    return "".join(parts) + "\n" + union


def _bpe_merges_oracle(
    n_merges: int = 50, max_words: int = 10_000, mode: str = "merges"
) -> str:
    """Unrolled-BPE oracle (the MMR trick applied to Sennrich et al.
    merge learning): each greedy step becomes one chained trio of
    MATERIALIZED CTEs — pair counts (explode adjacent symbol pairs),
    argmax (count desc, then lexicographic pair), and merge application.

    The vocab state is a symbol sequence encoded as a single string with
    every symbol wrapped in chr(31) unit separators
    (``\\x1f sym \\x1f``), so applying merge (l, r) is one
    ``replace(s, \\x1f l \\x1f\\x1f r \\x1f, \\x1f lr \\x1f)`` — DuckDB's
    replace scans left-to-right and continues AFTER each replacement,
    which is exactly the BPE within-word merge order (verified for the
    overlapping 'a a a a' case). The per-symbol wrapping (boundaries are
    DOUBLE separators) is what makes consecutive merges like (a,a) on
    'aaaa' land twice in one pass; a single-separator encoding consumes
    the shared boundary and under-merges. chr(31) never appears in the
    fixtures' whitespace-split tokens.

    ``mode="encode"`` additionally REPLAYS the learned merges over every
    distinct corpus word (sequential-by-rank global replace — equivalent
    to the UDF's priority encode because a learned merge's operand
    symbols can only be created by EARLIER merges, so a later merge can
    never retro-enable an earlier one) and returns per-document subword
    counts instead of the merge table."""
    sep = chr(31)
    parts = [
        f"""
        WITH toks AS (SELECT unnest({_TOKS}) AS w FROM documents),
        wf AS MATERIALIZED (
          SELECT w, COUNT(*) AS cnt FROM toks
          WHERE w IS NOT NULL AND w <> ''
          GROUP BY w ORDER BY cnt DESC, w ASC LIMIT {max_words}
        ),
        vocab0 AS MATERIALIZED (
          SELECT '{sep}' || array_to_string(
                   list_append(list_transform(range(1, length(w) + 1),
                                              i -> substr(w, i, 1)), '</w>'),
                   '{sep}{sep}') || '{sep}' AS s,
                 cnt
          FROM wf
        )"""
    ]
    for i in range(1, n_merges + 1):
        parts.append(
            f""",
        pairs{i} AS MATERIALIZED (
          SELECT pr[1] AS l, pr[2] AS r, SUM(cnt) AS c
          FROM (
            SELECT unnest(list_transform(range(1, len(syms)),
                                         j -> [syms[j], syms[j + 1]])) AS pr,
                   cnt
            FROM (SELECT str_split(trim(s, '{sep}'), '{sep}{sep}') AS syms, cnt
                  FROM vocab{i - 1})
          )
          GROUP BY l, r
        ),
        best{i} AS MATERIALIZED (
          SELECT l, r, c FROM pairs{i} ORDER BY c DESC, l ASC, r ASC LIMIT 1
        ),
        vocab{i} AS MATERIALIZED (
          SELECT s, SUM(cnt) AS cnt FROM (
            SELECT replace(v.s, '{sep}' || b.l || '{sep}{sep}' || b.r || '{sep}',
                           '{sep}' || b.l || b.r || '{sep}') AS s,
                   v.cnt
            FROM vocab{i - 1} v CROSS JOIN best{i} b
          ) GROUP BY s
        )"""
        )
    if mode == "merges":
        union = "\n        UNION ALL\n".join(
            f"        SELECT CAST({i} AS INT) AS rank, l AS left, r AS right,"
            f" CAST(c AS BIGINT) AS pair_count FROM best{i}"
            for i in range(1, n_merges + 1)
        )
        return "".join(parts) + "\n" + union
    if mode != "encode":
        raise ValueError(f"unknown mode: {mode!r}")
    # replay phase: every DISTINCT corpus word (uncapped — encode must
    # handle words outside the training cap too) through the 50 merges
    parts.append(
        f""",
        enc0 AS MATERIALIZED (
          SELECT w, '{sep}' || array_to_string(
                   list_append(list_transform(range(1, length(w) + 1),
                                              i -> substr(w, i, 1)), '</w>'),
                   '{sep}{sep}') || '{sep}' AS s
          FROM (SELECT DISTINCT w FROM toks
                WHERE w IS NOT NULL AND w <> '')
        )"""
    )
    for i in range(1, n_merges + 1):
        parts.append(
            f""",
        enc{i} AS MATERIALIZED (
          SELECT e.w,
                 CASE WHEN b.l IS NULL THEN e.s
                      ELSE replace(e.s, '{sep}' || b.l || '{sep}{sep}' || b.r || '{sep}',
                                   '{sep}' || b.l || b.r || '{sep}')
                 END AS s
          FROM enc{i - 1} e LEFT JOIN best{i} b ON TRUE
        )"""
        )
    parts.append(
        f""",
        wordlens AS MATERIALIZED (
          SELECT w, len(str_split(trim(s, '{sep}'), '{sep}{sep}')) AS n
          FROM enc{n_merges}
        ),
        doc_words AS (
          SELECT doc_id, unnest({_TOKS}) AS w FROM documents
        ),
        summed AS (
          SELECT dw.doc_id, SUM(wl.n) AS n_tokens
          FROM doc_words dw JOIN wordlens wl USING (w)
          GROUP BY dw.doc_id
        )
        SELECT d.doc_id, CAST(COALESCE(s.n_tokens, 0) AS BIGINT) AS n_tokens
        FROM documents d LEFT JOIN summed s USING (doc_id)"""
    )
    return "".join(parts)


def _kmeans_oracle(
    n_cells: int = 8, n_iters: int = 3, dp: int = 6, mode: str = "assign"
) -> str:
    """Unrolled deterministic-Lloyd oracle. Mirrors
    similarity.kmeans_deterministic exactly: components quantized to
    ``dp`` once; per-iteration assignment = argmin of the sequential
    list-fold squared L2 rounded to ``dp`` (ties to the lower cell);
    means = DECIMAL(38,12) exact sums (order-independent on both
    engines) cast to DOUBLE, divided, rounded to ``dp``; empty clusters
    keep the previous centroid (COALESCE over a LEFT JOIN)."""
    parts = [
        f"""
        WITH eq AS MATERIALIZED (
          SELECT vec_id,
                 list_transform(CAST(embedding AS DOUBLE[]),
                                x -> ROUND(x, {dp})) AS vq
          FROM embeddings
        ),
        cent0 AS MATERIALIZED (
          SELECT vec_id AS cell, vq AS c FROM eq WHERE vec_id < {n_cells}
        )"""
    ]
    dist = (
        f"ROUND(list_sum(list_transform(range(1, len(e.vq) + 1), "
        f"i -> (e.vq[i] - c.c[i]) * (e.vq[i] - c.c[i]))), {dp})"
    )
    for t in range(1, n_iters + 2):  # n_iters updates + the final assign
        parts.append(
            f""",
        asg{t} AS MATERIALIZED (
          SELECT vec_id, cell FROM (
            SELECT e.vec_id, c.cell, {dist} AS d,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY {dist} ASC, c.cell ASC) AS rnk
            FROM eq e CROSS JOIN cent{t - 1} c
          ) WHERE rnk = 1
        )"""
        )
        if t == n_iters + 1:
            break
        parts.append(
            f""",
        stat{t} AS MATERIALIZED (
          SELECT cell, u.pos AS pos,
                 CAST(SUM(CAST(u.val AS DECIMAL(38,12))) AS DOUBLE) AS s,
                 COUNT(*) AS n
          FROM (
            SELECT a.cell,
                   unnest(list_transform(range(1, len(e.vq) + 1),
                          i -> {{'pos': i, 'val': e.vq[i]}})) AS u
            FROM asg{t} a JOIN eq e USING (vec_id)
          ) GROUP BY cell, u.pos
        ),
        m{t} AS MATERIALIZED (
          SELECT cell, list(ROUND(s / n, {dp}) ORDER BY pos) AS c
          FROM stat{t} GROUP BY cell
        ),
        cent{t} AS MATERIALIZED (
          SELECT p.cell, COALESCE(m.c, p.c) AS c
          FROM cent{t - 1} p LEFT JOIN m{t} m USING (cell)
        )"""
        )
    if mode == "assign":
        parts.append(
            f"""
        SELECT vec_id, CAST(cell AS INT) AS cell_id FROM asg{n_iters + 1}"""
        )
        return "".join(parts)
    if mode != "topk":
        raise ValueError(f"unknown mode: {mode!r}")
    # probe: the query's trained cell, exact cosine top-10 within it
    parts.append(
        f""",
        qc AS (SELECT cell FROM asg{n_iters + 1} WHERE vec_id = 0),
        q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
              FROM embeddings WHERE vec_id = 0)
        SELECT emb.vec_id,
               ROUND(list_dot_product(CAST(emb.embedding AS DOUBLE[]), q.qe)
                     / (sqrt(list_dot_product(CAST(emb.embedding AS DOUBLE[]),
                                              CAST(emb.embedding AS DOUBLE[])))
                        * sqrt(list_dot_product(q.qe, q.qe))), 4) AS cosine_sim
        FROM embeddings emb
        JOIN asg{n_iters + 1} a ON a.vec_id = emb.vec_id
        JOIN qc ON a.cell = qc.cell
        CROSS JOIN q
        ORDER BY cosine_sim DESC, emb.vec_id ASC
        LIMIT 10"""
    )
    return "".join(parts)


def _luhn_sum_sql(s: str) -> str:
    """DuckDB twin of functions.text.luhn_sum over the digit-string
    expression ``s``: index the reversed string with range+substr (RE2
    has no empty-pattern split), double every second digit from the
    right, subtract 9 past 9."""
    dig = f"CAST(substr(reverse({s}), __i, 1) AS INT)"
    return (
        f"list_sum(list_transform(range(1, length({s}) + 1), __i -> "
        f"CASE WHEN (__i - 1) % 2 = 0 THEN {dig} "
        f"ELSE CASE WHEN {dig} * 2 > 9 THEN {dig} * 2 - 9 "
        f"ELSE {dig} * 2 END END))"
    )


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


def oracle_sql() -> dict[str, str]:
    _PII_EMAIL, _PII_IPV4, _PII_PHONE = T.PII_EMAIL, T.PII_IPV4, T.PII_PHONE
    dec_price = "CAST(l_extendedprice AS DECIMAL(12,2))"
    dec_qty = "CAST(l_quantity AS DECIMAL(12,2))"
    one_minus = "(CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))"
    one_plus = "(CAST(1 AS DECIMAL(6,4)) + CAST(l_tax AS DECIMAL(6,4)))"
    disc_price = f"({dec_price} * {one_minus})"
    charge = f"({disc_price} * {one_plus})"

    sig12 = ", ".join(f"MIN(h1 + {i} * h2) AS s{i}" for i in range(12))
    band_hash_cases = " ".join(
        f"WHEN band_id = {b} THEN md5(concat_ws('|', "
        + ", ".join(f"CAST(s{b * 3 + r} AS VARCHAR)" for r in range(3))
        + "))"
        for b in range(4)
    )
    minhash_cte = f"""
        WITH tk AS (
          SELECT doc_id, {_LTOKS} AS toks
          FROM documents
        ),
        gr AS (
          SELECT doc_id,
                 list_distinct(CASE WHEN len(toks) < 3 THEN []
                      ELSE list_transform(range(len(toks) - 2),
                                          i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))
                 END) AS grams
          FROM tk
        ),
        ex AS (
          SELECT doc_id,
                 ('0x' || substr(md5(gram), 1, 14))::BIGINT AS h1,
                 ('0x' || substr(md5(gram), 17, 14))::BIGINT AS h2
          FROM (SELECT doc_id, unnest(grams) AS gram FROM gr)
        ),
        sig AS (SELECT doc_id, {sig12} FROM ex GROUP BY doc_id),
        bands AS (SELECT * FROM (VALUES (0),(1),(2),(3)) b(band_id)),
        buckets AS (
          SELECT doc_id, band_id, CASE {band_hash_cases} END AS band_hash
          FROM sig CROSS JOIN bands
        )
    """

    stop = {
        "de": "['der','die','das','und','ist','nicht','ein','mit','für','auf']",
        "en": "['the','and','of','to','a','in','is','it','that','for']",
        "es": "['el','la','los','y','es','un','una','para','en','que']",
        "fr": "['le','la','les','et','est','un','une','pour','dans','que']",
    }
    hits = {
        lang: f"len(list_filter({_LTOKS}, x -> list_contains({lst}, x)))"
        for lang, lst in stop.items()
    }
    lang_case = (
        f"CASE WHEN h_de = best AND best > 0 THEN 'de' "
        f"WHEN h_en = best AND best > 0 THEN 'en' "
        f"WHEN h_es = best AND best > 0 THEN 'es' "
        f"WHEN h_fr = best AND best > 0 THEN 'fr' ELSE 'und' END"
    )

    bit_terms = " + ".join(
        f"(CASE WHEN 2 * len(list_filter(h, x -> ((x >> {i}) & 1) = 1)) > n "
        f"THEN {1 << i} ELSE 0 END)"
        for i in range(32)
    )
    simhash_fp_cte = f"""
        WITH hs AS (
          SELECT doc_id,
                 list_transform(
                   list_distinct({_LTOKS}),
                   t -> ('0x' || substr(md5(t), 1, 8))::BIGINT) AS h,
                 len(list_distinct({_LTOKS})) AS n
          FROM documents
        ),
        fp AS (SELECT doc_id, ({bit_terms}) AS simhash FROM hs)
    """

    # hyperplane-LSH oracles: the planes are driver-side seeded constants in
    # the Spark operators (similarity.random_hyperplanes), so they embed into
    # the SQL as DOUBLE[] literals — the oracle replays the exact signatures
    def plane_lit(p):
        return "[" + ",".join(repr(float(x)) for x in p) + "]"

    emb_planes = similarity.random_hyperplanes(64, 16, 42)  # embedding_near_dup_lsh defaults
    ann_planes = similarity.random_hyperplanes(64, 8, 42)  # lsh_topk defaults
    knn_planes = similarity.random_hyperplanes(64, 24, 42)  # knn_graph entry config

    def sig_terms(planes, vec="v"):
        return " + ".join(
            f"(CASE WHEN list_dot_product({vec}, {plane_lit(p)}) >= 0 "
            f"THEN {1 << i} ELSE 0 END)"
            for i, p in enumerate(planes)
        )

    cos = (
        "ROUND(list_dot_product(s.v, q.qe)"
        " / (sqrt(list_dot_product(s.v, s.v)) * sqrt(list_dot_product(q.qe, q.qe))), 4)"
    )
    knn_edges_cte = f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        sig AS (SELECT vec_id, v, ({sig_terms(knn_planes)}) AS s FROM e),
        bl AS (
          SELECT vec_id, v, band_id, (s >> (band_id * 6)) & 63 AS band_val
          FROM sig CROSS JOIN (SELECT unnest(range(4)) AS band_id)
        ),
        cand AS (
          SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
          FROM bl a JOIN bl b USING (band_id, band_val)
          WHERE a.vec_id <> b.vec_id
        ),
        scored AS (
          SELECT c.src, c.dst,
                 ROUND(list_dot_product(x.v, y.v)
                       / (sqrt(list_dot_product(x.v, x.v))
                          * sqrt(list_dot_product(y.v, y.v))), 4) AS cosine_sim
          FROM cand c
          JOIN e x ON x.vec_id = c.src
          JOIN e y ON y.vec_id = c.dst
        ),
        knn AS (
          SELECT src, dst, cosine_sim, rnk
          FROM (SELECT *, row_number() OVER (PARTITION BY src
                                             ORDER BY cosine_sim DESC, dst ASC) AS rnk
                FROM scored)
          WHERE rnk <= 5
        )
    """
    # capped twin: identical band buckets, with buckets over the cap dropped
    # via the same count rule the Spark semi-join applies (HAVING <= 15)
    knn_edges_capped_cte = f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        sig AS (SELECT vec_id, v, ({sig_terms(knn_planes)}) AS s FROM e),
        bl AS (
          SELECT vec_id, v, band_id, (s >> (band_id * 6)) & 63 AS band_val
          FROM sig CROSS JOIN (SELECT unnest(range(4)) AS band_id)
        ),
        keep AS (
          SELECT band_id, band_val FROM bl
          GROUP BY band_id, band_val HAVING COUNT(*) <= 15
        ),
        blc AS (SELECT bl.* FROM bl JOIN keep USING (band_id, band_val)),
        cand AS (
          SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
          FROM blc a JOIN blc b USING (band_id, band_val)
          WHERE a.vec_id <> b.vec_id
        ),
        scored AS (
          SELECT c.src, c.dst,
                 ROUND(list_dot_product(x.v, y.v)
                       / (sqrt(list_dot_product(x.v, x.v))
                          * sqrt(list_dot_product(y.v, y.v))), 4) AS cosine_sim
          FROM cand c
          JOIN e x ON x.vec_id = c.src
          JOIN e y ON y.vec_id = c.dst
        ),
        knn AS (
          SELECT src, dst, cosine_sim, rnk
          FROM (SELECT *, row_number() OVER (PARTITION BY src
                                             ORDER BY cosine_sim DESC, dst ASC) AS rnk
                FROM scored)
          WHERE rnk <= 5
        )
    """
    ann_sig_cte = f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        sig AS (SELECT vec_id, v, ({sig_terms(ann_planes)}) AS bucket FROM e),
        q AS (SELECT v AS qe, bucket AS qb FROM sig WHERE vec_id = 0)
    """

    # aHash oracle: all 64 block comparisons in exact integer math
    # (block_sum * (w*h) > total_sum * block_px — no float threshold), the
    # generator's pixel law replayed arithmetically per block
    def _ahash_block(b: int, key: str = "doc_id") -> str:
        bx, by = b % 8, b // 8
        bsum = (
            f"list_sum(flatten(list_transform("
            f"range(({by}*h)//8, ({by + 1}*h)//8), "
            f"y -> list_transform(range(({bx}*w)//8, ({bx + 1}*w)//8), "
            f"x -> ('0x' || substr(md5(CAST({key} AS VARCHAR) || ':' || "
            f"CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR)), 1, 2))::BIGINT))))"
        )
        bpx = (
            f"((({by + 1}*h)//8 - ({by}*h)//8)"
            f" * (({bx + 1}*w)//8 - ({bx}*w)//8))"
        )
        return f"({bsum} * (w*h) > ts * {bpx})"

    def _ahash_concat(key: str = "doc_id") -> str:
        return ", ".join(
            f"CASE WHEN {_ahash_block(b, key)} THEN '1' ELSE '0' END"
            for b in range(64)
        )

    ahash_concat = _ahash_concat()
    margin_structs = ", ".join(
        f"{{'am': abs(list_dot_product(qe, {plane_lit(p)})), 'i': {i}}}"
        for i, p in enumerate(ann_planes)
    )

    # winnowing fingerprints (k=5, w=4): same structure as the Spark Column
    # pipeline — char 5-gram md5-32 hashes, window-of-4 minima, distinct
    winnow_cte = """
        WITH h AS (
          SELECT doc_id,
                 CASE WHEN length(text) < 5 THEN CAST([] AS BIGINT[])
                      ELSE list_transform(range(1, length(text) - 3),
                             i -> ('0x' || substr(md5(substr(text, i, 5)), 1, 8))::BIGINT)
                 END AS h
          FROM documents
        ),
        wf AS (
          SELECT doc_id,
                 list_distinct(
                   CASE WHEN len(h) = 0 THEN CAST([] AS BIGINT[])
                        WHEN len(h) <= 4 THEN [list_min(h)]
                        ELSE list_transform(range(1, len(h) - 2),
                                            i -> list_min(list_slice(h, i, i + 3)))
                   END) AS fps
          FROM h
        )
    """

    media_cte = """
        WITH m AS (
          SELECT CAST(doc_id AS BIGINT) AS media_id,
                 CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                      ELSE 'video' END AS media_type,
                 sha256(md5(text)) AS d
          FROM documents
        ),
        meta AS (
          SELECT media_id, media_type,
                 CAST(16 + ('0x' || substr(d, 1, 2))::INT % 240 AS INTEGER) AS width,
                 CAST(16 + ('0x' || substr(d, 3, 2))::INT % 240 AS INTEGER) AS height,
                 CAST(1 + ('0x' || substr(d, 5, 2))::INT % 30 AS INTEGER) AS n_frames,
                 substr(d, 1, 16) AS checksum
          FROM m
        )
    """

    return {
        "q1_pricing_summary": f"""
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM({dec_qty}) AS DOUBLE) AS sum_qty,
                   CAST(SUM({dec_price}) AS DOUBLE) AS sum_base_price,
                   CAST(SUM({disc_price}) AS DOUBLE) AS sum_disc_price,
                   CAST(SUM({charge}) AS DOUBLE) AS sum_charge,
                   COUNT(*) AS count_order,
                   ROUND(CAST(SUM({dec_qty}) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
                   ROUND(CAST(SUM({dec_price}) AS DOUBLE) / COUNT(*), 6) AS avg_price
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q3_shipping_priority": f"""
            SELECT l_orderkey, o_orderdate, o_orderpriority,
                   CAST(SUM({disc_price}) AS DOUBLE) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1998-06-01'
              AND l_shipdate  > TIMESTAMP '1998-06-01'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, l_orderkey ASC
            LIMIT 10
        """,
        "q10_returned_revenue": f"""
            SELECT c_custkey, c_name, c_acctbal, n_name,
                   CAST(SUM({disc_price}) AS DOUBLE) AS revenue
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            WHERE l_returnflag = 'R'
              AND o_orderdate >= TIMESTAMP '1995-10-01'
              AND o_orderdate <  TIMESTAMP '1996-01-01'
            GROUP BY c_custkey, c_name, c_acctbal, n_name
            ORDER BY revenue DESC, c_custkey ASC
            LIMIT 20
        """,
        "q17_small_quantity_revenue": f"""
            SELECT ROUND(CAST(SUM({dec_price}) AS DOUBLE) / 7.0, 4) AS avg_yearly
            FROM lineitem JOIN part ON p_partkey = l_partkey
            WHERE p_brand = 'Brand#4'
              AND CAST(l_quantity AS DOUBLE) < (
                SELECT CAST(SUM(CAST(l2.l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                       * 0.2 / COUNT(*)
                FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
        """,
        # NOTE (applies to every integer SUM below): DuckDB's SUM(int) result
        # type is HUGEINT, which surfaces as decimal128/float64 through the
        # Arrow/pandas fetch path the driver hashes — CAST AS BIGINT keeps the
        # representation identical to Spark's LongType sums.
        "q12_priority_counts": """
            SELECT l_linestatus,
                   CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                   CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY l_linestatus
        """,
        "q6_forecast_revenue": f"""
            SELECT CAST(SUM({dec_price} * CAST(l_discount AS DECIMAL(6,4))) AS DOUBLE) AS revenue,
                   COUNT(*) AS n_lines
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate <  TIMESTAMP '1997-01-01'
              AND CAST(l_discount AS DECIMAL(6,4)) BETWEEN CAST(0.05 AS DECIMAL(6,4))
                                                       AND CAST(0.07 AS DECIMAL(6,4))
              AND l_quantity < 24
        """,
        "q14_promo_revenue": f"""
            SELECT ROUND(100.0 * CAST(SUM(CASE WHEN p_type LIKE 'PROMO%' THEN {disc_price}
                                               ELSE CAST(0 AS DECIMAL(20,6)) END) AS DOUBLE)
                         / CAST(SUM({disc_price}) AS DOUBLE), 6) AS promo_revenue_pct,
                   CAST(SUM({disc_price}) AS DOUBLE) AS total_revenue
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1996-03-01'
              AND l_shipdate <  TIMESTAMP '1996-04-01'
        """,
        "q19_disjunctive_revenue": f"""
            SELECT CAST(SUM({disc_price}) AS DOUBLE) AS revenue, COUNT(*) AS n_lines
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
               OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
               OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)
        """,
        "q4_order_priority": """
            SELECT o_orderpriority, COUNT(*) AS order_count
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-07-01'
              AND o_orderdate <  TIMESTAMP '1996-10-01'
              AND EXISTS (SELECT 1 FROM lineitem
                          WHERE l_orderkey = o_orderkey
                            AND l_shipdate > o_orderdate)
            GROUP BY o_orderpriority
        """,
        "q7_volume_shipping": f"""
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   CAST(year(l_shipdate) AS INTEGER) AS l_year,
                   CAST(SUM({disc_price}) AS DOUBLE) AS revenue
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
               OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
            GROUP BY 1, 2, 3
        """,
        "q8_market_share": f"""
            SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
                   ROUND(CAST(SUM(CASE WHEN n1.n_name = 'NATION_5' THEN {disc_price}
                                       ELSE CAST(0 AS DECIMAL(20,6)) END) AS DOUBLE)
                         / CAST(SUM({disc_price}) AS DOUBLE), 6) AS mkt_share,
                   CAST(SUM({disc_price}) AS DOUBLE) AS total_revenue
            FROM lineitem
            JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            JOIN region ON n2.n_regionkey = r_regionkey AND r_name = 'ASIA'
            GROUP BY 1
        """,
        "q9_product_profit": f"""
            SELECT n_name AS nation,
                   CAST(year(o_orderdate) AS INTEGER) AS o_year,
                   CAST(SUM({disc_price}) AS DOUBLE) AS sum_profit
            FROM lineitem
            JOIN part ON l_partkey = p_partkey AND p_name LIKE '%widget%'
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN orders ON l_orderkey = o_orderkey
            GROUP BY 1, 2
        """,
        "q13_order_count_distribution": """
            SELECT c_count, COUNT(*) AS custdist
            FROM (
              SELECT c_custkey, COUNT(o_orderkey) AS c_count
              FROM customer LEFT JOIN orders ON c_custkey = o_custkey
              GROUP BY c_custkey
            )
            GROUP BY c_count
        """,
        "q15_top_supplier": f"""
            WITH r AS (
              SELECT l_suppkey, SUM({disc_price}) AS rev_dec
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                AND l_shipdate <  TIMESTAMP '1996-04-01'
              GROUP BY l_suppkey
            )
            SELECT s_suppkey, s_name, CAST(rev_dec AS DOUBLE) AS total_revenue
            FROM r JOIN supplier ON l_suppkey = s_suppkey
            WHERE rev_dec = (SELECT MAX(rev_dec) FROM r)
        """,
        "q18_large_volume_customers": """
            WITH big AS (
              SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sum_qty_dec
              FROM lineitem
              GROUP BY l_orderkey
              HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > CAST(300.0 AS DECIMAL(12,2))
            )
            SELECT c_custkey, c_name, o_orderkey, o_orderdate,
                   CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS o_totalprice,
                   CAST(sum_qty_dec AS DOUBLE) AS sum_qty
            FROM orders
            JOIN big ON o_orderkey = l_orderkey
            JOIN customer ON o_custkey = c_custkey
            ORDER BY o_totalprice DESC, o_orderkey ASC
            LIMIT 100
        """,
        "q22_idle_customers": """
            WITH ab AS (
              SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_bal
              FROM customer WHERE c_acctbal > 0
            )
            SELECT c_nationkey, COUNT(*) AS n_custs,
                   CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
            FROM customer, ab
            WHERE CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) > avg_bal
              AND NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey
                                AND o_orderdate >= TIMESTAMP '1997-07-01')
            GROUP BY c_nationkey
        """,
        "q5_local_supplier_volume": f"""
            SELECT n_name, CAST(SUM({disc_price}) AS DOUBLE) AS revenue
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation   ON c_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA' AND c_nationkey = s_nationkey
            GROUP BY n_name
            ORDER BY revenue DESC, n_name ASC
        """,
        "top_order_per_customer": """
            SELECT o_custkey, o_orderkey,
                   CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS best_price
            FROM (
              SELECT o_custkey, o_orderkey, o_totalprice,
                     row_number() OVER (PARTITION BY o_custkey
                                        ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
              FROM orders
            ) WHERE rn = 1
        """,
        "big_order_customers": """
            WITH big AS (
              SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS total_qty
              FROM lineitem GROUP BY l_orderkey
              HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > CAST(150.0 AS DECIMAL(12,2))
            )
            SELECT c_custkey, c_name, o_orderkey, CAST(total_qty AS DOUBLE) AS total_qty
            FROM big
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
        """,
        "cheapest_supplier_per_part": """
            WITH priced AS (
              SELECT l_partkey, l_suppkey, s_name,
                     CAST(l_extendedprice AS DECIMAL(12,2)) AS price,
                     row_number() OVER (PARTITION BY l_partkey
                                        ORDER BY CAST(l_extendedprice AS DECIMAL(12,2)) ASC,
                                                 l_suppkey ASC) AS rn
              FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
            )
            SELECT l_partkey AS p_partkey, l_suppkey AS best_suppkey,
                   s_name AS supplier_name, CAST(price AS DOUBLE) AS best_price
            FROM priced WHERE rn = 1
        """,
        "customer_set_ops": """
            WITH oc AS (SELECT DISTINCT o_custkey AS custkey FROM orders),
            ec AS (SELECT DISTINCT user_id AS custkey FROM events)
            SELECT custkey, 'both' AS bucket FROM (SELECT custkey FROM oc INTERSECT SELECT custkey FROM ec)
            UNION ALL
            SELECT custkey, 'orders_only' FROM (SELECT custkey FROM oc EXCEPT SELECT custkey FROM ec)
        """,
        "sql_exists_subquery": """
            SELECT c_custkey, c_mktsegment
            FROM customer c
            WHERE EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
        """,
        "rollup_pricing": f"""
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM({dec_price}) AS DOUBLE) AS sum_base_price,
                   COUNT(*) AS n_rows
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "distinct_orders_per_flag": """
            SELECT l_returnflag, COUNT(DISTINCT l_orderkey) AS n_orders, COUNT(*) AS n_rows
            FROM lineitem GROUP BY l_returnflag
        """,
        "cube_pricing": f"""
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM({dec_price}) AS DOUBLE) AS sum_base_price,
                   COUNT(*) AS n_rows,
                   CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INTEGER) AS gid
            FROM lineitem
            GROUP BY CUBE (l_returnflag, l_linestatus)
        """,
        "content_diff_summary": """
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
        """,
        "psi_drift": """
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
        """,
        "zorder_keys": """
            SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
                   CAST(list_sum(list_transform(range(16), i ->
                        ((l_partkey >> i) & 1) * (CAST(1 AS BIGINT) << (2 * i))
                      + ((l_suppkey >> i) & 1) * (CAST(1 AS BIGINT) << (2 * i + 1))
                   )) AS BIGINT) AS zkey
            FROM lineitem
        """,
        "events_hourly": """
            SELECT time_bucket(INTERVAL '1 hour', ts) AS hour_start, event_type,
                   COUNT(*) AS n_events,
                   CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
                   COUNT(DISTINCT user_id) AS n_users
            FROM events GROUP BY 1, 2
        """,
        "events_pivot": """
            SELECT user_id,
                   CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
                   CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
                   CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
                   CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
                   CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
                   COUNT(*) AS n_total
            FROM events GROUP BY user_id
        """,
        "lineitem_column_stats": """
            SELECT COUNT(l_quantity) AS qty_count,
                   CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS qty_nulls,
                   CAST(MIN(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty_min,
                   CAST(MAX(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty_max,
                   ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                         / COUNT(l_quantity), 6) AS qty_mean,
                   COUNT(l_extendedprice) AS price_count,
                   CAST(SUM(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS price_nulls,
                   CAST(MIN(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS price_min,
                   CAST(MAX(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS price_max,
                   ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
                         / COUNT(l_extendedprice), 6) AS price_mean
            FROM lineitem
        """,
        "revenue_percentiles": """
            SELECT l_returnflag,
                   ROUND(quantile_cont(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS DOUBLE), 0.5), 4) AS p50,
                   ROUND(quantile_cont(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS DOUBLE), 0.9), 4) AS p90,
                   ROUND(quantile_cont(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS DOUBLE), 0.99), 4) AS p99,
                   COUNT(*) AS n_rows
            FROM lineitem GROUP BY l_returnflag
        """,
        "sessionize": """
            WITH flagged AS (
              SELECT user_id, event_id, ts, value,
                     CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                               OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 30 * 60 * 1000000
                          THEN 1 ELSE 0 END AS boundary
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), sess AS (
              SELECT *, CAST(SUM(boundary) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
              FROM flagged
            )
            SELECT user_id, session_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
                   COUNT(*) AS n_events,
                   CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS session_value
            FROM sess GROUP BY user_id, session_id
        """,
        # Spark's dayofweek is 1=Sunday..7; DuckDB's (PostgreSQL dow) is
        # 0=Sunday..6 — the Spark side subtracts 1 so slots align
        "rfm_features": """
            WITH base AS (
              SELECT user_id,
                     ROUND(-((epoch_us(TIMESTAMP '1996-01-01 00:00:00')
                              - MAX(epoch_us(ts))) / 86400000000.0), 6) AS recency,
                     CAST(COUNT(*) AS DOUBLE) AS frequency,
                     CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS monetary
              FROM events GROUP BY user_id
            ),
            lng AS (
              SELECT user_id, 'recency' AS sig, recency AS val FROM base
              UNION ALL
              SELECT user_id, 'frequency', frequency FROM base
              UNION ALL
              SELECT user_id, 'monetary', monetary FROM base
            ),
            stats AS (
              SELECT sig, MIN(val) AS mn, MAX(val) AS mx, COUNT(*) AS n
              FROM lng WHERE val IS NOT NULL GROUP BY sig
            ),
            binned AS (
              SELECT l.user_id, l.sig, s.n,
                     CASE WHEN s.mx = s.mn THEN 0
                          ELSE LEAST(CAST(FLOOR((l.val - s.mn)
                                     / ((s.mx - s.mn) / 1000.0)) AS INT), 999)
                     END AS bin
              FROM lng l JOIN stats s ON s.sig = l.sig
              WHERE l.val IS NOT NULL
            ),
            hist AS (SELECT sig, bin, COUNT(*) AS c FROM binned GROUP BY 1, 2),
            cum AS (
              SELECT sig, bin,
                     SUM(c) OVER (PARTITION BY sig ORDER BY bin
                                  ROWS UNBOUNDED PRECEDING) AS cm
              FROM hist
            ),
            scored AS (
              SELECT b.user_id, b.sig, ROUND(cum.cm / b.n, 6) AS pct
              FROM binned b JOIN cum ON cum.sig = b.sig AND cum.bin = b.bin
            )
            SELECT user_id,
                   MAX(CASE WHEN sig = 'recency' THEN pct END) AS pct_recency,
                   MAX(CASE WHEN sig = 'frequency' THEN pct END) AS pct_frequency,
                   MAX(CASE WHEN sig = 'monetary' THEN pct END) AS pct_monetary,
                   ROUND((MAX(CASE WHEN sig = 'recency' THEN pct END)
                          + MAX(CASE WHEN sig = 'frequency' THEN pct END)
                          + MAX(CASE WHEN sig = 'monetary' THEN pct END)) / 3.0, 6)
                     AS composite
            FROM scored GROUP BY user_id
        """,
        "decayed_topk": """
            SELECT user_id, COUNT(*) AS n_events,
                   ROUND(SUM(POW(2.0,
                     -((epoch_us(TIMESTAMP '1996-01-01 00:00:00') - epoch_us(ts))
                       / 3600000000.0) / 24.0)), 6) AS decayed_score
            FROM events GROUP BY user_id
            ORDER BY decayed_score DESC, user_id ASC
            LIMIT 20
        """,
        "k_anonymity": """
            SELECT c_nationkey, c_mktsegment, COUNT(*) AS class_size
            FROM customer GROUP BY 1, 2 HAVING COUNT(*) < 5
        """,
        "l_diversity": """
            SELECT c_nationkey, c_mktsegment,
                   COUNT(*) AS class_size,
                   COUNT(DISTINCT o_orderpriority) AS n_sensitive
            FROM orders JOIN customer ON c_custkey = o_custkey
            GROUP BY 1, 2 HAVING COUNT(DISTINCT o_orderpriority) < 3
        """,
        # integer numerator over the common denominator 2*S*N, one final
        # 6dp division: Sum_in |n_cv*N - n_v*S| + S*(N - Sum_in n_v)
        "t_closeness": """
            WITH j AS (
              SELECT c_nationkey, c_mktsegment, o_orderpriority
              FROM orders JOIN customer ON c_custkey = o_custkey
            ),
            n AS (SELECT COUNT(*) AS n_total FROM j),
            cv AS (
              SELECT c_nationkey, c_mktsegment, o_orderpriority,
                     COUNT(*) AS n_cv
              FROM j GROUP BY 1, 2, 3
            ),
            ct AS (SELECT c_nationkey, c_mktsegment, SUM(n_cv) AS s
                   FROM cv GROUP BY 1, 2),
            ov AS (SELECT o_orderpriority, COUNT(*) AS n_v FROM j GROUP BY 1),
            per AS (
              SELECT cv.c_nationkey, cv.c_mktsegment,
                     MAX(ct.s) AS s, MAX(n.n_total) AS n_total,
                     SUM(ABS(cv.n_cv * n.n_total - ov.n_v * ct.s))
                       + MAX(ct.s) * (MAX(n.n_total) - SUM(ov.n_v)) AS num
              FROM cv
              JOIN ct USING (c_nationkey, c_mktsegment)
              -- null-safe: NULL sensitive values are a value, not a gap
              JOIN ov ON cv.o_orderpriority IS NOT DISTINCT FROM ov.o_orderpriority, n
              GROUP BY 1, 2
            )
            SELECT c_nationkey, c_mktsegment,
                   CAST(s AS BIGINT) AS class_size,
                   ROUND(num / (2.0 * s * n_total), 6) AS t_distance
            FROM per
            WHERE ROUND(num / (2.0 * s * n_total), 6) > 0.1
        """,
        "seasonal_anomalies": """
            WITH counts AS (
              SELECT event_type, date_trunc('hour', ts) AS bucket,
                     COUNT(*) AS n_events
              FROM events GROUP BY 1, 2
            ),
            slotted AS (
              SELECT *, CAST(dayofweek(bucket) * 24 + hour(bucket) AS INT) AS slot
              FROM counts
            ),
            stats AS (
              SELECT event_type, slot,
                     AVG(CAST(n_events AS DOUBLE)) AS mu,
                     STDDEV_SAMP(CAST(n_events AS DOUBLE)) AS sd,
                     COUNT(*) AS cnt
              FROM slotted GROUP BY 1, 2
            )
            SELECT s.event_type, s.bucket, s.n_events, s.slot,
                   ROUND(CASE WHEN st.cnt >= 2 AND st.sd IS NOT NULL AND st.sd > 0
                              THEN (CAST(s.n_events AS DOUBLE) - st.mu) / st.sd
                         END, 4) AS z_score
            FROM slotted s JOIN stats st USING (event_type, slot)
        """,
        "signal_percentiles": f"""
            WITH lng AS (
              SELECT doc_id, 'chars' AS sig, CAST(n_chars AS DOUBLE) AS val
              FROM documents
              UNION ALL
              SELECT doc_id, 'toks', CAST(len({_TOKS}) AS DOUBLE)
              FROM documents
            ),
            stats AS (
              SELECT sig, MIN(val) AS mn, MAX(val) AS mx, COUNT(*) AS n
              FROM lng GROUP BY sig
            ),
            binned AS (
              SELECT l.doc_id, l.sig, s.n,
                     CASE WHEN s.mx = s.mn THEN 0
                          ELSE LEAST(CAST(FLOOR((l.val - s.mn)
                                     / ((s.mx - s.mn) / 1000.0)) AS INT), 999)
                     END AS bin
              FROM lng l JOIN stats s ON s.sig = l.sig
            ),
            hist AS (SELECT sig, bin, COUNT(*) AS c FROM binned GROUP BY 1, 2),
            cum AS (
              SELECT sig, bin,
                     SUM(c) OVER (PARTITION BY sig ORDER BY bin
                                  ROWS UNBOUNDED PRECEDING) AS cm
              FROM hist
            ),
            scored AS (
              SELECT b.doc_id, b.sig, ROUND(cum.cm / b.n, 6) AS pct
              FROM binned b JOIN cum ON cum.sig = b.sig AND cum.bin = b.bin
            )
            SELECT doc_id,
                   MAX(CASE WHEN sig = 'chars' THEN pct END) AS pct_chars,
                   MAX(CASE WHEN sig = 'toks' THEN pct END) AS pct_toks,
                   ROUND((MAX(CASE WHEN sig = 'chars' THEN pct END)
                          + MAX(CASE WHEN sig = 'toks' THEN pct END)) / 2.0, 6)
                     AS composite
            FROM scored GROUP BY doc_id
        """,
        # from-scratch recomputation on purpose: the Spark side runs the
        # retract/apply delta path, so a green row proves incremental
        # maintenance equals full re-aggregation
        "incremental_agg": """
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
        """,
        "ri_audit": """
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
        """,
        # greedy kept-set recursion replayed as a recursive LATERAL query:
        # each kept row picks the next event >= cooldown after it; the
        # Spark side is a sequential per-user Arrow scan
        "debounce_events": """
            WITH RECURSIVE ev AS (
              SELECT user_id, event_id, epoch_us(ts) AS us,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS rn
              FROM events
            ),
            r AS (
              SELECT user_id, event_id, us, rn FROM ev WHERE rn = 1
              UNION ALL
              SELECT nxt.user_id, nxt.event_id, nxt.us, nxt.rn
              FROM r, LATERAL (
                SELECT e.user_id, e.event_id, e.us, e.rn
                FROM ev e
                WHERE e.user_id = r.user_id
                  AND e.us >= r.us + 300 * 1000000
                  AND e.rn > r.rn
                ORDER BY e.us, e.event_id LIMIT 1
              ) nxt(user_id, event_id, us, rn)
            )
            SELECT user_id, event_id, make_timestamp(us) AS ts FROM r
        """,
        # the oracle runs the GLOBAL-window sweep line the Spark side
        # deliberately avoids, so a green row certifies the bucket-local +
        # carry decomposition against the textbook formulation
        "session_concurrency": """
            WITH flagged AS (
              SELECT user_id, event_id, ts,
                     CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                               OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 30 * 60 * 1000000
                          THEN 1 ELSE 0 END AS boundary
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), sess AS (
              SELECT *, SUM(boundary) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
              FROM flagged
            ), s AS (
              SELECT user_id, session_id, MIN(ts) AS st, MAX(ts) AS en
              FROM sess GROUP BY user_id, session_id
            ), d AS (
              SELECT st AS t, 1 AS delta FROM s
              UNION ALL
              SELECT en AS t, -1 AS delta FROM s
            ), r AS (
              SELECT date_trunc('hour', t) AS bucket_ts, delta,
                     SUM(delta) OVER (ORDER BY t, delta
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
              FROM d
            )
            SELECT bucket_ts,
                   CAST(MAX(GREATEST(run, run - delta)) AS BIGINT) AS peak_concurrency
            FROM r GROUP BY bucket_ts
        """,
        "asof_join": """
            WITH tagged AS (
              SELECT event_id, user_id, ts, event_type,
                     last_value(CASE WHEN event_type = 'view' THEN epoch_us(ts) END IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_view_us
              FROM events
            )
            SELECT event_id, user_id, epoch_us(ts) AS purchase_us, last_view_us,
                   (epoch_us(ts) - last_view_us) / 1000000.0 AS secs_since_view
            FROM tagged WHERE event_type = 'purchase'
        """,
        "events_json_stats": """
            SELECT event_type,
                   CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
                   COUNT(*) AS n_events
            FROM events GROUP BY event_type
        """,
        "minmax_probe": """
            SELECT 'orders' AS table_name, MIN(o_orderkey) AS min_key,
                   MAX(o_orderkey) AS max_key, COUNT(*) AS row_cnt
            FROM orders
        """,
        "row_counts": """
            SELECT 'customer' AS table_name, COUNT(*) AS row_cnt FROM customer
            UNION ALL SELECT 'documents', COUNT(*) FROM documents
            UNION ALL SELECT 'embeddings', COUNT(*) FROM embeddings
            UNION ALL SELECT 'events', COUNT(*) FROM events
            UNION ALL SELECT 'lineitem', COUNT(*) FROM lineitem
            UNION ALL SELECT 'nation', COUNT(*) FROM nation
            UNION ALL SELECT 'orders', COUNT(*) FROM orders
            UNION ALL SELECT 'part', COUNT(*) FROM part
            UNION ALL SELECT 'region', COUNT(*) FROM region
            UNION ALL SELECT 'supplier', COUNT(*) FROM supplier
        """,
        "sequence_reset": """
            SELECT 'customer' AS table_name, COALESCE(MAX(c_custkey), 0) + 1 AS next_val FROM customer
            UNION ALL SELECT 'orders', COALESCE(MAX(o_orderkey), 0) + 1 FROM orders
            UNION ALL SELECT 'part', COALESCE(MAX(p_partkey), 0) + 1 FROM part
        """,
        "chunked_scan": """
            SELECT o_orderkey, o_custkey,
                   CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS o_totalprice
            FROM orders
        """,
        "orphan_anti_join": """
            SELECT event_id, user_id FROM events e
            WHERE user_id IS NOT NULL
              AND NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey < 100 AND c.c_custkey = e.user_id)
        """,
        "orphan_set_null": """
            SELECT event_id,
                   CASE WHEN user_id IS NOT NULL
                             AND NOT EXISTS (SELECT 1 FROM customer c
                                             WHERE c.c_custkey < 100 AND c.c_custkey = e.user_id)
                        THEN NULL ELSE user_id END AS user_id
            FROM events e
        """,
        "transform_uuid": """
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
        """,
        "transform_strings": """
            SELECT doc_id,
                   replace(text || chr(0) || 'tail' || chr(0), chr(0), '') AS clean_text,
                   length(replace(text || chr(0) || 'tail' || chr(0), chr(0), '')) AS clean_len,
                   '{"v":"x"}' AS clean_json
            FROM documents
        """,
        "transform_bool": """
            SELECT l_orderkey, l_linenumber,
                   (l_linenumber % 2) = 1 AS flag_strict,
                   l_linenumber <> 0 AS flag_loose
            FROM lineitem
        """,
        "transform_set_split": """
            SELECT p_partkey, unnest(string_split(p_name, ' ')) AS feature FROM part
        """,
        "transform_bits": """
            SELECT p_partkey, lpad(bin(p_partkey % 32), 5, '0') AS bits5 FROM part
        """,
        "transform_time_interval": """
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
        """,
        "transform_year_money": """
            SELECT o_orderkey,
                   CAST(year(o_orderdate) AS INT) AS order_year,
                   CAST(CAST(o_totalprice AS DECIMAL(19,4)) AS VARCHAR) AS money_str
            FROM orders
        """,
        "transform_zero_date": """
            SELECT o_orderkey,
                   CASE WHEN o_orderkey % 100 = 0 THEN NULL
                        ELSE strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') END AS clean_date
            FROM orders
        """,
        "quality_checks": """
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
        """,
        "text_stats": f"""
            SELECT doc_id,
                   len({_TOKS}) AS n_tokens,
                   length(text) AS n_chars_m,
                   ROUND(CAST(list_sum(list_transform({_TOKS}, t -> length(t))) AS DOUBLE)
                         / len({_TOKS}), 4) AS avg_token_len,
                   ROUND(CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE)
                         / greatest(length(text), 1), 4) AS punct_ratio,
                   ROUND(
                     0.4 * least(len({_TOKS}) / 100.0, 1.0)
                   + 0.3 * (CASE WHEN CAST(list_sum(list_transform({_TOKS}, t -> length(t))) AS DOUBLE)
                                      / len({_TOKS}) BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END)
                   + 0.3 * (1.0 - least(5.0 * (CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE)
                                               / greatest(length(text), 1)), 1.0)), 4) AS quality
            FROM documents
        """,
        "lang_id": f"""
            WITH hits AS (
              SELECT doc_id, lang,
                     {hits['de']} AS h_de, {hits['en']} AS h_en,
                     {hits['es']} AS h_es, {hits['fr']} AS h_fr
              FROM documents
            ), best AS (
              SELECT *, greatest(h_de, h_en, h_es, h_fr) AS best FROM hits
            )
            SELECT doc_id, lang, {lang_case} AS lang_guess FROM best
        """,
        "bpe_token_count": f"""
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text,
                        ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+')) AS INTEGER) AS n_subwords,
                   CAST(len({_TOKS}) AS INTEGER) AS n_words
            FROM documents
        """,
        "winnow_summary": winnow_cte
        + """
            SELECT doc_id,
                   CAST(len(fps) AS INTEGER) AS n_fp,
                   list_min(fps) AS min_fp,
                   list_max(fps) AS max_fp,
                   COALESCE(CAST(list_sum(fps) AS BIGINT), 0) AS sum_fp
            FROM wf
        """,
        "winnow_shared_pairs": winnow_cte
        + """
            , ex AS (SELECT doc_id, unnest(fps) AS fp FROM wf)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared_fp
            FROM ex a JOIN ex b USING (fp)
            WHERE a.doc_id < b.doc_id
            GROUP BY 1, 2
            HAVING COUNT(*) >= 50
        """,
        "winnow_shared_pairs_capped": winnow_cte
        + """
            , ex AS (SELECT doc_id, unnest(fps) AS fp FROM wf),
            good AS (SELECT fp FROM ex GROUP BY fp HAVING COUNT(*) <= 100),
            exg AS (SELECT ex.doc_id, ex.fp FROM ex JOIN good USING (fp))
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared_fp
            FROM exg a JOIN exg b USING (fp)
            WHERE a.doc_id < b.doc_id
            GROUP BY 1, 2
            HAVING COUNT(*) >= 50
        """,
        "containment_adjacent": f"""
            WITH tk AS (
              SELECT doc_id, {_LTOKS} AS toks
              FROM documents
            ), grams AS (
              SELECT doc_id,
                     list_distinct(CASE WHEN len(toks) < 3 THEN []
                          ELSE list_transform(range(len(toks) - 2),
                                              i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))
                     END) AS g
              FROM tk
            ), ex AS (
              SELECT doc_id, len(g) AS n, unnest(g) AS gram FROM grams
            ), pairs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
            ), inter AS (
              SELECT p.id_a, p.id_b, COUNT(*) AS c,
                     any_value(x.n) AS n_a, any_value(y.n) AS n_b
              FROM pairs p
              JOIN ex x ON x.doc_id = p.id_a
              JOIN ex y ON y.doc_id = p.id_b AND y.gram = x.gram
              GROUP BY p.id_a, p.id_b
            )
            SELECT p.id_a, p.id_b,
                   COALESCE(ROUND(CAST(c AS DOUBLE) / n_a, 4), 0.0) AS containment_a,
                   COALESCE(ROUND(CAST(c AS DOUBLE) / n_b, 4), 0.0) AS containment_b
            FROM pairs p
            LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
        """,
        "dedup_pair_recall": winnow_cte
        + f"""
            , wex AS (SELECT doc_id, unnest(fps) AS fp FROM wf),
            good AS (SELECT fp FROM wex GROUP BY fp HAVING COUNT(*) <= 100),
            exg AS (SELECT wex.doc_id, wex.fp FROM wex JOIN good USING (fp)),
            wpairs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM exg a JOIN exg b USING (fp)
              WHERE a.doc_id < b.doc_id
              GROUP BY 1, 2
              HAVING COUNT(*) >= 50
            ),
            approx AS (SELECT id_a, id_b FROM wpairs),
            tk AS (SELECT doc_id, {_LTOKS} AS toks FROM documents),
            jg AS (
              SELECT doc_id,
                     list_distinct(CASE WHEN len(toks) < 3 THEN []
                          ELSE list_transform(range(len(toks) - 2),
                                              i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))
                     END) AS g
              FROM tk
            ),
            jx AS (SELECT doc_id, len(g) AS n, unnest(g) AS gram FROM jg),
            inter AS (
              SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS c,
                     any_value(x.n) AS n_a, any_value(y.n) AS n_b
              FROM jx x
              JOIN jx y ON y.gram = x.gram AND y.doc_id > x.doc_id
              GROUP BY 1, 2
            ),
            exact AS (
              SELECT id_a, id_b FROM inter
              WHERE ROUND(CAST(c AS DOUBLE) / (n_a + n_b - c), 4) >= 0.5
            ),
            hit AS (SELECT e.id_a, e.id_b FROM exact e JOIN approx USING (id_a, id_b))
            SELECT CAST((SELECT COUNT(*) FROM exact) AS BIGINT) AS n_exact,
                   CAST((SELECT COUNT(*) FROM approx) AS BIGINT) AS n_approx,
                   CAST((SELECT COUNT(*) FROM hit) AS BIGINT) AS n_hit,
                   CASE WHEN (SELECT COUNT(*) FROM exact) > 0 THEN
                     ROUND((SELECT COUNT(*) FROM hit)
                           / CAST((SELECT COUNT(*) FROM exact) AS DOUBLE), 4)
                   END AS recall,
                   CASE WHEN (SELECT COUNT(*) FROM approx) > 0 THEN
                     ROUND((SELECT COUNT(*) FROM hit)
                           / CAST((SELECT COUNT(*) FROM approx) AS DOUBLE), 4)
                   END AS "precision"
        """,
        "cdc_merge": """
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
        """,
        "scd2_history": """
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
        """,
        "range_join_incidents": """
            SELECT p.event_id,
                   i.incident_id,
                   (epoch_us(p.ts) - epoch_us(i.lo)) / 1000000.0 AS secs_into_incident
            FROM events p
            JOIN (SELECT event_id AS incident_id, ts AS lo,
                         ts + INTERVAL 30 MINUTE AS hi
                  FROM events
                  WHERE event_type = 'error' AND event_id % 20 = 0) i
              ON p.ts >= i.lo AND p.ts <= i.hi
        """,
        "time_rollup": """
            WITH b AS (
              SELECT event_type,
                     date_trunc('minute', ts) AS b_minute,
                     date_trunc('hour', ts) AS b_hour,
                     date_trunc('day', ts) AS b_day
              FROM events
            )
            SELECT CASE WHEN b_minute IS NOT NULL THEN 'minute'
                        WHEN b_hour IS NOT NULL THEN 'hour'
                        ELSE 'day' END AS resolution,
                   COALESCE(b_minute, b_hour, b_day) AS bucket_start,
                   event_type,
                   COUNT(*) AS n_events
            FROM b
            GROUP BY GROUPING SETS ((b_minute, event_type), (b_hour, event_type),
                                    (b_day, event_type))
        """,
        "inverted_index": f"""
            WITH toks AS (
              SELECT doc_id, unnest({_TOKS.replace('text', 'lower(text)')}) AS token
              FROM documents
            ),
            tf AS (
              SELECT token, doc_id, COUNT(*) AS tf
              FROM toks GROUP BY token, doc_id
            )
            SELECT token, doc_id, tf,
                   COUNT(*) OVER (PARTITION BY token) AS doc_freq,
                   CAST(ROW_NUMBER() OVER (PARTITION BY token
                                           ORDER BY doc_id ASC) AS INTEGER) AS posting_rank
            FROM tf
        """,
        "keyword_search": f"""
            WITH toks AS (
              SELECT doc_id, unnest({_TOKS.replace('text', 'lower(text)')}) AS token
              FROM documents
            )
            SELECT doc_id, COUNT(*) AS total_tf
            FROM toks
            WHERE token IN ('table', 'window')
            GROUP BY doc_id
            HAVING COUNT(DISTINCT token) = 2
        """,
        "dedup_clusters": winnow_cte.replace("WITH h AS", "WITH RECURSIVE h AS")
        + """
            , ex AS (SELECT doc_id, unnest(fps) AS fp FROM wf),
            pairs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM ex a JOIN ex b USING (fp)
              WHERE a.doc_id < b.doc_id
              GROUP BY 1, 2
              HAVING COUNT(*) >= 50
            ),
            edges AS (SELECT id_a AS a, id_b AS b FROM pairs
                      UNION SELECT id_b, id_a FROM pairs),
            reach AS (
              SELECT a AS src, a AS dst FROM edges
              UNION
              SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
            )
            SELECT src AS doc_id, MIN(dst) AS cluster_id
            FROM reach GROUP BY src
        """,
        # same recursive closure as dedup_clusters, then the split bucket
        # hashes COALESCE(cluster_id, doc_id) — singletons fall back to
        # the plain dataset_split assignment
        "cluster_safe_split": winnow_cte.replace("WITH h AS", "WITH RECURSIVE h AS")
        + """
            , ex AS (SELECT doc_id, unnest(fps) AS fp FROM wf),
            pairs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM ex a JOIN ex b USING (fp)
              WHERE a.doc_id < b.doc_id
              GROUP BY 1, 2
              HAVING COUNT(*) >= 50
            ),
            edges AS (SELECT id_a AS a, id_b AS b FROM pairs
                      UNION SELECT id_b, id_a FROM pairs),
            reach AS (
              SELECT a AS src, a AS dst FROM edges
              UNION
              SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
            ),
            cl AS (SELECT src AS doc_id, MIN(dst) AS cluster_id
                   FROM reach GROUP BY src)
            SELECT d.doc_id,
                   CASE WHEN ('0x' || substr(md5(CAST(COALESCE(cl.cluster_id, d.doc_id)
                                                      AS VARCHAR)), 1, 8))::BIGINT % 100 < 80
                             THEN 'train'
                        WHEN ('0x' || substr(md5(CAST(COALESCE(cl.cluster_id, d.doc_id)
                                                      AS VARCHAR)), 1, 8))::BIGINT % 100 < 90
                             THEN 'val'
                        ELSE 'test' END AS split
            FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id
        """,
        "pii_scrub": f"""
            WITH s1 AS (
              SELECT doc_id, text,
                     len(regexp_extract_all(text, '{_PII_EMAIL}')) AS c1,
                     regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g') AS t1
              FROM documents
            ),
            s2 AS (
              SELECT doc_id, c1,
                     len(regexp_extract_all(t1, '{_PII_IPV4}')) AS c2,
                     regexp_replace(t1, '{_PII_IPV4}', '<IP>', 'g') AS t2
              FROM s1
            )
            SELECT doc_id,
                   regexp_replace(t2, '{_PII_PHONE}', '<PHONE>', 'g') AS scrubbed,
                   CAST(c1 + c2 + len(regexp_extract_all(t2, '{_PII_PHONE}')) AS INTEGER) AS n_pii
            FROM s2
        """,
        "dataset_split": """
            SELECT doc_id,
                   CASE WHEN b < 80 THEN 'train'
                        WHEN b < 90 THEN 'val'
                        ELSE 'test' END AS split
            FROM (SELECT doc_id,
                         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
                  FROM documents)
        """,
        "quota_sample": """
            SELECT doc_id, lang, n_chars
            FROM (SELECT doc_id, lang, n_chars,
                         ROW_NUMBER() OVER (PARTITION BY lang
                                            ORDER BY n_chars DESC, doc_id ASC) AS rk
                  FROM documents)
            WHERE rk <= 20
        """,
        "pack_sequences": f"""
            WITH toked AS (
              SELECT doc_id, lang, CAST(len({_TOKS}) AS BIGINT) AS n_tokens
              FROM documents
            )
            SELECT doc_id, lang, n_tokens,
                   CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (
                          PARTITION BY lang ORDER BY doc_id ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                        ), 0) / 2048.0) AS BIGINT) AS bin_id
            FROM toked
        """,
        "packing_efficiency": f"""
            WITH toked AS (
              SELECT doc_id, lang, CAST(len({_TOKS}) AS BIGINT) AS n_tokens
              FROM documents
            ), packed AS (
              SELECT lang, n_tokens,
                     CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (
                            PARTITION BY lang ORDER BY doc_id ASC
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                          ), 0) / 2048.0) AS BIGINT) AS bin_id
              FROM toked
            ), per_bin AS (
              SELECT lang, bin_id, SUM(n_tokens) AS t
              FROM packed GROUP BY lang, bin_id
            )
            SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
                   CAST(SUM(t) AS BIGINT) AS total_tokens,
                   ROUND(CAST(SUM(t) AS DOUBLE) / (COUNT(*) * 2048.0), 6) AS mean_fill,
                   CAST(SUM(CASE WHEN t > 2048 THEN 1 ELSE 0 END) AS BIGINT) AS n_overflow_bins,
                   CAST(SUM(CASE WHEN t < 2048 THEN 1 ELSE 0 END) AS BIGINT) AS n_underfull_bins
            FROM per_bin
        """,
        "fingerprint_dedup": """
            SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
                   MIN(doc_id) AS keeper_id, COUNT(*) AS dup_count
            FROM documents GROUP BY 1
        """,
        "exact_dedup_groups": """
            SELECT MIN(doc_id) AS keeper_id, COUNT(*) AS dup_count
            FROM documents GROUP BY text
        """,
        "minhash_buckets_md5": minhash_cte + "SELECT doc_id, band_id, band_hash FROM buckets",
        "lsh_candidate_pairs_md5": minhash_cte
        + """
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM buckets a JOIN buckets b USING (band_id, band_hash)
            WHERE a.doc_id < b.doc_id
        """,
        "lsh_candidate_pairs_md5_capped": minhash_cte
        + """
            , kept AS (
              SELECT band_id, band_hash FROM buckets
              GROUP BY 1, 2 HAVING COUNT(*) <= 3
            ),
            kb AS (
              SELECT b.doc_id, b.band_id, b.band_hash
              FROM buckets b
              JOIN kept k ON b.band_id = k.band_id AND b.band_hash = k.band_hash
            )
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM kb a JOIN kb b USING (band_id, band_hash)
            WHERE a.doc_id < b.doc_id
        """,
        "near_dup_verified": minhash_cte
        + """
            , cand AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM buckets a JOIN buckets b USING (band_id, band_hash)
              WHERE a.doc_id < b.doc_id
            ),
            jx AS (SELECT doc_id, len(grams) AS n, unnest(grams) AS gram FROM gr),
            inter AS (
              SELECT c.id_a, c.id_b, COUNT(*) AS c,
                     any_value(x.n) AS n_a, any_value(y.n) AS n_b
              FROM cand c
              JOIN jx x ON x.doc_id = c.id_a
              JOIN jx y ON y.doc_id = c.id_b AND y.gram = x.gram
              GROUP BY c.id_a, c.id_b
            )
            SELECT id_a, id_b,
                   ROUND(CAST(c AS DOUBLE) / (n_a + n_b - c), 4) AS jaccard
            FROM inter
            WHERE ROUND(CAST(c AS DOUBLE) / (n_a + n_b - c), 4) >= 0.5
        """,
        "dedup_method_agreement": minhash_cte
        + """
            , cand AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM buckets a JOIN buckets b USING (band_id, band_hash)
              WHERE a.doc_id < b.doc_id
            ),
            jx AS (SELECT doc_id, len(grams) AS n, unnest(grams) AS gram FROM gr),
            inter AS (
              SELECT c.id_a, c.id_b, COUNT(*) AS c,
                     any_value(x.n) AS n_a, any_value(y.n) AS n_b
              FROM cand c
              JOIN jx x ON x.doc_id = c.id_a
              JOIN jx y ON y.doc_id = c.id_b AND y.gram = x.gram
              GROUP BY c.id_a, c.id_b
            ),
            tp AS (
              SELECT id_a, id_b FROM inter
              WHERE ROUND(CAST(c AS DOUBLE) / (n_a + n_b - c), 4) >= 0.5
            ),
            ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            vp AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b
              FROM ev a JOIN ev b ON a.vec_id < b.vec_id
              WHERE ROUND(list_dot_product(a.v, b.v)
                          / (sqrt(list_dot_product(a.v, a.v))
                             * sqrt(list_dot_product(b.v, b.v))), 4) >= 0.35
            ),
            cnts AS (
              SELECT (SELECT COUNT(*) FROM tp) AS nt,
                     (SELECT COUNT(*) FROM vp) AS nv,
                     (SELECT COUNT(*) FROM tp JOIN vp USING (id_a, id_b)) AS nb
            )
            SELECT CAST(nt AS BIGINT) AS n_text_pairs,
                   CAST(nv AS BIGINT) AS n_vec_pairs,
                   CAST(nb AS BIGINT) AS n_both,
                   CASE WHEN nt + nv - nb > 0
                        THEN ROUND(CAST(nb AS DOUBLE) / (nt + nv - nb), 6)
                   END AS method_jaccard
            FROM cnts
        """,
        "cross_corpus_near_dup": minhash_cte
        + """
            , cand AS (
              SELECT DISTINCT l.doc_id AS bench_id, r.doc_id AS corpus_id
              FROM buckets l JOIN buckets r USING (band_id, band_hash)
              WHERE l.doc_id % 10 = 0 AND r.doc_id % 10 <> 0
            ),
            jx AS (SELECT doc_id, len(grams) AS n, unnest(grams) AS gram FROM gr),
            inter AS (
              SELECT c.bench_id, c.corpus_id, COUNT(*) AS c,
                     any_value(x.n) AS n_a, any_value(y.n) AS n_b
              FROM cand c
              JOIN jx x ON x.doc_id = c.bench_id
              JOIN jx y ON y.doc_id = c.corpus_id AND y.gram = x.gram
              GROUP BY c.bench_id, c.corpus_id
            )
            SELECT bench_id, corpus_id,
                   ROUND(CAST(c AS DOUBLE) / (n_a + n_b - c), 4) AS jaccard
            FROM inter
            WHERE ROUND(CAST(c AS DOUBLE) / (n_a + n_b - c), 4) >= 0.5
        """,
        "cross_corpus_near_dup_capped": minhash_cte
        + """
            , kept AS (
              SELECT band_id, band_hash FROM buckets
              WHERE doc_id % 10 <> 0
              GROUP BY 1, 2 HAVING COUNT(*) <= 3
            ),
            cand AS (
              SELECT DISTINCT l.doc_id AS bench_id, r.doc_id AS corpus_id
              FROM buckets l
              JOIN buckets r USING (band_id, band_hash)
              JOIN kept k ON r.band_id = k.band_id AND r.band_hash = k.band_hash
              WHERE l.doc_id % 10 = 0 AND r.doc_id % 10 <> 0
            ),
            jx AS (SELECT doc_id, len(grams) AS n, unnest(grams) AS gram FROM gr),
            inter AS (
              SELECT c.bench_id, c.corpus_id, COUNT(*) AS c,
                     any_value(x.n) AS n_a, any_value(y.n) AS n_b
              FROM cand c
              JOIN jx x ON x.doc_id = c.bench_id
              JOIN jx y ON y.doc_id = c.corpus_id AND y.gram = x.gram
              GROUP BY c.bench_id, c.corpus_id
            )
            SELECT bench_id, corpus_id,
                   ROUND(CAST(c AS DOUBLE) / (n_a + n_b - c), 4) AS jaccard
            FROM inter
            WHERE ROUND(CAST(c AS DOUBLE) / (n_a + n_b - c), 4) >= 0.5
        """,
        "embedding_drift_psi": """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            bl AS (SELECT vec_id, v FROM e WHERE vec_id % 2 = 0),
            c AS (SELECT vec_id AS cell_id, v AS cvec FROM bl WHERE vec_id < 8),
            dots AS (SELECT e.vec_id, c.cell_id,
                            ROUND(list_dot_product(e.v, c.cvec), 4) AS dot
                     FROM e CROSS JOIN c),
            ranked AS (SELECT *, row_number() OVER (PARTITION BY vec_id
                                                    ORDER BY dot DESC, cell_id ASC) AS rnk
                       FROM dots),
            asg AS (SELECT vec_id, cell_id FROM ranked WHERE rnk = 1),
            ho AS (SELECT cell_id, COUNT(*) AS c_old FROM asg WHERE vec_id % 2 = 0 GROUP BY 1),
            hn AS (SELECT cell_id, COUNT(*) AS c_new FROM asg WHERE vec_id % 2 = 1 GROUP BY 1),
            merged AS (
              SELECT COALESCE(ho.c_old, 0) AS c_old, COALESCE(hn.c_new, 0) AS c_new
              FROM ho FULL OUTER JOIN hn USING (cell_id)
            ),
            tot AS (SELECT SUM(c_old) AS n_old, SUM(c_new) AS n_new FROM merged),
            terms AS (
              SELECT n_old, n_new,
                     (greatest(c_new / CAST(n_new AS DOUBLE), 1e-6)
                      - greatest(c_old / CAST(n_old AS DOUBLE), 1e-6))
                     * ln(greatest(c_new / CAST(n_new AS DOUBLE), 1e-6)
                          / greatest(c_old / CAST(n_old AS DOUBLE), 1e-6)) AS t
              FROM merged, tot
            )
            SELECT ROUND(SUM(t), 6) AS psi,
                   CAST(any_value(n_old) AS BIGINT) AS n_old,
                   CAST(any_value(n_new) AS BIGINT) AS n_new
            FROM terms
        """,
        "mixture_epochs": """
            WITH ep AS (
              SELECT doc_id, source,
                     CASE source WHEN 'src0' THEN 2.4 WHEN 'src1' THEN 0.5
                                 WHEN 'src2' THEN 1.0 ELSE 0.0 END AS e,
                     ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14))::BIGINT
                       % 1000000 AS hfrac
              FROM documents
            ),
            n AS (
              SELECT doc_id, source,
                     CAST(floor(e) AS INT)
                     + (CASE WHEN hfrac / 1000000.0 < e - floor(e)
                             THEN 1 ELSE 0 END) AS n_copies
              FROM ep
            )
            SELECT doc_id, source, CAST(unnest(range(n_copies)) AS INT) AS copy_idx
            FROM n WHERE n_copies > 0
        """,
        "boilerplate_ngrams": f"""
            WITH tk AS (SELECT doc_id, {_LTOKS} AS toks FROM documents),
            gr AS (
              SELECT doc_id,
                     list_distinct(CASE WHEN len(toks) < 3 THEN []
                          ELSE list_transform(range(len(toks) - 2),
                                              i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))
                     END) AS grams
              FROM tk
            ),
            ex AS (SELECT doc_id, unnest(grams) AS ngram FROM gr),
            cnt AS (SELECT ngram, COUNT(*) AS doc_freq FROM ex GROUP BY 1),
            top AS (
              SELECT ngram, doc_freq FROM cnt WHERE doc_freq >= 2
              ORDER BY doc_freq DESC, ngram ASC LIMIT 50
            ),
            tot AS (SELECT COUNT(*) AS nd FROM documents)
            SELECT ngram, doc_freq,
                   ROUND(CAST(doc_freq AS DOUBLE) / nd, 6) AS doc_share
            FROM top, tot
        """,
        "quality_twin_auc": f"""
            WITH lab AS (
              SELECT doc_id, text,
                     CASE WHEN ROUND(
                       0.4 * least(len({_TOKS}) / 100.0, 1.0)
                     + 0.3 * (CASE WHEN CAST(list_sum(list_transform({_TOKS}, t -> length(t))) AS DOUBLE)
                                        / len({_TOKS}) BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END)
                     + 0.3 * (1.0 - least(5.0 * (CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE)
                                                 / greatest(length(text), 1)), 1.0)), 4) >= 0.8
                     THEN 1 ELSE 0 END AS label
              FROM documents
            ),
            tok AS (
              SELECT doc_id, unnest({_LTOKS}) AS tok
              FROM lab
            ),
            bk AS (
              SELECT doc_id,
                     ('0x' || substr(md5(tok), 1, 14))::BIGINT % 4096 AS b
              FROM tok
            ),
            cnt AS (
              SELECT bk.b, SUM(l.label) AS pos, SUM(1 - l.label) AS neg
              FROM bk JOIN lab l USING (doc_id) GROUP BY bk.b
            ),
            tot AS (SELECT SUM(pos) AS p, SUM(neg) AS n FROM cnt),
            w AS (
              SELECT b,
                     CAST(ROUND((ln((pos + 1.0) / (p + 4096.0))
                               - ln((neg + 1.0) / (n + 4096.0))) * 1e6) AS BIGINT) AS w
              FROM cnt, tot
            ),
            ds AS (
              SELECT bk.doc_id, SUM(w.w) AS sm
              FROM bk JOIN w USING (b) GROUP BY bk.doc_id
            ),
            sc AS (
              SELECT l.doc_id, COALESCE(ds.sm, 0) AS score_micro, l.label
              FROM lab l LEFT JOIN ds USING (doc_id)
            ),
            agg AS (
              SELECT score_micro AS s, SUM(label) AS np, COUNT(*) AS nt
              FROM sc GROUP BY 1
            ),
            rk AS (
              SELECT s, np, nt,
                     COALESCE(SUM(nt) OVER (ORDER BY s
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
              FROM agg
            ),
            st AS (
              SELECT SUM(np * (cum + (nt + 1) / 2.0)) AS rank_sum,
                     SUM(np) AS npos, SUM(nt - np) AS nneg
              FROM rk
            )
            SELECT CAST(npos AS BIGINT) AS n_pos, CAST(nneg AS BIGINT) AS n_neg,
                   ROUND((rank_sum - npos * (npos + 1) / 2.0)
                         / (npos * nneg), 6) AS auc
            FROM st
        """,
        "minhash_pair_recall": minhash_cte
        + """
            , approx AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM buckets a JOIN buckets b USING (band_id, band_hash)
              WHERE a.doc_id < b.doc_id
            ),
            jx AS (SELECT doc_id, len(grams) AS n, unnest(grams) AS gram FROM gr),
            inter AS (
              SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS c,
                     any_value(x.n) AS n_a, any_value(y.n) AS n_b
              FROM jx x
              JOIN jx y ON y.gram = x.gram AND y.doc_id > x.doc_id
              GROUP BY 1, 2
            ),
            exact AS (
              SELECT id_a, id_b FROM inter
              WHERE ROUND(CAST(c AS DOUBLE) / (n_a + n_b - c), 4) >= 0.5
            ),
            hit AS (SELECT e.id_a, e.id_b FROM exact e JOIN approx USING (id_a, id_b))
            SELECT CAST((SELECT COUNT(*) FROM exact) AS BIGINT) AS n_exact,
                   CAST((SELECT COUNT(*) FROM approx) AS BIGINT) AS n_approx,
                   CAST((SELECT COUNT(*) FROM hit) AS BIGINT) AS n_hit,
                   CASE WHEN (SELECT COUNT(*) FROM exact) > 0 THEN
                     ROUND((SELECT COUNT(*) FROM hit)
                           / CAST((SELECT COUNT(*) FROM exact) AS DOUBLE), 4)
                   END AS recall,
                   CASE WHEN (SELECT COUNT(*) FROM approx) > 0 THEN
                     ROUND((SELECT COUNT(*) FROM hit)
                           / CAST((SELECT COUNT(*) FROM approx) AS DOUBLE), 4)
                   END AS "precision"
        """,
        "jaccard_adjacent": f"""
            WITH tk AS (
              SELECT doc_id, {_LTOKS} AS toks
              FROM documents
            ), grams AS (
              SELECT doc_id,
                     list_distinct(CASE WHEN len(toks) < 3 THEN []
                          ELSE list_transform(range(len(toks) - 2),
                                              i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))
                     END) AS g
              FROM tk
            ), ex AS (
              SELECT doc_id, len(g) AS n, unnest(g) AS gram FROM grams
            ), pairs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
            ), inter AS (
              SELECT p.id_a, p.id_b, COUNT(*) AS c,
                     any_value(x.n) AS n_a, any_value(y.n) AS n_b
              FROM pairs p
              JOIN ex x ON x.doc_id = p.id_a
              JOIN ex y ON y.doc_id = p.id_b AND y.gram = x.gram
              GROUP BY p.id_a, p.id_b
            )
            SELECT p.id_a, p.id_b,
                   COALESCE(ROUND(CAST(c AS DOUBLE) / (n_a + n_b - c), 4), 0.0) AS jaccard
            FROM pairs p
            LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
        """,
        "simhash32": simhash_fp_cte + "SELECT doc_id, simhash FROM fp",
        "simhash_near_pairs_md5": simhash_fp_cte
        + """
            , bl AS (
              SELECT doc_id, simhash, band_id,
                     (simhash >> (band_id * 8)) & 255 AS band_val
              FROM fp CROSS JOIN (SELECT unnest(range(4)) AS band_id)
            )
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
            FROM bl a JOIN bl b USING (band_id, band_val)
            WHERE a.doc_id < b.doc_id
              AND bit_count(xor(a.simhash, b.simhash)) <= 3
        """,
        "embedding_near_dup": """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   ROUND(list_dot_product(a.v, b.v)
                         / (sqrt(list_dot_product(a.v, a.v))
                            * sqrt(list_dot_product(b.v, b.v))), 4) AS cosine_sim
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE ROUND(list_dot_product(a.v, b.v)
                        / (sqrt(list_dot_product(a.v, a.v))
                           * sqrt(list_dot_product(b.v, b.v))), 4) >= 0.35
        """,
        "embedding_dedup": """
            WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
            SELECT a.vec_id, a.label
            FROM e a
            WHERE NOT EXISTS (
                SELECT 1 FROM e b
                WHERE b.vec_id < a.vec_id
                  AND ROUND(list_dot_product(a.v, b.v)
                            / (sqrt(list_dot_product(a.v, a.v))
                               * sqrt(list_dot_product(b.v, b.v))), 4) >= 0.35
            )
        """,
        "cosine_topk": """
            WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0)
            SELECT vec_id,
                   ROUND(list_dot_product(CAST(embedding AS DOUBLE[]), q.qe)
                         / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
                            * sqrt(list_dot_product(q.qe, q.qe))), 4) AS cosine_sim
            FROM embeddings, q
            ORDER BY cosine_sim DESC, vec_id ASC
            LIMIT 10
        """,
        "ivf_assign": """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            c AS (SELECT vec_id AS cell_id, v AS cvec FROM e WHERE vec_id < 8),
            dots AS (SELECT e.vec_id, c.cell_id,
                            ROUND(list_dot_product(e.v, c.cvec), 4) AS dot
                     FROM e CROSS JOIN c),
            ranked AS (SELECT *, row_number() OVER (PARTITION BY vec_id
                                                    ORDER BY dot DESC, cell_id ASC) AS rnk
                       FROM dots)
            SELECT vec_id, cell_id FROM ranked WHERE rnk = 1
        """,
        "ivf_topk": """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            c AS (SELECT vec_id AS cell_id, v AS cvec FROM e WHERE vec_id < 8),
            dots AS (SELECT e.vec_id, c.cell_id,
                            ROUND(list_dot_product(e.v, c.cvec), 4) AS dot
                     FROM e CROSS JOIN c),
            ranked AS (SELECT *, row_number() OVER (PARTITION BY vec_id
                                                    ORDER BY dot DESC, cell_id ASC) AS rnk
                       FROM dots),
            assign AS (SELECT vec_id, cell_id FROM ranked WHERE rnk = 1),
            qcell AS (SELECT cell_id FROM assign WHERE vec_id = 0),
            q AS (SELECT v AS qe FROM e WHERE vec_id = 0)
            SELECT e.vec_id,
                   ROUND(list_dot_product(e.v, q.qe)
                         / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qe, q.qe))),
                         4) AS cosine_sim
            FROM e
            JOIN assign ON assign.vec_id = e.vec_id
            JOIN qcell ON assign.cell_id = qcell.cell_id
            CROSS JOIN q
            ORDER BY cosine_sim DESC, e.vec_id ASC
            LIMIT 10
        """,
        "corpus_filter": f"""
            WITH scored AS (
              SELECT doc_id, lang,
                     ROUND(
                       0.4 * least(len({_TOKS}) / 100.0, 1.0)
                     + 0.3 * (CASE WHEN CAST(list_sum(list_transform({_TOKS}, t -> length(t))) AS DOUBLE)
                                        / len({_TOKS}) BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END)
                     + 0.3 * (1.0 - least(5.0 * (CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE)
                                                 / greatest(length(text), 1)), 1.0)), 4) AS quality,
                     (SELECT {lang_case} FROM (SELECT {hits['de']} AS h_de, {hits['en']} AS h_en,
                                                      {hits['es']} AS h_es, {hits['fr']} AS h_fr,
                                                      greatest({hits['de']}, {hits['en']},
                                                               {hits['es']}, {hits['fr']}) AS best)) AS lang_guess,
                     md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
              FROM documents
            ), keepers AS (
              SELECT fp, MIN(doc_id) AS doc_id FROM scored GROUP BY fp
            )
            SELECT s.doc_id, s.quality, s.lang_guess
            FROM scored s JOIN keepers k ON k.fp = s.fp AND k.doc_id = s.doc_id
            WHERE s.quality >= 0.5 AND s.lang_guess = s.lang
        """,
        "embedding_near_dup_lsh": f"""
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            sig AS (SELECT vec_id, v, ({sig_terms(emb_planes)}) AS s FROM e),
            bl AS (
              SELECT vec_id, v, band_id, (s >> (band_id * 2)) & 3 AS band_val
              FROM sig CROSS JOIN (SELECT unnest(range(8)) AS band_id)
            ),
            cand AS (
              SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
              FROM bl a JOIN bl b USING (band_id, band_val)
              WHERE a.vec_id < b.vec_id
            )
            SELECT c.id_a, c.id_b,
                   ROUND(list_dot_product(x.v, y.v)
                         / (sqrt(list_dot_product(x.v, x.v))
                            * sqrt(list_dot_product(y.v, y.v))), 4) AS cosine_sim
            FROM cand c
            JOIN e x ON x.vec_id = c.id_a
            JOIN e y ON y.vec_id = c.id_b
            WHERE ROUND(list_dot_product(x.v, y.v)
                        / (sqrt(list_dot_product(x.v, x.v))
                           * sqrt(list_dot_product(y.v, y.v))), 4) >= 0.35
        """,
        "knn_graph": knn_edges_cte + """
            SELECT src, dst, cosine_sim, CAST(rnk AS INT) AS rank
            FROM knn
        """,
        "knn_graph_capped": knn_edges_capped_cte + """
            SELECT src, dst, cosine_sim, CAST(rnk AS INT) AS rank
            FROM knn
        """,
        # same chain as knn_graph with the window widened to 15 and the
        # semi-hard band cut applied on top
        "hard_negatives": knn_edges_cte.replace(
            "WHERE rnk <= 5", "WHERE rnk <= 15"
        ) + """
            SELECT src, dst, cosine_sim, CAST(rnk AS INT) AS rank
            FROM knn
            WHERE rnk >= 6
        """,
        # every column recomputed arithmetically from doc_id alone: a green
        # row proves the Spark side's REAL PNG encode->decode round trip
        # (signature, chunk CRC32s, IHDR, IDAT inflate, defilter, pixel sum)
        # reproduced the generator's pixel law exactly
        "image_ahash_real": f"""
            WITH d AS (SELECT doc_id, 8 + doc_id % 16 AS w, 8 + doc_id % 8 AS h
                       FROM documents),
            t AS (SELECT doc_id, w, h,
                         CAST(list_sum(flatten(list_transform(range(0, h),
                               y -> list_transform(range(0, w),
                                    x -> ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR)), 1, 2))::BIGINT)))) AS BIGINT) AS ts
                  FROM d),
            bits AS (SELECT doc_id, concat({ahash_concat}) AS ahash_bits FROM t)
            SELECT CAST(doc_id AS BIGINT) AS media_id, ahash_bits,
                   CAST(length(replace(ahash_bits, '0', '')) AS INT) AS n_set_bits
            FROM bits
        """,
        # hash, banding, and hamming all replayed from the content key
        # c = doc_id - doc_id%3 (groups of 3 share one identical image)
        "image_near_dup": f"""
            WITH d AS (SELECT doc_id, doc_id - doc_id % 3 AS c FROM documents),
            g AS (SELECT doc_id, c, 8 + c % 16 AS w, 8 + c % 8 AS h FROM d),
            t AS (SELECT doc_id, c, w, h,
                         CAST(list_sum(flatten(list_transform(range(0, h),
                               y -> list_transform(range(0, w),
                                    x -> ('0x' || substr(md5(CAST(c AS VARCHAR) || ':' || CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR)), 1, 2))::BIGINT)))) AS BIGINT) AS ts
                  FROM g),
            bits AS (SELECT doc_id, concat({_ahash_concat("c")}) AS b FROM t),
            bl AS (SELECT doc_id, b, band_id,
                          substr(b, band_id * 16 + 1, 16) AS band_val
                   FROM bits CROSS JOIN (SELECT unnest(range(4)) AS band_id)),
            cand AS (
              SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
                              x.b AS ba, y.b AS bb
              FROM bl x JOIN bl y USING (band_id, band_val)
              WHERE x.doc_id < y.doc_id
            )
            SELECT id_a, id_b,
                   CAST(len(list_filter(range(64),
                        i -> substr(ba, i + 1, 1) <> substr(bb, i + 1, 1)))
                        AS INT) AS hamming
            FROM cand
            WHERE len(list_filter(range(64),
                  i -> substr(ba, i + 1, 1) <> substr(bb, i + 1, 1))) <= 3
        """,
        "profile_orders": _profile_orders_oracle(),
        "negative_samples": """
            WITH docs AS (
              SELECT doc_id AS m,
                     ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 64 AS b
              FROM documents
            ),
            anchors AS (
              SELECT doc_id AS anchor_id, unnest(range(4)) AS neg_slot
              FROM documents
            ),
            routed AS (
              SELECT anchor_id, neg_slot,
                     ('0x' || substr(md5(CAST(anchor_id AS VARCHAR) || '#'
                                         || CAST(neg_slot AS VARCHAR) || '#7'),
                                     1, 8))::BIGINT % 64 AS tb
              FROM anchors
            ),
            cand AS (
              SELECT r.anchor_id, r.neg_slot, d.m,
                     md5(CAST(d.m AS VARCHAR) || '#' || CAST(r.anchor_id AS VARCHAR)
                         || '#' || CAST(r.neg_slot AS VARCHAR)) AS pick
              FROM routed r JOIN docs d ON d.b = r.tb
              WHERE d.m <> r.anchor_id
            )
            SELECT anchor_id, CAST(neg_slot AS INT) AS neg_slot,
                   m AS negative_id
            FROM (SELECT *, row_number() OVER (PARTITION BY anchor_id, neg_slot
                                               ORDER BY pick ASC, m ASC) AS rn
                  FROM cand)
            WHERE rn = 1
        """,
        "skew_profile": """
            WITH c AS (
              SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY o_custkey
            ), t AS (SELECT SUM(cnt) AS total FROM c)
            SELECT o_custkey, CAST(cnt AS BIGINT) AS cnt,
                   ROUND(CAST(cnt AS DOUBLE) / t.total, 4) AS share
            FROM c CROSS JOIN t
            ORDER BY cnt DESC, o_custkey ASC
            LIMIT 10
        """,
        "dsir_weights": f"""
            WITH tk AS (SELECT doc_id, lang = 'en' AS tgt, {_LTOKS} AS toks
                        FROM documents),
            feats AS (
              SELECT doc_id, tgt,
                     unnest(toks || CASE WHEN len(toks) >= 2
                       THEN list_transform(range(len(toks) - 1),
                                           i -> toks[i + 1] || ' ' || toks[i + 2])
                       ELSE CAST([] AS VARCHAR[]) END) AS feat
              FROM tk
            ),
            fb AS (SELECT doc_id, tgt,
                          ('0x' || substr(md5(feat), 1, 8))::BIGINT % 4096 AS b
                   FROM feats),
            dist AS (SELECT b,
                            SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS tgt_cnt,
                            SUM(CASE WHEN tgt THEN 0 ELSE 1 END) AS raw_cnt
                     FROM fb GROUP BY b),
            tot AS (SELECT SUM(tgt_cnt) AS T, SUM(raw_cnt) AS R FROM dist),
            lr AS (SELECT b,
                          ln((tgt_cnt + 1.0) / (T + 4096.0))
                          - ln((raw_cnt + 1.0) / (R + 4096.0)) AS lr
                   FROM dist CROSS JOIN tot)
            SELECT fb.doc_id, COUNT(*) AS n_feats,
                   ROUND(AVG(lr.lr), 6) AS dsir_weight
            FROM fb JOIN lr USING (b) GROUP BY fb.doc_id
        """,
        "image_meta_real": """
            SELECT CAST(doc_id AS BIGINT) AS media_id,
                   CAST(8 + doc_id % 16 AS INT) AS width,
                   CAST(8 + doc_id % 8 AS INT) AS height,
                   CAST(8 AS INT) AS bit_depth,
                   CAST(0 AS INT) AS color_type,
                   CAST(list_sum(flatten(list_transform(
                         range(0, 8 + doc_id % 8),
                         y -> list_transform(range(0, 8 + doc_id % 16),
                                             x -> ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR)), 1, 2))::BIGINT)
                       ))) AS BIGINT) AS pixel_sum
            FROM documents
        """,
        # canonical 44-byte WAV header; mono PCM16 at 8 kHz: 250 ms
        # segments are 2000 samples = 4000 bytes, n = 2000 + (c%7)*1000
        "audio_segment_index": """
            WITH base AS (
              SELECT doc_id, 2000 + (doc_id % 7) * 1000 AS n FROM documents
            ),
            seg AS (
              SELECT doc_id, n, CAST(i AS INT) AS seg_idx
              FROM base, unnest(range((n + 1999) // 2000)) AS u(i)
            )
            SELECT CAST(doc_id AS BIGINT) AS media_id, seg_idx,
                   CAST(44 + seg_idx * 4000 AS BIGINT) AS byte_offset,
                   CAST(2 * LEAST(2000, n - seg_idx * 2000) AS BIGINT) AS byte_len,
                   CAST(seg_idx * 250 AS BIGINT) AS t_start_ms,
                   CAST(LEAST(n // 8, (seg_idx + 1) * 250) AS BIGINT) AS t_end_ms
            FROM seg
        """,
        # mdat-first layout: frame i's byte range = 28 + cumsum of the
        # md5-derived earlier sample sizes; stts delta 40 at timescale
        # 1000 makes t_ms = 40 * frame_idx
        "video_frame_index": """
            WITH base AS (
              SELECT doc_id, 3 + doc_id % 5 AS n FROM documents
            ),
            s AS (
              SELECT doc_id, CAST(i AS INT) AS frame_idx,
                     16 + ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 2))::BIGINT % 64 AS sz
              FROM base, unnest(range(n)) AS u(i)
            )
            SELECT CAST(doc_id AS BIGINT) AS media_id, frame_idx,
                   CAST(28 + COALESCE(SUM(sz) OVER (
                          PARTITION BY doc_id ORDER BY frame_idx
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                        ), 0) AS BIGINT) AS byte_offset,
                   CAST(sz AS BIGINT) AS byte_len,
                   CAST(frame_idx * 40 AS BIGINT) AS t_ms
            FROM s
        """,
        # constant 8x8 blocks + unit quantization: the decoded JPEG pixel
        # law is exactly 64 * md5-first-byte per block, SQL-recomputable
        "image_meta_jpeg": """
            SELECT CAST(doc_id AS BIGINT) AS media_id,
                   CAST(8 * (1 + doc_id % 3) AS INT) AS width,
                   CAST(8 * (1 + doc_id % 2) AS INT) AS height,
                   CAST(list_sum(flatten(list_transform(
                         range(0, 1 + doc_id % 2),
                         by -> list_transform(range(0, 1 + doc_id % 3),
                                              bx -> 64 * ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(bx AS VARCHAR) || ':' || CAST(by AS VARCHAR)), 1, 2))::BIGINT)
                       ))) AS BIGINT) AS pixel_sum
            FROM documents
        """,
        "lsh_knn_join": f"""
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            sig AS (SELECT vec_id, v, ({sig_terms(knn_planes)}) AS s FROM e),
            bl AS (
              SELECT vec_id, v, band_id, (s >> (band_id * 6)) & 63 AS band_val
              FROM sig CROSS JOIN (SELECT unnest(range(4)) AS band_id)
            ),
            cand AS (
              SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS corpus_id
              FROM bl q JOIN bl c USING (band_id, band_val)
              WHERE q.vec_id % 10 = 0 AND c.vec_id % 10 <> 0
            ),
            scored AS (
              SELECT cd.query_id, cd.corpus_id,
                     ROUND(list_dot_product(x.v, y.v)
                           / (sqrt(list_dot_product(x.v, x.v))
                              * sqrt(list_dot_product(y.v, y.v))), 4) AS cosine_sim
              FROM cand cd
              JOIN e x ON x.vec_id = cd.query_id
              JOIN e y ON y.vec_id = cd.corpus_id
            )
            SELECT query_id, corpus_id, cosine_sim, CAST(rnk AS INT) AS rank
            FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                               ORDER BY cosine_sim DESC, corpus_id ASC) AS rnk
                  FROM scored)
            WHERE rnk <= 5
        """,
        # both kNN directions from one banded CTE; 4dp cosines average
        # per side, margin = cos / mean-neighborhood, rounded at the edge
        "margin_mine": f"""
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            sig AS (SELECT vec_id, v, ({sig_terms(knn_planes)}) AS s FROM e),
            bl AS (
              SELECT vec_id, v, band_id, (s >> (band_id * 6)) & 63 AS band_val
              FROM sig CROSS JOIN (SELECT unnest(range(4)) AS band_id)
            ),
            cand AS (
              SELECT DISTINCT q.vec_id AS qid, c.vec_id AS cid,
                              q.vec_id % 10 = 0 AS fwd_dir
              FROM bl q JOIN bl c USING (band_id, band_val)
              WHERE (q.vec_id % 10 = 0) <> (c.vec_id % 10 = 0)
            ),
            scored AS (
              SELECT cd.qid, cd.cid, cd.fwd_dir,
                     ROUND(list_dot_product(x.v, y.v)
                           / (sqrt(list_dot_product(x.v, x.v))
                              * sqrt(list_dot_product(y.v, y.v))), 4) AS cs
              FROM cand cd
              JOIN e x ON x.vec_id = cd.qid
              JOIN e y ON y.vec_id = cd.cid
            ),
            ranked AS (
              SELECT *, row_number() OVER (PARTITION BY qid, fwd_dir
                                           ORDER BY cs DESC, cid ASC) AS rnk
              FROM scored
            ),
            fwd AS (SELECT qid, cid, cs FROM ranked WHERE fwd_dir AND rnk <= 5),
            bwd AS (SELECT qid, cid, cs FROM ranked WHERE NOT fwd_dir AND rnk <= 5),
            fa AS (SELECT qid, AVG(cs) AS a_fwd FROM fwd GROUP BY qid),
            ba AS (SELECT qid AS cid, AVG(cs) AS a_bwd FROM bwd GROUP BY qid)
            SELECT f.qid AS left_id, f.cid AS right_id, f.cs AS cosine_sim,
                   ROUND(f.cs / ((fa.a_fwd + ba.a_bwd) / 2.0), 4) AS margin
            FROM fwd f JOIN fa ON fa.qid = f.qid JOIN ba ON ba.cid = f.cid
            WHERE ROUND(f.cs / ((fa.a_fwd + ba.a_bwd) / 2.0), 4) >= 1.02
        """,
        # two unrolled personalized-propagation rounds over the same kNN
        # CTE: restart term reads the ORIGINAL seeds each round; only
        # positive-weight edges contribute (matches the operator's guard)
        "trust_propagation": knn_edges_cte + """
            , seeds AS (
              SELECT vec_id,
                     CASE WHEN label = 0 THEN 1.0 ELSE 0.0 END AS score
              FROM embeddings
            ),
            pos AS (SELECT src, dst, cosine_sim FROM knn WHERE cosine_sim > 0),
            r1c AS (
              SELECT p.src,
                     SUM(p.cosine_sim * s.score) / SUM(p.cosine_sim) AS nbr
              FROM pos p JOIN seeds s ON s.vec_id = p.dst
              GROUP BY p.src
            ),
            r1 AS (
              SELECT s.vec_id,
                     ROUND(CASE WHEN c.nbr IS NULL THEN s.score
                                ELSE 0.5 * s.score + 0.5 * c.nbr END, 6) AS score
              FROM seeds s LEFT JOIN r1c c ON c.src = s.vec_id
            ),
            r2c AS (
              SELECT p.src,
                     SUM(p.cosine_sim * r.score) / SUM(p.cosine_sim) AS nbr
              FROM pos p JOIN r1 r ON r.vec_id = p.dst
              GROUP BY p.src
            )
            SELECT s.vec_id,
                   ROUND(CASE WHEN c.nbr IS NULL THEN s.score
                              ELSE 0.5 * s.score + 0.5 * c.nbr END, 6) AS score
            FROM seeds s LEFT JOIN r2c c ON c.src = s.vec_id
        """,
        "lsh_topk": ann_sig_cte
        + f"""
            SELECT s.vec_id, {cos} AS cosine_sim
            FROM sig s, q
            WHERE s.bucket = q.qb
            ORDER BY cosine_sim DESC, s.vec_id ASC
            LIMIT 10
        """,
        "ann_recall_lsh": ann_sig_cte
        + f"""
            , approx AS (
              SELECT s.vec_id
              FROM sig s, q
              WHERE s.bucket = q.qb
              ORDER BY {cos} DESC, s.vec_id ASC
              LIMIT 10
            ),
            exact AS (
              SELECT s.vec_id
              FROM sig s, q
              ORDER BY {cos} DESC, s.vec_id ASC
              LIMIT 10
            )
            SELECT CAST((SELECT count(*) FROM exact) AS BIGINT) AS k_exact,
                   CAST((SELECT count(*) FROM exact WHERE vec_id IN
                         (SELECT vec_id FROM approx)) AS BIGINT) AS n_hits,
                   ROUND((SELECT count(*) FROM exact WHERE vec_id IN
                          (SELECT vec_id FROM approx))
                         / CAST((SELECT count(*) FROM exact) AS DOUBLE), 4) AS recall
        """,
        "lsh_topk_multiprobe": ann_sig_cte
        + f"""
            , m AS (SELECT qe, qb, [{margin_structs}] AS ms FROM q),
            fl AS (
              SELECT qb, list_transform(list_slice(list_sort(ms), 1, 3), x -> x.i) AS f
              FROM m
            ),
            pr AS (
              SELECT unnest([qb, xor(qb, 1 << f[1]::INT), xor(qb, 1 << f[2]::INT),
                             xor(qb, 1 << f[3]::INT)]) AS pb
              FROM fl
            )
            SELECT s.vec_id, {cos} AS cosine_sim
            FROM sig s JOIN pr ON s.bucket = pr.pb CROSS JOIN q
            ORDER BY cosine_sim DESC, s.vec_id ASC
            LIMIT 10
        """,
        "multimodal_meta": media_cte
        + "SELECT media_id, media_type, width, height, n_frames, checksum FROM meta",
        "inter_event_gaps": """
            WITH g AS (
              SELECT user_id,
                     CAST(epoch_us(ts) - epoch_us(lag(ts) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                     )) AS DOUBLE) / 1000000.0 AS gap
              FROM events
            )
            SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
                   ROUND(min(gap), 3) AS min_gap_s,
                   ROUND(quantile_cont(gap, 0.5), 3) AS median_gap_s,
                   ROUND(max(gap), 3) AS max_gap_s
            FROM g WHERE gap IS NOT NULL GROUP BY user_id
        """,
        "last_touch_attribution": """
            WITH ordered AS (
              SELECT event_id, user_id, ts, event_type,
                     last_value(CASE WHEN event_type <> 'purchase'
                                     THEN event_type END IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS attributed_type
              FROM events
            )
            SELECT event_id AS conversion_id, user_id, ts AS conv_ts,
                   attributed_type
            FROM ordered WHERE event_type = 'purchase'
        """,
        "approx_quantile_flags": """
            SELECT l_returnflag,
                   ROUND(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5), 6)
                     AS q_exact,
                   true AS within_tolerance
            FROM lineitem GROUP BY l_returnflag
        """,
        "tfidf_pairs": f"""
            WITH tf AS (
              SELECT id, token, CAST(count(*) AS DOUBLE) AS tf
              FROM (SELECT doc_id AS id, unnest({_LTOKS}) AS token FROM documents)
              WHERE token <> '' GROUP BY id, token
            ),
            nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
            dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
            w AS (
              SELECT id, token, tf * ln(nn.n / df) AS w
              FROM tf JOIN dfreq USING (token) CROSS JOIN nn
            ),
            norms AS (SELECT id, sqrt(sum(w * w)) AS norm FROM w GROUP BY id),
            posts AS (
              SELECT w.id, token, w.w, norms.norm
              FROM w JOIN norms USING (id) WHERE norm > 0
            ),
            pairs AS (
              SELECT a.id AS id_a, b.id AS id_b, a.norm AS na, b.norm AS nb,
                     sum(a.w * b.w) AS dot
              FROM posts a JOIN posts b ON a.token = b.token AND a.id < b.id
              GROUP BY 1, 2, 3, 4
            )
            SELECT id_a, id_b, ROUND(dot / (na * nb), 4) AS cosine_sim
            FROM pairs WHERE ROUND(dot / (na * nb), 4) >= 0.9
        """,
        "curate_corpus": f"""
            WITH s1 AS (
              SELECT doc_id,
                     regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g') AS t
              FROM documents
            ),
            s2 AS (SELECT doc_id, regexp_replace(t, '{_PII_IPV4}', '<IP>', 'g') AS t FROM s1),
            s3 AS (SELECT doc_id, regexp_replace(t, '{_PII_PHONE}', '<PHONE>', 'g') AS text FROM s2),
            scored AS (
              SELECT doc_id, text,
                     ROUND(
                       0.4 * least(len({_TOKS}) / 100.0, 1.0)
                     + 0.3 * (CASE WHEN CAST(list_sum(list_transform({_TOKS}, t -> length(t))) AS DOUBLE)
                                        / len({_TOKS}) BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END)
                     + 0.3 * (1.0 - least(5.0 * (CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE)
                                                 / greatest(length(text), 1)), 1.0)), 4) AS quality
              FROM s3
            ),
            gated AS (SELECT * FROM scored WHERE quality >= 0.3),
            ranked AS (
              SELECT doc_id, quality,
                     min(doc_id) OVER (
                       PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                     ) AS keeper
              FROM gated
            ),
            kept AS (
              SELECT doc_id, quality,
                     ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
              FROM ranked WHERE doc_id = keeper
            )
            SELECT doc_id, quality,
                   CASE WHEN b < 80 THEN 'train'
                        WHEN b < 90 THEN 'val'
                        ELSE 'test' END AS split,
                   CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 8
                        AS INTEGER) AS shard
            FROM kept
        """,
        "curate_corpus_best": f"""
            WITH s1 AS (
              SELECT doc_id,
                     regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g') AS t
              FROM documents
            ),
            s2 AS (SELECT doc_id, regexp_replace(t, '{_PII_IPV4}', '<IP>', 'g') AS t FROM s1),
            s3 AS (SELECT doc_id, regexp_replace(t, '{_PII_PHONE}', '<PHONE>', 'g') AS text FROM s2),
            scored AS (
              SELECT doc_id, text,
                     ROUND(
                       0.4 * least(len({_TOKS}) / 100.0, 1.0)
                     + 0.3 * (CASE WHEN CAST(list_sum(list_transform({_TOKS}, t -> length(t))) AS DOUBLE)
                                        / len({_TOKS}) BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END)
                     + 0.3 * (1.0 - least(5.0 * (CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE)
                                                 / greatest(length(text), 1)), 1.0)), 4) AS quality
              FROM s3
            ),
            gated AS (SELECT * FROM scored WHERE quality >= 0.3),
            ranked AS (
              SELECT doc_id, quality,
                     row_number() OVER (
                       PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                       ORDER BY quality DESC, doc_id ASC
                     ) AS rnk
              FROM gated
            ),
            kept AS (
              SELECT doc_id, quality,
                     ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
              FROM ranked WHERE rnk = 1
            )
            SELECT doc_id, quality,
                   CASE WHEN b < 80 THEN 'train'
                        WHEN b < 90 THEN 'val'
                        ELSE 'test' END AS split,
                   CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 8
                        AS INTEGER) AS shard
            FROM kept
        """,
        "curation_funnel": f"""
            WITH s1 AS (
              SELECT doc_id,
                     regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g') AS t
              FROM documents
            ),
            s2 AS (SELECT doc_id, regexp_replace(t, '{_PII_IPV4}', '<IP>', 'g') AS t FROM s1),
            s3 AS (SELECT doc_id, regexp_replace(t, '{_PII_PHONE}', '<PHONE>', 'g') AS text FROM s2),
            scored AS (
              SELECT doc_id, text,
                     ROUND(
                       0.4 * least(len({_TOKS}) / 100.0, 1.0)
                     + 0.3 * (CASE WHEN CAST(list_sum(list_transform({_TOKS}, t -> length(t))) AS DOUBLE)
                                        / len({_TOKS}) BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END)
                     + 0.3 * (1.0 - least(5.0 * (CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE)
                                                 / greatest(length(text), 1)), 1.0)), 4) AS quality
              FROM s3
            ),
            fl AS (
              SELECT doc_id, quality >= 0.3 AS pass,
                     md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
                     ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
              FROM scored
            ),
            k AS (
              SELECT *, min(CASE WHEN pass THEN doc_id END)
                          OVER (PARTITION BY fp) AS keeper
              FROM fl
            )
            SELECT CAST(COUNT(*) AS BIGINT) AS n_input,
                   CAST(SUM(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_pass,
                   CAST(SUM(CASE WHEN pass AND doc_id = keeper THEN 1 ELSE 0 END) AS BIGINT) AS n_after_dedup,
                   CAST(SUM(CASE WHEN pass AND doc_id = keeper AND b < 80 THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
                   CAST(SUM(CASE WHEN pass AND doc_id = keeper AND b >= 80 AND b < 90 THEN 1 ELSE 0 END) AS BIGINT) AS n_val,
                   CAST(SUM(CASE WHEN pass AND doc_id = keeper AND b >= 90 THEN 1 ELSE 0 END) AS BIGINT) AS n_test
            FROM k
        """,
        "source_datasheet": f"""
            WITH per AS (
              SELECT source,
                     len({_TOKS}) AS ntok,
                     md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
                     (0.4 * least(len({_TOKS}) / 100.0, 1.0)
                     + 0.3 * (CASE WHEN CAST(list_sum(list_transform({_TOKS}, t -> length(t))) AS DOUBLE)
                                        / len({_TOKS}) BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END)
                     + 0.3 * (1.0 - least(5.0 * (CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE)
                                                 / greatest(length(text), 1)), 1.0))) AS q
              FROM documents
            )
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS docs,
                   CAST(SUM(ntok) AS BIGINT) AS total_tokens,
                   CAST(COUNT(DISTINCT fp) AS BIGINT) AS distinct_fps,
                   ROUND(1.0 - COUNT(DISTINCT fp) / CAST(COUNT(*) AS DOUBLE), 6) AS dup_rate,
                   ROUND(AVG(q), 6) AS mean_quality
            FROM per GROUP BY source
        """,
        "corpus_report": f"""
            SELECT CAST(count(*) AS BIGINT) AS docs,
                   CAST(SUM(len({_TOKS})) AS BIGINT) AS tokens,
                   CAST(SUM(length(text)) AS BIGINT) AS chars,
                   CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
                   CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
                   ROUND(1.0 - count(DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))))
                               / CAST(count(*) AS DOUBLE), 6) AS dup_rate,
                   ROUND(AVG(ROUND(
                       0.4 * least(len({_TOKS}) / 100.0, 1.0)
                     + 0.3 * (CASE WHEN CAST(list_sum(list_transform({_TOKS}, t -> length(t))) AS DOUBLE)
                                        / len({_TOKS}) BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END)
                     + 0.3 * (1.0 - least(5.0 * (CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE)
                                                 / greatest(length(text), 1)), 1.0)), 4)), 6)
                     AS mean_quality
            FROM documents
        """,
        "token_histogram": f"""
            SELECT CAST(FLOOR(len({_TOKS}) / 10) * 10 AS INTEGER) AS bucket_lo,
                   CAST(count(*) AS BIGINT) AS n_docs
            FROM documents GROUP BY bucket_lo
        """,
        "q16_adapted": """
            SELECT p_brand, p_type, CAST(p_size AS INTEGER) AS p_size,
                   CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
            FROM lineitem JOIN part ON p_partkey = l_partkey
            WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
              AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
            GROUP BY p_brand, p_type, p_size
        """,
        "q20_adapted": """
            WITH shipped AS (
              SELECT l_suppkey,
                     SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty_dec
              FROM lineitem JOIN part ON p_partkey = l_partkey
              WHERE p_name LIKE 'red%'
                AND l_shipdate >= TIMESTAMP '1995-01-01'
                AND l_shipdate < TIMESTAMP '1996-01-01'
              GROUP BY l_suppkey
              HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 100
            )
            SELECT s_suppkey, s_name, n_name AS nation,
                   CAST(qty_dec AS DOUBLE) AS shipped_qty
            FROM shipped
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN nation ON n_nationkey = s_nationkey
        """,
        "q2_adapted": """
            WITH cost AS (
              SELECT l_partkey, l_suppkey,
                     MIN(l_extendedprice / l_quantity) AS unit_cost
              FROM lineitem GROUP BY 1, 2
            ),
            dims AS (
              SELECT s_suppkey, s_name, s_acctbal, n_name
              FROM supplier
              JOIN nation ON n_nationkey = s_nationkey
              JOIN region ON r_regionkey = n_regionkey
              WHERE r_name = 'ASIA'
            ),
            best AS (
              SELECT c.l_partkey, c.unit_cost, d.s_name, d.s_acctbal, d.n_name,
                     MIN(c.unit_cost) OVER (PARTITION BY c.l_partkey) AS min_cost
              FROM cost c JOIN dims d ON d.s_suppkey = c.l_suppkey
            )
            SELECT s_acctbal, s_name, n_name AS nation,
                   p_partkey, p_name, p_brand,
                   ROUND(unit_cost, 6) AS unit_cost
            FROM best JOIN part ON p_partkey = l_partkey
            WHERE unit_cost = min_cost AND p_size = 15
            ORDER BY s_acctbal DESC, nation, s_name, p_partkey
            LIMIT 100
        """,
        "q11_adapted": """
            WITH sups AS (
              SELECT s_suppkey FROM supplier
              JOIN nation ON n_nationkey = s_nationkey
              WHERE n_name = 'NATION_3'
            ),
            per_part AS (
              SELECT l_partkey AS partkey,
                     SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
                         (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4))))
                       AS value_dec
              FROM lineitem JOIN sups ON s_suppkey = l_suppkey
              GROUP BY 1
            )
            SELECT partkey, CAST(value_dec AS DOUBLE) AS part_value
            FROM per_part
            WHERE value_dec * (SELECT COUNT(*) FROM per_part)
                  > (SELECT SUM(value_dec) FROM per_part) * 2
            ORDER BY part_value DESC, partkey
        """,
        # textbook correlated EXISTS/NOT-EXISTS form on purpose: the Spark
        # side runs the decorrelated two-level aggregate, so a green row
        # certifies the decorrelation, not just the arithmetic
        "q21_adapted": """
            WITH l AS (
              SELECT l_orderkey, l_suppkey, l_shipdate, o_orderdate
              FROM lineitem JOIN orders ON o_orderkey = l_orderkey
              WHERE o_orderstatus = 'F'
            )
            SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
            FROM l l1 JOIN supplier ON s_suppkey = l1.l_suppkey
            WHERE l1.l_shipdate > l1.o_orderdate + INTERVAL 60 DAY
              AND EXISTS (
                SELECT 1 FROM l l2
                WHERE l2.l_orderkey = l1.l_orderkey
                  AND l2.l_suppkey <> l1.l_suppkey)
              AND NOT EXISTS (
                SELECT 1 FROM l l3
                WHERE l3.l_orderkey = l1.l_orderkey
                  AND l3.l_suppkey <> l1.l_suppkey
                  AND l3.l_shipdate > l3.o_orderdate + INTERVAL 60 DAY)
            GROUP BY s_name
            ORDER BY numwait DESC, s_name
            LIMIT 100
        """,
        "name_match_pairs": """
            WITH reps AS (
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
            )
            SELECT id_a, id_b, CAST(shared AS BIGINT) AS shared,
                   ROUND(shared / CAST(na + nb - shared AS DOUBLE), 4) AS jacc
            FROM pairs
            WHERE ROUND(shared / CAST(na + nb - shared AS DOUBLE), 4) >= 0.35
        """,
        "name_match_verified": """
            WITH reps AS (
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
            ),
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
        """,
        "audio_segments": media_cte
        + """
            , dur AS (
              SELECT media_id,
                     CAST(500 + ('0x' || substr(d, 7, 4))::INT % 30000 AS INTEGER)
                       AS duration_ms
              FROM m WHERE media_type = 'audio'
            )
            SELECT media_id,
                   CAST(unnest(range(CAST(ceil(duration_ms / 5000.0) AS BIGINT)))
                        AS INTEGER) AS seg_idx,
                   CAST(unnest(range(CAST(ceil(duration_ms / 5000.0) AS BIGINT))) * 5000
                        AS INTEGER) AS t_start_ms,
                   CAST(least((unnest(range(CAST(ceil(duration_ms / 5000.0) AS BIGINT))) + 1)
                              * 5000, duration_ms) AS INTEGER) AS t_end_ms
            FROM dur
        """,
        "frame_sample": media_cte
        + """
            SELECT media_id, CAST(unnest(range(0, n_frames, 5)) AS INTEGER) AS frame_idx,
                   checksum
            FROM meta WHERE media_type = 'video'
        """,
        "pairwise_cosine_topk": """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            p AS (SELECT vec_id AS probe_id, v AS q FROM e WHERE vec_id < 3),
            scored AS (
              SELECT p.probe_id, e.vec_id AS base_id,
                     ROUND(list_dot_product(e.v, p.q)
                           / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(p.q, p.q))), 4) AS cosine_sim
              FROM e CROSS JOIN p WHERE e.vec_id <> p.probe_id
            ), ranked AS (
              SELECT *, row_number() OVER (PARTITION BY probe_id
                                           ORDER BY cosine_sim DESC, base_id ASC) AS nn_rank
              FROM scored
            )
            SELECT probe_id, base_id, cosine_sim, nn_rank FROM ranked WHERE nn_rank <= 5
        """,
        "bm25_topk": f"""
            WITH tk AS (SELECT doc_id AS doc, {_LTOKS} AS toks FROM documents),
            lengths AS (SELECT doc, len(toks) AS dl FROM tk),
            postings AS (
              SELECT token, doc, COUNT(*) AS tf
              FROM (SELECT doc, unnest(toks) AS token FROM tk)
              WHERE token IN ('spark', 'window', 'dup')
              GROUP BY token, doc
            ),
            stats AS (SELECT COUNT(*) AS n_docs, AVG(CAST(dl AS DOUBLE)) AS avgdl
                      FROM lengths),
            dfreq AS (SELECT token, COUNT(*) AS df FROM postings GROUP BY token),
            scored AS (
              SELECT p.doc,
                     ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
                       * (p.tf * (1.2 + 1.0))
                       / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / s.avgdl)) AS term_score
              FROM postings p
              JOIN dfreq f USING (token)
              JOIN lengths l USING (doc)
              CROSS JOIN stats s
            )
            SELECT doc AS doc_id, COUNT(*) AS n_terms,
                   ROUND(SUM(term_score), 6) AS score
            FROM scored GROUP BY doc
            ORDER BY score DESC, doc ASC LIMIT 15
        """,
        "bpe_merges": _bpe_merges_oracle(n_merges=50, max_words=10_000),
        "kmeans_exact_assign": _kmeans_oracle(n_cells=8, n_iters=3, dp=6),
        "ivf_kmeans_exact_topk": _kmeans_oracle(
            n_cells=8, n_iters=3, dp=6, mode="topk"
        ),
        "bpe_encode": _bpe_merges_oracle(
            n_merges=50, max_words=10_000, mode="encode"
        ),
        "mmr_diversify": _mmr_oracle(k=10, lam=0.5, n_candidates=50),
        "mmr_diversify_ivf": _mmr_oracle(
            k=10, lam=0.5, n_candidates=50, ivf_probe=True
        ),
        "pii_luhn_cards": f"""
            WITH synth AS (
              SELECT doc_id,
                     '4' || lpad(CAST((doc_id * 7919) % 1000000 AS VARCHAR), 6, '0')
                         || lpad(CAST(doc_id % 100000000 AS VARCHAR), 8, '0') AS base15,
                     text
              FROM documents
            ), carded AS (
              SELECT doc_id, base15,
                     (10 - ({_luhn_sum_sql("base15 || '0'")}) % 10) % 10 AS chk0,
                     text
              FROM synth
            ), built AS (
              SELECT doc_id,
                     base15 || CAST(CASE WHEN doc_id % 2 = 0 THEN chk0
                                         ELSE (chk0 + 5) % 10 END AS VARCHAR) AS card16,
                     text
              FROM carded
            ), withtext AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 3 = 0
                          THEN text || ' pay ' ||
                               substr(card16, 1, 4) || ' ' || substr(card16, 5, 4) || ' ' ||
                               substr(card16, 9, 4) || ' ' || substr(card16, 13, 4)
                          ELSE text END AS txt
              FROM built
            ), cands AS (
              SELECT doc_id,
                     list_filter(
                       list_transform(regexp_extract_all(txt, '[0-9][0-9 ]{{11,22}}[0-9]'),
                                      r -> replace(r, ' ', '')),
                       s -> length(s) BETWEEN 13 AND 19) AS cc
              FROM withtext
            )
            SELECT doc_id,
                   len(cc) AS n_candidates,
                   len(list_filter(cc, s -> ({_luhn_sum_sql("s")}) % 10 = 0)) AS n_valid_cards
            FROM cands
        """,
        "dedup_keep_best": f"""
            WITH scored AS (
              SELECT doc_id,
                     md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
                     ROUND(
                       0.4 * least(len({_TOKS}) / 100.0, 1.0)
                     + 0.3 * (CASE WHEN CAST(list_sum(list_transform({_TOKS}, t -> length(t))) AS DOUBLE)
                                        / len({_TOKS}) BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END)
                     + 0.3 * (1.0 - least(5.0 * (CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE)
                                                 / greatest(length(text), 1)), 1.0)), 4) AS quality
              FROM documents
            ), ranked AS (
              SELECT doc_id, quality,
                     row_number() OVER (PARTITION BY fp
                                        ORDER BY quality DESC, doc_id ASC) AS rnk,
                     COUNT(*) OVER (PARTITION BY fp) AS dup_count
              FROM scored
            )
            SELECT doc_id, quality, dup_count FROM ranked WHERE rnk = 1
        """,
        "compressibility_entropy": """
            WITH c AS (
              SELECT doc_id,
                     list_transform(range(1, length(text) + 1),
                                    i -> substr(text, i, 1)) AS chars
              FROM documents
              WHERE length(text) > 0
            ), ent AS (
              SELECT doc_id, len(chars) AS n_chars,
                     ROUND(list_sum(list_transform(
                       list_sort(list_distinct(chars)),
                       ch -> -(CAST(len(list_filter(chars, x -> x = ch)) AS DOUBLE)
                              / len(chars))
                             * log2(CAST(len(list_filter(chars, x -> x = ch)) AS DOUBLE)
                                    / len(chars))
                     )), 6) AS entropy_bits
              FROM c
            )
            SELECT doc_id, CAST(n_chars AS INT) AS n_chars, entropy_bits,
                   entropy_bits / 8.0 AS est_ratio
            FROM ent
        """,
        "pii_card_gate": f"""
            WITH synth AS (
              SELECT doc_id,
                     '4' || lpad(CAST((doc_id * 7919) % 1000000 AS VARCHAR), 6, '0')
                         || lpad(CAST(doc_id % 100000000 AS VARCHAR), 8, '0') AS base15,
                     text
              FROM documents
            ), carded AS (
              SELECT doc_id, base15,
                     (10 - ({_luhn_sum_sql("base15 || '0'")}) % 10) % 10 AS chk0,
                     text
              FROM synth
            ), built AS (
              SELECT doc_id,
                     base15 || CAST(CASE WHEN doc_id % 2 = 0 THEN chk0
                                         ELSE (chk0 + 5) % 10 END AS VARCHAR) AS card16,
                     text
              FROM carded
            ), withtext AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 3 = 0
                          THEN text || ' pay ' ||
                               substr(card16, 1, 4) || ' ' || substr(card16, 5, 4) || ' ' ||
                               substr(card16, 9, 4) || ' ' || substr(card16, 13, 4)
                          ELSE text END AS txt
              FROM built
            ), gated AS (
              SELECT doc_id, txt,
                     len(list_filter(
                       list_filter(
                         list_transform(regexp_extract_all(txt, '[0-9][0-9 ]{{11,22}}[0-9]'),
                                        r -> replace(r, ' ', '')),
                         s -> length(s) BETWEEN 13 AND 19),
                       s -> ({_luhn_sum_sql("s")}) % 10 = 0)) AS n_valid_cards
              FROM withtext
            )
            SELECT doc_id, CAST(n_valid_cards AS INT) AS n_valid_cards,
                   CASE WHEN n_valid_cards > 0
                        THEN regexp_replace(txt, '[0-9][0-9 ]{{11,22}}[0-9]', '<CARD>', 'g')
                        ELSE txt END AS text
            FROM gated
        """,
        "hybrid_rrf_topk": f"""
            WITH tk AS (SELECT doc_id AS doc, {_LTOKS} AS toks FROM documents),
            lengths AS (SELECT doc, len(toks) AS dl FROM tk),
            postings AS (
              SELECT token, doc, COUNT(*) AS tf
              FROM (SELECT doc, unnest(toks) AS token FROM tk)
              WHERE token IN ('spark', 'window', 'dup')
              GROUP BY token, doc
            ),
            stats AS (SELECT COUNT(*) AS n_docs, AVG(CAST(dl AS DOUBLE)) AS avgdl
                      FROM lengths),
            dfreq AS (SELECT token, COUNT(*) AS df FROM postings GROUP BY token),
            bm25 AS (
              SELECT p.doc AS id, ROUND(SUM(
                       ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
                         * (p.tf * (1.2 + 1.0))
                         / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / s.avgdl))
                     ), 6) AS score
              FROM postings p
              JOIN dfreq f USING (token)
              JOIN lengths l USING (doc)
              CROSS JOIN stats s
              GROUP BY p.doc
              ORDER BY score DESC, id ASC LIMIT 50
            ),
            q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
                  FROM embeddings WHERE vec_id = 0),
            cos AS (
              SELECT vec_id AS id,
                     ROUND(list_dot_product(CAST(embedding AS DOUBLE[]), q.qe)
                           / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                                    CAST(embedding AS DOUBLE[])))
                              * sqrt(list_dot_product(q.qe, q.qe))), 4) AS score
              FROM embeddings, q
              ORDER BY score DESC, id ASC
              LIMIT 50
            ),
            ranked AS (
              SELECT id, row_number() OVER (ORDER BY score DESC, id ASC) AS rnk
              FROM bm25
              UNION ALL
              SELECT id, row_number() OVER (ORDER BY score DESC, id ASC) AS rnk
              FROM cos
            )
            SELECT id AS doc_id, COUNT(*) AS n_lists,
                   ROUND(SUM(1.0 / (60.0 + rnk)), 6) AS rrf_score
            FROM ranked GROUP BY id
            ORDER BY rrf_score DESC, doc_id ASC LIMIT 10
        """,
        "repetition_stats": f"""
            WITH tk AS (SELECT doc_id, {_LTOKS} AS toks FROM documents),
            g AS (
              SELECT doc_id, toks,
                     CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[])
                          ELSE list_transform(range(0, len(toks) - 1),
                                 i -> array_to_string(list_slice(toks, i + 1, i + 2), ' '))
                     END AS bigrams
              FROM tk
            )
            SELECT doc_id, len(toks) AS n_tokens,
                   ROUND(CASE WHEN len(toks) = 0 THEN 0.0
                              ELSE CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE)
                                   / len(toks) END, 6) AS dup_word_frac,
                   ROUND(CASE WHEN len(toks) = 0 THEN NULL
                              ELSE CAST(list_max(list_transform(list_distinct(toks),
                                     x -> len(list_filter(toks, y -> y = x)))) AS DOUBLE)
                                   / len(toks) END, 6) AS top_word_frac,
                   ROUND(CASE WHEN len(bigrams) = 0 THEN NULL
                              ELSE CAST(list_max(list_transform(list_distinct(bigrams),
                                     x -> len(list_filter(bigrams, y -> y = x)))) AS DOUBLE)
                                   / len(bigrams) END, 6) AS top_bigram_frac
            FROM g
        """,
        "contamination_check": f"""
            WITH tk AS (SELECT doc_id, {_LTOKS} AS toks FROM documents),
            sh AS (
              SELECT doc_id,
                     CASE WHEN len(toks) < 4 THEN CAST([] AS VARCHAR[])
                          ELSE list_transform(range(0, len(toks) - 3),
                                 i -> array_to_string(list_slice(toks, i + 1, i + 4), ' '))
                     END AS shingles
              FROM tk
            ),
            bench AS (SELECT DISTINCT unnest(shingles) AS shingle FROM sh
                      WHERE doc_id % 101 = 0),
            corpus AS (SELECT * FROM sh WHERE doc_id % 101 <> 0),
            hits AS (
              SELECT doc_id, COUNT(DISTINCT shingle) AS n_hit_shingles
              FROM (SELECT doc_id, unnest(shingles) AS shingle FROM corpus)
              WHERE shingle IN (SELECT shingle FROM bench)
              GROUP BY doc_id
            ),
            totals AS (SELECT doc_id, len(list_distinct(shingles)) AS n_shingles
                       FROM corpus)
            SELECT h.doc_id, h.n_hit_shingles, t.n_shingles,
                   ROUND(CAST(h.n_hit_shingles AS DOUBLE) / t.n_shingles, 6) AS hit_frac
            FROM hits h JOIN totals t USING (doc_id)
        """,
        "incremental_dedup": """
            WITH fp AS (
              SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
              FROM documents
            ),
            keepers AS (
              SELECT MIN(doc_id) AS doc_id, fp FROM fp WHERE doc_id >= 400 GROUP BY fp
            )
            SELECT k.doc_id, k.fp FROM keepers k
            WHERE NOT EXISTS (SELECT 1 FROM fp c WHERE c.doc_id < 400 AND c.fp = k.fp)
        """,
        "stratified_split": """
            WITH ranked AS (
              SELECT doc_id, lang,
                     row_number() OVER (PARTITION BY lang
                                        ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC,
                                                 doc_id ASC) AS rk,
                     COUNT(*) OVER (PARTITION BY lang) AS cnt
              FROM documents
            )
            SELECT doc_id, lang,
                   CASE WHEN rk <= CEIL(cnt * 0.8) THEN 'train'
                        WHEN rk <= CEIL(cnt * (0.8 + 0.1)) THEN 'val'
                        ELSE 'test' END AS split
            FROM ranked
        """,
        "rate_anomalies": """
            WITH counts AS (
              SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
                     COUNT(*) AS n_events
              FROM events GROUP BY 1, 2
            ), scored AS (
              SELECT event_type, bucket, n_events,
                     AVG(CAST(n_events AS DOUBLE)) OVER w AS mu,
                     stddev_samp(CAST(n_events AS DOUBLE)) OVER w AS sd
              FROM counts
              WINDOW w AS (PARTITION BY event_type ORDER BY bucket
                           ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
            )
            SELECT event_type, bucket, n_events,
                   ROUND(CASE WHEN sd IS NOT NULL AND sd > 0.0
                              THEN (CAST(n_events AS DOUBLE) - mu) / sd END, 4) AS z_score
            FROM scored
        """,
        "quantize_embeddings": """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            s AS (SELECT vec_id, v,
                         list_max(list_transform(v, x -> abs(x))) AS scale FROM e),
            q AS (SELECT vec_id, v, scale,
                         CASE WHEN scale = 0
                              THEN list_transform(v, x -> CAST(0 AS INTEGER))
                              ELSE list_transform(v, x -> CAST(round(x * 127.0 / scale, 0) AS INTEGER))
                         END AS qv
                  FROM s)
            SELECT vec_id, ROUND(scale, 6) AS scale,
                   array_to_string(qv, ',') AS qvec_csv,
                   ROUND(sqrt(list_reduce(
                         list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, len(v) + 1),
                           i -> (v[i] - CAST(qv[i] AS DOUBLE) * scale / 127.0)
                                * (v[i] - CAST(qv[i] AS DOUBLE) * scale / 127.0))),
                         (acc, x) -> acc + x)), 6) AS recon_err
            FROM q
        """,
        "token_budget_select": f"""
            WITH scored AS (
              SELECT doc_id,
                     ROUND(
                       0.4 * least(len({_TOKS}) / 100.0, 1.0)
                     + 0.3 * (CASE WHEN CAST(list_sum(list_transform({_TOKS}, t -> length(t))) AS DOUBLE)
                                        / len({_TOKS}) BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END)
                     + 0.3 * (1.0 - least(5.0 * (CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE)
                                                 / greatest(length(text), 1)), 1.0)), 4) AS quality,
                     len({_TOKS}) AS n_toks
              FROM documents
            ), c AS (
              SELECT *, SUM(n_toks) OVER (ORDER BY quality DESC, doc_id ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              FROM scored
            )
            SELECT doc_id, quality, n_toks FROM c WHERE cum <= 8000
        """,
        "fill_time_gaps": """
            WITH counts AS (
              SELECT user_id, date_trunc('day', ts) AS bucket, COUNT(*) AS n
              FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2
            ),
            bounds AS (SELECT user_id, MIN(bucket) AS t0, MAX(bucket) AS t1
                       FROM counts GROUP BY user_id),
            spine AS (
              SELECT user_id, unnest(generate_series(t0, t1, INTERVAL 1 DAY)) AS bucket
              FROM bounds
            )
            SELECT s.user_id, s.bucket, COALESCE(c.n, 0) AS n_events
            FROM spine s LEFT JOIN counts c USING (user_id, bucket)
        """,
        "approx_distinct_users": """
            SELECT event_type, COUNT(DISTINCT user_id) AS n_exact,
                   true AS within_tolerance
            FROM events GROUP BY event_type
        """,
        "unigram_logprob": f"""
            WITH toks AS (
              SELECT doc_id, unnest({_LTOKS}) AS token FROM documents
            ),
            vocab AS (SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token),
            total AS (SELECT SUM(cnt) AS total FROM vocab)
            SELECT t.doc_id, COUNT(*) AS n_tokens,
                   ROUND(AVG(ln(CAST(v.cnt AS DOUBLE) / total.total)), 6) AS logprob
            FROM toks t JOIN vocab v USING (token) CROSS JOIN total
            GROUP BY t.doc_id
        """,
        # λ = 0.75 on purpose: 0.75/0.25 are exact binary doubles, so the
        # SQL literals equal the Spark plan's literals bit-for-bit
        "bigram_logprob": _bigram_logprob_sql()
        + """
            SELECT doc_id, COUNT(*) AS n_bigrams, ROUND(AVG(lp), 6) AS logprob
            FROM scored GROUP BY doc_id
        """,
        "ccnet_buckets": _ccnet_buckets_oracle(),
        "ngram_perplexity": _ngram_perplexity_oracle(),
        "line_repetition": _line_repetition_oracle(),
        "length_outliers": """
            WITH bounds AS (
              SELECT lang,
                     quantile_cont(CAST(n_chars AS DOUBLE), 0.05) AS lo_bound,
                     quantile_cont(CAST(n_chars AS DOUBLE), 0.95) AS hi_bound
              FROM documents GROUP BY lang
            )
            SELECT d.doc_id, d.lang, CAST(d.n_chars AS BIGINT) AS n_chars,
                   ROUND(b.lo_bound, 6) AS lo_bound, ROUND(b.hi_bound, 6) AS hi_bound
            FROM documents d JOIN bounds b USING (lang)
            WHERE CAST(d.n_chars AS DOUBLE) < b.lo_bound
               OR CAST(d.n_chars AS DOUBLE) > b.hi_bound
        """,
        "vocab_topk": f"""
            WITH toks AS (
              SELECT unnest({_LTOKS}) AS token FROM documents
            ),
            counts AS (SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token),
            total AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS total FROM counts),
            topk AS (
              SELECT token, cnt,
                     CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token ASC) AS INTEGER)
                       AS rank
              FROM counts ORDER BY cnt DESC, token ASC LIMIT 100
            )
            SELECT rank, token, CAST(cnt AS BIGINT) AS cnt,
                   ROUND(CAST(SUM(cnt) OVER (ORDER BY cnt DESC, token ASC) AS DOUBLE)
                         / total, 6) AS cum_share
            FROM topk, total
        """,
        "span_dedup": r"""
            WITH toks AS (
              SELECT doc_id, str_split_regex(trim(text), '\s+') AS t
              FROM documents WHERE trim(text) <> ''
            ),
            base AS (
              SELECT doc_id, t,
                     unnest(range(CAST(ceil(len(t) / 5.0) AS BIGINT))) AS i
              FROM toks
            ),
            spans AS (
              SELECT doc_id, CAST(i AS INT) AS span_idx,
                     array_to_string(t[i*5+1 : i*5+5], ' ') AS span_text
              FROM base
            ),
            ranked AS (
              SELECT *, row_number() OVER (PARTITION BY span_text
                                           ORDER BY doc_id, span_idx) AS rn
              FROM spans
            )
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_spans,
                   CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS kept_spans,
                   coalesce(string_agg(CASE WHEN rn = 1 THEN span_text END,
                                       ' ' ORDER BY span_idx), '') AS kept_text
            FROM ranked GROUP BY doc_id
        """,
        "mixture_sample": """
            WITH quotas(source, quota) AS (
              VALUES ('src0', 24), ('src1', 18), ('src2', 12), ('src3', 6)
            ),
            ranked AS (
              SELECT doc_id, source,
                     CAST(ROW_NUMBER() OVER (
                       PARTITION BY source
                       ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
                     ) AS INTEGER) AS sample_rank
              FROM documents
            )
            SELECT doc_id, r.source, sample_rank
            FROM ranked r JOIN quotas q ON q.source = r.source
            WHERE sample_rank <= q.quota
        """,
        "shard_manifest": f"""
            WITH assigned AS (
              SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 8
                       AS shard,
                     len({_TOKS}) AS n_tokens,
                     length(text) AS n_bytes
              FROM documents
            )
            SELECT CAST(shard AS INTEGER) AS shard,
                   CAST(count(*) AS BIGINT) AS docs,
                   CAST(sum(n_tokens) AS BIGINT) AS tokens,
                   CAST(sum(n_bytes) AS BIGINT) AS bytes
            FROM assigned GROUP BY shard
        """,
        "json_key_profile": """
            WITH kv AS (
              SELECT unnest(json_keys(props)) AS key, props FROM events
            ),
            kv2 AS (
              SELECT key, json_extract_string(props, '$.' || key) AS value
              FROM kv
            )
            SELECT key, CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(count(DISTINCT value) AS BIGINT) AS n_values
            FROM kv2 GROUP BY key
        """,
        "retention_cohorts": """
            WITH act AS (
              SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
            ),
            coh AS (SELECT user_id, min(day) AS cohort_day FROM act GROUP BY user_id)
            SELECT cohort_day,
                   CAST(datediff('day', cohort_day, day) AS INTEGER) AS offset_days,
                   CAST(count(*) AS BIGINT) AS n_users
            FROM act JOIN coh USING (user_id)
            GROUP BY cohort_day, offset_days
        """,
        "transition_counts": """
            WITH seq AS (
              SELECT user_id, event_type,
                     lag(event_type) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id) AS prev_type
              FROM events
            )
            SELECT prev_type, event_type AS next_type,
                   CAST(count(*) AS BIGINT) AS n
            FROM seq WHERE prev_type IS NOT NULL
            GROUP BY prev_type, next_type
        """,
        "weighted_sample": """
            SELECT doc_id, n_chars,
                   ROUND(pow(
                     ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT
                       / 4503599627370496.0,
                     1.0 / CAST(n_chars AS DOUBLE)), 10) AS sample_key
            FROM documents WHERE n_chars > 0
            ORDER BY sample_key DESC, doc_id ASC
            LIMIT 50
        """,
        "temperature_sample": """
            WITH cnt AS (SELECT lang, COUNT(*) AS c FROM documents GROUP BY lang),
            q AS (
              SELECT lang,
                     CAST(FLOOR(200.0 * pow(CAST(c AS DOUBLE), 0.5)
                                / SUM(pow(CAST(c AS DOUBLE), 0.5)) OVER ()) AS INTEGER)
                       AS quota
              FROM cnt
            ),
            ranked AS (
              SELECT doc_id, lang,
                     CAST(ROW_NUMBER() OVER (
                       PARTITION BY lang
                       ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
                     ) AS INTEGER) AS sample_rank
              FROM documents
            )
            SELECT doc_id, r.lang, sample_rank
            FROM ranked r JOIN q ON q.lang = r.lang
            WHERE sample_rank <= q.quota
        """,
        "chunk_documents": r"""
            WITH toks AS (
              SELECT doc_id, str_split_regex(trim(text), '\s+') AS t
              FROM documents WHERE trim(text) <> ''
            ),
            base AS (
              SELECT doc_id, t,
                     unnest(range(greatest(
                       CAST(ceil((len(t) - 16) / 48.0) AS BIGINT), 1))) AS i
              FROM toks
            )
            SELECT doc_id, CAST(i AS INT) AS chunk_idx,
                   array_to_string(t[i*48+1 : i*48+64], ' ') AS chunk_text,
                   CAST(len(t[i*48+1 : i*48+64]) AS INT) AS n_tokens
            FROM base
        """,
        "user_funnel": """
            WITH base AS (
              SELECT user_id, ts, event_type FROM events
              WHERE event_type IN ('view', 'click', 'purchase')
            ),
            s1 AS (SELECT user_id, min(ts) AS t1 FROM base
                   WHERE event_type = 'view' GROUP BY user_id),
            s2 AS (SELECT b.user_id, min(b.ts) AS t2 FROM base b
                   JOIN s1 ON s1.user_id = b.user_id
                   WHERE b.event_type = 'click' AND b.ts > s1.t1
                   GROUP BY b.user_id),
            s3 AS (SELECT b.user_id, min(b.ts) AS t3 FROM base b
                   JOIN s2 ON s2.user_id = b.user_id
                   WHERE b.event_type = 'purchase' AND b.ts > s2.t2
                   GROUP BY b.user_id)
            SELECT u.user_id,
                   CAST(CASE WHEN s3.t3 IS NOT NULL THEN 3
                             WHEN s2.t2 IS NOT NULL THEN 2
                             WHEN s1.t1 IS NOT NULL THEN 1
                             ELSE 0 END AS INTEGER) AS steps_completed,
                   s1.t1 AS t_first,
                   coalesce(s3.t3, s2.t2, s1.t1) AS t_last
            FROM (SELECT DISTINCT user_id FROM base) u
            LEFT JOIN s1 ON s1.user_id = u.user_id
            LEFT JOIN s2 ON s2.user_id = u.user_id
            LEFT JOIN s3 ON s3.user_id = u.user_id
        """,
        "funnel_report": """
            WITH base AS (
              SELECT user_id, ts, event_type FROM events
              WHERE event_type IN ('view', 'click', 'purchase')
            ),
            s1 AS (SELECT user_id, min(ts) AS t1 FROM base
                   WHERE event_type = 'view' GROUP BY user_id),
            s2 AS (SELECT b.user_id, min(b.ts) AS t2 FROM base b
                   JOIN s1 ON s1.user_id = b.user_id
                   WHERE b.event_type = 'click' AND b.ts > s1.t1
                   GROUP BY b.user_id),
            s3 AS (SELECT b.user_id, min(b.ts) AS t3 FROM base b
                   JOIN s2 ON s2.user_id = b.user_id
                   WHERE b.event_type = 'purchase' AND b.ts > s2.t2
                   GROUP BY b.user_id)
            SELECT * FROM (VALUES
              (1, 'view', (SELECT CAST(count(*) AS BIGINT) FROM s1)),
              (2, 'click', (SELECT CAST(count(*) AS BIGINT) FROM s2)),
              (3, 'purchase', (SELECT CAST(count(*) AS BIGINT) FROM s3))
            ) AS t(step, step_type, n_users)
        """,
        "dup_rate_by_source": r"""
            WITH fp AS (
              SELECT source,
                     md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS f
              FROM documents
            )
            SELECT source,
                   CAST(count(*) AS BIGINT) AS docs,
                   CAST(count(DISTINCT f) AS BIGINT) AS distinct_fps,
                   ROUND(1.0 - count(DISTINCT f) / CAST(count(*) AS DOUBLE), 6)
                     AS dup_rate
            FROM fp GROUP BY source
        """,
        "pq_encode": """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            subs AS (SELECT vec_id, v, unnest(range(4)) AS sub FROM e),
            sv AS (SELECT vec_id, CAST(sub AS INT) AS sub,
                          v[sub*16+1 : sub*16+16] AS subv
                   FROM subs),
            cb AS (SELECT sub, vec_id AS cell, subv AS cvec FROM sv WHERE vec_id < 16),
            dists AS (SELECT a.vec_id, a.sub, cb.cell,
                             ROUND(list_distance(a.subv, cb.cvec), 4) AS dist
                      FROM sv a JOIN cb ON cb.sub = a.sub),
            ranked AS (SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                                                    ORDER BY dist ASC, cell ASC) AS rnk
                       FROM dists),
            best AS (SELECT vec_id, sub, cell, dist FROM ranked WHERE rnk = 1)
            SELECT vec_id,
                   string_agg(CAST(cell AS VARCHAR), ',' ORDER BY sub) AS codes_csv,
                   ROUND(sqrt(SUM(dist * dist)), 4) AS recon_err
            FROM best GROUP BY vec_id
        """,
        # IVFADC replayed end-to-end in SQL: IVF assignment, the nprobe=2
        # query-cell ranking, per-subspace PQ codes, and the ADC distance
        # (per-subspace ROUND(list_distance,4) then sqrt-of-sum-of-squares,
        # exactly the pq_encode convention) all from the same deterministic
        # centroid/codebook stand-ins (vec_id < 8 / < 16)
        "ivf_pq_topk": """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            c AS (SELECT vec_id AS cell_id, v AS cvec FROM e WHERE vec_id < 8),
            dots AS (SELECT e.vec_id, c.cell_id,
                            ROUND(list_dot_product(e.v, c.cvec), 4) AS dot
                     FROM e CROSS JOIN c),
            ranked AS (SELECT *, row_number() OVER (PARTITION BY vec_id
                                                    ORDER BY dot DESC, cell_id ASC) AS rnk
                       FROM dots),
            assign AS (SELECT vec_id, cell_id FROM ranked WHERE rnk = 1),
            q AS (SELECT v AS qe FROM e WHERE vec_id = 0),
            qcells AS (SELECT cell_id FROM c CROSS JOIN q
                       ORDER BY ROUND(list_dot_product(q.qe, c.cvec), 4) DESC,
                                cell_id ASC
                       LIMIT 2),
            subs AS (SELECT vec_id, v, unnest(range(4)) AS sub FROM e),
            sv AS (SELECT vec_id, CAST(sub AS INT) AS sub,
                          v[sub*16+1 : sub*16+16] AS subv
                   FROM subs),
            cb AS (SELECT sub, vec_id AS cell, subv AS cvec FROM sv WHERE vec_id < 16),
            dists AS (SELECT a.vec_id, a.sub, cb.cell,
                             ROUND(list_distance(a.subv, cb.cvec), 4) AS dist
                      FROM sv a JOIN cb ON cb.sub = a.sub),
            ranked2 AS (SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                                                     ORDER BY dist ASC, cell ASC) AS rnk
                        FROM dists),
            best AS (SELECT vec_id, sub, cell FROM ranked2 WHERE rnk = 1),
            qd AS (SELECT b.vec_id, b.sub,
                          ROUND(list_distance(q.qe[b.sub*16+1 : b.sub*16+16],
                                              cb.cvec), 4) AS d
                   FROM best b
                   JOIN cb ON cb.sub = b.sub AND cb.cell = b.cell
                   CROSS JOIN q),
            scored AS (SELECT vec_id, ROUND(sqrt(SUM(d * d)), 4) AS approx_dist
                       FROM qd GROUP BY vec_id)
            SELECT s.vec_id, CAST(a.cell_id AS INT) AS cell_id, s.approx_dist
            FROM scored s
            JOIN assign a ON a.vec_id = s.vec_id
            JOIN qcells qc ON qc.cell_id = a.cell_id
            ORDER BY s.approx_dist ASC, s.vec_id ASC
            LIMIT 10
        """,
        # the two-stage production probe replayed in SQL: identical CTE
        # chain to ivf_pq_topk up to the ADC scoring, then the 50-row ADC
        # shortlist is re-ranked by EXACT cosine — certifying the
        # shortlist cut rule (approx_dist ASC, id ASC) and the rerank
        "ivf_pq_rerank_topk": """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            c AS (SELECT vec_id AS cell_id, v AS cvec FROM e WHERE vec_id < 8),
            dots AS (SELECT e.vec_id, c.cell_id,
                            ROUND(list_dot_product(e.v, c.cvec), 4) AS dot
                     FROM e CROSS JOIN c),
            ranked AS (SELECT *, row_number() OVER (PARTITION BY vec_id
                                                    ORDER BY dot DESC, cell_id ASC) AS rnk
                       FROM dots),
            assign AS (SELECT vec_id, cell_id FROM ranked WHERE rnk = 1),
            q AS (SELECT v AS qe FROM e WHERE vec_id = 0),
            qcells AS (SELECT cell_id FROM c CROSS JOIN q
                       ORDER BY ROUND(list_dot_product(q.qe, c.cvec), 4) DESC,
                                cell_id ASC
                       LIMIT 2),
            subs AS (SELECT vec_id, v, unnest(range(4)) AS sub FROM e),
            sv AS (SELECT vec_id, CAST(sub AS INT) AS sub,
                          v[sub*16+1 : sub*16+16] AS subv
                   FROM subs),
            cb AS (SELECT sub, vec_id AS cell, subv AS cvec FROM sv WHERE vec_id < 16),
            dists AS (SELECT a.vec_id, a.sub, cb.cell,
                             ROUND(list_distance(a.subv, cb.cvec), 4) AS dist
                      FROM sv a JOIN cb ON cb.sub = a.sub),
            ranked2 AS (SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                                                     ORDER BY dist ASC, cell ASC) AS rnk
                        FROM dists),
            best AS (SELECT vec_id, sub, cell FROM ranked2 WHERE rnk = 1),
            qd AS (SELECT b.vec_id, b.sub,
                          ROUND(list_distance(q.qe[b.sub*16+1 : b.sub*16+16],
                                              cb.cvec), 4) AS d
                   FROM best b
                   JOIN cb ON cb.sub = b.sub AND cb.cell = b.cell
                   CROSS JOIN q),
            scored AS (SELECT vec_id, ROUND(sqrt(SUM(d * d)), 4) AS approx_dist
                       FROM qd GROUP BY vec_id),
            shortlist AS (SELECT s.vec_id
                          FROM scored s
                          JOIN assign a ON a.vec_id = s.vec_id
                          JOIN qcells qc ON qc.cell_id = a.cell_id
                          ORDER BY s.approx_dist ASC, s.vec_id ASC
                          LIMIT 50)
            SELECT e.vec_id,
                   ROUND(list_dot_product(e.v, q.qe)
                         / (sqrt(list_dot_product(e.v, e.v))
                            * sqrt(list_dot_product(q.qe, q.qe))), 4) AS cosine_sim
            FROM e JOIN shortlist USING (vec_id) CROSS JOIN q
            ORDER BY cosine_sim DESC, e.vec_id ASC
            LIMIT 10
        """,
        "ann_recall_ivfpq": """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            c AS (SELECT vec_id AS cell_id, v AS cvec FROM e WHERE vec_id < 8),
            dots AS (SELECT e.vec_id, c.cell_id,
                            ROUND(list_dot_product(e.v, c.cvec), 4) AS dot
                     FROM e CROSS JOIN c),
            ranked AS (SELECT *, row_number() OVER (PARTITION BY vec_id
                                                    ORDER BY dot DESC, cell_id ASC) AS rnk
                       FROM dots),
            assign AS (SELECT vec_id, cell_id FROM ranked WHERE rnk = 1),
            q AS (SELECT v AS qe FROM e WHERE vec_id = 0),
            qcells AS (SELECT cell_id FROM c CROSS JOIN q
                       ORDER BY ROUND(list_dot_product(q.qe, c.cvec), 4) DESC,
                                cell_id ASC
                       LIMIT 2),
            subs AS (SELECT vec_id, v, unnest(range(4)) AS sub FROM e),
            sv AS (SELECT vec_id, CAST(sub AS INT) AS sub,
                          v[sub*16+1 : sub*16+16] AS subv
                   FROM subs),
            cb AS (SELECT sub, vec_id AS cell, subv AS cvec FROM sv WHERE vec_id < 16),
            dists AS (SELECT a.vec_id, a.sub, cb.cell,
                             ROUND(list_distance(a.subv, cb.cvec), 4) AS dist
                      FROM sv a JOIN cb ON cb.sub = a.sub),
            ranked2 AS (SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                                                     ORDER BY dist ASC, cell ASC) AS rnk
                        FROM dists),
            best AS (SELECT vec_id, sub, cell FROM ranked2 WHERE rnk = 1),
            qd AS (SELECT b.vec_id, b.sub,
                          ROUND(list_distance(q.qe[b.sub*16+1 : b.sub*16+16],
                                              cb.cvec), 4) AS d
                   FROM best b
                   JOIN cb ON cb.sub = b.sub AND cb.cell = b.cell
                   CROSS JOIN q),
            scored AS (SELECT vec_id, ROUND(sqrt(SUM(d * d)), 4) AS approx_dist
                       FROM qd GROUP BY vec_id),
            approx AS (SELECT s.vec_id
                       FROM scored s
                       JOIN assign a ON a.vec_id = s.vec_id
                       JOIN qcells qc ON qc.cell_id = a.cell_id
                       ORDER BY s.approx_dist ASC, s.vec_id ASC
                       LIMIT 10),
            exact AS (SELECT e.vec_id
                      FROM e CROSS JOIN q
                      ORDER BY ROUND(list_dot_product(e.v, q.qe)
                                     / (sqrt(list_dot_product(e.v, e.v))
                                        * sqrt(list_dot_product(q.qe, q.qe))), 4) DESC,
                               e.vec_id ASC
                      LIMIT 10)
            SELECT CAST((SELECT count(*) FROM exact) AS BIGINT) AS k_exact,
                   CAST((SELECT count(*) FROM exact WHERE vec_id IN
                         (SELECT vec_id FROM approx)) AS BIGINT) AS n_hits,
                   ROUND((SELECT count(*) FROM exact WHERE vec_id IN
                          (SELECT vec_id FROM approx))
                         / CAST((SELECT count(*) FROM exact) AS DOUBLE), 4) AS recall
        """,
        "semdedup": """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            c AS (SELECT vec_id AS cell_id, v AS cvec FROM e WHERE vec_id < 8),
            dots AS (SELECT e.vec_id, c.cell_id,
                            ROUND(list_dot_product(e.v, c.cvec), 4) AS dot
                     FROM e CROSS JOIN c),
            ranked AS (SELECT *, row_number() OVER (PARTITION BY vec_id
                                                    ORDER BY dot DESC, cell_id ASC) AS rnk
                       FROM dots),
            assign AS (SELECT vec_id, CAST(cell_id AS INT) AS cell_id
                       FROM ranked WHERE rnk = 1),
            nv AS (SELECT a.vec_id, a.cell_id,
                          list_transform(e.v, x -> x / sqrt(list_dot_product(e.v, e.v))) AS u
                   FROM assign a JOIN e ON e.vec_id = a.vec_id)
            SELECT a.vec_id, a.cell_id,
                   NOT EXISTS (
                     SELECT 1 FROM nv b
                     WHERE b.cell_id = a.cell_id AND b.vec_id < a.vec_id
                       AND ROUND(list_dot_product(a.u, b.u), 4) >= 0.35
                   ) AS is_kept
            FROM nv a
        """,
        "exact_substring_spans": r"""
            WITH toks AS (
              SELECT doc_id, CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                             ELSE regexp_split_to_array(trim(text), '\s+') END AS t
              FROM documents
            ),
            occ AS (
              SELECT doc_id, CAST(i AS INT) AS pos,
                     md5(array_to_string(t[i+1 : i+8], ' ')) AS wh
              FROM toks, unnest(range(len(t) - 7)) AS u(i)
              WHERE len(t) >= 8
            ),
            ranked AS (
              SELECT doc_id, pos,
                     row_number() OVER (PARTITION BY wh ORDER BY doc_id, pos) AS rn,
                     count(*) OVER (PARTITION BY wh) AS cnt
              FROM occ
            ),
            dup AS (SELECT doc_id, pos FROM ranked WHERE cnt >= 2 AND rn > 1),
            flagged AS (
              SELECT doc_id, pos,
                     CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END AS newf
              FROM (SELECT doc_id, pos,
                           max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
                                              ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND 1 PRECEDING) AS prev_end
                    FROM dup) s
            ),
            grp AS (SELECT doc_id, pos,
                           sum(newf) OVER (PARTITION BY doc_id ORDER BY pos) AS island
                    FROM flagged)
            SELECT doc_id,
                   CAST(min(pos) AS INT) AS span_start,
                   CAST(max(pos) + 8 AS INT) AS span_end,
                   CAST(count(*) AS BIGINT) AS n_windows
            FROM grp GROUP BY doc_id, island
        """,
        "exact_substring_spans_chars": r"""
            WITH toks AS (
              SELECT doc_id, CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                             ELSE regexp_split_to_array(trim(text), '\s+') END AS t
              FROM documents
            ),
            occ AS (
              SELECT doc_id, CAST(i AS INT) AS pos,
                     md5(array_to_string(t[i+1 : i+8], ' ')) AS wh
              FROM toks, unnest(range(len(t) - 7)) AS u(i)
              WHERE len(t) >= 8
            ),
            ranked AS (
              SELECT doc_id, pos,
                     row_number() OVER (PARTITION BY wh ORDER BY doc_id, pos) AS rn,
                     count(*) OVER (PARTITION BY wh) AS cnt
              FROM occ
            ),
            dup AS (SELECT doc_id, pos FROM ranked WHERE cnt >= 2 AND rn > 1),
            flagged AS (
              SELECT doc_id, pos,
                     CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END AS newf
              FROM (SELECT doc_id, pos,
                           max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
                                              ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND 1 PRECEDING) AS prev_end
                    FROM dup) s
            ),
            grp AS (SELECT doc_id, pos,
                           sum(newf) OVER (PARTITION BY doc_id ORDER BY pos) AS island
                    FROM flagged),
            spans AS (
              SELECT doc_id,
                     CAST(min(pos) AS INT) AS span_start,
                     CAST(max(pos) + 8 AS INT) AS span_end,
                     CAST(count(*) AS BIGINT) AS n_windows
              FROM grp GROUP BY doc_id, island
            )
            -- Lee et al. 50-char floor on the reconstructed span text
            -- (single-space joined tokens, same normalization as the
            -- window hashing)
            SELECT s.doc_id, s.span_start, s.span_end, s.n_windows,
                   CAST(length(array_to_string(
                        t[s.span_start + 1 : s.span_end], ' ')) AS INT)
                     AS span_chars
            FROM spans s JOIN toks USING (doc_id)
            WHERE length(array_to_string(
                    t[s.span_start + 1 : s.span_end], ' ')) >= 50
        """,
        "exact_substring_spans_exact": r"""
            WITH toks AS (
              SELECT doc_id, CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                             ELSE regexp_split_to_array(trim(text), '\s+') END AS t
              FROM documents
            ),
            docs AS (
              SELECT doc_id, t FROM toks
              WHERE len(t) > 0 AND length(array_to_string(t, ' ')) >= 50
            ),
            ex AS (
              SELECT doc_id, CAST(i AS INT) AS pos, length(t[i+1]) AS tl,
                     substr(array_to_string(t[i+1 : i+50], ' '), 1, 50) AS k
              FROM docs, unnest(range(len(t))) AS u(i)
            ),
            offs AS (
              SELECT doc_id, pos, k,
                     CAST(coalesce(sum(tl + 1) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                          0) AS INT) AS o
              FROM ex
            ),
            occ AS (
              SELECT doc_id, pos, o, md5(k) AS wh
              FROM offs WHERE length(k) >= 50
            ),
            ranked AS (
              SELECT doc_id, pos, o,
                     row_number() OVER (PARTITION BY wh ORDER BY doc_id, pos) AS rn,
                     count(*) OVER (PARTITION BY wh) AS cnt
              FROM occ
            ),
            dup AS (SELECT doc_id, o FROM ranked WHERE cnt >= 2 AND rn > 1),
            flagged AS (
              SELECT doc_id, o,
                     CASE WHEN prev_end IS NULL OR o > prev_end THEN 1 ELSE 0 END AS newf
              FROM (SELECT doc_id, o,
                           max(o + 50) OVER (PARTITION BY doc_id ORDER BY o
                                             ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND 1 PRECEDING) AS prev_end
                    FROM dup) s
            ),
            grp AS (SELECT doc_id, o,
                           sum(newf) OVER (PARTITION BY doc_id ORDER BY o) AS island
                    FROM flagged)
            SELECT doc_id,
                   CAST(min(o) AS INT) AS span_start,
                   CAST(max(o) + 50 AS INT) AS span_end,
                   CAST(count(*) AS BIGINT) AS n_suffixes
            FROM grp GROUP BY doc_id, island
        """,
        "hll_registers": """
            WITH h AS (
              SELECT l_returnflag,
                     ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15))::BIGINT AS hv
              FROM lineitem
            )
            SELECT l_returnflag, CAST(hv & 255 AS INT) AS bucket,
                   CAST(max(52 - (CASE WHEN (hv >> 8) = 0 THEN 0
                                  ELSE length(bin(hv >> 8)) END) + 1) AS INT) AS register
            FROM h GROUP BY 1, 2
        """,
        "hll_union_estimate": f"""
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
        """,
        "cms_token_sketch": f"""
            WITH tok AS (SELECT unnest({_TOKS}) AS w FROM documents),
            cells AS (
              SELECT CAST(j AS INT) AS row,
                     CAST(('0x' || substr(md5('cms' || j || ':' || w), 1, 15))::BIGINT
                          % 32 AS INT) AS col
              FROM tok, unnest([0,1,2,3]) AS u(j)
            )
            SELECT row, col, CAST(count(*) AS BIGINT) AS cnt
            FROM cells GROUP BY 1, 2
        """,
        "cms_heavy_hitters": f"""
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
        """,
        "bloom_custkey_probe": """
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
        """,
        "loghist_price_quantiles": """
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
        """,
        "hll_intersect_customers": f"""
            WITH ra AS (
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
                   FROM (SELECT * FROM ra UNION ALL SELECT * FROM rb) GROUP BY 1),
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
        """,
        "compaction_plan": """
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
        """,
        "cms_join_size_custkey": """
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
        """,
        "cms_weighted_spenders": """
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
        """,
        "exact_substring_scrub": r"""
            WITH toks AS (
              SELECT doc_id, CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                             ELSE regexp_split_to_array(trim(text), '\s+') END AS t
              FROM documents
            ),
            occ AS (
              SELECT doc_id, CAST(i AS INT) AS pos,
                     md5(array_to_string(t[i+1 : i+8], ' ')) AS wh
              FROM toks, unnest(range(len(t) - 7)) AS u(i)
              WHERE len(t) >= 8
            ),
            ranked AS (
              SELECT doc_id, pos,
                     row_number() OVER (PARTITION BY wh ORDER BY doc_id, pos) AS rn,
                     count(*) OVER (PARTITION BY wh) AS cnt
              FROM occ
            ),
            dup AS (SELECT doc_id, pos FROM ranked WHERE cnt >= 2 AND rn > 1),
            flagged_w AS (
              SELECT doc_id, pos,
                     CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END AS newf
              FROM (SELECT doc_id, pos,
                           max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
                                              ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND 1 PRECEDING) AS prev_end
                    FROM dup) s
            ),
            grp AS (SELECT doc_id, pos,
                           sum(newf) OVER (PARTITION BY doc_id ORDER BY pos) AS island
                    FROM flagged_w),
            spans AS (
              SELECT doc_id, min(pos) AS span_start, max(pos) + 8 AS span_end
              FROM grp GROUP BY doc_id, island
            ),
            tok_pos AS (
              SELECT doc_id, CAST(i AS INT) AS p, t[i+1] AS tok
              FROM toks, unnest(range(len(t))) AS u(i)
            ),
            flag AS (
              SELECT DISTINCT tp.doc_id, tp.p
              FROM tok_pos tp JOIN spans s
                ON s.doc_id = tp.doc_id
               AND tp.p >= s.span_start AND tp.p < s.span_end
            ),
            kept AS (
              SELECT tp.doc_id, tp.p, tp.tok
              FROM tok_pos tp LEFT JOIN flag
                ON tp.doc_id = flag.doc_id AND tp.p = flag.p
              WHERE flag.p IS NULL
            ),
            rebuilt AS (
              SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS clean_text
              FROM kept GROUP BY doc_id
            ),
            rem AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens_removed
                    FROM flag GROUP BY doc_id)
            SELECT d.doc_id,
                   coalesce(r.clean_text, '') AS clean_text,
                   coalesce(rem.n_tokens_removed, 0) AS n_tokens_removed
            FROM documents d
            LEFT JOIN rebuilt r USING (doc_id)
            LEFT JOIN rem USING (doc_id)
        """,
        "sketch_validation_lineitem": (
            _sketchval_col_sql("l_quantity")
            + " UNION ALL "
            + _sketchval_col_sql("l_extendedprice")
        ),
        "loghist_rolling_value": """
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
        """,
        "hll_churn_customers": f"""
            WITH ra AS (
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
                   FROM (SELECT * FROM ra UNION ALL SELECT * FROM rb) GROUP BY 1),
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
        """,
        "hll_rolling_users": f"""
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
        """,
        # --- round 7: domain-aware curation (shared-template CTE — the
        # url/host/domain SQL is imported from operators/domains.py, so
        # Spark and the oracle literally evaluate the same strings)
        "domain_stats": _domain_cte()
        + """
            SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
                   ROUND(1.0 - count(DISTINCT md5(trim(regexp_replace(
                         lower(text), '\\s+', ' ', 'g')))) * 1.0 / count(*),
                         6) AS dup_rate,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars
            FROM d GROUP BY domain
        """,
        "domain_quota_sample": _domain_cte()
        + """
            SELECT doc_id, domain FROM (
              SELECT doc_id, domain,
                     row_number() OVER (
                       PARTITION BY domain
                       ORDER BY md5(CAST(doc_id AS STRING)) ASC, doc_id ASC
                     ) AS rk
              FROM d) t
            WHERE rk <= 5
        """,
        "blocklist_filter": _domain_cte()
        + f"""
            SELECT doc_id, host, domain FROM d
            WHERE domain NOT IN {_BLOCKED_DOMAINS!r}
        """,
        "url_dedup": _url_dedup_oracle(),
        # HTML→text family (round 8): shared-template CTE, so the oracle
        # runs the very strings the Spark side compiles via F.expr
        "html_extract": _html_cte()
        + """SELECT doc_id, clean_text,
               CAST(len(string_split(clean_text, chr(10))) AS INT) AS n_lines
             FROM x""",
        # round 9: robots meta gate + WARC record indexing + payload
        # recovery + anchor harvesting
        "gopher_quality_flags": _gopher_oracle(),
        "blockword_flags": _blockword_oracle(),
        "robots_noindex_flags": _robots_oracle(),
        "robots_txt_rules": _robots_rules_cte()
        + "SELECT domain, agent, rule, path_prefix FROM rules",
        "robots_disallow_filter": _robots_filter_oracle(),
        "robots_crawl_delays": _robots_delay_oracle(),
        "crawl_frontier": _crawl_frontier_oracle(),
        "frontier_schedule": _frontier_schedule_oracle(),
        "sitemap_locs": _sitemap_oracle(),
        "http_response_index": _http_index_oracle(),
        "http_status_filter": _http_status_filter_oracle(),
        "http_body_extract": _http_body_extract_oracle(),
        "http_charset_transcode": _http_transcode_oracle(),
        "http_redirect_edges": _http_redirect_oracle(),
        "cdx_zipnum_index": _cdx_zipnum_oracle(),
        "cdxj_index": _cdxj_index_oracle(),
        "cdxj_field_extract": _cdxj_extract_oracle(),
        "cc_index_table": _cc_index_table_oracle(),
        "cdxj_zipnum_cluster": _cdxj_cluster_oracle(),
        "cdx11_index": _cdx11_index_oracle(),
        "cc_index_host_stats": _cc_index_host_stats_oracle(),
        "robots_status_gate": _robots_status_gate_oracle(),
        "cdxj_http_index": _cdxj_http_oracle(),
        # the wire codings are transparent to the DECODED text, so the
        # transcode closed form is the oracle verbatim
        "http_wire_decode": _http_transcode_oracle(),
        "http_revisit_resolve": _http_revisit_oracle(),
        "http_request_pairs": _http_request_pairs_oracle(),
        "cc_ingest_funnel": _cc_funnel_oracle(),
        "http_truncated_audit": _http_truncated_oracle(),
        "http_charset_sniff": _http_sniff_oracle(),
        "index_routed_retrieval": _index_routed_retrieval_oracle(),
        "charset_sniff_disagreements": _charset_sniff_disagreements_oracle(),
        "cdx_closest_capture": _cdx_closest_capture_oracle(),
        "recrawl_change_rate": _recrawl_change_rate_oracle(),
        "sitemap_lastmod_entries": _sitemap_lastmod_oracle(),
        "sitemap_changed_since": _sitemap_changed_since_oracle(),
        "crawl_budget_allocate": _crawl_budget_allocate_oracle(),
        "recrawl_plan": _recrawl_plan_oracle(),
        "warc_record_index": _warc_index_oracle(),
        "warc_payload_extract": _warc_payload_oracle(),
        # round 10: gzip members — closed-form fields for the index
        # (member offsets are deflate-dependent, pytest-pinned), the
        # ORIGINAL text for the extract (byte-exact recovery through
        # the deflate round-trip)
        "warc_gzip_index": _warc_gzip_index_oracle(),
        "warc_gzip_extract": _warc_payload_oracle(),
        # round 10 second wave: WET export — closed-form framing
        # arithmetic for the index, the ORIGINAL text for the extract
        "warc_dedup_manifest": _warc_dedup_manifest_oracle(),
        "frontier_bloom_gate": _frontier_bloom_oracle(),
        # losslessness: decode(encode(x)) == x, so the oracle is the
        # source text itself
        "bpe_roundtrip": "SELECT doc_id, text FROM documents",
        "wet_conversion_index": _wet_index_oracle(),
        "wet_text_extract": _wet_text_oracle(),
        # gzip-member WET: identical closed-form oracle — recovery must
        # be byte-exact through the deflate round-trip too
        "wet_gzip_extract": _wet_text_oracle(),
        "wat_export_index": _wat_index_oracle(),
        "wat_metadata_extract": _wat_extract_oracle(),
        "robots_sitemap_urls": _robots_sitemap_oracle(),
        "fineweb_quality_flags": _fineweb_oracle(),
        "utf8_sanity_flags": _utf8_sanity_oracle(),
        "html_title_meta": _html_title_meta_oracle(),
        "extract_tables": _extract_tables_oracle(),
        "mojibake_stats": _mojibake_stats_oracle(),
        "mojibake_repair": _mojibake_repair_oracle(),
        "cdx_index": _cdx_index_oracle(),
        "warc_revisit_resolve": _warc_revisit_oracle(),
        "warc_revisit_stats": _warc_revisit_stats_oracle(),
        "extract_anchors": _anchors_cte()
        + "SELECT doc_id, anchor_no, href, anchor_text FROM a",
        "anchor_domain_stats": _anchor_stats_oracle(),
        "line_quality_filter": _line_quality_oracle(),
        "c4_clean_documents": _c4_clean_oracle(),
        "line_dedup": _line_dedup_oracle(),
        "script_profile": _script_profile_oracle(),
        "url_keyword_filter": _url_keyword_oracle(),
        "extract_links": _links_cte()
        + "SELECT doc_id, link_no, href FROM l",
        "link_graph_stats": _link_graph_oracle(),
        "host_pagerank": _host_pagerank_oracle(),
        "domain_token_budget": _domain_token_budget_oracle(),
        "web_curation_funnel": _web_funnel_oracle(),
        # crawl-snapshot keep-newest merge (round 8)
        "crawl_snapshot_merge": _crawl_oracle_cte()
        + "SELECT nurl, doc_id, capture_ts, fp, status FROM m",
        "crawl_delta_counts": _crawl_oracle_cte()
        + """SELECT status, CAST(count(*) AS BIGINT) AS n_urls
             FROM m GROUP BY status""",
        # EXIF metadata round-trip + GPS scrub: every field recomputed
        # arithmetically from doc_id (attach_exif_jpegs contract)
        "image_exif_meta": _EXIF_ORACLE_BASE + _EXIF_GPS_COLS
        + _EXIF_SUBIFD_COLS + " FROM documents",
        "exif_gps_scrub": _EXIF_ORACLE_BASE + _EXIF_GPS_NULLS
        + _EXIF_SUBIFD_COLS + " FROM documents",
    }
