"""Event-stream entries: sessions, funnels, time series and privacy checks."""

from __future__ import annotations

from pyspark.sql import functions as F

from pgferry_spark.entries.common import lake_table as _t, _TOKS
from pgferry_spark.entries.registry import register
from pgferry_spark.functions import text as T
from pgferry_spark.operators import queries as Q


# greedy kept-set recursion replayed as a recursive LATERAL query:
# each kept row picks the next event >= cooldown after it; the
# Spark side is a sequential per-user Arrow scan
@register("debounce_events", oracle="""
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
        """)
def _debounce(spark, sf):
    """Greedy 5-minute cooldown throttle per user — sequential kept-set
    state via one Arrow-batched per-user scan; the oracle replays the
    greedy rule as a recursive LATERAL query."""
    from pgferry_spark.operators.temporal import debounce_events

    e = _t(spark, sf, "events")
    return debounce_events(e, "user_id", "ts", "event_id", cooldown_s=300)


@register("events_hourly", oracle="""
            SELECT time_bucket(INTERVAL '1 hour', ts) AS hour_start, event_type,
                   COUNT(*) AS n_events,
                   CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
                   COUNT(DISTINCT user_id) AS n_users
            FROM events GROUP BY 1, 2
        """)
def _events_hourly(spark, sf):
    return Q.events_hourly(_t(spark, sf, "events"))


@register("events_json_stats", oracle="""
            SELECT event_type,
                   CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
                   COUNT(*) AS n_events
            FROM events GROUP BY event_type
        """)
def _events_json(spark, sf):
    ev = _t(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"), F.count(F.lit(1)).alias("n_events")
    )


@register("events_pivot", oracle="""
            SELECT user_id,
                   CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
                   CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
                   CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
                   CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
                   CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
                   COUNT(*) AS n_total
            FROM events GROUP BY user_id
        """)
def _events_pivot(spark, sf):
    return Q.events_pivot(_t(spark, sf, "events"))


@register("sessionize", oracle="""
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
        """)
def _sessionize(spark, sf):
    return Q.sessionize(_t(spark, sf, "events"), gap_minutes=30)


@register("asof_join", oracle="""
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
        """)
def _asof_join(spark, sf):
    return Q.asof_join_purchase_view(_t(spark, sf, "events"))


# Spark's dayofweek is 1=Sunday..7; DuckDB's (PostgreSQL dow) is
# 0=Sunday..6 — the Spark side subtracts 1 so slots align
@register("rfm_features", oracle="""
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
        """)
def _rfm_features(spark, sf):
    """RFM behavioral scoring: one aggregate + the broadcast-CDF
    calibration pass; anchored as_of keeps it reproducible."""
    from pgferry_spark.operators.curate import rfm_features

    e = _t(spark, sf, "events")
    return rfm_features(
        e, "user_id", "ts", "value", as_of="1996-01-01 00:00:00"
    )


@register("decayed_topk", oracle="""
            SELECT user_id, COUNT(*) AS n_events,
                   ROUND(SUM(POW(2.0,
                     -((epoch_us(TIMESTAMP '1996-01-01 00:00:00') - epoch_us(ts))
                       / 3600000000.0) / 24.0)), 6) AS decayed_score
            FROM events GROUP BY user_id
            ORDER BY decayed_score DESC, user_id ASC
            LIMIT 20
        """)
def _decayed_topk(spark, sf):
    """Recency-weighted trending users (24h half-life, fixed as_of so the
    score is a pure function of the data)."""
    from pgferry_spark.operators.temporal import decayed_topk

    e = _t(spark, sf, "events")
    return decayed_topk(
        e, "user_id", "ts", as_of="1996-01-01 00:00:00", k=20
    )


@register("k_anonymity", oracle="""
            SELECT c_nationkey, c_mktsegment, COUNT(*) AS class_size
            FROM customer GROUP BY 1, 2 HAVING COUNT(*) < 5
        """)
def _k_anonymity(spark, sf):
    """k=5 anonymity audit over (nationkey, mktsegment) quasi-identifiers
    — the release gate's violating equivalence classes."""
    from pgferry_spark.operators.checks import k_anonymity_check

    c = _t(spark, sf, "customer")
    return k_anonymity_check(c, ["c_nationkey", "c_mktsegment"], k=5)


@register("l_diversity", oracle="""
            SELECT c_nationkey, c_mktsegment,
                   COUNT(*) AS class_size,
                   COUNT(DISTINCT o_orderpriority) AS n_sensitive
            FROM orders JOIN customer ON c_custkey = o_custkey
            GROUP BY 1, 2 HAVING COUNT(DISTINCT o_orderpriority) < 3
        """)
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


# integer numerator over the common denominator 2*S*N, one final
# 6dp division: Sum_in |n_cv*N - n_v*S| + S*(N - Sum_in n_v)
@register("t_closeness", oracle="""
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
        """)
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


@register("seasonal_anomalies", oracle="""
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
        """)
def _seasonal_anomalies(spark, sf):
    """Hour-of-week seasonal z-scores per event type — the baseline the
    trailing-window rate_anomalies can't provide."""
    from pgferry_spark.operators.temporal import seasonal_anomalies

    return seasonal_anomalies(_t(spark, sf, "events"))


@register("signal_percentiles", oracle=lambda: f"""
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
        """)
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


@register("rate_anomalies", oracle="""
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
        """)
def _rate_anomalies(spark, sf):
    """Daily per-type event-rate z-scores vs the trailing 7 days."""
    from pgferry_spark.operators.temporal import rate_anomalies

    return rate_anomalies(_t(spark, sf, "events"), "ts", "event_type", "day", 7)


@register("fill_time_gaps", oracle="""
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
        """)
def _fill_gaps(spark, sf):
    """Per-user daily event counts with silent days zero-filled."""
    from pgferry_spark.operators.temporal import fill_time_gaps

    e = _t(spark, sf, "events").filter(F.col("user_id").isNotNull())
    return fill_time_gaps(e, "user_id", "ts", step="day")


@register("approx_distinct_users", oracle="""
            SELECT event_type, COUNT(DISTINCT user_id) AS n_exact,
                   true AS within_tolerance
            FROM events GROUP BY event_type
        """)
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


# the oracle runs the GLOBAL-window sweep line the Spark side
# deliberately avoids, so a green row certifies the bucket-local +
# carry decomposition against the textbook formulation
@register("session_concurrency", oracle="""
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
        """)
def _session_concurrency(spark, sf):
    """Peak concurrent sessions per hour via the distributed sweep line:
    per-bucket local running sums + a cumulative carry over the bounded
    bucket table — no global single-partition window."""
    from pgferry_spark.operators.temporal import concurrency_profile

    e = _t(spark, sf, "events")
    s = Q.sessionize(e)
    return concurrency_profile(s, "session_start", "session_end", "hour")


@register("range_join_incidents", oracle="""
            SELECT p.event_id,
                   i.incident_id,
                   (epoch_us(p.ts) - epoch_us(i.lo)) / 1000000.0 AS secs_into_incident
            FROM events p
            JOIN (SELECT event_id AS incident_id, ts AS lo,
                         ts + INTERVAL 30 MINUTE AS hi
                  FROM events
                  WHERE event_type = 'error' AND event_id % 20 = 0) i
              ON p.ts >= i.lo AND p.ts <= i.hi
        """)
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


@register("time_rollup", oracle="""
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
        """)
def _time_rollup(spark, sf):
    """Multi-resolution continuous-aggregate rollup: minute/hour/day counts
    per event type in ONE scan via GROUPING SETS."""
    from pgferry_spark.operators.temporal import time_bucket_rollup

    return time_bucket_rollup(_t(spark, sf, "events"))


@register("inter_event_gaps", oracle="""
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
        """)
def _inter_event_gaps(spark, sf):
    """Per-user event-cadence profile (min/median/max inter-event gap) —
    the data-driven input to session-gap tuning and bot detection."""
    from pgferry_spark.operators.temporal import inter_event_gaps

    e = _t(spark, sf, "events")
    return inter_event_gaps(e, "user_id", "ts", "event_id")


@register("last_touch_attribution", oracle="""
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
        """)
def _attribution(spark, sf):
    """Last-touch conversion attribution: each purchase credits the most
    recent preceding non-purchase event — one user-keyed window pass."""
    from pgferry_spark.operators.temporal import last_touch_attribution

    e = _t(spark, sf, "events")
    return last_touch_attribution(
        e, "user_id", "ts", "event_type", "event_id", conversion="purchase"
    )


@register("approx_quantile_flags", oracle="""
            SELECT l_returnflag,
                   ROUND(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5), 6)
                     AS q_exact,
                   true AS within_tolerance
            FROM lineitem GROUP BY l_returnflag
        """)
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


@register("json_key_profile", oracle="""
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
        """)
def _json_key_profile(spark, sf):
    """Semi-structured payload profiling: per-key row/distinct-value counts
    over the events props JSON (dynamic keys via map explode)."""
    from pgferry_spark.operators.checks import json_key_profile

    e = _t(spark, sf, "events")
    return json_key_profile(e, "props")


@register("retention_cohorts", oracle="""
            WITH act AS (
              SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
            ),
            coh AS (SELECT user_id, min(day) AS cohort_day FROM act GROUP BY user_id)
            SELECT cohort_day,
                   CAST(datediff('day', cohort_day, day) AS INTEGER) AS offset_days,
                   CAST(count(*) AS BIGINT) AS n_users
            FROM act JOIN coh USING (user_id)
            GROUP BY cohort_day, offset_days
        """)
def _retention_cohorts(spark, sf):
    """Cohort retention: users by first-seen day × activity-day offset.
    Two shuffles; distinct (user, day) first so chatty users count once."""
    from pgferry_spark.operators.temporal import retention_cohorts

    e = _t(spark, sf, "events")
    return retention_cohorts(e, "user_id", "ts")


@register("transition_counts", oracle="""
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
        """)
def _transition_counts(spark, sf):
    """Markov transition matrix of event types per user timeline (lag
    window, event_id tie-break) — one window shuffle + one count."""
    from pgferry_spark.operators.temporal import transition_counts

    e = _t(spark, sf, "events")
    return transition_counts(e, "user_id", "ts", "event_type", order_col="event_id")


_FUNNEL_STEPS = ["view", "click", "purchase"]


@register("user_funnel", oracle="""
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
        """)
def _user_funnel(spark, sf):
    """Per-user ordered-funnel progress (view → click → purchase, each step
    strictly after the previous match): ONE shuffle + a sort/fold per user,
    vs the step-per-self-join formulation's shuffle per step."""
    from pgferry_spark.operators.temporal import funnel_steps

    e = _t(spark, sf, "events")
    return funnel_steps(e, "user_id", "ts", "event_type", _FUNNEL_STEPS)


@register("funnel_report", oracle="""
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
        """)
def _funnel_report(spark, sf):
    """The aggregate funnel: users reaching >= step k for each step."""
    from pgferry_spark.operators.temporal import funnel_report

    e = _t(spark, sf, "events")
    return funnel_report(e, "user_id", "ts", "event_type", _FUNNEL_STEPS)
