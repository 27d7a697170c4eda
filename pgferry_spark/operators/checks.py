"""Data-quality check operators — the reference's CHECK constraints (P4)
re-expressed as distributed assertions.

The reference emits enum/set/unsigned CHECKs as target-side DDL (reference
ddl.go:177-214, post.go:102-158); on Spark the same predicates double as
pre-load data-quality gates: count violations BEFORE shipping 100 TB to the
target instead of failing a VALIDATE CONSTRAINT after. One pass computes
every check for a table (a single aggregate of conditional sums — no
per-check scans).
"""

from __future__ import annotations

from dataclasses import dataclass

from decimal import Decimal

from pyspark.sql import Column as SparkColumn
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..types.config import UNSIGNED_MAX


@dataclass
class Check:
    name: str
    predicate: SparkColumn  # True -> row passes


def enum_check(col: str, values: list[str]) -> Check:
    """enum CHECK (col IN (...)) — NULLs pass (SQL CHECK semantics)."""
    c = F.col(col)
    return Check(f"{col}_enum", c.isNull() | c.isin(*values))


def unsigned_check(col: str, base_type: str) -> Check:
    """unsigned range CHECK (col BETWEEN 0 AND max).

    The unsigned-bigint max (2^64-1) exceeds Java's long, so the literal is
    a Decimal — Spark widens the comparison to decimal instead of crashing
    on the out-of-range long literal."""
    mx = UNSIGNED_MAX[base_type.lower()]
    c = F.col(col)
    upper = F.lit(Decimal(mx)) if mx > 2**63 - 1 else F.lit(mx)
    return Check(f"{col}_unsigned", c.isNull() | ((c >= 0) & (c <= upper)))


def range_check(col: str, lo, hi) -> Check:
    c = F.col(col)
    return Check(f"{col}_range", c.isNull() | ((c >= lo) & (c <= hi)))


def not_null_check(col: str) -> Check:
    return Check(f"{col}_not_null", F.col(col).isNotNull())


def run_checks(df: DataFrame, checks: list[Check]) -> DataFrame:
    """One aggregate pass: (check_name, violations, total) per check.
    Violation counting is a conditional sum, so N checks cost one scan."""
    aggs = [
        F.sum(F.when(~chk.predicate, 1).otherwise(0)).cast("long").alias(chk.name)
        for chk in checks
    ]
    total = df.agg(F.count(F.lit(1)).alias("__total"), *aggs).first()
    rows = [(chk.name, total[chk.name], total["__total"]) for chk in checks]
    spark = df.sparkSession
    return spark.createDataFrame(rows, "check_name: string, violations: long, total: long")


def approx_distinct_check(
    df: DataFrame, group_col: str, key_col: str, rel_tol: float = 0.05
) -> DataFrame:
    """Per-group HLL approximate distinct count, gated against the exact
    count: (group, n_exact, within_tolerance).

    At 100 TB the exact distinct is the expensive side (a full shuffle of
    every distinct key); ``approx_count_distinct``'s HyperLogLog++ sketch
    is the operational answer — fixed-size per group, mergeable map-side,
    and deterministic (the sketch is a pure function of the value SET, so
    partitioning and order don't change the estimate). This operator
    computes both and asserts the sketch lands within ``rel_tol`` of
    exact — run it at small scale to qualify the sketch's rsd setting,
    then ship only the approx side.
    """
    agg = df.groupBy(group_col).agg(
        F.approx_count_distinct(key_col).alias("approx"),
        F.count_distinct(F.col(key_col)).alias("n_exact"),
    )
    return agg.select(
        group_col,
        "n_exact",
        (
            F.abs(F.col("approx") - F.col("n_exact"))
            <= F.col("n_exact") * F.lit(rel_tol)
        ).alias("within_tolerance"),
    )


def json_key_profile(df: DataFrame, json_col: str) -> DataFrame:
    """Semi-structured profiling: per-key row count and distinct-value
    count across a JSON column — the first report run against an unknown
    event-properties payload before designing extraction columns.

    ``from_json`` to ``map<string,string>`` handles dynamic keys without
    per-key literal paths (``get_json_object`` needs foldable paths);
    the explode+groupBy is one shuffle on the key, with the distinct
    riding the same aggregation. Output is bounded by the key vocabulary,
    not the row count. At extreme key cardinality swap the exact distinct
    for ``approx_count_distinct`` — :func:`approx_distinct_check`
    qualifies the sketch."""
    pairs = df.select(
        F.explode(F.from_json(F.col(json_col), "map<string,string>")).alias(
            "key", "value"
        )
    )
    return pairs.groupBy("key").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct(F.col("value")).alias("n_values"),
    )


def approx_quantile_check(
    df: DataFrame,
    group_col: str,
    value_col: str,
    q: float = 0.5,
    rel_tol: float = 0.10,
    accuracy: int = 10_000,
) -> DataFrame:
    """Per-group approximate quantile, gated against the exact percentile:
    ``(group, q_exact, within_tolerance)`` — the quantile twin of
    :func:`approx_distinct_check`, same ship-the-sketch-qualify-it-small
    playbook. At 100 TB the exact percentile is a full sort-ish shuffle
    per group; ``approx_percentile``'s KLL-style sketch is fixed-size and
    mergeable map-side. ``rel_tol`` sits well above the sketch's rank
    error at the default accuracy so a legal deviation at a future scale
    factor never reads as a wrong answer (the approx_distinct lesson)."""
    agg = df.groupBy(group_col).agg(
        F.expr(
            f"approx_percentile({value_col}, {q}, {accuracy})"
        ).alias("approx"),
        F.expr(f"percentile({value_col}, {q})").alias("q_exact"),
    )
    return agg.select(
        group_col,
        F.round(F.col("q_exact").cast("double"), 6).alias("q_exact"),
        (
            F.abs(F.col("approx").cast("double") - F.col("q_exact").cast("double"))
            <= F.lit(rel_tol) * F.abs(F.col("q_exact").cast("double"))
        ).alias("within_tolerance"),
    )


def k_anonymity_check(
    df: DataFrame, quasi_cols: list[str], k: int = 5
) -> DataFrame:
    """Privacy release gate: equivalence classes over the quasi-identifier
    columns with fewer than ``k`` members — the rows that would
    re-identify individuals if the table shipped as-is.  Returns
    ``(quasi..., class_size)`` for violating classes only (empty result =
    k-anonymous at that k).  One aggregate on the quasi tuple; at scale
    the violating tail is the small side by construction, so the audit's
    output is bounded even when the table isn't."""
    from pyspark.sql import functions as F

    return (
        df.groupBy(*quasi_cols)
        .agg(F.count(F.lit(1)).alias("class_size"))
        .filter(F.col("class_size") < int(k))
    )


def l_diversity_check(
    df: DataFrame, quasi_cols: list[str], sensitive_col: str, l: int = 2
) -> DataFrame:
    """k-anonymity's sibling gate: equivalence classes whose SENSITIVE
    attribute shows fewer than ``l`` distinct values — classes where
    membership alone reveals the sensitive value even when the class is
    large (the homogeneity attack k-anonymity misses).  Returns
    ``(quasi..., class_size, n_sensitive)`` for violating classes."""
    from pyspark.sql import functions as F

    return (
        df.groupBy(*quasi_cols)
        .agg(
            F.count(F.lit(1)).alias("class_size"),
            F.count_distinct(F.col(sensitive_col)).alias("n_sensitive"),
        )
        .filter(F.col("n_sensitive") < int(l))
    )


def t_closeness_check(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    t: float = 0.2,
) -> DataFrame:
    """The third member of the privacy-release trio (Li, Li &
    Venkatasubramanian 2007): equivalence classes over the
    quasi-identifiers whose SENSITIVE-value distribution sits more than
    ``t`` away (variational distance, the categorical-attribute EMD)
    from the table-wide distribution — the skewness attack l-diversity
    misses (a class can show l distinct values yet still be 90% one of
    them).  Returns ``(quasi..., class_size, t_distance)`` for violating
    classes.

    Distance identity that keeps the plan bounded: with class
    distribution P and global Q over value set V,
    ``t_dist = ½·(Σ_{v∈class}|P(v)−Q(v)| + (1 − Σ_{v∈class}Q(v)))`` —
    values ABSENT from the class contribute exactly their global mass,
    so no classes×|V| dense join is ever materialized.  All arithmetic
    stays integer over the common denominator ``2·S·N`` (S = class
    size, N = table rows) with ONE final division rounded to 6dp, so an
    ANSI oracle reproduces every digit.

    NULL sensitive values are a VALUE, not a gap: the distributions are
    joined null-safely, so an all-NULL class is still audited and a
    class's NULL mass is compared against the table's NULL mass (an
    inner equi-join would silently drop the class — a privacy gate that
    skips exactly the rows someone redacted).

    Shape: ONE scan of the input — the (quasi, sensitive) aggregate;
    class totals are a WINDOW over that (already class-bounded) table,
    the |V|-row global distribution and the 1-row grand total both
    DERIVE from the same aggregate and ride in as broadcasts.  Fully
    lazy (no driver-side collect), one per-class fold on the quasi
    partitioning.  Violators are the small tail by construction —
    bounded output over any input."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    cv = df.groupBy(*quasi_cols, sensitive_col).agg(
        F.count(F.lit(1)).alias("__n_cv")
    )
    cv = cv.withColumn(
        "__s", F.sum("__n_cv").over(Window.partitionBy(*quasi_cols))
    )
    overall = cv.groupBy(
        F.col(sensitive_col).alias("__sv")
    ).agg(F.sum("__n_cv").alias("__n_v"))
    total = overall.agg(F.sum("__n_v").alias("__n"))
    joined = (
        cv.join(
            F.broadcast(overall),
            F.col(sensitive_col).eqNullSafe(F.col("__sv")),
        )
        .drop("__sv")
        .crossJoin(F.broadcast(total))
    )
    # integer numerator of 2·S·N·t_dist: Σ|n_cv·N − n_v·S| + S·(N − Σ n_v)
    num = F.sum(
        F.abs(F.col("__n_cv") * F.col("__n") - F.col("__n_v") * F.col("__s"))
    ) + F.first("__s") * (F.first("__n") - F.sum("__n_v"))
    out = joined.groupBy(*quasi_cols).agg(
        F.first("__s").cast("long").alias("class_size"),
        F.round(
            num / (F.lit(2.0) * F.first("__s") * F.first("__n")), 6
        ).alias("t_distance"),
    )
    return out.filter(F.col("t_distance") > float(t))


def profile_table(df: DataFrame, approx: bool = False) -> DataFrame:
    """ANALYZE-style per-column table profile — the statistics a
    cost-based optimizer (or a migration validation report) wants before
    planning against an unknown table: one output row per column with
    ``(col_name, data_type, n_rows, n_nulls, n_distinct, min_num,
    max_num, min_str, max_str)``.

    ONE aggregation pass whatever the column count: every per-column
    statistic is an expression in a single global aggregate (Spark
    computes them all in one scan with partial aggregation), and the
    1-row result pivots to per-column rows via an inline array-of-structs
    explode — no per-column jobs, no driver loop.

    ``approx=True`` swaps exact ``count_distinct`` for HyperLogLog++
    ``approx_count_distinct`` — at 100 TB exact ndv per column is a
    giant shuffle per column while the sketch rides the same single
    pass; the exact form stays the oracle-verifiable gate configuration
    (the same qualify-small/ship-sketch playbook as approx_distinct).

    Cross-engine formatting rules: numeric min/max surface as DOUBLE
    (rounded 6dp); timestamps format explicitly (``yyyy-MM-dd
    HH:mm:ss``); only true strings use string min/max — engine-dependent
    float-to-string casts never happen."""
    num_types = {"int", "bigint", "smallint", "tinyint", "double", "float"}
    aggs = [F.count(F.lit(1)).alias("__n")]
    specs = []  # (col_name, dtype, is_num, is_ts)
    for name, dtype in df.dtypes:
        is_num = dtype in num_types or dtype.startswith("decimal")
        is_ts = dtype.startswith("timestamp") or dtype == "date"
        c = F.col(name)
        aggs.append(F.count(c).alias(f"__nn_{name}"))
        ndv = (
            F.approx_count_distinct(c) if approx else F.count_distinct(c)
        )
        aggs.append(ndv.alias(f"__ndv_{name}"))
        if is_num:
            aggs.append(F.round(F.min(c).cast("double"), 6).alias(f"__min_{name}"))
            aggs.append(F.round(F.max(c).cast("double"), 6).alias(f"__max_{name}"))
        elif is_ts:
            fmt = "yyyy-MM-dd HH:mm:ss"
            aggs.append(F.date_format(F.min(c), fmt).alias(f"__smin_{name}"))
            aggs.append(F.date_format(F.max(c), fmt).alias(f"__smax_{name}"))
        elif dtype == "string":
            aggs.append(F.min(c).alias(f"__smin_{name}"))
            aggs.append(F.max(c).alias(f"__smax_{name}"))
        specs.append((name, dtype, is_num, is_ts))
    one = df.agg(*aggs)

    def entry(name, dtype, is_num, is_ts):
        null_d = F.lit(None).cast("double")
        null_s = F.lit(None).cast("string")
        return F.struct(
            F.lit(name).alias("col_name"),
            F.lit(dtype).alias("data_type"),
            F.col("__n").alias("n_rows"),
            (F.col("__n") - F.col(f"__nn_{name}")).alias("n_nulls"),
            F.col(f"__ndv_{name}").alias("n_distinct"),
            (F.col(f"__min_{name}") if is_num else null_d).alias("min_num"),
            (F.col(f"__max_{name}") if is_num else null_d).alias("max_num"),
            (F.col(f"__smin_{name}") if (is_ts or dtype == "string") else null_s).alias("min_str"),
            (F.col(f"__smax_{name}") if (is_ts or dtype == "string") else null_s).alias("max_str"),
        )

    arr = F.array(*[entry(*s) for s in specs])
    return one.select(F.explode(arr).alias("p")).select("p.*")
