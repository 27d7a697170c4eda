"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes every implemented operator from SURVEY.md §2 (plus the
training-data-pipeline operators) as (spark, sf_dir) -> DataFrame callables;
``oracle_sql()`` provides the DuckDB-runnable ANSI-SQL twin for each.
Operators whose semantics are not SQL-expressible (xxhash64 fast paths,
MLlib KMeans / LBFGS / Lloyd-trained float metadata, iterative BPE
learning, deflate ratios) have no oracle entry and get the driver's
rows-only check — each has an oracle-checked deterministic twin or an
independent-reference pytest pinning the same code path.

Each entry is declared once, builder and oracle side by side, in a family
module under ``pgferry_spark/entries/``; both functions here are generated
from that registry in the order ``pgferry_spark.entries.HEAD`` fixes.

Determinism rules shared by both sides: exact DECIMAL internal math with
DOUBLE only at the output edge, md5-based portable hashing, total-order
tie-breaks on every top-k, one terminal round per float column.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from pgferry_spark.entries import ordered
from pgferry_spark.entries.common import lake_table
from pgferry_spark.operators import queries as Q

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: TPC-H Q1-shaped pricing summary at sf0.001."""
    return Q.q1_pricing_summary(lake_table(spark, SF0001, "lineitem"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every entry's (spark, sf_dir) -> DataFrame builder, by name.  The
    round driver oracle-checks only the first 50."""
    return {e.name: e.build for e in ordered()}


def oracle_sql() -> dict[str, str]:
    """The DuckDB SQL twin of every entry that has one, by name."""
    return {e.name: e.oracle_sql() for e in ordered() if e.oracle is not None}
