"""Physical-layout helpers: bucketing and the Z-order key.

At 100 TB, the cheapest shuffle is the one you already did at write time:

* ``write_bucketed`` persists a table hash-bucketed on its join/group key —
  two tables bucketed the same way join with NO exchange on either side
  (verified by the no-Exchange plan assertion in tests/test_layout_skew.py).
  This is the Spark-native analogue of the co-located chunk layout the
  reference gets implicitly from range-chunked PK order.
* ``zorder_key`` is the Morton key a range-clustered write sorts on for
  two-dimensional data skipping (the ``zorder_keys`` entry).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_key: str | list[str],
    num_buckets: int = 32,
    sort_by: str | list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed managed table (bucketing requires saveAsTable).

    ``sort_by`` additionally sorts within buckets, enabling merge-join
    without a sort step and better min/max row-group pruning.
    """
    keys = [bucket_key] if isinstance(bucket_key, str) else list(bucket_key)
    writer = df.write.mode(mode).format("parquet").bucketBy(num_buckets, *keys)
    if sort_by:
        sorts = [sort_by] if isinstance(sort_by, str) else list(sort_by)
        writer = writer.sortBy(*sorts)
    writer.saveAsTable(table_name)


def exchange_count(df: DataFrame) -> int:
    """Number of shuffle Exchanges in the executed plan — the metric the
    bucketing tests assert on."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("Exchange hashpartitioning")


def zorder_key(a: Column, b: Column, bits: int = 16) -> Column:
    """Morton (Z-order) interleave of two non-negative ints, ``bits`` bits
    each — bit ``i`` of ``a`` lands at position ``2i``, bit ``i`` of ``b``
    at ``2i + 1``.  Pure Column bit math (2·bits shift/mask/or terms, all
    inside whole-stage codegen): no UDF, map-only, SQL-replayable.

    Why: range-clustering on a Morton key gives MULTI-dimensional data
    skipping from ONE sort order — rows close in (a, b) space land in the
    same files, so a 2-D box predicate prunes most row groups by their
    min/max stats, where clustering on either column alone only helps
    that column's predicates.  This is the layout pass behind
    OPTIMIZE ZORDER in lakehouse table formats, as a plain expression."""
    bits = int(bits)
    a64 = a.cast("bigint").bitwiseAND(F.lit((1 << bits) - 1))
    b64 = b.cast("bigint").bitwiseAND(F.lit((1 << bits) - 1))
    terms = []
    for i in range(bits):
        terms.append(
            F.shiftleft(F.shiftright(a64, i).bitwiseAND(F.lit(1)), 2 * i)
        )
        terms.append(
            F.shiftleft(F.shiftright(b64, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out
