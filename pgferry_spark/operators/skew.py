"""Skew diagnostics.

AQE's skew-join splitting (on by default in session.py) handles moderate
skew at runtime. ``skew_profile`` is the diagnostic that tells you
whether a join key is skewed enough to need more: top-k key frequencies
+ share of total.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def skew_profile(df: DataFrame, key: str, top: int = 10) -> DataFrame:
    """(key, cnt, share) for the ``top`` heaviest keys — the pre-join
    diagnostic that decides whether a join needs salting or AQE skew
    handling, run BEFORE burning a shuffle on a skewed key.

    Lazy end to end: the total is a 1-row aggregate over the
    already-grouped counts (broadcast back in), not a driver-side
    ``df.count()`` — construction launches zero jobs and the fact is
    scanned once, not twice. Ties order by key for determinism."""
    counts = df.groupBy(key).agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("__total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            key,
            "cnt",
            F.round(F.col("cnt") / F.col("__total"), 4).alias("share"),
        )
        .orderBy(F.col("cnt").desc(), F.col(key).asc())
        .limit(top)
    )
