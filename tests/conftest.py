from __future__ import annotations

import pytest
from pyspark.sql import SparkSession

from pgferry_spark.session import CODEGEN_CACHE_ENTRIES


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("pgferry_spark_tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .getOrCreate()
    )
    yield s


@pytest.fixture()
def jobs_in_group(spark):
    """``jobs_in_group(group)``: ids of the jobs in ``group`` (``None``: jobs
    run outside any group), read after the listener bus has posted every
    event so far, so a job that already ran is never missed. Compare id
    sets, not their sizes: the status store keeps only the newest
    ``spark.ui.retainedJobs`` jobs and drops the oldest in blocks, so a
    count can fall while jobs run."""

    def ids(group):
        sc = spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return frozenset(sc.statusTracker().getJobIdsForGroup(group))

    return ids
