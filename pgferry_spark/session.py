"""SparkSession factory with scale-appropriate defaults.

Defaults are chosen for the 100 TB posture (AQE on, skew handling on,
partition coalescing on) while remaining correct on local[*] test runs.

* Generated-code cache sized to the working set: a repeated plan shape
  reuses its compiled class and that class's JIT output instead of being
  compiled again on every pass (see ``CODEGEN_CACHE_ENTRIES``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Capacity of Spark's compiled-class cache (static
# ``spark.sql.codegen.cache.maxEntries``; Spark 4.1 defaults to 100). One
# pass of the benchmark's six-entry operator mix compiles about 222
# classes, so the default cache evicts each class before its next use and
# every pass compiles, and JIT-compiles, everything again. 2048 holds more
# than nine such passes and most of the registry: one noop pass over all
# 297 registered entries at sf0.001 compiled 2,871 classes with an
# unbounded cache, grew metaspace from 71 MB to 244 MB, and compiled only
# 70 on a second pass. The cap is what bounds that metaspace growth.
CODEGEN_CACHE_ENTRIES = 2048


def get_spark(
    app_name: str = "pgferry_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for the engine.

    * AQE enabled: runtime coalescing of shuffle partitions, skew-join
      splitting, and dynamic join-strategy switching — this is what makes a
      statically-planned 100 TB job survive real data distributions.
    * Arrow enabled for the few pandas-UDF operators (multimodal decode,
      byte-surgery transforms).
    * Session timezone pinned to UTC: the reference forces ``loc=UTC`` on its
      source connections (reference source_mysql.go:52-70); we mirror that so
      timestamp semantics are location-independent.
    * Compiled-class cache of ``CODEGEN_CACHE_ENTRIES`` classes, so a plan
      shape seen before reuses its generated class instead of compiling it
      again (one operator-mix pass needs ~222; Spark's default keeps 100).
      Cached classes live in metaspace until evicted, which the cap bounds.
      The setting is static: it applies only when this call starts the
      SparkContext, and ``getOrCreate`` on a running session ignores it.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # stdout hygiene: the round driver parses the bench's final JSON
        # line out of a 2000-byte combined-output tail capture; stage
        # progress bars (\r-rewritten lines) share that buffer and have
        # cost parses before (BENCH_r03/r05). No perf effect.
        .config("spark.ui.showConsoleProgress", "false")
    )
    return builder.getOrCreate()
