"""Session factory: the compiled-class cache holds a repeated working set.

``spark.sql.codegen.cache.maxEntries`` is a static conf, read only when the
SparkContext starts, and the shared test session is already running. So the
check builds its own session with ``get_spark`` in a subprocess.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from pgferry_spark.session import CODEGEN_CACHE_ENTRIES

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# 150 plan shapes that differ only in an inlined literal: each compiles its
# own classes (two per shape), more than Spark's default 100-entry cache
# holds, far fewer than CODEGEN_CACHE_ENTRIES.
SHAPES = 150

_PROBE = """
import json, sys
from pyspark.sql import functions as F
from pgferry_spark.session import get_spark

spark = get_spark("codegen_cache_probe", master="local[2]", shuffle_partitions=2)
spark.sparkContext.setLogLevel("ERROR")
compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \\
    .METRIC_COMPILATION_TIME()

def one_round():
    before = compiles.getCount()
    for i in range(int(sys.argv[1])):
        (spark.range(8).select((F.col("id") + i).alias("x"))
         .write.format("noop").mode("overwrite").save())
    return compiles.getCount() - before

rounds = [one_round(), one_round()]
conf = int(spark.conf.get("spark.sql.codegen.cache.maxEntries"))
spark.stop()
print(json.dumps({"rounds": rounds, "max_entries": conf}))
"""


def test_repeated_plan_shapes_reuse_compiled_classes():
    env = dict(os.environ, SPARK_DRIVER_MEM="1g")
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, env.get("PYTHONPATH")) if p
    )
    proc = subprocess.run(
        [sys.executable, "-c", _PROBE, str(SHAPES)],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["max_entries"] == CODEGEN_CACHE_ENTRIES
    first, second = out["rounds"]
    # the first round really compiled a working set larger than the
    # default cache, so the second round exercises reuse, not emptiness
    assert first >= SHAPES, out
    assert second == 0, out
