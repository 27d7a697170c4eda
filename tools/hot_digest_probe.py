"""Hot-digest measurement for the revisit-resolve window (round 12,
VERDICT r11 Next #7).

`warc_revisit_resolve` / `http_revisit_resolve` hand the keeper body to
its revisits with `F.max("text").over(Window.partitionBy("digest"))` —
a pathological hot digest (empty page, parked domain) collocates ALL
its captures on one task.  This probe measures exactly that: a corpus
where ONE digest owns 10^4 captures (1 stored response + 9,999
revisits) against a same-size corpus of all-distinct digests, resolve
timed on each, correctness asserted.

The competing plan (keeper table aggregated map-side-combinably, then a
probed broadcast-or-shuffle-hash join-back) needs a SECOND consumer of
the scan, which re-parses every container (plan-pinned in the resolver
docstring) or forces a corpus-wide persist; and its probe side still
hashes the hot digest's revisit rows to one task.  So the window is
only wrong if the hot partition's cost is dominated by something beyond
the slim rows it holds — which is what this probe quantifies.

Usage: python tools/hot_digest_probe.py [n_captures]
Prints one JSON line; numbers land in docs/SCALE.md.
"""

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from pgferry_spark.sources.warc import (
    attach_warc_revisits,
    warc_revisit_resolve,
)


def corpus(spark, n, hot: bool):
    """n captures; hot=True makes captures 0..n-1 share ONE payload
    (one keeper + n-1 revisits on a single digest), hot=False gives
    every capture a distinct payload (no revisits at all)."""
    base = spark.range(n).select(
        F.col("id").alias("capture_id"),
        F.concat(F.lit("https://h.org/"), F.col("id").cast("string")).alias(
            "url"
        ),
        (
            F.lit("hot page body, identical everywhere. " * 5)
            if hot
            else F.concat(
                F.lit("distinct body " * 5), F.col("id").cast("string")
            )
        ).alias("text"),
    )
    return attach_warc_revisits(base)


def run(spark, n, hot):
    containers = corpus(spark, n, hot).persist()
    containers.count()  # isolate synthesis from the measured resolve
    out = warc_revisit_resolve(containers)
    t0 = time.monotonic()
    rows = out.count()
    nulls = out.filter("text IS NULL").count()
    dt = time.monotonic() - t0
    containers.unpersist()
    assert rows == n and nulls == 0, (rows, nulls)
    return dt


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    # warm the JVM/Arrow path once, then measure each leg twice
    run(spark, 1_000, True)
    hot = min(run(spark, n, True) for _ in range(2))
    uniform = min(run(spark, n, False) for _ in range(2))
    print(
        json.dumps(
            {
                "n_captures": n,
                "hot_one_digest_sec": round(hot, 3),
                "uniform_distinct_sec": round(uniform, 3),
                "ratio": round(hot / uniform, 2),
            }
        )
    )


if __name__ == "__main__":
    main()
