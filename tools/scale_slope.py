"""Scaling-slope measurement: flagship-25 at sf0.1 vs sf1 (10x data).

VERDICT r6 Next #6: the cheapest in-sandbox evidence for the 100 TB
design claims — run the frozen flagship subset once per scale in ONE
JVM (sf0.1 first, which also serves as JIT warmup) and print the
per-query wall-time ratio. Linear operators land well under 10x
(fixed overheads amortize); anything ≳20x is a named superlinearity
(pair explosion, driver collect, single-partition window) to fix or
posture-cap.

Usage: python tools/scale_slope.py [sf1_dir]   (default .data/sf1;
generate it first with tools/make_sf_scale.py)
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import bench
import __spark_entry__ as entry
from pgferry_spark.session import get_spark


def main() -> int:
    sf1_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, ".data", "sf1")
    sf01_dir = "/root/testdata/sf0.1"
    spark = get_spark("scale_slope")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()

    def run_scale(sf_dir: str) -> dict[str, float]:
        spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()
        out: dict[str, float] = {}
        for name in bench.FLAGSHIP25:
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            if name == "migration_8table":
                bench._migration(spark, sf_dir)
            else:
                qs[name](spark, sf_dir).count()
            out[name] = round(time.perf_counter() - t0, 3)
        return out

    a = run_scale(sf01_dir)   # also the JIT warmup pass
    b = run_scale(sf1_dir)
    print(f"| query | sf0.1 s | sf1 s | ratio (10x data) |")
    print("|---|---|---|---|")
    flagged = []
    for name in bench.FLAGSHIP25:
        r = round(b[name] / a[name], 1) if a[name] > 0 else float("inf")
        mark = " **⚠ superlinear**" if r >= 20 else ""
        if r >= 20:
            flagged.append(name)
        print(f"| {name} | {a[name]} | {b[name]} | {r}x{mark} |")
    ta, tb = round(sum(a.values()), 1), round(sum(b.values()), 1)
    print(f"| **total** | **{ta}** | **{tb}** | **{round(tb/ta,1)}x** |")
    print(json.dumps({"sf01_total": ta, "sf1_total": tb,
                      "flagged": flagged, "load1": os.getloadavg()[0]}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
