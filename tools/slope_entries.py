"""Per-entry scaling slope: run named queries at sf0.1 then sf1 in ONE
JVM (sf0.1 pass doubles as JIT warmup) and print the 10x-data wall
ratios — the per-round additions companion to tools/scale_slope.py's
frozen flagship subset.

Usage: python tools/slope_entries.py QUERY [QUERY ...] [--sf1 DIR]
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entry
from pgferry_spark.session import get_spark


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf1_dir = os.path.join(ROOT, ".data", "sf1")
    if "--sf1" in sys.argv:
        sf1_dir = sys.argv[sys.argv.index("--sf1") + 1]
    sf01_dir = "/root/testdata/sf0.1"
    spark = get_spark("slope_entries")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()

    def run_scale(sf_dir: str) -> dict[str, float]:
        out: dict[str, float] = {}
        for name in args:
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).count()
            out[name] = round(time.perf_counter() - t0, 3)
        return out

    a = run_scale(sf01_dir)  # warmup + baseline
    a = run_scale(sf01_dir)  # warm reading
    b = run_scale(sf1_dir)
    print("| entry | sf0.1 s (warm) | sf1 s | ratio (10x data) |")
    print("|---|---|---|---|")
    for name in args:
        r = round(b[name] / a[name], 1) if a[name] > 0 else float("inf")
        mark = " **SUPERLINEAR**" if r >= 20 else ""
        print(f"| {name} | {a[name]} | {b[name]} | {r}x{mark} |")
    ta, tb = round(sum(a.values()), 1), round(sum(b.values()), 1)
    print(f"| **total** | **{ta}** | **{tb}** | "
          f"**{round(tb / ta, 1)}x** |")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
