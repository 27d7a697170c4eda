"""Scaling slope: entries at sf0.1 then sf1 (10x data) in ONE JVM, and the
per-entry wall ratio.

The cheapest in-sandbox evidence for the 100 TB design claims. Linear
operators land well under 10x (fixed overheads amortize); anything ≳20x
is a named superlinearity (pair explosion, driver collect,
single-partition window) to fix or posture-cap. With no QUERY names it
runs bench.py's frozen flagship-25, ``migration_8table`` included.

Protocol (``tools/measure.py``): warm-up, a first sf0.1 pass that only
warms each entry's own shapes, then one repeat per entry at sf0.1 and at
sf1, noop-forced, the cache cleared before each.

Usage: python tools/slope_entries.py [QUERY ...] [--sf1 DIR]
(default .data/sf1 in the checkout; generate it with tools/make_sf_scale.py)
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from tools import measure


def main() -> int:
    argv = sys.argv[1:]
    sf1_dir = os.path.join(ROOT, ".data", "sf1")
    if "--sf1" in argv:
        i = argv.index("--sf1")
        sf1_dir = argv[i + 1]
        del argv[i:i + 2]
    if not argv:
        import bench

        argv = bench.FLAGSHIP25
    sf01_dir = "/root/testdata/sf0.1"
    spark = measure.session("slope_entries")
    builders = measure.registry()
    measure.warm_up(spark, sf01_dir)
    meter = measure.Meter(spark)

    def run_scale(sf_dir: str) -> dict[str, float]:
        return {
            name: measure.wall(meter.repeats(builders[name], sf_dir, 1)[0])
            for name in argv
        }

    run_scale(sf01_dir)  # each entry's own warm-up
    a = run_scale(sf01_dir)
    b = run_scale(sf1_dir)
    print("| entry | sf0.1 s (warm) | sf1 s | ratio (10x data) |")
    print("|---|---|---|---|")
    flagged = []
    for name in argv:
        r = round(b[name] / a[name], 1) if a[name] > 0 else float("inf")
        mark = ""
        if r >= 20:
            flagged.append(name)
            mark = " **SUPERLINEAR**"
        print(f"| {name} | {a[name]} | {b[name]} | {r}x{mark} |")
    ta, tb = round(sum(a.values()), 1), round(sum(b.values()), 1)
    print(f"| **total** | **{ta}** | **{tb}** | **{round(tb / ta, 1)}x** |")
    print(json.dumps({"sf01_total": ta, "sf1_total": tb,
                      "flagged": flagged, "load1": os.getloadavg()[0]}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
