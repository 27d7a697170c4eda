"""Per-entry profiler for the optimization rounds (guide §1).

For each named entry: 3 repeats of ``tools/measure.py``'s record —
``construct_s`` (driver-side plan building plus any eager probes/training
the entry runs), ``action_s`` (the noop-forced write), Spark ``jobs`` and
``stages``, and ``compiles``, the classes Spark's code generator compiled.
Repeat 1 shows the entry's cold compiles; a later repeat that still
compiles means the entry's generated code changes from call to call, so
the compiled-class cache cannot serve it.

Optionally dumps `.explain("formatted")` to plans/<tag>/<name>_<suffix>.txt
so plan claims in OPTIMIZATION_*.md are checkable.

Usage:
    python tools/profile_entries.py [--plans r14/before] QUERY [QUERY ...]

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
Prints one JSON line per entry and a closing cpu-probe line (the
BASELINE §21 host-speed calibration).
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from tools import measure


def main() -> int:
    args = sys.argv[1:]
    plans = None
    if args and args[0] == "--plans":
        tag, _, suffix = args[1].partition("/")
        plans = (os.path.join(ROOT, "plans", tag), suffix)
        os.makedirs(plans[0], exist_ok=True)
        args = args[2:]

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = measure.session("profile_entries")
    builders = measure.registry()
    measure.warm_up(spark, sf_dir)
    meter = measure.Meter(spark)
    probe0 = measure.cpu_probe_ms()
    for name in args:
        built = []

        def build(spark, sf_dir, fn=builders[name]):
            built.append(fn(spark, sf_dir))
            return built[-1]

        runs = meter.repeats(build, sf_dir, 3)
        if plans is not None and built[0] is not None:
            d, suffix = plans
            with open(os.path.join(d, f"{name}_{suffix}.txt" if suffix else f"{name}.txt"), "w") as fh:
                fh.write(spark._jvm.PythonSQLUtils.explainString(
                    built[0]._jdf.queryExecution(), "formatted"))
        print(json.dumps({
            "entry": name, "runs": runs,
            "median_total_s": measure.median([measure.wall(r) for r in runs]),
        }), flush=True)
    print(json.dumps({"cpu_probe_ms": [probe0, measure.cpu_probe_ms()]}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
