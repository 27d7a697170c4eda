"""Per-entry profiler for the optimization rounds (guide §1).

For each named entry: wall-time split between DataFrame construction
(driver-side plan building + any eager probes/training the entry runs)
and the forced action, Spark job/stage counts via the status tracker,
the number of classes Spark's code generator compiled (``compiles``),
and 3 bench-protocol repeats (clearCache between; repeat 1 cold).

``compiles`` is the ``CodegenMetrics`` compile-count delta around build
plus action. Repeat 1 shows the entry's cold compiles; a later repeat
that still compiles means the entry's generated code changes from call to
call, so the compiled-class cache cannot serve it.

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
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry
from pgferry_spark.session import get_spark


def _cpu_probe_ms() -> float:
    import hashlib

    t0 = time.perf_counter()
    h = b"x"
    for _ in range(200_000):
        h = hashlib.md5(h).digest()
    return round((time.perf_counter() - t0) * 1000, 1)


def main() -> int:
    args = sys.argv[1:]
    plans_dir = None
    if args and args[0] == "--plans":
        sub = args[1]
        if "/" in sub:
            tag, suffix = sub.split("/", 1)
        else:
            tag, suffix = sub, ""
        plans_dir = (
            os.path.join(os.path.dirname(os.path.dirname(
                os.path.abspath(__file__))), "plans", tag),
            suffix,
        )
        os.makedirs(plans_dir[0], exist_ok=True)
        args = args[2:]

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("profile_entries")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    qs = entry.queries()

    # bench.py's warmups so repeat-1 numbers aren't JIT noise for the
    # first entry profiled
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()
    spark.range(sc.defaultParallelism * 4).repartition(
        sc.defaultParallelism
    ).mapInPandas(lambda it: it, "id long").count()

    compiled = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()
    probe0 = _cpu_probe_ms()
    for name in args:
        fn = qs[name]
        tracker = sc.statusTracker()
        rec: dict = {"entry": name}
        runs = []
        for rep in range(3):
            spark.catalog.clearCache()
            group = f"prof:{name}:{rep}"
            sc.setJobGroup(group, name)
            c0 = compiled.getCount()
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            n = df.count()
            t2 = time.perf_counter()
            compiles = compiled.getCount() - c0
            jobs = tracker.getJobIdsForGroup(group)
            n_stages = 0
            for j in jobs:
                ji = tracker.getJobInfo(j)
                if ji is not None:
                    n_stages += len(ji.stageIds)
            runs.append(
                {
                    "build_s": round(t1 - t0, 3),
                    "exec_s": round(t2 - t1, 3),
                    "total_s": round(t2 - t0, 3),
                    "jobs": len(jobs),
                    "stages": n_stages,
                    "compiles": compiles,
                }
            )
            if rep == 0:
                rec["rows"] = n
                if plans_dir is not None:
                    d, suffix = plans_dir
                    fname = f"{name}_{suffix}.txt" if suffix else f"{name}.txt"
                    with open(os.path.join(d, fname), "w") as fh:
                        fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                            df._jdf.queryExecution(), "formatted"))
            sc.setJobGroup("", "")
        rec["runs"] = runs
        rec["median_total_s"] = sorted(r["total_s"] for r in runs)[1]
        print(json.dumps(rec), flush=True)
    print(json.dumps({"cpu_probe_ms": [probe0, _cpu_probe_ms()]}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
