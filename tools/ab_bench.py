"""One A/B leg: time named entries of an arbitrary repo tree in a FRESH JVM.

Usage:
    python tools/ab_bench.py TREE_DIR QUERY [QUERY ...]

Each invocation is one leg of an interleaved A/B (BASELINE.md §6/§7/§10/
§13 drift-adjudication ritual): the caller alternates trees across
iterations so ambient machine drift hits both trees symmetrically.
TREE supplies only the entries and the package; the protocol is this
checkout's ``tools/measure.py`` (warm-up, noop forcing, 3 repeats with
the cache cleared before each), so both legs are timed the same way.
``migration_8table`` is the movement-path entry. Data is
``$SPARK_GRAFT_SF_DIR`` (default sf0.1).
Prints ONE JSON line: {"tree": ..., "runs": {query: [r1, r2, r3]}}.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools import measure


def main() -> int:
    tree = os.path.abspath(sys.argv[1])
    sys.path.insert(0, tree)
    os.chdir(tree)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = measure.session("ab_bench")
    builders = measure.registry()
    measure.warm_up(spark, sf_dir)
    meter = measure.Meter(spark)
    runs = {
        name: [measure.wall(r) for r in meter.repeats(builders[name], sf_dir, 3)]
        for name in sys.argv[2:]
    }
    print(json.dumps({"tree": tree, "runs": runs}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
