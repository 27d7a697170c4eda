"""Plan the next round's driver-correctness window rotation.

The round driver oracle-checks only the FIRST 50 ``queries()`` entries, so
each round the dict must be reordered to put the least-recently-verified
entries inside the window. This tool reads every ``CORRECTNESS_r*.json``
in the repo root, computes each query's last fully-green round, and prints
the proposed next ordering: never-checked first, then stalest-first, with
ties broken by current position (stable). Usage:

    python tools/plan_rotation.py [window_size=50]

Apply by reordering the head-order list ``HEAD`` in
``pgferry_spark/entries/__init__.py`` and updating
``tests/test_entry_ordering.py``'s constants.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entry


ROWS_ONLY = frozenset(entry.queries()) - frozenset(entry.oracle_sql())


def last_green_round() -> dict[str, int]:
    """query -> highest round number with a fully-green row (rows+schema+
    hash for oracle entries).  A rows-only entry (no oracle_sql twin)
    counts as checked when the driver recorded its ``no_oracle`` row with
    a non-null spark_rows — that IS the maximum-achievable driver check
    for it.  Since round 8 rows-only entries are additionally pinned
    PERMANENTLY post-window (VERDICT r7 Next #1): a window slot on a
    no_oracle row can never go green, and the md5/exact twins carry the
    hash signal."""
    green: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))):
        m = re.search(r"_r(\d+)", path)
        rnd = int(m.group(1)) if m else 0
        data = json.load(open(path))
        for q, row in data.items():
            if q in ROWS_ONLY:
                ok = row.get("spark_rows") is not None and row.get("err") in (
                    None, "no_oracle",
                )
            else:
                ok = (
                    row.get("err") is None
                    and row.get("rows_match")
                    and row.get("hash_match") is True
                )
            if ok:
                green[q] = max(green.get(q, 0), rnd)
    return green


def main() -> int:
    window = int(sys.argv[1]) if len(sys.argv) > 1 else 50
    names = list(entry.queries().keys())
    green = last_green_round()
    pos = {n: i for i, n in enumerate(names)}
    # never-green first (staleness -1 < any round), then stalest, stable.
    # Rows-only entries participate in the staleness pool since r14
    # (VERDICT r13 Next #3 extended the >6-rounds-stale rotation
    # invariant to them): a window slot on one records a fresh
    # ``no_oracle`` + spark_rows row — the maximum-achievable driver
    # signal for it — rather than leaving its last record frozen at the
    # round it was born.
    ordered = sorted(names, key=lambda n: (green.get(n, -1), pos[n]))
    print(f"# proposed ordering ({len(names)} entries, window={window})")
    for i, n in enumerate(ordered, 1):
        mark = "  <-- window boundary" if i == window else ""
        status = f"r{green[n]}-green" if n in green else "NEVER-CHECKED"
        print(f"{i:3d}  {n:35s} {status}{mark}")
    never_out = [
        n for n in ordered[window:] if n not in green and n not in ROWS_ONLY
    ]
    if never_out:
        print(f"\nWARNING: {len(never_out)} never-checked entries do not fit "
              f"the window: {never_out}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
