"""Generate an sf1-equivalent dataset by deterministic replicate+reseed.

VERDICT r6 Next #6 (scaling-slope proof): build a 10x copy of sf0.1
(~6M lineitem rows — the sf1 scale) so the flagship queries can be
timed at two scales and any superlinear operator (pair explosion,
driver collect, single-partition window) shows itself as a >>10x
wall-time ratio.

Discipline mirrors the driver's generator: fully deterministic (no RNG
— replica index arithmetic only), FK-consistent (every key domain
shifts by a fixed power-of-10 offset applied to BOTH sides of each FK),
and content-reseeded so the copy does not degenerate into a 90%%-dup
corpus (each replica prefixes documents.text with a replica token and
nudges embedding[0] by k*1e-3; within-replica dup/similarity structure
is preserved exactly).

Offsets are powers of 10 above each key's max, and every offset is
divisible by 8 so ``doc_id %% 8``-style template arithmetic (URL
synthesis, split assignment) is replica-invariant. nation/region stay
fixed (TPC-H scales neither).

Usage: python tools/make_sf_scale.py [out_dir] [replicas]
Defaults: .data/sf1 in the checkout, 10.
"""

from __future__ import annotations

import os
import sys

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC = "/root/testdata/sf0.1"

# key-domain shift per replica (power of 10 > max key; all divisible by 8)
CUST_OFF = 100_000       # c_custkey / o_custkey / user_id (max 14999)
ORDER_OFF = 1_000_000    # o_orderkey / l_orderkey (max 149999)
SUPP_OFF = 10_000        # s_suppkey / l_suppkey (max 999)
PART_OFF = 100_000       # p_partkey / l_partkey (max 19999)
EVENT_OFF = 1_000_000    # event_id (max 99999)
DOC_OFF = 10_000         # doc_id (max 4999)
VEC_OFF = 10_000         # vec_id (max 1999)


def table_sql(name: str) -> str:
    """SELECT producing the replicated table for replica index k (the
    ``r.k`` column from the range join)."""
    t = f"read_parquet('{SRC}/{name}.parquet')"
    if name in ("region", "nation"):
        return f"SELECT * FROM {t}"
    reps = "(SELECT CAST(range AS BIGINT) AS k FROM range({reps})) r"
    base = f"{t} CROSS JOIN {reps}"
    if name == "customer":
        return (
            f"SELECT c_custkey + k * {CUST_OFF} AS c_custkey, c_name, "
            f"c_nationkey, c_acctbal, c_mktsegment FROM {base}"
        )
    if name == "supplier":
        return (
            f"SELECT s_suppkey + k * {SUPP_OFF} AS s_suppkey, s_name, "
            f"s_nationkey, s_acctbal FROM {base}"
        )
    if name == "part":
        return (
            f"SELECT p_partkey + k * {PART_OFF} AS p_partkey, p_name, "
            f"p_brand, p_type, p_size, p_retailprice FROM {base}"
        )
    if name == "orders":
        return (
            f"SELECT o_orderkey + k * {ORDER_OFF} AS o_orderkey, "
            f"o_custkey + k * {CUST_OFF} AS o_custkey, o_orderstatus, "
            f"o_totalprice, o_orderdate, o_orderpriority FROM {base}"
        )
    if name == "lineitem":
        return (
            f"SELECT l_orderkey + k * {ORDER_OFF} AS l_orderkey, "
            f"l_partkey + k * {PART_OFF} AS l_partkey, "
            f"l_suppkey + k * {SUPP_OFF} AS l_suppkey, "
            f"l_linenumber, l_quantity, l_extendedprice, l_discount, "
            f"l_tax, l_returnflag, l_linestatus, l_shipdate FROM {base}"
        )
    if name == "events":
        return (
            f"SELECT event_id + k * {EVENT_OFF} AS event_id, ts, "
            f"user_id + k * {CUST_OFF} AS user_id, event_type, value, "
            f"props FROM {base}"
        )
    if name == "documents":
        # replica 0 is byte-identical to sf0.1; later replicas get a
        # replica-token prefix so cross-replica texts are distinct while
        # within-replica dup structure is preserved
        return (
            f"SELECT doc_id + k * {DOC_OFF} AS doc_id, "
            f"CASE WHEN k = 0 THEN text "
            f"ELSE 'r' || CAST(k AS VARCHAR) || ' ' || text END AS text, "
            f"lang, source, "
            f"CAST(CASE WHEN k = 0 THEN n_chars "
            f"ELSE n_chars + 2 + length(CAST(k AS VARCHAR)) END AS BIGINT) "
            f"AS n_chars FROM {base}"
        )
    if name == "embeddings":
        # nudge the first coordinate per replica: vectors stay near their
        # original neighborhoods (similarity structure preserved) without
        # being bit-identical clones
        return (
            f"SELECT vec_id + k * {VEC_OFF} AS vec_id, "
            f"CAST(list_concat([embedding[1] + k * 0.001], "
            f"embedding[2:]) AS FLOAT[]) AS embedding, "
            f"label FROM {base}"
        )
    raise ValueError(name)


def main() -> int:
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, ".data", "sf1")
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    os.makedirs(out, exist_ok=True)
    for name in ("region", "nation", "customer", "supplier", "part",
                 "orders", "lineitem", "events", "documents", "embeddings"):
        sql = table_sql(name).format(reps=reps)
        dest = os.path.join(out, f"{name}.parquet")
        duckdb.sql(f"COPY ({sql}) TO '{dest}' (FORMAT PARQUET)")
        n = duckdb.sql(f"SELECT count(*) FROM '{dest}'").fetchone()[0]
        print(f"{name}: {n} rows")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
