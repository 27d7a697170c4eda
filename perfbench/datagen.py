"""Seeded input generators for the benchmark, with their expected outputs.

Two inputs, both made from ``--seed`` alone (the same seed gives
byte-identical files):

* ``make_lake`` writes a TPC-H-shaped parquet lake with the column names,
  types and value shapes of the repository's test fixtures (region, nation,
  customer, supplier, part, orders, lineitem, events, documents,
  embeddings), at a chosen scale factor. The migration workload and the
  registered-entry mix both read it.
* ``make_sqlite_fk`` writes a SQLite file with a self-referencing parent,
  a child with a DELETE-rule FK and a grandchild with one SET NULL and one
  DELETE FK, ~1% orphan keys on every FK, TEXT/REAL/NUMERIC/BLOB columns and
  secondary indexes.

Each generator returns the per-table row count and order-independent key
checksum a correct migration must land. For SQLite those come from the
generator's own orphan bookkeeping (which rows survive the one-pass
anti-join against the surviving parents), not from the program.
"""

from __future__ import annotations

import os
import sqlite3
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_NULL_KEY = -1  # keys are non-negative; a NULL key column hashes as -1


def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer over uint64 (wrapping arithmetic is the point)."""
    with np.errstate(over="ignore"):
        x = x.astype(np.uint64)
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))


def key_checksum(*cols: np.ndarray) -> int:
    """Order-independent checksum of integer key tuples: the wrapped sum of
    a 64-bit mix of each row's columns. NULLs must arrive as ``_NULL_KEY``."""
    if not cols or len(cols[0]) == 0:
        return 0
    with np.errstate(over="ignore"):
        h = np.zeros(len(cols[0]), dtype=np.uint64)
        for i, c in enumerate(cols):
            h = _mix(h ^ (np.asarray(c, dtype=np.int64).astype(np.uint64) + np.uint64(i)))
        return int(h.sum(dtype=np.uint64))


def table_checksum(table: pa.Table, key_cols: list[str]) -> int:
    return key_checksum(
        *(table.column(c).fill_null(_NULL_KEY).to_numpy() for c in key_cols)
    )


@dataclass(frozen=True)
class Expected:
    """What one migrated table must hold: row count and key checksum over
    ``key_cols`` (the PK plus, where a rule rewrites them, the FK columns)."""

    rows: int
    checksum: int
    key_cols: tuple[str, ...]
    unique_first_key: bool  # the first key column is the primary key


# -- parquet lake ---------------------------------------------------------------

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
_NOUN = ["ring", "bolt", "gear", "plate", "rod", "widget", "anvil", "gizmo"]
_PTYPES = ["ECONOMY", "SMALL", "MEDIUM", "LARGE", "STANDARD", "PROMO"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
_WORDS = (
    "a the row key agg scan slow fast table value part hash merge batch spark "
    "line sort window join small big data column stream filter group query "
    "customer order vector"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]

# migrated tables and their key columns (lineitem has no PK: its natural key)
LAKE_KEYS = {
    "region": ("r_regionkey",), "nation": ("n_nationkey",),
    "customer": ("c_custkey",), "supplier": ("s_suppkey",),
    "part": ("p_partkey",), "orders": ("o_orderkey",),
    "lineitem": ("l_orderkey", "l_linenumber"), "events": ("event_id",),
}
LAKE_PKS = {t: k[0] for t, k in LAKE_KEYS.items() if t != "lineitem"}

_EPOCH_1995_US = 788_918_400_000_000
_EPOCH_2024_US = 1_704_067_200_000_000
_DAY_US = 86_400_000_000


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(micros: np.ndarray) -> pa.Array:
    return pa.array(micros.astype(np.int64), type=pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def lake_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(100, int(50_000 * sf)), max(200, int(20_000 * sf))
    n_users = max(10, n_cust // 10)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, 0, 10_000, n_cust),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, 0, 10_000, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(_PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 100, 500_000, n_ord),
        "o_orderdate": _ts(_EPOCH_1995_US + rng.integers(0, 2400, n_ord) * _DAY_US),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    # lineitem: every order gets 1..7 lines until n_line rows exist; the
    # (orderkey, linenumber) pair is unique by construction
    per = rng.integers(1, 8, n_ord)
    keep = np.cumsum(per) <= n_line
    per = per[keep]
    l_order = np.repeat(np.arange(len(per), dtype=np.int64), per)
    starts = np.repeat(np.cumsum(per) - per, per)
    l_line = (np.arange(len(l_order)) - starts + 1).astype(np.int32)
    n = len(l_order)
    qty = rng.integers(1, 51, n).astype(np.float64)
    l_part = rng.integers(0, n_part, n, dtype=np.int64)
    t["lineitem"] = pa.table({
        "l_orderkey": l_order,
        "l_partkey": l_part,
        "l_suppkey": rng.integers(0, n_supp, n, dtype=np.int64),
        "l_linenumber": l_line,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (900 + (l_part % 1000) / 10) * rng.uniform(1, 2.33, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _ts(_EPOCH_1995_US + rng.integers(0, 2500, n) * _DAY_US),
    })
    gaps = rng.exponential(30 * _DAY_US / n_ev, n_ev).astype(np.int64)
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(_EPOCH_2024_US + np.cumsum(gaps)),
        "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    # documents: bag-of-words text; 5% are near-duplicates (an earlier
    # document plus one token) so the LSH/near-dup entries find pairs
    words = np.array(_WORDS)
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 101)))]))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, n_doc, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    vec = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(vec.ravel(), 64).cast(
            pa.list_(pa.float32())
        ),
        "label": rng.integers(0, 10, n_emb, dtype=np.int32),
    })
    return t


def make_lake(root: str, seed: int, sf: float) -> dict[str, Expected]:
    """Write the lake under ``root`` (one ``<table>.parquet`` file each) and
    return the expected migration output of the eight migrated tables."""
    os.makedirs(root, exist_ok=True)
    expected = {}
    for name, tbl in lake_tables(seed, sf).items():
        pq.write_table(tbl, os.path.join(root, f"{name}.parquet"))
        keys = LAKE_KEYS.get(name)
        if keys:
            expected[name] = Expected(
                tbl.num_rows, table_checksum(tbl, list(keys)), keys, name in LAKE_PKS
            )
    return expected


# -- SQLite FK source -------------------------------------------------------------

SQLITE_DDL = """
CREATE TABLE parent (
  id INTEGER PRIMARY KEY,
  parent_id INTEGER REFERENCES parent(id) ON DELETE CASCADE,
  name TEXT NOT NULL,
  score REAL,
  balance NUMERIC,
  blob BLOB
);
CREATE INDEX parent_name_idx ON parent(name);
CREATE TABLE child (
  id INTEGER PRIMARY KEY,
  parent_id INTEGER NOT NULL REFERENCES parent(id) ON DELETE CASCADE,
  label TEXT,
  qty INTEGER,
  price REAL,
  amount NUMERIC
);
CREATE INDEX child_parent_idx ON child(parent_id);
CREATE TABLE grandchild (
  id INTEGER PRIMARY KEY,
  child_id INTEGER NOT NULL REFERENCES child(id) ON DELETE CASCADE,
  parent_id INTEGER REFERENCES parent(id) ON DELETE SET NULL,
  tag TEXT,
  weight REAL,
  amount NUMERIC,
  payload BLOB
);
CREATE INDEX grandchild_child_idx ON grandchild(child_id);
CREATE INDEX grandchild_tag_idx ON grandchild(tag);
"""

SQLITE_KEYS = {
    "parent": ("id", "parent_id"),
    "child": ("id", "parent_id"),
    "grandchild": ("id", "child_id", "parent_id"),
}
ORPHAN_RATE = 0.01


def _fk_column(rng, n: int, parent_ids: np.ndarray, orphan_base: int) -> tuple[np.ndarray, np.ndarray]:
    """FK values drawn from ``parent_ids`` with ~1% orphans (keys above
    ``orphan_base``, which no parent holds). Returns (values, is_orphan)."""
    vals = parent_ids[rng.integers(0, len(parent_ids), n)]
    orphan = rng.random(n) < ORPHAN_RATE
    vals = np.where(orphan, orphan_base + rng.integers(1, 1_000_000, n), vals)
    return vals, orphan


def make_sqlite_fk(path: str, seed: int, n_parent: int) -> dict[str, Expected]:
    """Write the FK fixture (child = 2x, grandchild = 6x the parent rows) and
    return the expected cleaned output per table: DELETE-rule orphans dropped
    and SET NULL orphans nulled, each FK checked against the surviving rows
    of its parent (one pass, the SQL ``DELETE ... WHERE NOT EXISTS`` shape)."""
    rng = np.random.default_rng([seed, 2])
    n_child, n_grand = 2 * n_parent, 6 * n_parent
    base = 10 * (n_parent + n_child + n_grand)

    p_id = np.arange(1, n_parent + 1, dtype=np.int64)
    # self-FK: the first tenth are roots (NULL); the rest point at an
    # earlier row, except ~1% orphans
    p_ref, p_orphan = _fk_column(rng, n_parent, p_id, base)
    earlier = (rng.random(n_parent) * (p_id - 1)).astype(np.int64) + 1
    p_ref = np.where(p_orphan, p_ref, earlier)
    root = p_id <= max(1, n_parent // 10)
    p_ref = np.where(root & ~p_orphan, _NULL_KEY, p_ref)
    p_keep = ~p_orphan  # snapshot semantics: only dangling keys are removed

    c_id = np.arange(1, n_child + 1, dtype=np.int64)
    c_ref, _ = _fk_column(rng, n_child, p_id, base)
    c_keep = np.isin(c_ref, p_id[p_keep])

    g_id = np.arange(1, n_grand + 1, dtype=np.int64)
    g_child, _ = _fk_column(rng, n_grand, c_id, base)
    g_parent, _ = _fk_column(rng, n_grand, p_id, base)
    g_keep = np.isin(g_child, c_id[c_keep])
    g_parent_out = np.where(np.isin(g_parent, p_id[p_keep]), g_parent, _NULL_KEY)

    def nullable(a: np.ndarray) -> list:
        return [None if v == _NULL_KEY else int(v) for v in a]

    def blobs(n: int, width: int) -> list[bytes]:
        raw = rng.integers(0, 256, (n, width), dtype=np.uint8)
        return [r.tobytes() for r in raw]

    words = np.array(_WORDS)
    if os.path.exists(path):
        os.remove(path)
    con = sqlite3.connect(path)
    try:
        con.executescript(SQLITE_DDL)
        con.executemany(
            "INSERT INTO parent VALUES (?,?,?,?,?,?)",
            zip(
                p_id.tolist(), nullable(p_ref),
                [f"{a} {b}" for a, b in words[rng.integers(0, len(words), (n_parent, 2))]],
                np.round(rng.uniform(0, 100, n_parent), 3).tolist(),
                np.round(rng.uniform(0, 1e6, n_parent), 2).tolist(),
                blobs(n_parent, 16),
            ),
        )
        con.executemany(
            "INSERT INTO child VALUES (?,?,?,?,?,?)",
            zip(
                c_id.tolist(), c_ref.tolist(),
                words[rng.integers(0, len(words), n_child)].tolist(),
                rng.integers(1, 100, n_child).tolist(),
                np.round(rng.uniform(1, 500, n_child), 2).tolist(),
                np.round(rng.uniform(0, 1e4, n_child), 2).tolist(),
            ),
        )
        con.executemany(
            "INSERT INTO grandchild VALUES (?,?,?,?,?,?,?)",
            zip(
                g_id.tolist(), g_child.tolist(), g_parent.tolist(),
                words[rng.integers(0, len(words), n_grand)].tolist(),
                np.round(rng.uniform(0, 10, n_grand), 4).tolist(),
                np.round(rng.uniform(0, 1e3, n_grand), 2).tolist(),
                blobs(n_grand, 8),
            ),
        )
        con.commit()
    finally:
        con.close()

    def expect(keep: np.ndarray, *cols: np.ndarray, name: str) -> Expected:
        return Expected(
            int(keep.sum()), key_checksum(*(c[keep] for c in cols)), SQLITE_KEYS[name], True
        )

    return {
        "parent": expect(p_keep, p_id, p_ref, name="parent"),
        "child": expect(c_keep, c_id, c_ref, name="child"),
        "grandchild": expect(g_keep, g_id, g_child, g_parent_out, name="grandchild"),
    }


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def check_spool(root: str, expected: dict[str, Expected]) -> list[str]:
    """Compare a spool target's landed tables with ``expected``; returns one
    message per mismatch (row count, key checksum, or duplicate first key)."""
    problems = []
    for name, exp in expected.items():
        path = os.path.join(root, name)
        if not os.path.isdir(path):
            problems.append(f"{name}: not written")
            continue
        tbl = pq.read_table(path, columns=list(exp.key_cols))
        if tbl.num_rows != exp.rows:
            problems.append(f"{name}: {tbl.num_rows} rows, expected {exp.rows}")
        elif table_checksum(tbl, list(exp.key_cols)) != exp.checksum:
            problems.append(f"{name}: key checksum differs")
        if exp.unique_first_key:
            ids = tbl.column(exp.key_cols[0]).to_numpy()
            if len(np.unique(ids)) != len(ids):
                problems.append(f"{name}: duplicate primary keys")
    return problems
