"""Orphan-row cleanup — the reference's only join-shaped operator (J1).

The reference emits ``DELETE ... WHERE (fk cols NOT NULL) AND NOT EXISTS
(parent)`` / ``UPDATE ... SET fk = NULL`` to PostgreSQL (reference
post.go:475-538): one probe of the parent's key column per FK. Spark-first,
both cleanup rules are ONE left join of the child against the parent's
distinct key set, so the child is scanned once: the DELETE rule keeps rows
that have a NULL FK component (MATCH SIMPLE: never an orphan) or matched a
key, and the SET NULL rule nulls the FK columns of the rest.
``find_orphans`` is the null-aware left anti join behind the audit.

Scale notes: the key set is the parent projected to just the referenced
columns and distinct-ed, so for a typical dimension parent Spark's AQE
broadcasts it — no shuffle of the (huge) child. For same-magnitude
parents this degrades gracefully to a shuffled join on the key. A caller
that cleans many child batches against one parent builds the key set once
(:func:`parent_keys`, persisted) and passes it as ``keys``.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _non_null_cond(df: DataFrame, cols: list[str]):
    return reduce(lambda a, b: a & b, (F.col(c).isNotNull() for c in cols))


def parent_keys(parent: DataFrame, ref_cols: list[str]) -> DataFrame:
    """Distinct parent key tuples as ``__ref_0 .. __ref_{n-1}``, the shape
    the cleanup rules' ``keys`` argument takes. The rename produces new
    attribute ids so a SELF-referential cleanup (child is parent) doesn't
    trip Spark's ambiguous-self-join analysis."""
    return parent.select(
        *[F.col(r).alias(f"__ref_{i}") for i, r in enumerate(ref_cols)]
    ).dropDuplicates()


def _keys_cond(child: DataFrame, parent_keys: DataFrame, fk_cols: list[str]):
    return reduce(
        lambda a, b: a & b,
        (child[f] == parent_keys[f"__ref_{i}"] for i, f in enumerate(fk_cols)),
    )


def _join_keys(
    child: DataFrame, parent: DataFrame | None, fk_cols: list[str],
    ref_cols: list[str], keys: DataFrame | None,
) -> tuple[DataFrame, Column]:
    """``child`` left-joined to the parent's key set (``keys``, or built
    from ``parent``), and the condition that a row matched a key. Keys are
    distinct, so the join keeps every child row exactly once; a row with a
    NULL FK component matches nothing. ``keys`` joins through a fresh
    projection (new attribute ids), so two FKs of one child may share a
    key set without an ambiguous self-join."""
    if keys is None:
        keys = parent_keys(parent, ref_cols)
    keys = keys.select(*[F.col(c).alias(c) for c in keys.columns])
    joined = child.join(keys, on=_keys_cond(child, keys, fk_cols), how="left")
    return joined, keys["__ref_0"].isNotNull()


def find_orphans(
    child: DataFrame, parent: DataFrame, fk_cols: list[str], ref_cols: list[str]
) -> DataFrame:
    """Rows of ``child`` whose fully-non-null FK tuple has no match in
    ``parent`` (MATCH SIMPLE semantics)."""
    keys = parent_keys(parent, ref_cols)
    candidates = child.filter(_non_null_cond(child, fk_cols))
    return candidates.join(
        keys, on=_keys_cond(candidates, keys, fk_cols), how="left_anti"
    )


def clean_orphans_delete(
    child: DataFrame, parent: DataFrame | None, fk_cols: list[str],
    ref_cols: list[str], *, keys: DataFrame | None = None,
) -> DataFrame:
    """DELETE-rule cleanup: drop orphan rows, keep rows with any NULL FK
    component and all matched rows. One left join against the parent's
    key set, so the child is scanned once. ``keys`` is a pre-built
    :func:`parent_keys` set (``parent`` is then not read)."""
    joined, matched = _join_keys(child, parent, fk_cols, ref_cols, keys)
    return joined.filter(matched | ~_non_null_cond(child, fk_cols)).select(
        *[child[c] for c in child.columns]
    )


def clean_orphans_set_null(
    child: DataFrame, parent: DataFrame | None, fk_cols: list[str],
    ref_cols: list[str], *, keys: DataFrame | None = None,
) -> DataFrame:
    """SET NULL-rule cleanup (FKs declared ON DELETE SET NULL): orphan rows
    keep their non-FK columns but the FK columns become NULL. One left
    join, like :func:`clean_orphans_delete`, and ``keys`` likewise.

    Join strategy is deliberately NOT hinted: for a dimension-sized parent
    AQE broadcasts the distinct key set on its own; for a same-magnitude
    parent at 100x scale a forced broadcast of hundreds of millions of
    distinct keys would OOM the driver/executors, so the strategy is left
    to AQE exactly as in :func:`clean_orphans_delete` (VERDICT r6 finding
    #2; reference post.go:475-538 runs server-side and has no analogue)."""
    joined, matched = _join_keys(child, parent, fk_cols, ref_cols, keys)
    is_orphan = _non_null_cond(child, fk_cols) & ~matched
    out_cols = []
    for c in child.columns:
        if c in fk_cols:
            out_cols.append(F.when(is_orphan, F.lit(None)).otherwise(child[c]).alias(c))
        else:
            out_cols.append(child[c].alias(c))
    return joined.select(*out_cols)


def ri_audit(
    fks: list[tuple[str, DataFrame, DataFrame, list[str], list[str]]],
) -> DataFrame:
    """Whole-schema referential-integrity audit: one row per FK with child
    cardinality, null-FK rows (MATCH SIMPLE exempt), and orphan count —
    the read-only scorecard a migration runs BEFORE deciding between the
    DELETE / SET NULL cleanup rules (the reference cleans per-FK blindly;
    the audit makes the blast radius visible first).

    ``fks`` is ``[(name, child, parent, fk_cols, ref_cols), ...]``.  Each
    FK costs one anti join where the parent side is its distinct keys
    (broadcast for dimension parents, shuffled-anti for peers); the
    per-FK 1-row summaries union into one tiny result, so the audit's
    cost is the sum of its joins regardless of FK count."""
    parts = []
    for name, child, parent, fk_cols, ref_cols in fks:
        nn = _non_null_cond(child, fk_cols)
        orphans = find_orphans(child, parent, fk_cols, ref_cols)
        summary = (
            child.agg(
                F.count(F.lit(1)).alias("child_rows"),
                F.sum((~nn).cast("bigint")).alias("null_fk_rows"),
            )
            .crossJoin(
                F.broadcast(
                    orphans.agg(F.count(F.lit(1)).alias("orphan_rows"))
                )
            )
            .select(
                F.lit(name).alias("fk_name"),
                "child_rows",
                "null_fk_rows",
                "orphan_rows",
            )
        )
        parts.append(summary)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
