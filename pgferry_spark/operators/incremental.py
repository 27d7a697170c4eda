"""Incremental-sync operators: CDC apply (upsert/delete) and SCD2 history.

The reference moves a static snapshot (one-shot migration). A live source
keeps changing after the snapshot; these operators are the catch-up path:
apply a change log to a base table (merge semantics without a lakehouse
table format — pure DataFrame algebra over immutable parquet), and build
slowly-changing-dimension history from the same log.

Both are deterministic ops with exact SQL twins; at scale each is one
shuffle on the key (window) plus one key-partitioned join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def latest_changes(
    changes: DataFrame, key_col: str, seq_col: str, op_col: str = "op"
) -> DataFrame:
    """Collapse a change log to each key's last change (by ``seq_col``,
    ties broken by favoring the later op in log order is undefined — the
    caller must provide a total order; a (commit_lsn, row_in_tx) pair cast
    to one sortable value is the standard choice)."""
    w = Window.partitionBy(key_col).orderBy(F.col(seq_col).desc())
    return (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def apply_changes(
    base: DataFrame,
    changes: DataFrame,
    key_col: str,
    seq_col: str,
    op_col: str = "op",
) -> DataFrame:
    """MERGE a change log into a base snapshot: the result is the base with
    each key's latest change applied — upserts ('I'/'U') replace or add the
    row, deletes ('D') remove it.

    Shape: window-collapse the log (one shuffle on key), then one full
    outer join base⋈latest on the same key — co-partitioned, so AQE plans a
    single exchange per side. No table-format machinery: the output is the
    next immutable snapshot, which is exactly how parquet-lake targets
    version (write-once, swap pointers)."""
    latest = latest_changes(changes, key_col, seq_col, op_col)
    data_cols = [c for c in base.columns if c != key_col]
    b = base.select(
        F.col(key_col).alias("__bk"), *[F.col(c).alias(f"__b_{c}") for c in data_cols]
    )
    c = latest.select(
        F.col(key_col).alias("__ck"),
        F.col(op_col).alias("__op"),
        *[F.col(x).alias(f"__c_{x}") for x in data_cols],
    )
    joined = b.join(c, F.col("__bk") == F.col("__ck"), how="full_outer")
    surviving = joined.filter(
        F.col("__op").isNull() | (F.col("__op") != "D")
    )
    out_cols = [F.coalesce("__bk", "__ck").alias(key_col)] + [
        F.when(F.col("__op").isNotNull(), F.col(f"__c_{x}"))
        .otherwise(F.col(f"__b_{x}"))
        .alias(x)
        for x in data_cols
    ]
    return surviving.select(*out_cols)


def scd2_history(
    changes: DataFrame,
    key_col: str,
    seq_col: str,
    op_col: str = "op",
) -> DataFrame:
    """Build slowly-changing-dimension (type 2) history from a change log:
    one row per (key, version) with ``valid_from``/``valid_to`` sequence
    bounds and an ``is_current`` flag.

    Each change opens a version valid from its own sequence number until
    the key's next change (lead window); a delete closes the previous
    version without opening one. One shuffle on the key."""
    w = Window.partitionBy(key_col).orderBy(F.col(seq_col).asc())
    nxt = F.lead(F.col(seq_col)).over(w)
    return (
        changes.withColumn("valid_from", F.col(seq_col))
        .withColumn("valid_to", nxt)
        .withColumn("is_current", nxt.isNull() & (F.col(op_col) != "D"))
        .filter(F.col(op_col) != "D")
    )


def maintain_grouped_agg(
    old_agg: DataFrame,
    base: DataFrame,
    changes: DataFrame,
    key_col: str,
    group_col: str,
    val_col: str,
    seq_col: str,
    op_col: str = "op",
) -> DataFrame:
    """Incremental view maintenance for a grouped count+sum aggregate:
    given the materialized ``old_agg`` (``group, n, total``), the OLD base
    snapshot, and a change batch, produce the aggregate of the NEW
    snapshot WITHOUT re-aggregating the base — retract each affected
    key's old contribution, apply its new one, and merge the group deltas
    into the materialized rows.

    Why it scales: the base is touched only by a semi-join on the
    affected keys (change-batch-bounded — with the base bucketed or
    partitioned on the key this prunes to the touched buckets), the delta
    aggregate is batch-sized, and the merge join is groups-sized. A full
    re-aggregation re-shuffles the entire fact instead.  Handles
    group-moving updates (retract from the old group, apply to the new)
    and drops groups whose count reaches zero.  Count and sum are
    self-maintainable; MIN/MAX are not (a retraction below the max needs
    the base) — that asymmetry is fundamental, not an implementation
    limit.  The driver gate certifies the delta path against an oracle
    that recomputes the aggregate from scratch."""
    latest = latest_changes(changes, key_col, seq_col, op_col)
    affected = latest.select(key_col)
    old_rows = base.join(F.broadcast(affected), key_col, "left_semi")
    retract = old_rows.select(
        F.col(group_col).alias("__g"),
        F.lit(-1).cast("bigint").alias("__dn"),
        (-F.col(val_col)).alias("__dv"),
    )
    applied = latest.filter(F.col(op_col) != "D").select(
        F.col(group_col).alias("__g"),
        F.lit(1).cast("bigint").alias("__dn"),
        F.col(val_col).alias("__dv"),
    )
    delta = (
        retract.unionByName(applied)
        .groupBy("__g")
        .agg(F.sum("__dn").alias("__dn"), F.sum("__dv").alias("__dv"))
    )
    merged = old_agg.join(
        delta, old_agg[group_col] == delta["__g"], "full_outer"
    )
    zero_total = F.lit(0).cast(
        dict(delta.dtypes)["__dv"]
    )
    return (
        merged.select(
            F.coalesce(old_agg[group_col], F.col("__g")).alias(group_col),
            (
                F.coalesce(F.col("n"), F.lit(0)) + F.coalesce(F.col("__dn"), F.lit(0))
            ).alias("n"),
            (
                F.coalesce(F.col("total"), zero_total)
                + F.coalesce(F.col("__dv"), zero_total)
            ).alias("total"),
        )
        .filter(F.col("n") > 0)
    )
