"""Driver-side physical-plan advisor: turn the measured diagnostics
(:func:`~pgferry_spark.operators.checks.profile_table`,
:func:`~pgferry_spark.operators.skew.skew_profile`) into concrete knob
recommendations BEFORE an expensive job runs — the "measure, don't
guess" loop closed into advice.

Pure functions over plain numbers (no Spark session needed): they run in
a planning notebook, a CI gate, or the pipeline driver, and their rules
are the same arithmetic a human tuning session applies:

* shuffle partition count from data volume ÷ target partition size,
  snapped within sane bounds and to a multiple of the parallelism so no
  scheduling wave runs ragged;
* join strategy from the smaller side's estimated bytes vs the broadcast
  threshold, with skew salting recommended when the heaviest key's share
  makes one reducer a straggler.

These are ADVISORY defaults for static plans; AQE still re-plans at
runtime (and should stay on) — the advisor's job is to keep the initial
plan inside the envelope AQE can fix, e.g. not 200 partitions for 10 TB.
"""

from __future__ import annotations

from dataclasses import dataclass

# Spark's own default broadcast threshold (spark.sql.autoBroadcastJoinThreshold)
DEFAULT_BROADCAST_THRESHOLD = 10 * 1024 * 1024
# 128 MiB shuffle partitions: big enough to amortize task overhead, small
# enough to fit comfortably in executor memory with room for hash tables
DEFAULT_TARGET_PARTITION_BYTES = 128 * 1024 * 1024


@dataclass(frozen=True)
class PartitionAdvice:
    shuffle_partitions: int
    est_bytes: int
    partition_bytes: int
    reason: str


@dataclass(frozen=True)
class JoinAdvice:
    strategy: str  # broadcast | shuffle_hash | salted_shuffle
    build_side: str | None  # left | right | None
    salt_factor: int  # 1 = no salting
    reason: str


def advise_shuffle_partitions(
    n_rows: int,
    avg_row_bytes: float,
    parallelism: int = 32,
    target_partition_bytes: int = DEFAULT_TARGET_PARTITION_BYTES,
    max_partitions: int = 200_000,
) -> PartitionAdvice:
    """Partition count from volume ÷ target size, rounded UP to a multiple
    of the parallelism (full final waves; a 33-partition job on 32 cores
    runs one straggler wave) and clamped to [parallelism, max]."""
    if n_rows < 0 or avg_row_bytes < 0:
        raise ValueError("negative inputs")
    est = int(n_rows * avg_row_bytes)
    raw = max(1, -(-est // target_partition_bytes))  # ceil div
    snapped = max(parallelism, -(-raw // parallelism) * parallelism)
    n = min(snapped, max_partitions)
    reason = (
        f"~{est / 1e9:.2f} GB at {target_partition_bytes >> 20} MiB/partition"
        f" -> {raw}, snapped to a multiple of parallelism {parallelism}"
    )
    if n == max_partitions:
        reason += f", clamped to {max_partitions}"
    return PartitionAdvice(n, est, target_partition_bytes, reason)


def advise_join(
    left_rows: int,
    left_row_bytes: float,
    right_rows: int,
    right_row_bytes: float,
    top_key_share: float = 0.0,
    parallelism: int = 32,
    broadcast_threshold: int = DEFAULT_BROADCAST_THRESHOLD,
) -> JoinAdvice:
    """Join strategy from side sizes + measured key skew.

    * a side under the broadcast threshold -> broadcast it (no shuffle of
      the big side at all — the single biggest join lever);
    * otherwise shuffle join; if the heaviest key holds more than
      ``1 / parallelism`` of the rows (one reducer becomes the job's
      critical path), recommend salting with a factor that spreads that
      key across roughly the idle cores.

    ``top_key_share`` comes straight from ``skew_profile``'s top row."""
    lb, rb = int(left_rows * left_row_bytes), int(right_rows * right_row_bytes)
    if min(lb, rb) <= broadcast_threshold:
        side = "left" if lb <= rb else "right"
        return JoinAdvice(
            "broadcast", side, 1,
            f"{side} side ~{min(lb, rb) >> 20} MiB <= broadcast threshold "
            f"{broadcast_threshold >> 20} MiB",
        )
    if top_key_share > 1.0 / parallelism:
        # spread the hot key over enough salts that its share per reducer
        # drops to ~the average key's share
        factor = min(parallelism, max(2, round(top_key_share * parallelism)))
        return JoinAdvice(
            "salted_shuffle", None, factor,
            f"heaviest key holds {top_key_share:.1%} of rows"
            f" (> 1/{parallelism} straggler bound) -> salt x{factor}",
        )
    return JoinAdvice(
        "shuffle_hash", None, 1,
        "both sides exceed the broadcast threshold; keys are balanced",
    )


# ---------------------------------------------------------------------------
# migration-run advice: the advisor wired into the pipeline
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class TableStats:
    """Measured inputs for one table: row count from the source, row width
    estimated from the declared column types (``estimate_row_bytes``)."""

    name: str
    n_rows: int
    avg_row_bytes: float

    @property
    def est_bytes(self) -> int:
        return int(self.n_rows * self.avg_row_bytes)


@dataclass(frozen=True)
class RunAdvice:
    """The advisor's output for a whole migration run: session confs to
    apply before the movement phase, the set of parent tables whose FK
    anti-joins should broadcast, and the per-edge reasoning for the plan
    report (the reference surfaces its plan reasoning the same way,
    plan.go:41-254)."""

    partition: PartitionAdvice
    joins: dict  # "child->parent" -> JoinAdvice
    broadcast_parents: frozenset
    conf: dict  # spark conf key -> value (strings)

    def report_dict(self) -> dict:
        return {
            "shuffle_partitions": self.partition.shuffle_partitions,
            "est_bytes": self.partition.est_bytes,
            "partition_reason": self.partition.reason,
            "broadcast_parents": sorted(self.broadcast_parents),
            "conf": dict(self.conf),
            "joins": {
                edge: {
                    "strategy": j.strategy,
                    "build_side": j.build_side,
                    "salt_factor": j.salt_factor,
                    "reason": j.reason,
                }
                for edge, j in sorted(self.joins.items())
            },
        }


# Declared-type byte widths for the row-size estimate. Deliberately coarse:
# the advisor needs order-of-magnitude volume, not exact bytes — a 2x width
# error moves the partition count one power of two, well inside AQE's
# coalesce/split envelope.
_TYPE_BYTES = {
    "bool": 1, "boolean": 1, "bit": 1, "tinyint": 1,
    "smallint": 2, "year": 2,
    "int": 4, "integer": 4, "mediumint": 4, "float": 4, "real": 4,
    "date": 4,
    "bigint": 8, "double": 8, "decimal": 8, "numeric": 8, "money": 8,
    "smallmoney": 8, "datetime": 8, "datetime2": 8, "timestamp": 8,
    "time": 8, "smalldatetime": 8, "datetimeoffset": 10,
    "uuid": 16, "uniqueidentifier": 16,
}
_DEFAULT_STRING_BYTES = 64
_DEFAULT_BLOB_BYTES = 256


def estimate_row_bytes(columns) -> float:
    """Estimated serialized row width from declared column types.

    ``columns`` is any iterable of objects with ``data_type`` and
    ``char_max_len`` (the catalog ``Column`` model). Strings use the
    declared length capped at 256 (shuffle rows carry actual bytes, and
    VARCHAR(4000) columns rarely run full); LOB types get a flat 256."""
    total = 0.0
    for c in columns:
        dt = (getattr(c, "data_type", "") or "").lower()
        base = dt.split("(")[0].strip()
        if base in _TYPE_BYTES:
            total += _TYPE_BYTES[base]
        elif base in ("char", "varchar", "nchar", "nvarchar", "character",
                      "string", "text", "enum", "set"):
            ln = getattr(c, "char_max_len", None)
            total += min(int(ln), 256) if ln else _DEFAULT_STRING_BYTES
        elif "text" in base or "blob" in base or "binary" in base or \
                base in ("json", "jsonb", "xml", "image", "geometry",
                         "geography", "sql_variant", "hierarchyid"):
            total += _DEFAULT_BLOB_BYTES
        else:
            total += 16
    # per-row overhead: null bitmap + offsets in UnsafeRow terms
    return total + 8.0


def advise_migration(
    stats: list,
    fk_edges: list,
    parallelism: int = 32,
    broadcast_threshold: int = DEFAULT_BROADCAST_THRESHOLD,
    target_partition_bytes: int = DEFAULT_TARGET_PARTITION_BYTES,
) -> RunAdvice:
    """Run-level advice from per-table measurements.

    * ``spark.sql.shuffle.partitions`` sized for the LARGEST table — the
      widest shuffle any phase of the run can produce;
    * each FK edge ``(child, parent, top_key_share)`` gets join advice:
      parents under the broadcast threshold are broadcast in the orphan
      anti-joins (the pipeline applies the hint); a measured hot key on a
      non-broadcastable edge turns on AQE skew-join handling for the run.
    """
    by_name = {s.name: s for s in stats}
    biggest = max(stats, key=lambda s: s.est_bytes) if stats else None
    part = advise_shuffle_partitions(
        biggest.n_rows if biggest else 0,
        biggest.avg_row_bytes if biggest else 0.0,
        parallelism=parallelism,
        target_partition_bytes=target_partition_bytes,
    )
    conf = {"spark.sql.shuffle.partitions": str(part.shuffle_partitions)}
    joins: dict = {}
    broadcast_parents = set()
    for child, parent, top_key_share in fk_edges:
        cs, ps = by_name.get(child), by_name.get(parent)
        if cs is None or ps is None:
            continue
        advice = advise_join(
            cs.n_rows, cs.avg_row_bytes, ps.n_rows, ps.avg_row_bytes,
            top_key_share=top_key_share, parallelism=parallelism,
            broadcast_threshold=broadcast_threshold,
        )
        joins[f"{child}->{parent}"] = advice
        if advice.strategy == "broadcast" and advice.build_side == "right":
            broadcast_parents.add(parent)
        elif advice.strategy == "salted_shuffle":
            # the pipeline's joins are built declaratively — AQE's runtime
            # skew split is the right lever there
            conf["spark.sql.adaptive.enabled"] = "true"
            conf["spark.sql.adaptive.skewJoin.enabled"] = "true"
    return RunAdvice(part, joins, frozenset(broadcast_parents), conf)
