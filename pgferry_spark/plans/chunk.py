"""Range-chunk planner.

Behavioral parity with the reference's chunk planner (reference
chunk.go:34-150) mapped onto Spark's partitioned-read model: each chunk
becomes one JDBC partition predicate (``spark.read.jdbc(predicates=[...])``)
or one parquet filter, so the reference's `workers` semaphore becomes Spark's
task scheduler.

Semantics preserved (verified by tests mirroring reference chunk_test.go):

* eligibility: single-column *numeric* PK; unsigned bigint excluded (the
  reference guards int64 overflow, reference chunk.go:126-135);
* boundaries stride the key VALUE space by ``chunk_size`` from MIN(pk):
  ``[lo, lo+size) ... [last_lo, max]`` — gaps tolerated (short chunks);
* empty table → one unbounded chunk (full scan of nothing);
* negative key ranges chunk normally.

At 100 TB scale this is the difference between one giant serial read and N
independent column-pruned, predicate-pushed scans: the predicate list is
computed on the driver from one MIN/MAX probe, so planning cost is O(1) in
data size and the read fans out to exactly ``ceil(span/chunk_size)`` tasks.
"""

from __future__ import annotations

from dataclasses import dataclass, field

INT64_MIN = -(2**63)
INT64_MAX = 2**63 - 1

# numeric bases eligible as a chunk key (per-source synonyms folded in)
_CHUNKABLE_BASES = {
    "tinyint",
    "smallint",
    "mediumint",
    "int",
    "integer",
    "bigint",
    "serial",
    "bigserial",
    "year",
}


@dataclass(frozen=True)
class Chunk:
    """One half-open key range ``[lo, hi)``; the final chunk is closed
    ``[lo, hi]`` so MAX(pk) itself is included."""

    lo: int | None
    hi: int | None
    is_last: bool = True

    def predicate(self, key: str) -> str | None:
        """SQL predicate for this chunk, or None for the unbounded chunk."""
        if self.lo is None or self.hi is None:
            return None
        op = "<=" if self.is_last else "<"
        return f"{key} >= {self.lo} AND {key} {op} {self.hi}"


@dataclass
class ChunkPlan:
    table: str
    chunk_key: str | None
    chunks: list[Chunk] = field(default_factory=list)

    def predicates(self) -> list[str] | None:
        """Predicate list for a partitioned read; None → single full read."""
        if self.chunk_key is None:
            return None
        preds = [c.predicate(self.chunk_key) for c in self.chunks]
        if any(p is None for p in preds):
            return None
        return [p for p in preds if p is not None]

    def merged_predicate(self, indices: list[int], key: str) -> str:
        """One predicate over the chunks at ``indices`` (ascending), each
        run of adjacent chunks merged into one key range."""
        runs: list[Chunk] = []
        for i in indices:
            c = self.chunks[i]
            if runs and runs[-1].hi == c.lo:
                runs[-1] = Chunk(runs[-1].lo, c.hi, c.is_last)
            else:
                runs.append(c)
        preds = [c.predicate(key) for c in runs]
        return preds[0] if len(preds) == 1 else " OR ".join(f"({p})" for p in preds)


def chunk_key_for_table(
    pk_columns: list[str],
    column_types: dict[str, str],
    unsigned: dict[str, bool] | None = None,
) -> str | None:
    """Return the chunkable PK column name, or None (→ full-table read).

    Requires a single-column PK whose base type is integer-like; an unsigned
    bigint is rejected because its value range exceeds int64 chunk math.
    """
    if len(pk_columns) != 1:
        return None
    col = pk_columns[0]
    declared = column_types.get(col, "").lower()
    base = declared.split("(")[0].strip().split(" ")[0]
    if base not in _CHUNKABLE_BASES:
        return None
    is_unsigned = "unsigned" in declared or (unsigned or {}).get(col, False)
    if base == "bigint" and is_unsigned:
        return None
    return col


def plan_chunks(min_key: int | None, max_key: int | None, chunk_size: int) -> list[Chunk]:
    """Stride the key value space from MIN to MAX in steps of ``chunk_size``.

    Empty table (min/max None) → one unbounded chunk. int64-overflow-safe:
    the stride saturates at INT64_MAX.
    """
    if chunk_size <= 0:
        raise ValueError("chunk_size must be positive")
    if min_key is None or max_key is None:
        return [Chunk(None, None, is_last=True)]
    if min_key > max_key:
        raise ValueError(f"min_key {min_key} > max_key {max_key}")

    chunks: list[Chunk] = []
    lo = min_key
    while True:
        hi = lo + chunk_size
        if hi > INT64_MAX:
            hi = INT64_MAX + 1  # saturate: remaining range becomes the last chunk
        if hi > max_key:
            chunks.append(Chunk(lo, max_key, is_last=True))
            break
        chunks.append(Chunk(lo, hi, is_last=False))
        lo = hi
    return chunks


def plan_table_chunks(
    table: str,
    chunk_key: str | None,
    min_key: int | None,
    max_key: int | None,
    chunk_size: int = 100_000,
) -> ChunkPlan:
    if chunk_key is None:
        return ChunkPlan(table, None, [Chunk(None, None)])
    return ChunkPlan(table, chunk_key, plan_chunks(min_key, max_key, chunk_size))
