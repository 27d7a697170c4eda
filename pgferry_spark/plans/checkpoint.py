"""Checkpoint / resume manager.

Parity with the reference's checkpoint subsystem (reference
checkpoint.go:13-369, checkpoint_compat.go:14-300): JSON state keyed by
table → completed chunk indices, batched flush (every N completions or T
seconds), atomic temp+rename writes, a SHA-256 compatibility fingerprint that
rejects resume when the effective config changed, and deletion on success.

In the Spark engine the checkpoint is consulted *before* the read plan is
built: completed chunk indices are dropped from the predicate list, so a
resumed run schedules only the remaining partitions. Chunk-level idempotence
at scale requires the sink to commit each partition atomically (one COPY
transaction per partition — see sources/sink.py).
"""

from __future__ import annotations

import hashlib
import json
import os
import threading
import time
from dataclasses import dataclass, field
from typing import Any

CHECKPOINT_VERSION = 1
FLUSH_EVERY_ITEMS = 10
FLUSH_EVERY_SECONDS = 5.0


def compatibility_fingerprint(payload: dict[str, Any]) -> str:
    """SHA-256 over the canonical-JSON effective config + per-table schema
    hashes. Any change → itemized resume rejection upstream."""
    blob = json.dumps(payload, sort_keys=True, separators=(",", ":")).encode("utf-8")
    return hashlib.sha256(blob).hexdigest()


MAX_REJECTION_REASONS = 8  # reference checkpoint_compat.go caps the itemization


def compatibility_reasons(
    saved: dict[str, Any], current: dict[str, Any], limit: int = MAX_REJECTION_REASONS
) -> list[str]:
    """Itemize why a saved checkpoint payload is incompatible with the
    current one: dotted-path field diffs, capped at ``limit`` entries
    (reference checkpoint_compat.go:14-300 reports at most 8 reasons)."""
    reasons: list[str] = []

    def walk(path: str, a: Any, b: Any) -> None:
        if len(reasons) >= limit:
            return
        if isinstance(a, dict) and isinstance(b, dict):
            for key in sorted(set(a) | set(b)):
                p = f"{path}.{key}" if path else str(key)
                if key not in a:
                    reasons.append(f"{p}: added (was absent)") if len(reasons) < limit else None
                elif key not in b:
                    reasons.append(f"{p}: removed (was {a[key]!r})") if len(reasons) < limit else None
                else:
                    walk(p, a[key], b[key])
            return
        if a != b:
            reasons.append(f"{path}: saved {a!r} != current {b!r}")

    walk("", saved, current)
    return reasons[:limit]


@dataclass
class TableState:
    chunk_count: int = 0
    completed_chunks: dict[int, dict[str, Any]] = field(default_factory=dict)
    full_table_done: bool = False
    rows: int = 0


class CheckpointManager:
    """Thread-safe, batched-flush checkpoint store.

    ``noop=True`` gives the reference's zero-overhead disabled mode
    (reference checkpoint.go:199-212).
    """

    def __init__(
        self,
        path: str,
        fingerprint: str = "",
        noop: bool = False,
        flush_items: int = FLUSH_EVERY_ITEMS,
        flush_seconds: float = FLUSH_EVERY_SECONDS,
        payload: dict[str, Any] | None = None,
    ):
        self.path = path
        self.fingerprint = fingerprint
        self.payload = payload  # compatibility detail, persisted for itemized diffs
        self.noop = noop
        self.flush_items = flush_items
        self.flush_seconds = flush_seconds
        self._lock = threading.Lock()
        self._pending = 0
        self._last_flush = time.monotonic()
        self.started_at = ""
        self.tables: dict[str, TableState] = {}

    # -- load / compatibility ------------------------------------------------

    def load(self) -> bool:
        """Load existing state; returns True if resumable state was loaded.

        Raises ValueError when the on-disk fingerprint mismatches (the
        reference itemizes up to 8 reasons; we surface the hash pair)."""
        if self.noop or not os.path.exists(self.path):
            return False
        with open(self.path, encoding="utf-8") as f:
            raw = json.load(f)
        if raw.get("version") != CHECKPOINT_VERSION:
            raise ValueError(f"checkpoint version {raw.get('version')} != {CHECKPOINT_VERSION}")
        disk_fp = raw.get("compatibility", "")
        if self.fingerprint and disk_fp != self.fingerprint:
            saved_detail = raw.get("compatibility_detail")
            if saved_detail is not None and self.payload is not None:
                items = compatibility_reasons(saved_detail, self.payload)
                raise ValueError(
                    "checkpoint incompatible with current config:\n  - "
                    + "\n  - ".join(items)
                )
            raise ValueError(
                "checkpoint incompatible with current config: "
                f"saved={disk_fp[:12]}… current={self.fingerprint[:12]}…"
            )
        self.started_at = raw.get("started_at", "")
        self.tables = {}
        for name, ts in raw.get("tables", {}).items():
            self.tables[name] = TableState(
                chunk_count=ts.get("chunk_count", 0),
                completed_chunks={int(k): v for k, v in ts.get("completed_chunks", {}).items()},
                full_table_done=ts.get("full_table_done", False),
                rows=ts.get("rows", 0),
            )
        return True

    # -- progress recording --------------------------------------------------

    def begin_table(self, table: str, chunk_count: int) -> None:
        if self.noop:
            return
        with self._lock:
            st = self.tables.setdefault(table, TableState())
            st.chunk_count = chunk_count

    def completed_indices(self, table: str) -> set[int]:
        st = self.tables.get(table)
        return set(st.completed_chunks) if st else set()

    def is_table_done(self, table: str) -> bool:
        st = self.tables.get(table)
        return bool(st and st.full_table_done)

    def mark_chunk_done(self, table: str, index: int, rows: int) -> None:
        if self.noop:
            return
        with self._lock:
            st = self.tables.setdefault(table, TableState())
            st.completed_chunks[index] = {"at": time.time(), "rows": rows}
            st.rows += rows
            if st.chunk_count and len(st.completed_chunks) >= st.chunk_count:
                st.full_table_done = True
            self._pending += 1
            if (
                self._pending >= self.flush_items
                or time.monotonic() - self._last_flush >= self.flush_seconds
            ):
                self._flush_locked()

    def mark_table_done(self, table: str, rows: int) -> None:
        """Mark ``table`` complete. ``rows`` is its row total when no chunk
        was recorded; otherwise the chunks' accumulated total stands, which
        for a resumed table includes the rows earlier runs landed. Noop mode
        keeps only the total, in memory, and marks nothing done."""
        with self._lock:
            st = self.tables.setdefault(table, TableState())
            if not st.completed_chunks:
                st.rows = rows
            if self.noop:
                return
            st.full_table_done = True
            self._pending += 1
            self._flush_locked()

    # -- persistence ---------------------------------------------------------

    def _flush_locked(self) -> None:
        state = {
            "version": CHECKPOINT_VERSION,
            "started_at": self.started_at or time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "compatibility": self.fingerprint,
            **({"compatibility_detail": self.payload} if self.payload is not None else {}),
            "tables": {
                name: {
                    "chunk_count": st.chunk_count,
                    "completed_chunks": {str(k): v for k, v in st.completed_chunks.items()},
                    "full_table_done": st.full_table_done,
                    "rows": st.rows,
                }
                for name, st in self.tables.items()
            },
        }
        tmp = self.path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(state, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self.path)  # atomic temp+rename
        self._pending = 0
        self._last_flush = time.monotonic()

    def flush(self) -> None:
        if self.noop:
            return
        with self._lock:
            self._flush_locked()

    def delete(self) -> None:
        """Remove the checkpoint after a fully successful run."""
        if self.noop:
            return
        with self._lock:
            if os.path.exists(self.path):
                os.remove(self.path)
