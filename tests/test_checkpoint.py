"""Checkpoint manager tests (mirror of reference checkpoint_test.go:38-774
concurrency/flush/compatibility coverage)."""

import json
import os

import pytest

from pgferry_spark.plans.checkpoint import CheckpointManager, compatibility_fingerprint


def test_fingerprint_stable_and_sensitive():
    a = compatibility_fingerprint({"chunk_size": 100000, "tables": {"t": "h1"}})
    b = compatibility_fingerprint({"tables": {"t": "h1"}, "chunk_size": 100000})
    c = compatibility_fingerprint({"chunk_size": 50000, "tables": {"t": "h1"}})
    assert a == b  # key order canonicalized
    assert a != c


def test_batched_flush_and_atomic_write(tmp_path):
    path = str(tmp_path / "ckpt.json")
    mgr = CheckpointManager(path, fingerprint="fp", flush_items=3, flush_seconds=9999)
    mgr.begin_table("t", chunk_count=5)
    mgr.mark_chunk_done("t", 0, rows=10)
    mgr.mark_chunk_done("t", 1, rows=10)
    assert not os.path.exists(path)  # below flush threshold
    mgr.mark_chunk_done("t", 2, rows=10)
    assert os.path.exists(path)  # third completion flushed
    assert not os.path.exists(path + ".tmp")  # rename completed
    state = json.load(open(path))
    assert state["tables"]["t"]["completed_chunks"].keys() == {"0", "1", "2"}


def test_resume_skips_completed_and_table_done(tmp_path):
    path = str(tmp_path / "ckpt.json")
    mgr = CheckpointManager(path, fingerprint="fp")
    mgr.begin_table("t", chunk_count=2)
    mgr.mark_chunk_done("t", 0, rows=5)
    mgr.mark_chunk_done("t", 1, rows=5)
    mgr.flush()

    fresh = CheckpointManager(path, fingerprint="fp")
    assert fresh.load() is True
    assert fresh.completed_indices("t") == {0, 1}
    assert fresh.is_table_done("t") is True


def test_compatibility_mismatch_rejected(tmp_path):
    path = str(tmp_path / "ckpt.json")
    mgr = CheckpointManager(path, fingerprint="fp-one")
    mgr.mark_table_done("t", rows=1)
    other = CheckpointManager(path, fingerprint="fp-two")
    with pytest.raises(ValueError, match="incompatible"):
        other.load()


def test_compatibility_mismatch_itemized(tmp_path):
    # with payloads on both sides the rejection itemizes dotted-path diffs,
    # capped at 8 reasons (reference checkpoint_compat.go:14-300)
    from pgferry_spark.plans.checkpoint import compatibility_reasons

    path = str(tmp_path / "ckpt.json")
    saved_payload = {"chunk_size": 100000, "mode": "full",
                     "tables": {"t": ["a", "b"]}}
    mgr = CheckpointManager(path, fingerprint="fp-one", payload=saved_payload)
    mgr.mark_table_done("t", rows=1)

    new_payload = {"chunk_size": 50000, "mode": "full",
                   "tables": {"t": ["a", "b", "c"], "u": ["x"]}}
    other = CheckpointManager(path, fingerprint="fp-two", payload=new_payload)
    with pytest.raises(ValueError) as e:
        other.load()
    msg = str(e.value)
    assert "chunk_size: saved 100000 != current 50000" in msg
    assert "tables.t" in msg
    assert "tables.u: added" in msg

    # cap: 20 differing fields -> at most 8 reasons
    many_a = {f"k{i}": i for i in range(20)}
    many_b = {f"k{i}": i + 1 for i in range(20)}
    assert len(compatibility_reasons(many_a, many_b)) == 8


def test_delete_on_success_and_noop_mode(tmp_path):
    path = str(tmp_path / "ckpt.json")
    mgr = CheckpointManager(path, fingerprint="fp")
    mgr.mark_table_done("t", rows=1)
    assert os.path.exists(path)
    mgr.delete()
    assert not os.path.exists(path)

    noop = CheckpointManager(path, noop=True)
    noop.mark_chunk_done("t", 0, 1)
    noop.mark_table_done("t", rows=7)
    noop.flush()
    assert not os.path.exists(path)  # zero file I/O when disabled
    # the row total stays in memory for validation; nothing is skippable
    assert noop.tables["t"].rows == 7 and not noop.is_table_done("t")


def test_thread_safety(tmp_path):
    from concurrent.futures import ThreadPoolExecutor

    path = str(tmp_path / "ckpt.json")
    mgr = CheckpointManager(path, fingerprint="fp", flush_items=7)
    mgr.begin_table("t", chunk_count=100)
    with ThreadPoolExecutor(8) as pool:
        list(pool.map(lambda i: mgr.mark_chunk_done("t", i, rows=1), range(100)))
    mgr.flush()
    fresh = CheckpointManager(path, fingerprint="fp")
    fresh.load()
    assert fresh.completed_indices("t") == set(range(100))
    assert fresh.tables["t"].rows == 100
