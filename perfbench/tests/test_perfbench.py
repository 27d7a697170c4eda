"""Self-tests of the benchmark. Run from the repository root:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import tempfile

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import datagen  # noqa: E402
import tracing  # noqa: E402
from run import WORKLOAD_NAMES  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _checksums(expected):
    return {t: (e.rows, e.checksum) for t, e in expected.items()}


def test_same_seed_same_inputs_and_other_seed_differs(tmp_path):
    a = datagen.make_sqlite_fk(str(tmp_path / "a.db"), 5, 200)
    b = datagen.make_sqlite_fk(str(tmp_path / "b.db"), 5, 200)
    c = datagen.make_sqlite_fk(str(tmp_path / "c.db"), 6, 200)
    assert _checksums(a) == _checksums(b)
    assert _checksums(a) != _checksums(c)
    la = datagen.make_lake(str(tmp_path / "la"), 5, 0.001)
    lb = datagen.make_lake(str(tmp_path / "lb"), 5, 0.001)
    lc = datagen.make_lake(str(tmp_path / "lc"), 6, 0.001)
    assert _checksums(la) == _checksums(lb)
    assert _checksums(la) != _checksums(lc)
    for t in ("documents", "embeddings", "events"):
        assert pq.read_table(tmp_path / "la" / f"{t}.parquet").equals(
            pq.read_table(tmp_path / "lb" / f"{t}.parquet")
        )


def test_orphan_bookkeeping_matches_sqlite(tmp_path):
    """The generator's expected survivors equal what SQLite's own FK
    semantics keep: a one-pass anti-join against the surviving parents."""
    import sqlite3

    db = str(tmp_path / "fk.db")
    exp = datagen.make_sqlite_fk(db, 3, 500)
    con = sqlite3.connect(db)
    try:
        live_parent = (
            "SELECT id FROM parent p WHERE parent_id IS NULL "
            "OR EXISTS (SELECT 1 FROM parent q WHERE q.id = p.parent_id)"
        )
        live_child = f"SELECT id FROM child WHERE parent_id IN ({live_parent})"
        n_parent = con.execute(f"SELECT COUNT(*) FROM ({live_parent})").fetchone()[0]
        n_child = con.execute(f"SELECT COUNT(*) FROM ({live_child})").fetchone()[0]
        n_grand = con.execute(
            f"SELECT COUNT(*) FROM grandchild WHERE child_id IN ({live_child})"
        ).fetchone()[0]
        orphan_fk = con.execute("SELECT COUNT(*) FROM child WHERE parent_id NOT IN (SELECT id FROM parent)").fetchone()[0]
    finally:
        con.close()
    assert (exp["parent"].rows, exp["child"].rows, exp["grandchild"].rows) == (
        n_parent, n_child, n_grand
    )
    assert orphan_fk > 0  # the fixture really carries orphans


def test_dropped_row_is_reported(tmp_path):
    """A target that silently drops one row fails the output check."""
    root = tmp_path / "lake"
    expected = datagen.make_lake(str(root), 9, 0.001)
    out = tmp_path / "target"
    for t in expected:
        (out / t).mkdir(parents=True)
        shutil.copy(root / f"{t}.parquet", out / t / "part-0.parquet")
    assert datagen.check_spool(str(out), expected) == []
    tbl = pq.read_table(out / "orders" / "part-0.parquet")
    n = tbl.num_rows
    pq.write_table(tbl.slice(1), out / "orders" / "part-0.parquet")
    assert datagen.check_spool(str(out), expected) == [f"orders: {n - 1} rows, expected {n}"]
    # same row count but a duplicated key: the checksum and the PK check catch it
    pq.write_table(tbl.take([0] + list(range(n - 1))), out / "orders" / "part-0.parquet")
    problems = datagen.check_spool(str(out), expected)
    assert "orders: key checksum differs" in problems
    assert "orders: duplicate primary keys" in problems


def test_metric_names_and_benchmark_json_agree():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert all(NAME.fullmatch(n) and len(n) <= 64 for n in names)
    assert len(names) == len(set(names))
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == tracing.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOAD_NAMES)
    e2e = {m["name"] for m in spec["end_to_end"]}
    assert "setup_s" in e2e and max(m["bound"] for m in spec["end_to_end"]) <= 0.25


def test_traced_iteration_counts_only_its_own_jobs(tmp_path):
    """Untraced and traced iterations alternate in a traced run; the jobs
    of the untraced one must not be counted in the traced one."""
    from pyspark.sql import SparkSession

    from run import Runner
    from workloads import Iteration

    class Jobs:
        warmup = 0

        def __init__(self, spark):
            self.spark = spark

        def iterate(self, it_dir):
            self.spark.range(100).selectExpr("id % 3 AS k").groupBy("k").count().collect()
            self.spark.range(10).count()
            return Iteration(0.0, 0)

        def check(self, it):
            return []

    spark = (
        SparkSession.builder.master("local[2]").appName("perfbench-test")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", str(tmp_path / "local"))
        .getOrCreate()
    )
    try:
        w = Jobs(spark)
        sc = spark.sparkContext
        sc.setJobGroup("probe", "probe")
        w.iterate(None)
        sc.setLocalProperty("spark.jobGroup.id", None)
        one_iteration = len(sc.statusTracker().getJobIdsForGroup("probe"))
        assert one_iteration >= 2

        tracer = tracing.Tracer(spark)
        runner = Runner(w, spark, str(tmp_path))
        for _ in range(2):
            runner.loop(0)
            with tracer.installed(w):
                tracer.loop(runner, 0)
        assert [m["spark.jobs"] for m in tracer.per_iteration] == [one_iteration] * 2
    finally:
        spark.stop()


def _session_alive(sid: int) -> list[int]:
    """Pids of the processes of session ``sid`` that have not ended."""
    alive = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat", encoding="ascii") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            alive.append(int(pid))
    return alive


def _run(*args, cwd=ROOT, timeout=300):
    """Run the benchmark in a session of its own; fail if any process it
    started is still running once it has exited. Output goes to files, not
    pipes: a child that holds a pipe open would delay the check until it
    has ended."""
    with tempfile.TemporaryFile("w+") as out, tempfile.TemporaryFile("w+") as err:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(BENCH, "run.py"), *args], cwd=cwd,
            stdout=out, stderr=err, text=True, start_new_session=True,
        )
        proc.wait(timeout=timeout)
        assert _session_alive(proc.pid) == [], "the benchmark left processes running"
        out.seek(0)
        err.seek(0)
        return subprocess.CompletedProcess(proc.args, proc.returncode, out.read(), err.read())


@pytest.mark.parametrize("workload", WORKLOAD_NAMES)
@pytest.mark.parametrize("trace", ["0", "1"])
def test_tiny_smoke_run(workload, trace):
    spans_file = os.path.join(ROOT, ".perfbench_spans", f"{workload}-seed3.json")
    if os.path.exists(spans_file):
        os.remove(spans_file)
    proc = _run("--workload", workload, "--seed", "3", "--seconds", "1",
                "--trace", trace, "--tiny")
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if trace == "1" else spec["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_work"))
    if trace == "1":  # the traced run writes its spans when it ends
        with open(spans_file, encoding="utf-8") as f:
            spans = json.load(f)["spans"]
        assert "iteration" in {s["name"] for s in spans}
        assert all(s["end"] >= s["start"] for s in spans)


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "operator_mix", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120, check=False,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
