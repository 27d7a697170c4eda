"""Benchmark of the pgferry_spark migration pipeline and registered entries.

Run from the repository root:

    python3 perfbench/run.py --workload lake_sf0.1 --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

One process per workload drives the program's public entry points
(``MigrationPipeline.run()`` with ``ParquetSource`` / ``SqliteSource`` /
``SpoolTarget``, and ``__spark_entry__.queries()`` builders) on
``local[nproc]``: closed loop, one client, the next iteration starts when
the previous one has been checked. Inputs come from ``--seed``. Every
iteration's output is checked outside its timed span.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs untraced
and traced iterations in one process and reports the per-layer metrics
(see perfbench/README.md); when it ends it writes every span to
``.perfbench_spans/<workload>-seed<seed>.json``. The last stdout line is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
Everything else the run writes lives under ``.perfbench_work/`` in the
working directory and is removed before exit.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()  # process start, for setup_s

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

import datagen  # noqa: E402
import workloads  # noqa: E402
from workloads import Iteration  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOAD_NAMES = tuple(workloads.WORKLOADS)
GEN_REPEATS = 3  # input generation is repeated; setup_s takes the median


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=[*WORKLOAD_NAMES, "all"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="tiny inputs (self-tests)")
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def tail(values: list[float]) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile with >= 10 samples
    beyond it, or None when there are too few samples."""
    n = len(values)
    if n < 11:
        return None
    return 100 * (n - 10) / n, sorted(values)[n - 11]


def sandbox_env(work: str) -> None:
    """Keep every file the run writes (Spark local dirs, the program's
    spool temp dirs, JVM temp files) under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    local = os.path.join(work, "spark-local")
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.local.dir={local} "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        "pyspark-shell"
    )


def start_spark():
    from pgferry_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def peak_rss_mb(spark) -> float:
    """Sum of the peak resident sets (VmHWM) of this Python driver and its
    JVM."""
    pids = [os.getpid(), int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())]
    kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
    return kb / 1024


def _proc_table() -> dict[int, tuple[int, str, int]]:
    """pid -> (parent pid, state, CPU ticks with reaped children) of every
    process."""
    procs = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat", encoding="ascii") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process exited while we looked
            continue
        procs[int(pid)] = (int(fields[1]), fields[0], sum(int(x) for x in fields[11:15]))
    return procs


def _tree(procs: dict[int, tuple[int, str, int]], root: int) -> set[int]:
    """``root`` and every descendant of it in ``procs``."""
    tree, frontier = set(), [root]
    while frontier:
        pid = frontier.pop()
        tree.add(pid)
        frontier += [c for c, (ppid, _, _) in procs.items() if ppid == pid and c not in tree]
    return tree


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) of this process
    and every descendant: the JVM and its Python workers. Unlike wall time
    it leaves out time the host took from this guest (steal)."""
    procs = _proc_table()
    return sum(procs[p][2] for p in _tree(procs, os.getpid()) if p in procs) / os.sysconf("SC_CLK_TCK")


def stop_spark() -> None:
    """Stop Spark and every process it started (the JVM, the Python worker
    daemon and its workers), and wait until each has ended. Safe to call
    when the session never came up."""
    from pyspark import SparkContext

    me = os.getpid()
    started = _tree(_proc_table(), me) - {me}
    sc = SparkContext._active_spark_context
    if sc is not None:
        with contextlib.suppress(Exception):
            sc.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        with contextlib.suppress(Exception):
            gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            with contextlib.suppress(OSError):
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    # the JVM's children (Python workers) outlive it for a moment; a
    # zombie has ended, its new parent reaps it
    t0 = time.monotonic()
    while True:
        procs = _proc_table()
        alive = [p for p in started if p in procs and procs[p][1] != "Z"]
        if not alive:
            return
        waited = time.monotonic() - t0
        if waited > 5:
            for pid in alive:
                with contextlib.suppress(OSError):
                    os.kill(pid, signal.SIGTERM if waited < 10 else signal.SIGKILL)
        time.sleep(0.05)


def jvm_service_s(spark) -> tuple[float, float]:
    """Accumulated JIT compilation time and GC time of the JVM, in seconds
    (its management beans; both only grow)."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    return mf.getCompilationMXBean().getTotalCompilationTime() / 1000, gc_ms / 1000


class Isolation:
    """Return the session to its pre-iteration state: restore the session
    conf, count then drop persisted RDDs and cached plans, delete the
    iteration's directories and the program's spool temp dirs."""

    def __init__(self, spark):
        self.spark = spark
        self.conf = self.snapshot()

    def snapshot(self) -> dict[str, str]:
        return dict(self.spark.conf.getAll)

    def restore(self, it_dir: str) -> int:
        jsc = self.spark.sparkContext._jsc
        leaked = jsc.getPersistentRDDs().size()
        self.spark.catalog.clearCache()
        for rdd in list(jsc.getPersistentRDDs().values()):
            rdd.unpersist(False)
        now = self.snapshot()
        for k in now.keys() - self.conf.keys():
            self.spark.conf.unset(k)
        for k, v in self.conf.items():
            if now.get(k) != v:
                self.spark.conf.set(k, v)
        shutil.rmtree(it_dir, ignore_errors=True)
        tmp = tempfile.gettempdir()
        for name in os.listdir(tmp):
            if name.startswith("pgferry_spool_"):
                shutil.rmtree(os.path.join(tmp, name), ignore_errors=True)
        return leaked


class Runner:
    """Closed-loop iterations of one workload: each iteration is timed by
    the workload, checked, then isolated from the next."""

    def __init__(self, workload, spark, work: str):
        self.w = workload
        self.work = work
        self.spark = spark
        self.iso = Isolation(spark)
        self.count = 0

    def _dir(self) -> str:
        self.count += 1
        path = os.path.join(self.work, f"iter-{self.count}")
        os.makedirs(path)
        return path

    def warm_up(self) -> list[str]:
        problems = []
        for i in range(self.w.warmup):
            it_dir = self._dir()
            try:
                problems += [f"warm-up: {p}" for p in self.w.warm_up(it_dir, first=i == 0)]
            except Exception as exc:  # noqa: BLE001 — reported as a failed run
                problems.append(f"warm-up raised {exc!r}")
            finally:
                self.iso.restore(it_dir)
        return problems

    def one(self, around=contextlib.nullcontext):
        """One iteration (inside ``around``), its output check, isolation."""
        it_dir = self._dir()
        try:
            cpu0, (jit0, gc0) = tree_cpu_s(), jvm_service_s(self.spark)
            with around():
                it = self.w.iterate(it_dir)
            it.phases["cpu_s"] = tree_cpu_s() - cpu0
            jit1, gc1 = jvm_service_s(self.spark)
            it.phases["jit_s"], it.phases["gc_s"] = jit1 - jit0, gc1 - gc0
            problems = self.w.check(it)
            if it.out_dir:
                it.phases["out_bytes"] = datagen.dir_bytes(it.out_dir)
                it.phases["out_rows"] = self.w.output_rows
        except Exception as exc:  # noqa: BLE001 — a failed iteration is a measurement
            it, problems = Iteration(float("nan"), 0, ok=False), [f"raised {exc!r}"]
        it.phases["leaked_rdds"] = self.iso.restore(it_dir)
        return it, problems

    def loop(self, seconds: float, around=contextlib.nullcontext, after=None):
        """Iterate until ``seconds`` have passed (at least once)."""
        its, failures = [], []
        deadline = time.perf_counter() + seconds
        while not its or time.perf_counter() < deadline:
            it, problems = self.one(around)
            its.append(it)
            if problems:
                failures.append(problems)
            if after is not None:
                after(it)
        return its, failures


def measure(args) -> dict:
    work = os.path.join(os.getcwd(), ".perfbench_work", f"run-{os.getpid()}")
    os.makedirs(work)
    try:
        sandbox_env(work)
        try:
            return _measure(args, start_spark(), work)
        finally:
            stop_spark()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def _measure(args, spark, work) -> dict:
    session_s = time.perf_counter() - _T0
    cls = workloads.WORKLOADS[args.workload]
    gen = []
    for _ in range(GEN_REPEATS):
        inputs = os.path.join(work, "inputs")
        shutil.rmtree(inputs, ignore_errors=True)
        os.makedirs(inputs)
        w = cls(spark, inputs, args.seed, args.tiny)
        t = time.perf_counter()
        w.setup()
        gen.append(time.perf_counter() - t)
    runner = Runner(w, spark, work)
    t = time.perf_counter()
    problems = runner.warm_up()
    warmup_s = time.perf_counter() - t - getattr(w, "oracle_s", 0.0)
    setup_s = session_s + statistics.median(gen) + warmup_s

    if args.trace:
        import tracing

        # untraced and traced iterations alternate, starting and ending
        # untraced: each traced iteration sits between two untraced ones,
        # so iterations still speeding up (JIT) bias neither side of
        # trace.overhead_s
        tracer = tracing.Tracer(spark)
        base, failures = runner.loop(0)
        traced = []
        deadline = time.perf_counter() + args.seconds
        while not traced or time.perf_counter() < deadline:
            with tracer.installed(w):
                its, more = tracer.loop(runner, 0)
            traced += its
            failures += more
            its, more = runner.loop(0)
            base += its
            failures += more
        its = base + traced
        problems += tracer.problems
        metrics = tracer.metrics(base, traced)
        spans = os.path.join(os.getcwd(), ".perfbench_spans", f"{args.workload}-seed{args.seed}.json")
        tracer.dump(spans)
        lines = [*tracer.entry_lines(), f"  spans written to {os.path.relpath(spans)}"]
    else:
        its, failures = runner.loop(args.seconds)
        lines = []
    walls = [it.wall_s for it in its if it.wall_s == it.wall_s]
    cpu = [it.phases["cpu_s"] for it in its if "cpu_s" in it.phases]
    end_to_end = {
        "cpu_s_p50": (statistics.median(cpu) if cpu else float("nan"), "s"),
        "setup_s": (setup_s, "s"),
    }
    rss = peak_rss_mb(spark)
    if args.trace:
        metrics["peak_rss_mb"]["value"] = rss
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in end_to_end.items()}
    report(args, w, its, walls, end_to_end, {
        "iter_s_p50": (statistics.median(walls) if walls else float("nan"), "s"),
        "rows_per_s": (sum(it.rows for it in its) / sum(walls) if walls else 0.0, "rows/s"),
        "fail_frac": (len(failures) / len(its), "ratio"),
        "peak_rss_mb": (rss, "MB"),
        "session_s": (session_s, "s"),
        "gen_s": (statistics.median(gen), "s"),
        "warmup_s": (warmup_s, "s"),
    }, failures, problems, lines)
    return {
        "correct": not failures and not problems,
        "attempted": len(its),
        "failed": len(failures),
        "metrics": metrics,
    }


def report(args, w, its, walls, end_to_end, extra, failures, problems, lines) -> None:
    """Human-readable lines before the JSON line: every metric by name,
    unit and sample count, the timing tails, the traced run's ``lines``,
    and any failure."""
    n = len(its)
    print(f"workload {args.workload} seed={args.seed} trace={args.trace} "
          f"inputs={json.dumps(w.sizes)}")
    rows = {**end_to_end, **extra}
    for key in ("crash_s", "resume_s", "redo_rows", "jit_s", "gc_s"):
        vals = [it.phases[key] for it in its if key in it.phases]
        if vals:
            rows[f"{key}_p50"] = (statistics.median(vals), "rows" if key == "redo_rows" else "s")
    written = sum(it.phases.get("out_rows", 0) for it in its)
    if written:
        rows["out_bytes_per_row"] = (
            sum(it.phases.get("out_bytes", 0) for it in its) / written, "B/row")
    for name, (v, unit) in rows.items():
        count = 1 if name in ("setup_s", "session_s", "gen_s", "warmup_s") else n
        print(f"  {name:<18} {v:>16.4f} {unit:<7} n={count}")
    for key, vals in (("iter_s", walls), ("resume_s", [it.phases.get("resume_s") for it in its])):
        vals = [v for v in vals if v is not None]
        t = tail(vals)
        if vals:
            print(f"  {key} tail".ljust(21) + (
                f"p{t[0]:.0f}={t[1]:.4f} s n={len(vals)}" if t else f"n/a (n={len(vals)} < 11)"))
    for line in lines:
        print(line)
    for f in failures[:5]:
        print("  FAILED iteration:", "; ".join(f)[:300])
    for p in problems[:10]:
        print("  PROBLEM:", p[:300])


def run_all(args) -> int:
    """Every workload, each in its own process, one after another."""
    results = {}
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)] + (["--tiny"] if args.tiny else [])
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]), flush=True)
        try:
            results[name] = json.loads(lines[-1]) if proc.returncode == 0 else None
        except (IndexError, json.JSONDecodeError):
            results[name] = None
    print(json.dumps(results))
    return 0 if all(r and r["correct"] for r in results.values()) else 1


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    if not (
        os.path.isdir(os.path.join(ROOT, "pgferry_spark"))
        and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
    ):
        print("perfbench: pgferry_spark/ and __spark_entry__.py must sit beside "
              "perfbench/", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    # a terminated run still stops every process it started (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    result = measure(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
