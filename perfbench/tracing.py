"""Per-layer tracing for the benchmark's traced run.

Spans are recorded from this file only, around calls into the program's
layers: the public functions and methods the pipeline calls at run time
are wrapped for the traced iterations and restored afterwards, and the
source and target the pipeline receives are wrapped in proxies. No
program file is edited.

Each span sets the Spark job group to its own id, so every job (and the
stage metrics of its stages, read from the status store through py4j) is
attributed to the innermost enclosing span. A span records name, start,
end, parent span, thread and iteration id; spans stay in memory until
the run ends. A span's self time is its duration minus the part of it
that its child spans cover.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import re
import statistics
import threading
import time
from collections import Counter, defaultdict
from dataclasses import dataclass, field

from datagen import dir_bytes
from workloads import MIX

_SIZE = re.compile(r"([0-9][0-9.,]*) (B|KiB|MiB|GiB|TiB)")
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_ABSENT = object()
# the per-layer metrics of a traced run, (name, unit); BENCHMARK.json's
# "per_layer" lists the same names
PER_LAYER = [
    ("sources.introspect_s", "s"), ("plan_report.s", "s"),
    ("ddl.s", "s"), ("ddl.stmts", "count"),
    ("plans.advisor.s", "s"), ("plans.advisor.jobs", "count"),
    ("plans.chunk.s", "s"), ("plans.chunk.chunks", "count"),
    ("sources.read_s", "s"), ("sources.read_rows", "rows"), ("sources.read_calls", "count"),
    ("functions.apply.s", "s"),
    ("operators.orphans.s", "s"), ("operators.orphans.jobs", "count"),
    ("operators.orphans.removed", "rows"),
    ("backends.write_s", "s"), ("backends.write_jobs", "count"),
    ("backends.write_rows", "rows"), ("backends.write_bytes", "bytes"),
    ("backends.delete_s", "s"), ("backends.delete_calls", "count"),
    ("plans.validation.s", "s"), ("plans.validation.jobs", "count"),
    ("plans.checkpoint.s", "s"), ("plans.checkpoint.flushes", "count"),
    ("pipeline.redo_rows", "rows"), ("pipeline.leaked_rdds", "count"), ("pipeline.self_s", "s"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.executor_run_s", "s"), ("spark.executor_cpu_s", "s"), ("spark.gc_s", "s"),
    ("spark.input_bytes", "bytes"), ("spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
    ("driver_floor_s", "s"), ("jvm.jit_s", "s"), ("jvm.gc_s", "s"),
    ("entries.construct_s", "s"), ("entries.construct_jobs", "count"), ("entries.action_s", "s"),
    ("catalyst.plan_s", "s"), ("pyworker.bytes", "bytes"),
    *((f"operators.{entry}.s", "s") for entry in MIX),
    ("trace.iter_s_p50", "s"), ("trace.overhead_s", "s"), ("trace.self_over_wall", "ratio"),
    # end to end but too noisy to gate on a shared host; from the untraced
    # iterations of the traced run
    ("iter_s_p50", "s"), ("rows_per_s", "rows/s"), ("resume_s_p50", "s"),
    ("out_bytes_per_row", "B/row"), ("peak_rss_mb", "MB"),
]
PYWORKER_METRICS = ("data sent to Python workers", "data returned from Python workers")


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    iteration: int
    thread: int
    start: float
    end: float = 0.0
    tag: str = ""  # the entry name, for entry spans
    counts: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def _union(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _size_bytes(text: str) -> float:
    """Total of a formatted Spark size metric (the first size it prints)."""
    m = _SIZE.search(text or "")
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)] if m else 0.0


def _pyworker_bytes(execution: dict) -> float:
    """Bytes one SQL execution sent to and received from Python workers."""
    ids = {
        str(x["accumulatorId"]) for x in execution.get("metrics", [])
        if x["name"] in PYWORKER_METRICS
    }
    return sum(
        _size_bytes(val) for k, val in (execution.get("metricValues") or {}).items() if k in ids
    )


def _footer_rows(files) -> int:
    import pyarrow.parquet as pq

    rows = 0
    for uri in files:
        path = uri.removeprefix("file://").removeprefix("file:")
        if path.endswith(".parquet") and os.path.isfile(path):
            rows += pq.read_metadata(path).num_rows
    return rows


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_mod, "MODULE$"))
        self._status = self.sc._jsc.sc().statusStore()
        self._sql_status = spark._jsparkSession.sharedState().statusStore()
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        self._epoch = time.time() - time.perf_counter()
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.spans: list[Span] = []
        self.iteration = 0
        self.root: Span | None = None
        self.catalyst_s = 0.0
        self.per_iteration: list[dict[str, float]] = []
        # entry -> [construct_s, action_s, pyworker bytes], per iteration
        self.per_entry: list[dict[str, list[float]]] = []
        self.problems: list[str] = []
        # (last job id, SQL execution count) before and after the current
        # traced iteration: its jobs and executions lie between the two
        self._before = self._after = (-1, 0)

    # -- spans ------------------------------------------------------------------

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _tag_jobs(self, span: Span) -> None:
        self.sc.setJobGroup(str(span.id), span.name)

    @contextlib.contextmanager
    def span(self, name: str, tag: str = "", parent: Span | None = None):
        stack = self._stack()
        parent = parent or (stack[-1] if stack else self.root)
        s = Span(
            next(self._ids), name, parent.id if parent else None, self.iteration,
            threading.get_ident(), time.perf_counter(), tag=tag,
        )
        with self._lock:
            self.spans.append(s)
        stack.append(s)
        self._tag_jobs(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            outer = stack[-1] if stack else (parent or self.root)
            if outer is not None:
                self._tag_jobs(outer)

    def current(self) -> Span | None:
        stack = self._stack()
        return stack[-1] if stack else self.root

    def wrap(self, name: str, fn, after=None):
        """``fn`` inside a span; ``after(span, result)`` records counts."""
        tracer = self

        def wrapped(*args, **kwargs):
            with tracer.span(name) as s:
                out = fn(*args, **kwargs)
            if after is not None:
                after(s, out)
            return out

        return wrapped

    def _watermark(self) -> tuple[int, int]:
        """(last job id, SQL execution count) once the status stores have
        seen every event posted so far."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        last_job = max((j["jobId"] for j in self._json(self._status.jobsList(None))), default=-1)
        return last_job, self._sql_status.executionsCount()

    @contextlib.contextmanager
    def iteration_span(self):
        """The root span of one timed iteration. Jobs and SQL executions
        of earlier (untraced) iterations fall before its watermark."""
        self._before = self._watermark()
        self.iteration += 1
        self.root = Span(
            next(self._ids), "iteration", None, self.iteration,
            threading.get_ident(), time.perf_counter(),
        )
        self.spans.append(self.root)
        self._tag_jobs(self.root)
        try:
            yield self.root
        finally:
            self.root.end = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self._after = self._watermark()

    # -- Catalyst -----------------------------------------------------------------

    def plan(self, df) -> None:
        """Plan ``df`` once more and add its analysis+optimization+planning
        time (QueryPlanningTracker) to this iteration's Catalyst total."""
        with self.span("trace"):
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            phases = json.loads(self._mapper.writeValueAsString(qe.tracker().phases()))
        with self._lock:
            self.catalyst_s += sum(
                (p["endTimeMs"] - p["startTimeMs"]) / 1000 for p in phases.values()
            )

    # -- installation ---------------------------------------------------------------

    @contextlib.contextmanager
    def installed(self, workload):
        """Wrap the program's run-time entry points for the traced
        iterations; restore every original afterwards."""
        import pgferry_spark.pipeline as P
        from pgferry_spark.plans.checkpoint import CheckpointManager as CM

        MP = P.MigrationPipeline
        saved: list[tuple[object, str, object]] = []

        def patch(obj, attr, new):
            saved.append((obj, attr, obj.__dict__.get(attr, _ABSENT)))
            setattr(obj, attr, new)

        def counted(key, fn):
            def after(s, out):
                s.counts[key] = s.counts.get(key, 0) + fn(out)
            return after

        tracer = self
        init = MP.__init__

        def traced_init(pipe, spark, cfg, source, target, *a, **kw):
            init(pipe, spark, cfg, SourceProxy(tracer, source), TargetProxy(tracer, target), *a, **kw)

        validate = P.validate_row_counts

        def traced_validate(tables, source_count, target_count, max_workers=8):
            # the counts run on a pool thread: give them spans (and so a
            # job group) whose parent is this validation span
            with tracer.span("plans.validation") as parent:
                def inside(fn):
                    def run(t):
                        with tracer.span("plans.validation", parent=parent):
                            return fn(t)
                    return run

                return validate(tables, inside(source_count), inside(target_count), max_workers)

        flush = CM._flush_locked

        def counted_flush(mgr):
            cur = tracer.current()
            if cur is not None:
                cur.counts["flushes"] = cur.counts.get("flushes", 0) + 1
            return flush(mgr)

        patch(MP, "__init__", traced_init)
        patch(P, "build_plan_report", self.wrap("plan_report", P.build_plan_report))
        patch(P, "apply_transforms", self.wrap("functions.apply", P.apply_transforms))
        patch(P, "build_post_migrate_plan", self.wrap("ddl", P.build_post_migrate_plan))
        patch(P, "validate_row_counts", traced_validate)
        patch(MP, "create_schema_objects", self.wrap("ddl", MP.create_schema_objects))
        patch(MP, "plan_advice", self.wrap("plans.advisor", MP.plan_advice))
        patch(MP, "chunk_plan_for", self.wrap(
            "plans.chunk", MP.chunk_plan_for, counted("chunks", lambda p: len(p.chunks))))
        patch(MP, "clean_orphans", self.wrap(
            "operators.orphans", MP.clean_orphans, counted("removed", lambda r: max(0, r[1]))))
        for meth in ("load", "begin_table", "mark_chunk_done", "mark_table_done", "flush", "delete"):
            patch(CM, meth, self.wrap("plans.checkpoint", getattr(CM, meth)))
        patch(CM, "_flush_locked", counted_flush)
        if isinstance(getattr(workload, "builders", None), dict):
            patch(workload, "builders", {
                name: self._entry(name, build) for name, build in workload.builders.items()
            })
            patch(workload, "force", self._action(workload.force))
        try:
            yield self
        finally:
            for obj, attr, orig in reversed(saved):
                if orig is _ABSENT:
                    delattr(obj, attr)
                else:
                    setattr(obj, attr, orig)

    def _entry(self, name, build):
        def construct(spark, src):
            with self.span("entries.construct", tag=name):
                return build(spark, src)

        return construct

    def _action(self, force):
        def action(name, df):
            with self.span("entries.action", tag=name):
                self.plan(df)
                return force(name, df)

        return action

    # -- per-iteration collection -------------------------------------------------------

    def loop(self, runner, seconds: float):
        return runner.loop(seconds, around=self.iteration_span, after=self.collect)

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def collect(self, it) -> None:
        """After one traced iteration: attribute its Spark jobs, stages and
        SQL metrics to spans and reduce everything to per-layer values."""
        root = self.root
        (job0, sql0), (job1, sql1) = self._before, self._after
        jobs = [
            j for j in self._json(self._status.jobsList(None)) if job0 < j["jobId"] <= job1
        ]
        stages = {
            (s["stageId"], s["attemptId"]): s
            for s in self._json(self._status.stageList(None, False, False, self._no_quantiles, None))
        }
        execs = self._json(self._sql_status.executionsList(sql0, sql1 - sql0))

        spans = [s for s in self.spans if s.iteration == root.iteration]
        by_id = {s.id: s for s in spans}
        children = defaultdict(list)
        for s in spans:
            if s.parent in by_id:
                children[s.parent].append(s)
        self_time = {
            s.id: s.duration - _union(
                (max(c.start, s.start), min(c.end, s.end)) for c in children[s.id]
                if c.end > s.start and c.start < s.end
            )
            for s in spans
        }
        v: dict[str, float] = defaultdict(float)
        for s in spans:
            layer = s.name
            v[f"{layer}.self_s"] += self_time[s.id]
            for k, n in s.counts.items():
                v[f"{layer}.{k}"] += n
            v[f"{layer}.calls"] += 1
            if s.name in ("entries.construct", "entries.action"):
                v[f"operators.{s.tag}.s"] += s.duration
        per_thread = defaultdict(float)
        for s in spans:
            per_thread[s.thread] += self_time[s.id]
        wall = root.duration
        worst = max(per_thread.values())
        if worst > wall * 1.001:
            self.problems.append(
                f"iteration {root.iteration}: span self times {worst:.3f}s exceed wall {wall:.3f}s"
            )

        stage_ids = set()
        jobs_by_layer = defaultdict(int)
        intervals = []
        t0 = (root.start + self._epoch) * 1000
        t1 = (root.end + self._epoch) * 1000
        for j in jobs:
            group = j.get("jobGroup")
            span = by_id.get(int(group)) if group and group.isdigit() else None
            jobs_by_layer[(span or root).name] += 1
            stage_ids.update(j["stageIds"])
            if j.get("submissionTime") and j.get("completionTime"):
                intervals.append((max(t0, j["submissionTime"]), min(t1, j["completionTime"])))
        st = [
            s for (sid, _), s in stages.items()
            if sid in stage_ids and s.get("status") != "SKIPPED"
        ]
        m = self.metric_values(v, jobs_by_layer, st, execs, jobs)
        m["driver_floor_s"] = wall - _union((s, e) for s, e in intervals if e > s) / 1000
        m["jvm.jit_s"] = it.phases.get("jit_s", 0.0)
        m["jvm.gc_s"] = it.phases.get("gc_s", 0.0)
        m["pipeline.redo_rows"] = it.phases.get("redo_rows", 0)
        m["pipeline.leaked_rdds"] = it.phases.get("leaked_rdds", 0)
        m["pipeline.self_s"] = self_time[root.id]
        m["trace.self_over_wall"] = worst / wall
        m["catalyst.plan_s"] = self.catalyst_s
        self.catalyst_s = 0.0
        per_group = Counter(j.get("jobGroup") for j in jobs)
        for s in spans:
            s.counts["jobs"] = per_group[str(s.id)]
        self.per_iteration.append(m)
        self.per_entry.append(self._entry_split(spans, self_time, jobs, execs))

    @staticmethod
    def _entry_split(spans, self_time, jobs, execs) -> dict[str, list[float]]:
        """Per mix entry: construction and action self time, and the Python
        worker bytes of the SQL executions whose jobs ran in its spans."""
        split = defaultdict(lambda: [0.0, 0.0, 0.0])
        tag_of = {str(s.id): s.tag for s in spans if s.tag}
        for s in spans:
            if s.tag:
                split[s.tag][0 if s.name == "entries.construct" else 1] += self_time[s.id]
        job_tag = {j["jobId"]: tag_of.get(j.get("jobGroup")) for j in jobs}
        for e in execs:
            tags = {job_tag.get(int(j)) for j in e.get("jobs") or {}} - {None}
            for tag in tags:
                split[tag][2] += _pyworker_bytes(e) / len(tags)
        return dict(split)

    def entry_lines(self) -> list[str]:
        """One line per mix entry: medians over the traced iterations of its
        construction and action self time and its Python-worker bytes."""
        lines = []
        for tag in dict.fromkeys(t for split in self.per_entry for t in split):
            cols = zip(*(split[tag] for split in self.per_entry if tag in split))
            c, a, py = (statistics.median(col) for col in cols)
            lines.append(
                f"  entry {tag:<32} construct_s={c:.4f} action_s={a:.4f} pyworker_bytes={py:.0f}"
            )
        return lines

    def metric_values(self, v, jobs_by_layer, stages, execs, jobs) -> dict[str, float]:
        def sel(layer, key):
            return float(v.get(f"{layer}.{key}", 0.0))

        m = {
            "sources.introspect_s": sel("sources.introspect", "self_s"),
            "plan_report.s": sel("plan_report", "self_s"),
            "ddl.s": sel("ddl", "self_s"),
            "ddl.stmts": sel("ddl", "stmts"),
            "plans.advisor.s": sel("plans.advisor", "self_s"),
            "plans.advisor.jobs": jobs_by_layer["plans.advisor"],
            "plans.chunk.s": sel("plans.chunk", "self_s"),
            "plans.chunk.chunks": sel("plans.chunk", "chunks"),
            "sources.read_s": sel("sources.read", "self_s"),
            "sources.read_rows": sel("sources.read", "rows"),
            "sources.read_calls": sel("sources.read", "calls"),
            "functions.apply.s": sel("functions.apply", "self_s"),
            "operators.orphans.s": sel("operators.orphans", "self_s"),
            "operators.orphans.jobs": jobs_by_layer["operators.orphans"],
            "operators.orphans.removed": sel("operators.orphans", "removed"),
            "backends.write_s": sel("backends.write", "self_s"),
            "backends.write_jobs": jobs_by_layer["backends.write"],
            "backends.write_rows": sel("backends.write", "rows"),
            "backends.write_bytes": sel("backends.write", "bytes"),
            "backends.delete_s": sel("backends.delete", "self_s"),
            "backends.delete_calls": sel("backends.delete", "calls"),
            "plans.validation.s": sel("plans.validation", "self_s"),
            "plans.validation.jobs": jobs_by_layer["plans.validation"],
            "plans.checkpoint.s": sel("plans.checkpoint", "self_s"),
            "plans.checkpoint.flushes": sel("plans.checkpoint", "flushes"),
            "entries.construct_s": sel("entries.construct", "self_s"),
            "entries.construct_jobs": jobs_by_layer["entries.construct"],
            "entries.action_s": sel("entries.action", "self_s"),
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": sum(s.get("numCompleteTasks", 0) for s in stages),
            "spark.executor_run_s": sum(s.get("executorRunTime", 0) for s in stages) / 1000,
            "spark.executor_cpu_s": sum(s.get("executorCpuTime", 0) for s in stages) / 1e9,
            "spark.gc_s": sum(s.get("jvmGcTime", 0) for s in stages) / 1000,
            "spark.input_bytes": sum(s.get("inputBytes", 0) for s in stages),
            "spark.shuffle_read_bytes": sum(s.get("shuffleReadBytes", 0) for s in stages),
            "spark.shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in stages),
            "spark.spill_bytes": sum(
                s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0) for s in stages
            ),
        }
        m["pyworker.bytes"] = sum(_pyworker_bytes(e) for e in execs)
        for key, val in v.items():
            if key.startswith("operators.") and key.endswith(".s") and key != "operators.orphans.s":
                m[key] = val
        return m

    # -- results -------------------------------------------------------------------------

    def metrics(self, base, traced) -> dict[str, dict]:
        """Median over the traced iterations of every per-layer metric;
        the tracing overhead and the metrics tracing would distort come
        from this run's untraced iterations (``base``)."""

        def p50(vals):
            vals = [x for x in vals if x == x]
            return statistics.median(vals) if vals else 0.0

        written = sum(it.phases.get("out_rows", 0) for it in base)
        walls = [it.wall_s for it in base if it.wall_s == it.wall_s]
        untraced = {
            "iter_s_p50": p50(walls),
            "rows_per_s": sum(it.rows for it in base) / sum(walls) if walls else 0.0,
            "trace.iter_s_p50": p50([it.wall_s for it in traced]),
            "resume_s_p50": p50([it.phases.get("resume_s", 0.0) for it in base]),
            "out_bytes_per_row": (
                sum(it.phases.get("out_bytes", 0) for it in base) / written if written else 0.0
            ),
        }
        untraced["trace.overhead_s"] = untraced["trace.iter_s_p50"] - untraced["iter_s_p50"]
        return {
            name: {
                "value": untraced[name] if name in untraced
                else p50([m.get(name, 0.0) for m in self.per_iteration]),
                "unit": unit,
            }
            for name, unit in PER_LAYER
        }

    def dump(self, path: str) -> None:
        """Write every span and the per-iteration values as JSON."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            json.dump(
                {
                    "spans": [
                        {**s.__dict__, "duration": s.duration} for s in self.spans
                    ],
                    "per_iteration": self.per_iteration,
                },
                f,
            )


class SourceProxy:
    """The pipeline's source, with spans around introspection and reads."""

    def __init__(self, tracer: Tracer, inner):
        self._tracer, self._inner = tracer, inner

    def __getattr__(self, name):
        return getattr(self._inner, name)

    def introspect(self):
        with self._tracer.span("sources.introspect"):
            return self._inner.introspect()

    def source_objects(self):
        with self._tracer.span("sources.introspect"):
            return self._inner.source_objects()

    def read_table(self, spark, table, predicates):
        with self._tracer.span("sources.read") as s:
            df = self._inner.read_table(spark, table, predicates)
        with self._tracer.span("trace"):
            s.counts["rows"] = _footer_rows(df.inputFiles())
        return df


class TargetProxy:
    """The pipeline's target, with spans around DDL, writes, counts and
    deletes; a write also records rows, landed bytes and Catalyst time."""

    def __init__(self, tracer: Tracer, inner):
        self._tracer, self._inner = tracer, inner

    def __getattr__(self, name):
        attr = getattr(self._inner, name)
        if name != "delete_where":
            return attr
        tracer = self._tracer

        def delete_where(table, predicate):
            with tracer.span("backends.delete"):
                return attr(table, predicate)

        return delete_where

    def execute(self, sql):
        with self._tracer.span("ddl") as s:
            s.counts["stmts"] = 1
            return self._inner.execute(sql)

    def write(self, df, table, append=False):
        path = self._inner._path(table)
        with self._tracer.span("trace"):
            before = dir_bytes(path) if append and os.path.isdir(path) else 0
        self._tracer.plan(df)
        with self._tracer.span("backends.write") as s:
            rows = self._inner.write(df, table, append=append)
            s.counts["rows"] = rows
        with self._tracer.span("trace"):
            s.counts["bytes"] = dir_bytes(path) - before
        return rows

    def count(self, table):
        with self._tracer.span("backends.count"):
            return self._inner.count(table)
