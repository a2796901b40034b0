"""Tracing for the benchmark's traced run (``--trace 1``).

Spans are recorded only at the benchmark's own call sites into each layer:
the tracer replaces public functions of the engine's modules with wrappers
for the length of the run and restores them afterwards. Nothing inside the
engine is changed. Wrappers and counters record only while the tracer is
``recording()``; otherwise they pass straight through, so the run's
untraced passes are the baseline of ``trace.overhead_pct``. Spans (name,
start, end, parent, op id) stay in memory and are written with the run
record at exit.

Counts recorded alongside the spans:

* Py4J round trips (``send_command`` on the session's gateway client),
  charged to the innermost open span; object releases are left out;
* Spark jobs, attributed through a job group set per op phase and around
  ``SqlEngine.analyze``;
* SQL metrics of the executed plan (the AQE final plan), read after each
  op with the walk ``scripts/stage_profile.py`` does.
"""

from __future__ import annotations

import functools
import re
import time
from collections import defaultdict
from contextlib import contextmanager

# per-layer metrics of the traced run, in BENCHMARK.json order
LAYER_UNITS = [
    ("session.start_s", "s"), ("sources.register_dir_s", "s"),
    ("engine.analyze_s", "s"), ("engine.analyze_jobs", "count"),
    ("engine.constraints_s", "s"), ("layout.snapshot_s", "s"),
    ("layout.bytes_written", "bytes"), ("parser.parse_ms", "ms"),
    ("compiler.compile_ms", "ms"), ("compiler.py4j_calls", "count"),
    ("compiler.eager_jobs", "count"), ("compiler.eager_job_ms", "ms"),
    ("catalyst.plan_ms", "ms"), ("exec.exec_ms", "ms"),
    ("exec.jobs", "count"), ("exec.tasks", "count"),
    ("exec.shuffle_bytes", "bytes"), ("exec.spill_bytes", "bytes"),
    ("exec.rows_scanned_per_row_out", "ratio"), ("exec.python_bytes", "bytes"),
    ("operators.build_ms", "ms"), ("operators.py4j_calls", "count"),
    ("operators.eager_jobs", "count"), ("sources.read_parquet_calls", "count"),
    ("sources.read_parquet_ms", "ms"), ("lifecycle.cached_rdds_left", "count"),
    ("jvm.peak_rss_mb", "MiB"), ("trace.overhead_pct", "%"),
]

_METRIC = re.compile(r"(\w+) -> SQLMetric\(id: \d+, name: .*?, value: (-?\d+)\)")
_STAGE_WRAPPERS = ("ShuffleQueryStage", "BroadcastQueryStage",
                   "TableCacheQueryStage", "ResultQueryStage")


class Tracer:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.spans: list[list] = []      # [name, start, end, parent, op]
        self.py4j: dict[str, int] = defaultdict(int)
        self.groups: list[tuple[int, str, str]] = []   # (span, name, group)
        self.op: str | None = None
        self._stack: list[int] = []
        self._undo: list[tuple] = []
        self.active = False
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counted(command, *args, **kwargs):
            # object releases ("m\nd\n...") follow Python's garbage
            # collector, not the caller, so they are not counted
            if self.active and not command.startswith("m\n"):
                top = self.spans[self._stack[-1]][0] if self._stack else "-"
                self.py4j[top] += 1
            return send(command, *args, **kwargs)

        self._undo.append((client, "send_command", None))
        client.send_command = counted

    # -- spans and wrappers ------------------------------------------------

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append([name, time.perf_counter(), None, parent, self.op])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][2] = time.perf_counter()

    @contextmanager
    def recording(self, on: bool = True):
        before, self.active = self.active, on
        try:
            yield
        finally:
            self.active = before

    def quiet(self):
        """Py4J calls the benchmark makes for its own bookkeeping."""
        return self.recording(False)

    @contextmanager
    def phase(self, group: str, name: str):
        """A span whose Spark jobs run in their own job group."""
        self.groups.append((len(self.spans), name, group))
        with self.job_group(group), self.span(name):
            yield

    def wrap(self, owner, attr: str, name: str,
             job_group: bool = False) -> None:
        """Replace ``owner.attr`` by a wrapper recording a span. The
        wrapper keeps the original's name and module, so a function shipped
        to Python workers is pickled by reference and runs unwrapped."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            if not self.active:
                return original(*args, **kwargs)
            if not job_group:
                with self.span(name):
                    return original(*args, **kwargs)
            with self.phase(f"{name}#{len(self.spans)}", name):
                return original(*args, **kwargs)

        self._undo.append((owner, attr, original))
        setattr(owner, attr, traced)

    def close(self) -> None:
        for owner, attr, original in reversed(self._undo):
            if original is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, original)
        self._undo.clear()

    def durations(self, since: int, own: bool) -> dict[str, float]:
        """Seconds per span name over spans recorded from index ``since``;
        with ``own``, each span's duration minus its direct children's."""
        total: dict[str, float] = defaultdict(float)
        for name, start, end, parent, _ in self.spans[since:]:
            total[name] += end - start
            if own and parent is not None and parent >= since:
                total[self.spans[parent][0]] -= end - start
        return total

    def records(self) -> list[dict]:
        return [{"name": n, "start": s, "end": e, "parent": p, "op": o}
                for n, s, e, p, o in self.spans]

    # -- Spark jobs --------------------------------------------------------

    @contextmanager
    def job_group(self, group: str):
        sc = self.spark.sparkContext
        with self.quiet():
            sc.setJobGroup(group, group)
        try:
            yield
        finally:
            with self.quiet():
                sc._jsc.clearJobGroup()

    def jobs(self, group: str) -> dict[str, float]:
        """Jobs, completed tasks and summed job wall time (ms) of a group."""
        sc = self.spark.sparkContext
        out = {"jobs": 0, "tasks": 0, "job_ms": 0.0}
        with self.quiet():
            store = sc._jsc.sc().statusStore()
            for jid in sc.statusTracker().getJobIdsForGroup(group):
                job = store.job(jid)
                out["jobs"] += 1
                out["tasks"] += job.numCompletedTasks()
                sub, done = job.submissionTime(), job.completionTime()
                if sub.isDefined() and done.isDefined():
                    out["job_ms"] += (done.get().getTime()
                                      - sub.get().getTime())
        return out

    def plan_metrics(self, df) -> dict[str, int]:
        """SQL metrics summed over the executed plan of ``df``."""
        out = {"scan_rows": 0, "shuffle_bytes": 0, "spill_bytes": 0,
               "python_bytes": 0}
        with self.quiet():
            node = df._jdf.queryExecution().executedPlan()
            if node.nodeName().startswith("AdaptiveSparkPlan"):
                node = node.executedPlan()
            todo = [node]
            while todo:
                node = todo.pop()
                name = node.nodeName()
                if name.startswith("ReusedExchange"):
                    continue
                values = {k: int(v) for k, v in
                          _METRIC.findall(node.metrics().toString())}
                if name.startswith("Scan "):
                    out["scan_rows"] += values.get("numOutputRows", 0)
                out["shuffle_bytes"] += values.get("shuffleBytesWritten", 0)
                out["spill_bytes"] += values.get("spillSize", 0)
                out["python_bytes"] += (values.get("pythonDataSent", 0)
                                        + values.get("pythonDataReceived", 0))
                children = node.children()
                todo.extend(children.apply(i) for i in range(children.size()))
                if name in _STAGE_WRAPPERS:
                    todo.append(node.plan())
        return out

    # -- per-op, per-pass and set-up figures ---------------------------------

    def collect_op(self, tag: str, df, out, acc: dict[str, float]) -> None:
        """Add one op's job counts and plan metrics to a pass's ``acc``."""
        # jobs started while building: a pipeline entry's are charged to
        # the operators layer, a SQL entry's to the compiler
        build = self.jobs(f"{tag}:build")
        if ":pipeline_" in tag:
            acc["operators.eager_jobs"] += build["jobs"]
        else:
            acc["compiler.eager_jobs"] += build["jobs"]
            acc["compiler.eager_job_ms"] += build["job_ms"]
        run = self.jobs(f"{tag}:exec")
        acc["exec.jobs"] += run["jobs"]
        acc["exec.tasks"] += run["tasks"]
        for key, value in self.plan_metrics(df).items():
            acc[key] += value
        acc["rows_out"] += len(out)

    def pass_metrics(self, since: int, py4j_before: dict[str, int],
                     acc: dict[str, float]) -> dict[str, float]:
        own = self.durations(since, own=True)
        calls = defaultdict(int)
        for name, *_ in self.spans[since:]:
            calls[name] += 1
        py4j = {k: v - py4j_before.get(k, 0) for k, v in self.py4j.items()}

        def layer(d: dict, prefix: str) -> float:
            return sum(v for k, v in d.items() if k.startswith(prefix))

        return {
            "parser.parse_ms": 1000 * own["parser.parse"],
            "compiler.compile_ms": 1000 * own["compiler.compile"],
            "compiler.py4j_calls": py4j.get("compiler.compile", 0),
            "compiler.eager_jobs": acc["compiler.eager_jobs"],
            "compiler.eager_job_ms": acc["compiler.eager_job_ms"],
            "catalyst.plan_ms": 1000 * own["plan"],
            "exec.exec_ms": 1000 * own["exec"],
            "exec.jobs": acc["exec.jobs"],
            "exec.tasks": acc["exec.tasks"],
            "exec.shuffle_bytes": acc["shuffle_bytes"],
            "exec.spill_bytes": acc["spill_bytes"],
            "exec.rows_scanned_per_row_out":
                acc["scan_rows"] / max(acc["rows_out"], 1),
            "exec.python_bytes": acc["python_bytes"],
            "operators.build_ms": 1000 * layer(own, "operators."),
            "operators.py4j_calls": layer(py4j, "operators."),
            "operators.eager_jobs": acc["operators.eager_jobs"],
            "sources.read_parquet_calls": calls["sources.read_parquet"],
            "sources.read_parquet_ms": 1000 * own["sources.read_parquet"],
        }

    def setup_metrics(self, since: int) -> dict[str, float]:
        """Per-step figures of one engine set-up traced from ``since``."""
        total = self.durations(since, own=False)
        jobs = sum(self.jobs(g)["jobs"] for s, n, g in self.groups
                   if s >= since and n == "engine.analyze")
        return {
            "sources.register_dir_s": total["sources.register_dir"],
            "engine.analyze_s": total["engine.analyze"],
            "engine.analyze_jobs": jobs,
            "engine.constraints_s": total["engine.constraints"],
        }
