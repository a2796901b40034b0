"""Benchmark of the engine, driven from outside through its public calls.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 10 --trace 0

One client in a closed loop on ``local[<cores>]``. An op is one entry of
``__spark_entry__.queries()``, timed from the entry call until its full
result is a pandas frame in this process; the moment its physical plan is
ready is recorded on the way. Workloads (fixed op sets, every k-th entry of
a family in name order, up to a count, over the engine's sf0.01 test tables,
kept in ``perfbench/data`` and checked against
``perfbench/data/SHA256SUMS``):

* ``olap``: SQL entries, so parser, compiler, Catalyst and execution;
* ``pipelines``: ``pipeline_*`` entries, so the operators layer, a
  ``read_parquet`` per call, jobs started while building, Python workers.

A run verifies the tables, starts Spark, sets the engine up three times,
runs one cold pass in name order and checks every result against the
DuckDB oracle, then the workload's warm-up passes, then measured passes for
``--seconds``; the seed orders the ops of every pass after the cold one.
Spark's codegen cache is enlarged so that warm passes recompile nothing.
After every op each persistent RDD is unpersisted and the cache cleared,
so no op reuses another's intermediates.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, the per-layer metrics with ``--trace 1``
(a run whose warm passes alternate between untraced and traced). The run
record, with per-op latencies, plan fingerprints (traced runs) and spans,
is written to ``perfbench/.work/records``.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib
import json
import os
import random
import re
import resource
import shutil
import signal
import statistics
import sys
import time
from collections import defaultdict
from contextlib import nullcontext
from dataclasses import dataclass

import numpy as np

from tracing import LAYER_UNITS, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DATA = os.path.join(HERE, "data")
SETUP_REPS = 3


@dataclass(frozen=True)
class Workload:
    family: str            # "sql": the SQL entries; "pipeline": pipeline_*
    stride: int            # every stride-th entry of the family, by name,
    offset: int            # from this one,
    count: int             # at most this many
    warmup: int            # unmeasured passes after the cold one
    passes: int            # measured passes, at least


# The SQL entries keep speeding up for several passes while the JIT compiles
# Catalyst's hot paths: the first warm pass is left out, and a fourth
# measured pass steadies their medians.
# The pipeline offset keeps the rows-only entry (bpe_token_count) and one
# whose Python workers import the engine (dedup_against_index) in the set;
# the count keeps a run within its share of the time for all runs.
WORKLOADS = {
    "olap": Workload(family="sql", stride=6, offset=0, count=19, warmup=1,
                     passes=4),
    "pipelines": Workload(family="pipeline", stride=5, offset=4, count=8,
                          warmup=0, passes=3),
}
SF = 0.01
# Spark keeps the classes whole-stage codegen compiles in a cache of 100
# entries; one pass over a workload's ops needs more, so with the default
# every warm pass recompiles a share of them that depends on the op order.
# The larger cache holds them all: warm passes compile nothing, and the
# compile cost shows in the cold pass.
SPARK_SUBMIT_ARGS = "--conf spark.sql.codegen.cache.maxEntries=4096"


def workload_ops(wl: Workload, entrymod) -> list[str]:
    if wl.family == "sql":
        family = list(entrymod._PAIRS) + list(entrymod._CLOCK_PAIRS)
    else:
        family = [n for n in entrymod.queries() if n.startswith("pipeline_")]
    return sorted(family)[wl.offset::wl.stride][:wl.count]


def log(msg: str) -> None:
    print(f"perfbench: {msg}", flush=True)


def hd_quantile(values: list[float], q: float) -> float:
    """Harrell-Davis estimate of the q-quantile: a Beta-weighted mean of
    the order statistics. Over a dozen ops of unequal cost it moves
    smoothly instead of jumping between neighbouring ops."""
    x = np.sort(values)
    n = len(x)
    a, b = q * (n + 1), (1 - q) * (n + 1)
    t = np.linspace(0, 1, 4001)[1:-1]
    cdf = np.concatenate(
        [[0], np.cumsum(np.exp((a - 1) * np.log(t) + (b - 1) * np.log1p(-t)))])
    cdf /= cdf[-1]
    edges = np.interp(np.arange(n + 1) / n, np.concatenate([[0], t]), cdf)
    return float(np.dot(np.diff(edges), x))


def verify_dataset(sf: float) -> tuple[str, str]:
    """The directory of the sf tables, after checking every file against
    its sha256 in SHA256SUMS, and a checksum of the whole set."""
    prefix = f"sf{sf:g}/"
    with open(os.path.join(DATA, "SHA256SUMS")) as f:
        lines = [ln for ln in f if ln.split()[1].startswith(prefix)]
    if not lines:
        raise SystemExit(f"perfbench: no tables listed for sf{sf:g}")
    for line in lines:
        digest, name = line.split()
        with open(os.path.join(DATA, name), "rb") as f:
            if hashlib.sha256(f.read()).hexdigest() != digest:
                raise SystemExit(f"perfbench: {name} fails its checksum")
    checksum = hashlib.sha256("".join(lines).encode()).hexdigest()[:16]
    return os.path.join(DATA, prefix), checksum


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


# -- environment --------------------------------------------------------------

def prepare_env(run_dir: str) -> None:
    """Ambient engine switches are dropped so every run measures the
    defaults, on every core with a 2 GiB JVM heap and the codegen cache of
    ``SPARK_SUBMIT_ARGS``. Python workers import the engine from this
    checkout; Spark's warehouse, metastore and local dirs live in the run
    directory."""
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{SPARK_SUBMIT_ARGS} pyspark-shell"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.environ["SPARK_LOCAL_DIRS"])
    os.chdir(run_dir)


def child_pids(pid: int) -> set[int]:
    """All descendants of ``pid``, read from /proc."""
    parents: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            parents[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    found, todo = set(), [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parents.items() if pp == p]
        found.update(kids)
        todo.extend(kids)
    return found


def stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, then wait for the JVM and
    the Python workers it started to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    procs = child_pids(proc.pid) | {proc.pid}
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 15
    while procs and time.monotonic() < deadline:
        procs = {p for p in procs if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for p in procs:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def peak_rss_mb() -> tuple[float, float]:
    """Peak resident set of this process and of the Spark JVM, in MiB."""
    from pyspark import SparkContext

    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    with open(f"/proc/{SparkContext._gateway.proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return own_kb / 1024, jvm_kb / 1024


# -- tracing hooks -------------------------------------------------------------

def install_tracer(spark, entrymod):
    """Wrap the layer entry points the benchmark calls into."""
    from sql_to_ibis_spark import engine
    from sql_to_ibis_spark.plans import compiler, parser
    from sql_to_ibis_spark.sources import readers

    tracer = Tracer(spark)
    eng = engine.SqlEngine
    tracer.wrap(eng, "register_dir", "sources.register_dir")
    tracer.wrap(eng, "analyze", "engine.analyze", job_group=True)
    tracer.wrap(eng, "add_primary_key", "engine.constraints")
    tracer.wrap(eng, "add_foreign_key", "engine.constraints")
    tracer.wrap(eng, "advise_layout", "layout.advise")
    tracer.wrap(eng, "apply_layout", "layout.snapshot")
    tracer.wrap(engine, "parse", "parser.parse")
    tracer.wrap(parser, "parse", "parser.parse")
    tracer.wrap(compiler.Compiler, "compile", "compiler.compile")
    tracer.wrap(readers, "read_parquet", "sources.read_parquet")
    # the operator functions the entries call, as named in their source
    with open(entrymod.__file__) as f:
        called = set(re.findall(
            r"\b(curate|dedup|multimodal|sampling|similarity|skew|temporal"
            r"|text|tokenize)\.([a-z_]\w*)\(", f.read()))
    for mod_name, fn in sorted(called):
        mod = importlib.import_module(
            f"sql_to_ibis_spark.operators.{mod_name}")
        if callable(getattr(mod, fn, None)):
            tracer.wrap(mod, fn, f"operators.{mod_name}.{fn}")
    return tracer


# -- one op --------------------------------------------------------------------

@dataclass
class OpResult:
    latency: float         # entry call until the result is a pandas frame
    plan_ready: float      # entry call until the physical plan is ready
    out: object
    df: object


def run_op(spark, fn, data_dir: str, tracer, tag: str) -> OpResult:
    def phase(name: str):
        if tracer is None:
            return nullcontext()
        return tracer.phase(f"{tag}:{name}", name)

    t0 = time.perf_counter()
    with phase("build"):
        df = fn(spark, data_dir)
    with phase("plan"):
        df._jdf.queryExecution().executedPlan()
    t_plan = time.perf_counter()
    with phase("exec"):
        out = df.toPandas()
    t_end = time.perf_counter()
    return OpResult(t_end - t0, t_plan - t0, out, df)


def reset_caches(spark) -> int:
    """Unpersist every persistent RDD and clear the SQL cache; return how
    many RDDs the op left persisted."""
    rdds = list(spark.sparkContext._jsc.getPersistentRDDs().values())
    for rdd in rdds:
        rdd.unpersist(True)
    spark.catalog.clearCache()
    return len(rdds)


# -- set-up ----------------------------------------------------------------------

def set_up(spark, entrymod, data_dir: str) -> float:
    """Build the engine the entries use from scratch; return seconds."""
    entrymod._ENGINES.clear()
    spark.catalog.clearCache()
    t0 = time.perf_counter()
    entrymod._engine_for(spark, data_dir)
    return time.perf_counter() - t0


def lay_out(spark, entrymod, data_dir: str, tracer) -> dict[str, float]:
    """Set up once more with the bucketed fact layout the entries support
    (``advise_layout`` then ``apply_layout``, which writes sorted bucketed
    snapshots); return the layout step's time and bytes written."""
    mark = len(tracer.spans)
    os.environ["SPARK_GRAFT_BUCKETED_FACTS"] = "1"
    try:
        entrymod._engine_for(spark, data_dir)
    finally:
        del os.environ["SPARK_GRAFT_BUCKETED_FACTS"]
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    written = dir_bytes(wh) if os.path.isdir(wh) else 0
    if not written:
        raise RuntimeError("the layout step wrote no snapshot")
    return {"layout.snapshot_s":
            tracer.durations(mark, own=False)["layout.snapshot"],
            "layout.bytes_written": written}


# -- the run ----------------------------------------------------------------------

def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=SF,
                    help=f"scale factor of the tables ({SF:g})")
    args = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(ROOT, "sql_to_ibis_spark"))):
        log(f"no engine checkout at {ROOT}")
        return 2
    wl = WORKLOADS[args.workload]

    sys.path.insert(0, ROOT)
    data_dir, checksum = verify_dataset(args.sf)
    prepare_env(os.path.join(WORK, "run"))

    import __spark_entry__ as entrymod
    import oracle
    from sql_to_ibis_spark.session import get_spark

    ops = workload_ops(wl, entrymod)
    os.makedirs(os.path.join(WORK, "oracle"), exist_ok=True)
    expected = oracle.answers(
        ops, data_dir, os.path.join(WORK, "oracle", f"{checksum}.pkl"))
    log(f"workload={args.workload} seed={args.seed} sf={args.sf:g} "
        f"data={checksum} ops={len(ops)} trace={args.trace} "
        f"cpus={os.environ['SPARK_GRAFT_CPUS']}")

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    session_start = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        run = Run(args, wl, checksum, ops, expected, spark, entrymod,
                  data_dir)
        result = run.measure(session_start)
    finally:
        stop_spark(spark)
    print(json.dumps(result))
    return 0


class Run:
    def __init__(self, args, wl, checksum, ops, expected, spark, entrymod,
                 data_dir) -> None:
        self.args, self.wl, self.checksum = args, wl, checksum
        self.ops, self.expected = ops, expected
        self.spark, self.entrymod, self.data_dir = spark, entrymod, data_dir
        from oracle import mismatch
        self.mismatch = mismatch
        self.tracer = (install_tracer(spark, entrymod)
                       if args.trace == 1 else None)
        self.attempted = self.failed = 0
        self.errors: dict[str, str] = {}
        self.mismatches: dict[str, str] = {}

    def measure(self, session_start: float) -> dict:
        spark, tracer = self.spark, self.tracer
        layout = {"layout.snapshot_s": 0.0, "layout.bytes_written": 0}
        setups, setup_layers = [], []
        with tracer.recording() if tracer else nullcontext():
            if tracer and self.wl.family == "sql":
                layout = lay_out(spark, self.entrymod, self.data_dir, tracer)
            for _ in range(SETUP_REPS):
                mark = len(tracer.spans) if tracer else 0
                setups.append(set_up(spark, self.entrymod, self.data_dir))
                if tracer:
                    setup_layers.append(tracer.setup_metrics(mark))
        # built after install_tracer, so the entries bind the wrapped reader
        qs = self.entrymod.queries()
        rng = random.Random(self.args.seed)

        def shuffled() -> list[str]:
            return rng.sample(self.ops, len(self.ops))

        # the cold pass runs in name order, so cold costs land on the same
        # ops in every run; after the workload's warm-up passes, measured
        # passes run for --seconds, at least the workload's count of them,
        # so an op's median drops an outlier. A traced run alternates
        # untraced and traced passes after at least one warm-up pass, so
        # the two kinds it compares are equally warm.
        passes = [self.one_pass(0, "cold", list(self.ops), qs)]
        for _ in range(max(self.wl.warmup, 1 if tracer else 0)):
            passes.append(self.one_pass(len(passes), "warmup", shuffled(),
                                        qs))
        t_start = time.perf_counter()
        while True:
            kinds = [p["kind"] for p in passes]
            done = time.perf_counter() - t_start >= self.args.seconds
            if not tracer:
                if done and kinds.count("warm") >= self.wl.passes:
                    break
                kind = "warm"
            else:
                if done and "traced" in kinds:
                    break
                kind = "traced" if kinds[-1] == "warm" else "warm"
            passes.append(self.one_pass(len(passes), kind, shuffled(), qs))

        for name, why in {**self.errors, **self.mismatches}.items():
            log(f"FAIL {name}: {why}")
        if tracer:
            metrics = trace_metrics(passes, setup_layers, layout,
                                    session_start)
            fps = plan_fingerprints(spark, qs, self.ops, self.data_dir)
        else:
            metrics = e2e_metrics(passes, setups, session_start)
            fps = {}
        self.write_record(passes, setups, fps, metrics)
        if tracer:
            tracer.close()
        warm = [p for p in passes if p["kind"] == "warm"]
        log(f"attempted={self.attempted} failed={self.failed} "
            f"mismatches={len(self.mismatches)} ops={len(self.ops)} "
            f"measured_passes={len(warm)} "
            f"samples={sum(len(p['latency']) for p in warm)}")
        return {"correct": not self.mismatches and not self.failed,
                "attempted": self.attempted, "failed": self.failed,
                "metrics": metrics}

    def one_pass(self, idx: int, kind: str, order: list[str], qs) -> dict:
        tracer = self.tracer if kind == "traced" else None
        with tracer.recording() if tracer else nullcontext():
            return self._pass(idx, kind, order, qs, tracer)

    def _pass(self, idx: int, kind: str, order: list[str], qs,
              tracer) -> dict:
        record = {"kind": kind, "order": order, "latency": {},
                  "plan_ready": {}, "cached_rdds_left": 0, "layers": {}}
        mark = len(tracer.spans) if tracer else 0
        py4j_before = dict(tracer.py4j) if tracer else {}
        acc: dict[str, float] = defaultdict(float)
        p0 = time.perf_counter()
        for name in order:
            self.attempted += 1
            tag = f"p{idx}:{name}"
            if tracer:
                tracer.op = tag
            try:
                res = run_op(self.spark, qs[name], self.data_dir, tracer, tag)
            except Exception as err:            # an op failure is a result
                self.failed += 1
                self.errors.setdefault(
                    name, f"{type(err).__name__}: {err}"[:300])
                reset_caches(self.spark)
                continue
            finally:
                if tracer:
                    tracer.op = None
            record["latency"][name] = res.latency
            record["plan_ready"][name] = res.plan_ready
            if tracer:
                tracer.collect_op(tag, res.df, res.out, acc)
            if kind == "cold":
                why = self.mismatch(res.out, self.expected[name])
                if why:
                    self.mismatches[name] = why
            record["cached_rdds_left"] += reset_caches(self.spark)
        record["wall"] = time.perf_counter() - p0
        if tracer:
            record["layers"] = tracer.pass_metrics(mark, py4j_before, acc)
        return record

    def write_record(self, passes, setups, fps, metrics) -> None:
        args = self.args
        out_dir = os.path.join(WORK, "records")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(
            out_dir,
            f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
        record = {
            "workload": args.workload, "seed": args.seed, "sf": args.sf,
            "seconds": args.seconds, "data_checksum": self.checksum,
            "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
            "setup_s": setups, "peak_rss_mb": peak_rss_mb(),
            "passes": passes, "errors": self.errors,
            "mismatches": self.mismatches, "plan_fps": fps,
            "metrics": metrics,
            "spans": self.tracer.records() if self.tracer else [],
        }
        with open(path, "w") as f:
            json.dump(record, f, indent=1, default=str)
        log(f"record: {path}")


def plan_fingerprints(spark, qs, ops, data_dir) -> dict[str, str]:
    """Per-op physical plan fingerprint of a fresh, unexecuted frame, with
    the normalisation of bench.py's record."""
    import bench

    fps = {}
    for name in ops:
        fps[name] = bench._plan_fp(qs[name](spark, data_dir))
        reset_caches(spark)
    return fps


def e2e_metrics(passes, setups, session_start) -> dict:
    """Latencies are taken per op as the median over the measured passes,
    then summarised across ops, so the figures do not depend on how many
    passes fitted into the time."""
    warm = [p for p in passes if p["kind"] == "warm"]
    ops = sorted({o for p in warm for o in p["latency"]})
    lat = [statistics.median(p["latency"][o] for p in warm
                             if o in p["latency"]) for o in ops]
    values = {
        "setup_s": (session_start + statistics.median(setups), "s"),
        "latency_p50_ms": (1000 * hd_quantile(lat, 0.5), "ms"),
        "first_pass_s": (sum(passes[0]["latency"].values()), "s"),
        "python_peak_rss_mb": (peak_rss_mb()[0], "MiB"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in values.items()}


def trace_metrics(passes, setup_layers, layout, session_start) -> dict:
    traced = [p for p in passes if p["kind"] == "traced"]
    untraced = [p for p in passes if p["kind"] == "warm"]
    values: dict[str, float] = {
        **layout,
        "session.start_s": session_start,
        "jvm.peak_rss_mb": peak_rss_mb()[1],
        "lifecycle.cached_rdds_left": statistics.median(
            p["cached_rdds_left"] for p in traced),
    }
    for key in setup_layers[0]:
        values[key] = statistics.median(s[key] for s in setup_layers)
    for key in traced[0]["layers"]:
        values[key] = statistics.median(p["layers"][key] for p in traced)
    on = statistics.mean(sum(p["latency"].values()) for p in traced)
    off = statistics.mean(sum(p["latency"].values()) for p in untraced)
    values["trace.overhead_pct"] = 100 * (on - off) / off
    return {k: {"value": values[k], "unit": u} for k, u in LAYER_UNITS}


if __name__ == "__main__":
    sys.exit(main())
