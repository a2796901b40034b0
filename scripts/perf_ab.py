"""Interleaved perfbench A/B of a base revision against the working tree.

    python scripts/perf_ab.py --base REV [--pairs 10] [--seed-base 1000] \\
        [--workload olap --workload pipelines] [--seconds 10] [--trace 0] \\
        [--work DIR]

Both sides run from fresh copies under ``--work``: the base is
``git archive REV``, the change is the working tree as ``git add -A``
would commit it (tracked files plus untracked ones git does not ignore).
Neither side then carries what a long-lived checkout builds up. Pair ``i``
runs every workload on both sides with seed ``--seed-base + i``. The base
runs first in even pairs and the change in odd ones, so drift of the
machine hits both sides alike.

Per workload and metric it prints each side's median and quartiles, the
change's median relative to the base's, the pairs each side won (ties
count for neither), and whether a gain holds. A gain needs the change to
win at least nine tenths of the pairs, with a median better than the
base's by more than the base's interquartile range. For end-to-end
metrics it also says whether the change is worse than the base by more
than the metric's bound in BENCHMARK.json. Traced runs (``--trace 1``)
also compare the ops' plan fingerprints pair by pair. Every run's result
line is appended to ``--work/results.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SIDES = ("base", "change")


def git(*args: str) -> subprocess.CompletedProcess:
    return subprocess.run(["git", "-C", ROOT, *args], check=True,
                          capture_output=True)


def export_base(rev: str, dest: str) -> None:
    os.makedirs(dest)
    archive = git("archive", "--format=tar", rev).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def copy_worktree(dest: str) -> None:
    listed = git("ls-files", "-z", "--cached", "--others",
                 "--exclude-standard").stdout.decode()
    for rel in filter(None, listed.split("\0")):
        src = os.path.join(ROOT, rel)
        if not os.path.isfile(src):       # deleted, not yet staged
            continue
        os.makedirs(os.path.join(dest, os.path.dirname(rel)), exist_ok=True)
        shutil.copyfile(src, os.path.join(dest, rel))


def run_side(checkout: str, workload: str, seed: int, seconds: float,
             trace: int) -> tuple[dict, dict]:
    """One perfbench run: its result line and, when traced, the ops' plan
    fingerprints from its run record."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        tail = "\n".join(proc.stderr.strip().splitlines()[-20:])
        raise SystemExit(f"perf_ab: {' '.join(cmd)} in {checkout} failed "
                         f"(exit {proc.returncode}):\n{tail}")
    fps = {}
    if trace:
        record = os.path.join(checkout, "perfbench", ".work", "records",
                              f"{workload}-seed{seed}-trace{trace}.json")
        with open(record) as f:
            fps = json.load(f)["plan_fps"]
    return json.loads(lines[-1]), fps


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def directions(checkout: str) -> dict[str, tuple[str, float | None]]:
    """metric name -> (better, bound); per-layer metrics have no bound."""
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        spec = json.load(f)
    out = {m["name"]: (m["better"], m.get("bound"))
           for m in spec.get("per_layer", [])}
    out.update({m["name"]: (m["better"], m["bound"])
                for m in spec["end_to_end"]})
    return out


def summarise(workload: str, runs: list[dict[str, dict]],
              better: dict[str, tuple[str, float | None]]) -> None:
    n = len(runs)
    print(f"\n{workload}: {n} pairs")
    for side in SIDES:
        failed = sum(r[side]["failed"] for r in runs)
        attempted = sum(r[side]["attempted"] for r in runs)
        wrong = sum(not r[side]["correct"] for r in runs)
        print(f"  {side}: failed {failed}/{attempted} ops, "
              f"{wrong} runs not correct")
    print(f"  {'metric':<30} {'base median [Q1, Q3]':>28} "
          f"{'change median [Q1, Q3]':>28} {'change':>8} {'wins c/b':>9} "
          f"{'gain':>5} {'bound':>6}")
    for name in runs[0]["base"]["metrics"]:
        vals = {s: [r[s]["metrics"][name]["value"] for r in runs]
                for s in SIDES}
        direction, bound = better.get(name, ("lower", None))
        sign = 1 if direction == "lower" else -1
        wins_c = sum(sign * (c - b) < 0
                     for b, c in zip(vals["base"], vals["change"]))
        wins_b = sum(sign * (c - b) > 0
                     for b, c in zip(vals["base"], vals["change"]))
        (b1, bm, b3), (c1, cm, c3) = (quartiles(vals[s]) for s in SIDES)
        rel = (cm - bm) / bm if bm else 0.0
        gain = wins_c >= 0.9 * n and sign * (bm - cm) > b3 - b1
        verdict = "-" if bound is None else (
            "WORSE" if sign * rel > bound else "ok")
        print(f"  {name:<30} {f'{bm:.4g} [{b1:.4g}, {b3:.4g}]':>28} "
              f"{f'{cm:.4g} [{c1:.4g}, {c3:.4g}]':>28} {rel:>+8.1%} "
              f"{f'{wins_c}/{wins_b}':>9} {'yes' if gain else 'no':>5} "
              f"{verdict:>6}")
    if runs[0]["fps"]["base"]:
        equal = [sum(r["fps"]["base"].get(op) == fp
                     for op, fp in r["fps"]["change"].items()) for r in runs]
        ops = len(runs[0]["fps"]["change"])
        print(f"  plan_fps equal per pair: {equal} of {ops} ops")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--base", required=True, help="git revision of the base")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed-base", type=int, default=1000)
    ap.add_argument("--workload", action="append",
                    help="perfbench workload (repeatable; default: all)")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", help="directory for the two copies and the "
                    "results (default: a new temporary directory)")
    args = ap.parse_args()

    work = args.work or tempfile.mkdtemp(prefix="perf_ab-")
    checkouts = {s: os.path.join(work, s) for s in SIDES}
    for path in checkouts.values():
        shutil.rmtree(path, ignore_errors=True)
    export_base(args.base, checkouts["base"])
    copy_worktree(checkouts["change"])
    workloads = args.workload or ["olap", "pipelines"]
    print(f"perf_ab: base {args.base} vs working tree, {args.pairs} pairs, "
          f"seeds {args.seed_base}..{args.seed_base + args.pairs - 1}, "
          f"work {work}", flush=True)

    runs: dict[str, list[dict]] = {w: [] for w in workloads}
    with open(os.path.join(work, "results.jsonl"), "a") as log:
        for i in range(args.pairs):
            seed = args.seed_base + i
            order = SIDES if i % 2 == 0 else SIDES[::-1]
            for workload in workloads:
                pair: dict = {"fps": {}}
                for side in order:
                    result, fps = run_side(checkouts[side], workload, seed,
                                           args.seconds, args.trace)
                    pair[side], pair["fps"][side] = result, fps
                    log.write(json.dumps(
                        {"pair": i, "seed": seed, "workload": workload,
                         "side": side, "result": result}) + "\n")
                    log.flush()
                runs[workload].append(pair)
                print(f"perf_ab: pair {i} seed {seed} {workload} done",
                      flush=True)

    better = directions(checkouts["change"])
    for workload in workloads:
        summarise(workload, runs[workload], better)
    return 0


if __name__ == "__main__":
    sys.exit(main())
