"""Interleaved A/B of named planner arms over ``queries()`` entries.

    python scripts/ab.py --arm off:SPARK_GRAFT_EAGER_AGG=0 --arm auto: \\
        [--sf DIR] [--trials N] ENTRY_FILTER [ENTRY_FILTER ...]

Each ``--arm`` is ``name:KEY=VAL,KEY=VAL``. A key that starts with
``spark.`` is a Spark runtime conf; any other key is an environment
variable (a planner switch such as ``SPARK_GRAFT_EAGER_AGG``, or
``SPARK_GRAFT_BUCKETED_FACTS`` for the bucketed engine). ``auto:`` with
no settings is the default plan. Entries are the ``queries()`` names
containing any filter. Every entry runs once per arm to warm up, then
``--trials`` rounds with the arm order rotated each round, so machine
drift hits every arm alike. Prints per-entry, per-arm medians (noop
sink, as bench.py times) with each arm's ``bench._plan_fp``, and the
per-arm sum of medians.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from bench import _execute, _plan_fp
from sql_to_ibis_spark.session import get_spark


def parse_arm(text: str) -> tuple[str, dict[str, str]]:
    name, sep, body = text.partition(":")
    if not sep or not name:
        raise argparse.ArgumentTypeError(f"arm {text!r} is not NAME:K=V,...")
    settings = {}
    for kv in filter(None, body.split(",")):
        k, eq, v = kv.partition("=")
        if not eq:
            raise argparse.ArgumentTypeError(f"setting {kv!r} is not K=V")
        settings[k] = v
    return name, settings


class Arm:
    """Applies one arm's settings and restores what was there before."""

    def __init__(self, spark, name: str, settings: dict[str, str]):
        self.spark, self.name, self.settings = spark, name, settings
        self._saved: dict[str, str | None] = {}

    def __enter__(self):
        for k, v in self.settings.items():
            if k.startswith("spark."):
                self._saved[k] = self.spark.conf.get(k, None)
                self.spark.conf.set(k, v)
            else:
                self._saved[k] = os.environ.get(k)
                os.environ[k] = v
        return self

    def __exit__(self, *exc):
        for k, old in self._saved.items():
            if k.startswith("spark."):
                if old is None:
                    self.spark.conf.unset(k)
                else:
                    self.spark.conf.set(k, old)
            elif old is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = old
        self._saved.clear()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--arm", type=parse_arm, action="append", required=True)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--trials", type=int, default=5)
    ap.add_argument("filters", nargs="+")
    args = ap.parse_args()
    names = [a[0] for a in args.arm]
    if len(set(names)) != len(names):
        ap.error(f"arm names must be unique: {names}")

    spark = get_spark(app_name="ab")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    entries = [n for n in qs if any(f in n for f in args.filters)]
    if not entries:
        ap.error(f"no queries() entry matches {args.filters}")
    arms = [Arm(spark, n, s) for n, s in args.arm]

    def run(entry: str, arm: Arm) -> float:
        with arm:
            t0 = time.perf_counter()
            _execute(qs[entry](spark, args.sf))
            return time.perf_counter() - t0

    fps: dict[tuple[str, str], str] = {}
    times: dict[tuple[str, str], list[float]] = {}
    for entry in entries:
        for arm in arms:
            run(entry, arm)                               # warm-up
            with arm:
                fps[entry, arm.name] = _plan_fp(qs[entry](spark, args.sf))
            times[entry, arm.name] = []
    for t in range(args.trials):
        for entry in entries:
            k = t % len(arms)
            for arm in arms[k:] + arms[:k]:
                times[entry, arm.name].append(run(entry, arm))

    width = max(len(e) for e in entries)
    print(f"{'entry':<{width}}  " + "  ".join(
        f"{n:>10} {'plan_fp':<12}" for n in names))
    totals = dict.fromkeys(names, 0.0)
    for entry in entries:
        cells = []
        for n in names:
            med = statistics.median(times[entry, n])
            totals[n] += med
            cells.append(f"{med:>9.3f}s {fps[entry, n]:<12}")
        print(f"{entry:<{width}}  " + "  ".join(cells))
    base = totals[names[0]]
    for n in names:
        delta = 100 * (totals[n] - base) / base if base else 0.0
        print(f"arm {n}: sum of medians {totals[n]:.3f}s "
              f"({delta:+.1f}% vs {names[0]})")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
