"""A/B: positive-EXISTS rewrite shapes for the q4 family (r13 mandate #1).

Compares, same-session interleaved at a given SF:
  rid     — broadcast tagged outer -> inner join -> dropDuplicates(rid)
            (the shipped default; Catalyst prunes the carried width)
  stock   — plain shuffled left-semi (SPARK_GRAFT_EXISTS_DEDUP_REWRITE=0)

A third arm, keyset (distinct outer correlation keys -> broadcast inner
join -> matched-set broadcast left-semi), lost to rid at both widths
measured below and was deleted from the engine.

Measured r13 at sf10 (local[32], medians of 5-6 interleaved):
  rid 1.15 s | keyset 1.68 s | stock 2.77-3.08 s | DuckDB 0.24-0.30 s
Wide SELECT-* outer: rid 1.25 s | keyset 1.64 s.
Floor decomposition (raw DataFrame, same session): lineitem 2-col scan
0.22 s; + broadcast-hash probe (60M probes vs 551k-entry/67MB relation)
0.67 s; + dedup exchange + final agg ~0.97-1.0 s. A transitive
l_shipdate > '1995-01-01' inner-scan filter was measured a no-op
(1.015 vs 1.049 s median): the probe is memory-latency-bound and the
data is not clustered by shipdate, so no row groups prune.

Usage: python scripts/ab_q4_exists.py [sf_dir] [iters]
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from sql_to_ibis_spark.session import get_spark


def _execute(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/localdata/sf10"
    iters = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    spark = get_spark(app_name="ab_q4_exists")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    name = "subquery_correlated_exists_q4"
    _execute(qs["select_star"](spark, sf_dir))

    modes = {
        "rid": {"SPARK_GRAFT_EXISTS_DEDUP_REWRITE": "1"},
        "stock": {"SPARK_GRAFT_EXISTS_DEDUP_REWRITE": "0"},
    }

    def set_mode(env: dict) -> None:
        for k, v in env.items():
            os.environ[k] = v

    res: dict[str, list[float]] = {m: [] for m in modes}
    for m, env in modes.items():          # warm each path once
        set_mode(env)
        _execute(qs[name](spark, sf_dir))
    for _ in range(iters):
        for m, env in modes.items():
            set_mode(env)
            t0 = time.perf_counter()
            _execute(qs[name](spark, sf_dir))
            res[m].append(round(time.perf_counter() - t0, 3))
    for m, v in res.items():
        print(m, v, "median", round(statistics.median(v), 3),
              "min", min(v))


if __name__ == "__main__":
    main()
