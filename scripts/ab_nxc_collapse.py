"""A/B: q21's <>-EXISTS family — pinned group collapse
(SPARK_GRAFT_NEQ_EXISTS_COLLAPSE default) vs the stock semi/anti-join
plan (=0). The env var is read at compile time, so both variants coexist
in one session (interleaved; machine drift hits both sides).

    python scripts/ab_nxc_collapse.py <sf_dir> [trials] [names...]
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from sql_to_ibis_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "localdata/sf10"
    trials = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    names = sys.argv[3].split(",") if len(sys.argv) > 3 else [
        "tpch_q21_suppliers_kept_waiting"]
    spark = get_spark(app_name="ab_nxc_collapse")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    def run(name: str, collapse: bool) -> float:
        if collapse:
            os.environ.pop("SPARK_GRAFT_NEQ_EXISTS_COLLAPSE", None)
        else:
            os.environ["SPARK_GRAFT_NEQ_EXISTS_COLLAPSE"] = "0"
        spark.sparkContext.setJobDescription(f"{name} collapse={collapse}")
        t0 = time.perf_counter()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        spark.sparkContext.setJobDescription(None)
        return dt

    for name in names:
        run(name, True)
        run(name, False)
        on, off = [], []
        for _ in range(trials):
            on.append(run(name, True))
            off.append(run(name, False))
        print(f"{name}: collapse={statistics.median(on):.3f}s "
              f"window={statistics.median(off):.3f}s   "
              f"on={[round(x, 2) for x in on]} "
              f"off={[round(x, 2) for x in off]}", flush=True)


if __name__ == "__main__":
    main()
