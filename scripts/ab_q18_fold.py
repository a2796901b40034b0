"""q18 IN-keyset fold A/B: the stock semi join plan (two fact scans)
vs the eager-aggregation fold (one fact scan, HAVING on the partial).

    python scripts/ab_q18_fold.py <sf_dir> [trials]

Interleaves the two modes in one session so machine drift hits both
sides equally; prints per-mode medians and the fact-scan counts.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sql_to_ibis_spark import SqlEngine
from sql_to_ibis_spark.session import get_spark

Q18 = (
    "SELECT c_name, o.o_orderkey, o_totalprice, "
    "CAST(sum(CAST(l_quantity AS decimal(18,2))) AS double) AS total_qty "
    "FROM customer c "
    "JOIN orders o ON c.c_custkey = o.o_custkey "
    "JOIN lineitem l ON o.o_orderkey = l.l_orderkey "
    "WHERE o.o_orderkey IN (SELECT l_orderkey FROM lineitem "
    "GROUP BY l_orderkey HAVING sum(l_quantity) > 200) "
    "GROUP BY c_name, o.o_orderkey, o_totalprice "
    "ORDER BY o_totalprice DESC, o.o_orderkey LIMIT 100")


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    trials = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    spark = get_spark(app_name="ab_q18_fold")
    eng = SqlEngine(spark)
    eng.register_dir(sf_dir)
    eng.analyze()

    def run(fold: bool) -> float:
        os.environ["SPARK_GRAFT_EAGER_AGG_FOLD_IN"] = "1" if fold else "0"
        t0 = time.perf_counter()
        eng.query(Q18).collect()
        return time.perf_counter() - t0

    for fold in (False, True):
        os.environ["SPARK_GRAFT_EAGER_AGG_FOLD_IN"] = "1" if fold else "0"
        n = eng.query(Q18)._jdf.queryExecution().executedPlan() \
            .toString().count("/lineitem")
        print(f"fold={fold}: {n} lineitem scans")
    run(False)
    run(True)  # warm both paths
    offs, ons = [], []
    for _ in range(trials):
        offs.append(run(False))
        ons.append(run(True))
    print(f"stock  median {statistics.median(offs):.3f}s  {offs}")
    print(f"folded median {statistics.median(ons):.3f}s  {ons}")


if __name__ == "__main__":
    main()
