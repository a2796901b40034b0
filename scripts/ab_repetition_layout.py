"""A/B: repetition_signals exchange strategies at scale (r13 mandate #6).

Modes, same session interleaved:
  docpart   — shipped default: ONE corpus exchange (repartition doc_id)
  bucketed  — documents snapshot bucketed on doc_id + plan="nopart":
              the scan reports HashPartitioning(doc_id), so the operator
              plans with ZERO exchanges (the spill-killer for sf100).

Usage: python scripts/ab_repetition_layout.py [sf_dir] [iters] [buckets]
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sql_to_ibis_spark.operators import text
from sql_to_ibis_spark.session import get_spark
from sql_to_ibis_spark.sources.readers import read_parquet


def _execute(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/localdata/sf10"
    iters = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    buckets = int(sys.argv[3]) if len(sys.argv) > 3 else 32
    spark = get_spark(app_name="ab_repetition_layout")
    spark.sparkContext.setLogLevel("ERROR")
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")

    tag = sf_dir.rstrip("/").split("/")[-1]
    snap = f"documents_bucketed_{tag}_{buckets}"
    if not spark.catalog.tableExists(snap):
        # in-memory catalog: table metadata dies with the session but the
        # warehouse directory persists — clear a stale location first
        import shutil
        loc = os.path.join("spark-warehouse", snap)
        shutil.rmtree(loc, ignore_errors=True)
        (docs.repartition(buckets, "doc_id").write
         .bucketBy(buckets, "doc_id").sortBy("doc_id")
         .format("parquet").mode("overwrite").saveAsTable(snap))
    bdocs = spark.table(snap)

    runs = {
        "docpart": lambda: text.repetition_signals(docs, plan="docpart"),
        "bucketed": lambda: text.repetition_signals(bdocs, plan="nopart"),
    }
    # sanity: identical results across modes (sorted row sample hash)
    base = runs["docpart"]().orderBy("doc_id").limit(2000).collect()
    for name, fn in runs.items():
        got = fn().orderBy("doc_id").limit(2000).collect()
        assert got == base, f"{name} mismatch"
    print("modes agree on 2000-row prefix", flush=True)
    nexch = {}
    for name, fn in runs.items():
        plan = fn()._jdf.queryExecution().executedPlan().toString()
        nexch[name] = plan.count("Exchange") - plan.count("BroadcastExchange")
    print("exchanges:", nexch, flush=True)

    res = {n: [] for n in runs}
    for n, fn in runs.items():
        _execute(fn())
    for _ in range(iters):
        for n, fn in runs.items():
            t0 = time.perf_counter()
            _execute(fn())
            res[n].append(round(time.perf_counter() - t0, 3))
    for n, v in res.items():
        print(n, v, "median", round(statistics.median(v), 3))


if __name__ == "__main__":
    main()
