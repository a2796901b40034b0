"""Simulates the driver's correctness gate: runs every queries() entry and
its oracle_sql() side-by-side at a given SF, compares row count + column
names + order-insensitive values. Usage:

    python scripts/check_oracle.py [--force-gates | --gates-off] [sf_dir] [name_filter]

``--force-gates`` forces every stats-gated rewrite open on inflated stats;
``--gates-off`` switches every rewrite off on the normal engine.
"""

from __future__ import annotations

import glob
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

import __spark_entry__ as entrymod
from sql_to_ibis_spark.session import get_spark


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    out = df.copy()
    for col in out.columns:
        s = out[col]
        if pd.api.types.is_integer_dtype(s) or pd.api.types.is_float_dtype(s):
            out[col] = s.astype("float64").round(6)
        elif pd.api.types.is_datetime64_any_dtype(s):
            out[col] = pd.to_datetime(s).dt.tz_localize(None).astype("datetime64[us]")
        elif s.dtype == object and len(s.dropna()) and isinstance(s.dropna().iloc[0], (int, float)):
            out[col] = s.astype("float64").round(6)
    out = out[sorted(out.columns)]
    if len(out):
        out = out.sort_values(by=list(out.columns), na_position="last",
                              kind="mergesort")
    return out.reset_index(drop=True)


def main() -> int:
    flags = {"--force-gates", "--gates-off"}
    args = [a for a in sys.argv[1:] if a not in flags]
    force_gates = "--force-gates" in sys.argv[1:]
    if "--gates-off" in sys.argv[1:]:
        if force_gates:
            sys.exit("--force-gates and --gates-off are exclusive")
        # every rewrite pass off: the plan each entry gets with no
        # rewrite at all must match the oracle too
        os.environ.update(entrymod.OFF_GATE_ENV)
    sf_dir = args[0] if len(args) > 0 else "/root/testdata/sf0.01"
    name_filter = args[1] if len(args) > 1 else ""
    spark = get_spark(app_name="oracle_check")
    if force_gates:
        # run the ENTIRE suite with every stats-dependent rewrite gate
        # forced open (entrymod.FORCED_GATE_ENV plus stats inflated to
        # 10M rows / NDV 100): stats must only ever pick the plan, so
        # every entry must still match the oracle. This is the sweep
        # that would have caught the r7 gate-open-only defects.
        os.environ.update(entrymod.FORCED_GATE_ENV)
        entrymod._ENGINES[entrymod._engine_key(spark, sf_dir)] = \
            entrymod.forced_gate_engine(spark, sf_dir)
    con = duckdb.connect()
    for path in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        name = os.path.splitext(os.path.basename(path))[0]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = n_rowsonly = 0
    width_drift: set[str] = set()
    for name, fn in qs.items():
        if name_filter and name_filter not in name:
            continue
        try:
            actual = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: engine error: {str(e)[:200]}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"rows {name}: {len(actual)} rows (no oracle)")
            n_rowsonly += 1
            continue
        try:
            expected = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {str(e)[:200]}")
            n_fail += 1
            continue
        # The driver hashes values WITH their dtypes, so an int64-vs-float64
        # (e.g. Spark BIGINT vs DuckDB HUGEINT) mismatch fails its gate even
        # when values are equal. Flag dtype-kind drift before normalizing.
        kind_drift = []
        for col in set(actual.columns) & set(expected.columns):
            ka = actual[col].dtype.kind
            ke = expected[col].dtype.kind
            if {ka, ke} <= {"i", "u", "f"} and (ka in "iu") != (ke in "iu"):
                kind_drift.append(f"{col}: engine {actual[col].dtype} vs "
                                  f"oracle {expected[col].dtype}")
            elif ka in "iu" and ke in "iu" and \
                    actual[col].dtype.itemsize != expected[col].dtype.itemsize:
                # width-only drift (INT32 vs BIGINT): the driver's hash is
                # width-INSENSITIVE — CORRECTNESS_r04 gave hash_match=true to
                # window_named / pipeline_text_token_stats / _bpe_tokens /
                # _quality_score, all of which differ from DuckDB only in
                # int width. Warn (schema hygiene) but do not fail.
                print(f"note {name}: int-width drift ({col}: engine "
                      f"{actual[col].dtype} vs oracle {expected[col].dtype})"
                      f" — driver hash ignores width")
                width_drift.add(name)
        if kind_drift:
            print(f"FAIL {name}: dtype drift (driver hash would differ): "
                  f"{'; '.join(kind_drift)}")
            n_fail += 1
            continue
        a, e = normalize(actual), normalize(expected)
        if list(a.columns) != list(e.columns):
            print(f"FAIL {name}: columns {list(a.columns)} vs {list(e.columns)}")
            n_fail += 1
            continue
        if len(a) != len(e):
            print(f"FAIL {name}: rows {len(a)} vs {len(e)}")
            n_fail += 1
            continue
        try:
            pd.testing.assert_frame_equal(a, e, check_dtype=False,
                                          check_exact=False, rtol=1e-5, atol=1e-7)
            n_pass += 1
        except AssertionError as err:
            print(f"FAIL {name}: values differ: {str(err)[:300]}")
            n_fail += 1
    # width-drifting entries are tracked in the summary so a driver-side
    # hash mismatch can be correlated instantly (revert the note to FAIL if
    # any width-drifting entry is ever recorded hash_match=false)
    print(f"\n== {n_pass} pass, {n_rowsonly} rows-only, {n_fail} fail, "
          f"{len(width_drift)} width-drift ==")
    if width_drift:
        print("width-drift entries:", ", ".join(sorted(width_drift)))
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
