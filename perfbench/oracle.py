"""DuckDB oracle answers for the benchmark's ops, cached per dataset.

Every entry in ``__spark_entry__.oracle_sql()`` has an independent DuckDB
query that must return the same rows as the engine. Answers are computed
once per dataset checksum and oracle query text and kept in the
benchmark's work directory, so later runs only compare, and a changed
query is answered afresh. The comparison is that of
``scripts/check_oracle.py``, whose ``normalize`` it uses: integer-vs-float
drift fails, then numbers are rounded to 6 places, timestamps to naive
microseconds, columns and rows sorted.

The one entry without an oracle query (its token ids come from a trained
BPE vocabulary DuckDB cannot reproduce) is checked by its row count: one
row per document.
"""

from __future__ import annotations

import glob
import hashlib
import os
import pickle
import subprocess
import sys

import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "scripts")]

import __spark_entry__ as entrymod  # noqa: E402
from check_oracle import normalize  # noqa: E402

ROW_COUNT_SQL = {"pipeline_bpe_token_count": "SELECT count(*) FROM documents"}


def _queries(names: list[str]) -> dict[str, str]:
    """Oracle SQL per entry, keyed by the hash of its text."""
    oracle_sql = {**entrymod.oracle_sql(), **ROW_COUNT_SQL}
    return {n: hashlib.sha256(oracle_sql[n].encode()).hexdigest()[:16]
            for n in names}


def answers(names: list[str], data_dir: str,
            cache_path: str) -> dict[str, pd.DataFrame | int]:
    """Oracle frames for ``names`` (a row count for the rows-only entry).
    Missing answers are computed by DuckDB in a child process, so its
    memory never counts toward the benchmark's own, and added to the cache
    file, which only this module writes."""
    keys = _queries(names)
    cache = _load(cache_path)
    missing = [n for n in names if keys[n] not in cache]
    if missing:
        subprocess.run([sys.executable, __file__, data_dir, cache_path,
                        *missing], check=True)
        cache = _load(cache_path)
    return {n: cache[keys[n]] for n in names}


def _load(cache_path: str) -> dict:
    if not os.path.exists(cache_path):
        return {}
    with open(cache_path, "rb") as f:
        return pickle.load(f)


def _compute(data_dir: str, cache_path: str, names: list[str]) -> None:
    import duckdb

    oracle_sql = {**entrymod.oracle_sql(), **ROW_COUNT_SQL}
    keys = _queries(names)
    cache = _load(cache_path)
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
            name = os.path.splitext(os.path.basename(path))[0]
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
        for n in names:
            if n in ROW_COUNT_SQL:
                cache[keys[n]] = con.execute(oracle_sql[n]).fetchone()[0]
            else:
                cache[keys[n]] = con.execute(oracle_sql[n]).fetchdf()
    finally:
        con.close()
    tmp = cache_path + ".tmp"
    with open(tmp, "wb") as f:
        pickle.dump(cache, f)
    os.replace(tmp, cache_path)


def mismatch(actual: pd.DataFrame,
             expected: pd.DataFrame | int) -> str | None:
    """Why ``actual`` disagrees with the oracle answer, or None."""
    if isinstance(expected, int):
        if len(actual) != expected:
            return f"rows {len(actual)} vs {expected}"
        return None
    drift = [f"{c}: {actual[c].dtype} vs {expected[c].dtype}"
             for c in set(actual.columns) & set(expected.columns)
             if {actual[c].dtype.kind, expected[c].dtype.kind} <= set("iuf")
             and (actual[c].dtype.kind == "f")
             != (expected[c].dtype.kind == "f")]
    if drift:
        return f"dtype drift: {'; '.join(sorted(drift))}"
    a, e = normalize(actual), normalize(expected)
    if list(a.columns) != list(e.columns):
        return f"columns {list(a.columns)} vs {list(e.columns)}"
    if len(a) != len(e):
        return f"rows {len(a)} vs {len(e)}"
    try:
        pd.testing.assert_frame_equal(a, e, check_dtype=False,
                                      check_exact=False, rtol=1e-5, atol=1e-7)
    except AssertionError as err:
        return f"values differ: {str(err)[:200]}"
    return None


if __name__ == "__main__":
    _compute(sys.argv[1], sys.argv[2], sys.argv[3:])
