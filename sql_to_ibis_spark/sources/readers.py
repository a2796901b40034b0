"""Source readers.

The reference reads nothing itself (tests load CSVs with pandas —
``sql_to_ibis/tests/conftest.py:30-61``); our engine delegates to Spark's
native readers, which give columnar scans, predicate pushdown, column pruning
and partition pruning for free at any scale.

One real-world wrinkle handled here: parquet files with TIMESTAMP(NANOS)
columns (pandas/pyarrow default). Spark cannot represent nanosecond precision;
with ``spark.sql.legacy.parquet.nanosAsLong=true`` the column arrives as a
raw long which we convert to ``TimestampType`` JVM-side via integer division
(``div 1000`` — micros), keeping full codegen and avoiding any Python/driver
round-trip.

Opening a parquet file makes Spark infer its schema, and that is a Spark job.
The schema of a regular file is memoized per path, under the file's identity
(size, mtime, inode) and the confs that change what inference returns, so a
file read again, or read after ``register_dir`` read it, starts no job.
"""

from __future__ import annotations

import glob
import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sql_to_ibis_spark.session import map_concurrently


def _nanos_timestamp_columns(path: str) -> list[str]:
    """Column names stored as parquet TIMESTAMP(NANOS) in the file footer."""
    try:
        import pyarrow.parquet as pq

        schema = pq.read_schema(path)
    except Exception:
        return []
    out = []
    for fld in schema:
        t = fld.type
        if str(t).startswith("timestamp[ns"):
            out.append(fld.name)
    return out


# the session confs that change the schema Spark infers from a footer
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)
# realpath -> ((st_size, st_mtime_ns, st_ino, conf values), StructType).
# One entry per path: a rewritten file replaces its own entry. Shared by
# every session in the process, which the conf values in the key make safe.
# Threads of map_concurrently only get and set whole entries; two that miss
# on one path both infer it, and either result is right.
_SCHEMAS: dict[str, tuple[tuple, T.StructType]] = {}


def _read(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, with the schema Spark inferred the last
    time this regular file was read, unchanged and under the same confs,
    passed in so that no inference job runs. A directory is always
    inferred: its files can change without its own stat changing."""
    real = os.path.realpath(path)
    try:
        st = os.stat(real)
    except OSError:
        st = None
    if st is None or not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    key = (st.st_size, st.st_mtime_ns, st.st_ino,
           tuple(spark.conf.get(k) for k in _INFERENCE_CONFS))
    hit = _SCHEMAS.get(real)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[real] = (key, df.schema)
    return df


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return _engine_types(_read(spark, path), path)


def _engine_types(df: DataFrame, path: str) -> DataFrame:
    """``df``, read from the parquet at ``path``, with its timestamps in
    the types the engine surfaces."""
    probe = path
    if os.path.isdir(path):
        inner = sorted(glob.glob(os.path.join(path, "*.parquet")))
        probe = inner[0] if inner else path
    dtypes = dict(df.dtypes)
    for col in _nanos_timestamp_columns(probe):
        # only when the nanosAsLong flag actually surfaced the column as a
        # raw long — Spark-written INT96 timestamps also show as
        # timestamp[ns] in the footer but arrive as TIMESTAMP already
        if dtypes.get(col) != "bigint":
            continue
        # integer division keeps exactness (ns-since-epoch exceeds double
        # precision); timestamp_micros stays inside whole-stage codegen
        df = df.withColumn(
            col, F.timestamp_micros(F.expr(f"`{col}` div 1000"))
        )
    # tz-less parquet timestamps (timestamp[us]/[ms] without isAdjustedToUTC)
    # arrive as TIMESTAMP_NTZ, which Spark refuses for event-time watermarks
    # and which would diverge from the engine's TimestampType surface. The
    # session runs in UTC, so the NTZ→TZ cast is value-exact.
    for fld in df.schema.fields:
        if isinstance(fld.dataType, T.TimestampNTZType):
            df = df.withColumn(fld.name, F.col(fld.name).cast("timestamp"))
    return df


def read_csv(spark: SparkSession, path: str, **options) -> DataFrame:
    opts = {"header": "true", "inferSchema": "true", **options}
    return spark.read.options(**opts).csv(path)


def read_json(spark: SparkSession, path: str, **options) -> DataFrame:
    return spark.read.options(**options).json(path)


def read_orc(spark: SparkSession, path: str, **options) -> DataFrame:
    return spark.read.options(**options).orc(path)


def read_table_dir(
    spark: SparkSession, sf_dir: str, tables: list[str] | None = None
) -> dict[str, DataFrame]:
    """Load every ``<name>.parquet`` under a directory (the /root/testdata
    layout) → {name: DataFrame}, in name order, as ``read_parquet`` does.
    Schema inference, a Spark job per file, runs concurrently; the type
    fix-ups are Python-side work and stay in the caller's thread. Each
    file's schema is memoized, so ``read_parquet`` of it later starts no
    job."""
    paths: dict[str, str] = {}
    for p in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        name = os.path.splitext(os.path.basename(p))[0]
        if tables is None or name in tables:
            paths[name] = p
    frames = map_concurrently(
        spark, lambda path: _read(spark, path), paths.values())
    return {name: _engine_types(df, path)
            for (name, path), df in zip(paths.items(), frames)}
