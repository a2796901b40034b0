"""``read_parquet`` memoizes the schema Spark infers from a parquet file, so
reading a file again starts no schema-inference job. The memo is keyed by
the file's identity and the confs that change inference: a rewritten file,
or another value of one of those confs, is inferred again, and a directory
is inferred on every read.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from bench import _plan_fp
from sql_to_ibis_spark.sources.readers import read_parquet
from tests.conftest import SF_DIR


def _jobs(spark, group: str, fn):
    """``fn()``'s result and the number of Spark jobs it started."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job-group bookkeeping reaches the status store through the
    # asynchronous listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_read_of_unchanged_file_starts_no_job(spark, tmp_path):
    # a copy under a new path: no earlier read has filled the memo for it
    path = str(tmp_path / "events.parquet")
    shutil.copyfile(os.path.join(SF_DIR, "events.parquet"), path)
    inferred, first = _jobs(spark, "memo_first",
                            lambda: read_parquet(spark, path))
    memoized, second = _jobs(spark, "memo_second",
                             lambda: read_parquet(spark, path))
    assert first >= 1
    assert second == 0
    assert memoized.schema == inferred.schema
    assert dict(memoized.dtypes)["ts"] == "timestamp"
    assert _plan_fp(memoized) == _plan_fp(inferred)
    assert memoized.count() == inferred.count()


def test_file_rewritten_in_place_is_read_with_its_new_schema(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    assert read_parquet(spark, path).dtypes == [("a", "bigint")]
    pq.write_table(pa.table({"b": ["x", "y"], "c": [0.5, 1.5]}), path)
    df = read_parquet(spark, path)
    assert df.dtypes == [("b", "string"), ("c", "double")]
    assert sorted(r.b for r in df.collect()) == ["x", "y"]


def test_inference_conf_change_infers_again(spark, tmp_path):
    path = str(tmp_path / "bin.parquet")
    pq.write_table(pa.table({"k": pa.array([b"ab", b"cd"], pa.binary())}),
                   path)
    assert read_parquet(spark, path).dtypes == [("k", "binary")]
    key = "spark.sql.parquet.binaryAsString"
    spark.conf.set(key, "true")
    try:
        df, jobs = _jobs(spark, "memo_conf",
                         lambda: read_parquet(spark, path))
    finally:
        spark.conf.unset(key)
    assert jobs >= 1
    assert df.dtypes == [("k", "string")]
    assert read_parquet(spark, path).dtypes == [("k", "binary")]


def test_directory_is_inferred_on_every_read(spark, tmp_path):
    table = pa.table({"a": [1, 2, 3]})
    pq.write_table(table, str(tmp_path / "part-0.parquet"))
    pq.write_table(table, str(tmp_path / "part-1.parquet"))
    for group in ("memo_dir_first", "memo_dir_second"):
        df, jobs = _jobs(spark, group,
                         lambda: read_parquet(spark, str(tmp_path)))
        assert jobs >= 1
        assert df.count() == 6
