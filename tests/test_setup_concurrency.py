"""Engine set-up runs its per-table Spark work concurrently
(``session.map_concurrently``): ``register_dir``'s reads and
``analyze()``'s aggregations. These tests pin down that set-up is
otherwise unchanged: the same stats as analyzing one table at a time, the
same registration order, the caller's job group on every job and its
active session in every thread, and a defined outcome when one table's
job fails.
"""

from __future__ import annotations

import glob
import os
import shutil

import pytest

from sql_to_ibis_spark import SqlEngine
from sql_to_ibis_spark.errors import SqlEngineError
from tests.conftest import SF_DIR

SF_DIRS = [SF_DIR, os.path.join(os.path.dirname(SF_DIR), "sf0.01")]


def _stems(sf_dir: str) -> list[str]:
    return sorted(os.path.splitext(os.path.basename(p))[0]
                  for p in glob.glob(os.path.join(sf_dir, "*.parquet")))


def _stats(eng: SqlEngine) -> dict[str, tuple]:
    out = {}
    for name in eng.catalog.names():
        st = eng.catalog.get(name).stats
        out[name] = (st.rows, st.ndv, st.col_min, st.col_max, st.col_bytes)
    return out


def _wait_for_listeners(spark) -> None:
    # job-group bookkeeping reaches the status store through the
    # asynchronous listener bus
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


@pytest.mark.parametrize("sf_dir", SF_DIRS, ids=os.path.basename)
def test_analyze_all_equals_one_table_at_a_time(spark, sf_dir):
    if not os.path.isdir(sf_dir):
        pytest.skip(f"no test tables at {sf_dir}")
    together, one_by_one = SqlEngine(spark), SqlEngine(spark)
    for eng in (together, one_by_one):
        eng.register_dir(sf_dir)
        assert eng.catalog.names() == _stems(sf_dir)
    together.analyze()
    for name in one_by_one.catalog.names():
        one_by_one.analyze(name)
    got, want = _stats(together), _stats(one_by_one)
    assert list(got) == list(want)
    for name in want:
        assert got[name] == want[name], name


def test_register_dir_subset_keeps_name_order(spark):
    eng = SqlEngine(spark)
    eng.register_dir(SF_DIR, tables=["region", "customer", "nation"])
    assert eng.catalog.names() == ["customer", "nation", "region"]


def test_setup_jobs_inherit_the_callers_job_group(spark, tmp_path):
    # a copy under a new path, so no memoized schema spares the reads
    # their inference jobs
    for path in glob.glob(os.path.join(SF_DIR, "*.parquet")):
        shutil.copyfile(path, tmp_path / os.path.basename(path))
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    eng = SqlEngine(spark)
    _wait_for_listeners(spark)
    ungrouped = set(tracker.getJobIdsForGroup(None))
    try:
        sc.setJobGroup("setup_register", "register_dir")
        eng.register_dir(str(tmp_path))
        sc.setJobGroup("setup_analyze", "analyze")
        eng.analyze()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    _wait_for_listeners(spark)
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped
    # parquet schema inference: a job per file
    assert len(tracker.getJobIdsForGroup("setup_register")) \
        >= len(_stems(SF_DIR))
    # one aggregation (one or more jobs) per table
    assert len(tracker.getJobIdsForGroup("setup_analyze")) \
        >= len(eng.catalog.names())


def test_workers_run_with_the_callers_active_session(spark):
    from pyspark.sql import SparkSession

    from sql_to_ibis_spark.session import map_concurrently

    seen = map_concurrently(
        spark, lambda _: SparkSession.getActiveSession(), range(3))
    assert seen == [spark] * 3


def test_analyze_failure_names_the_table_and_spares_the_rest(spark):
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    @F.udf(T.LongType())
    def explode_at_runtime(x):
        raise ValueError("scan failed")

    eng = SqlEngine(spark)
    # the failing table comes first in catalog order: one at a time,
    # every table after it went without stats
    eng.register_temp_table(
        spark.range(5).select(explode_at_runtime("id").alias("v")), "bad")
    eng.register_temp_table(
        spark.range(7).select((F.col("id") % 3).alias("v")), "good")
    with pytest.raises(SqlEngineError, match="'bad'") as info:
        eng.analyze()
    assert info.value.__cause__ is not None
    assert eng.catalog.get("bad").stats is None
    good = eng.catalog.get("good").stats
    assert good.rows == 7 and good.ndv == {"v": 3.0}
    assert (good.col_min, good.col_max) == ({"v": 0}, {"v": 2})


def test_entry_engine_set_up_failure_raises_and_caches_nothing(
        spark, monkeypatch):
    # a failed analyze() must not leave an engine planning without stats
    import __spark_entry__ as entrymod

    def broken(self, table_name=None):
        raise SqlEngineError("analyze failed")

    monkeypatch.setattr(SqlEngine, "analyze", broken)
    monkeypatch.setattr(entrymod, "_ENGINES", {})
    with pytest.raises(SqlEngineError, match="analyze failed"):
        entrymod._engine_for(spark, SF_DIR)
    assert entrymod._ENGINES == {}
