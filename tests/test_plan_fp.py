"""``bench._plan_fp`` gives one plan one fingerprint within a session.

Two parts of a formatted plan change from build to build while the plan
stays the same: the RDD of a checkpointed frame (a session counter, and a
call site that JVM reflection inflation rewrites after repeated reflective
calls), and lambda variable names (a JVM-wide counter). The fingerprint
must not see either.
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from bench import _plan_fp
from tests.conftest import SF_DIR


def _formatted(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_checkpointed_frame_fingerprints_the_same_across_builds(spark):
    q15 = entrymod.queries()["tpch_q15_top_supplier"]
    first = q15(spark, SF_DIR)
    assert "ExistingRDD" in _formatted(first)
    fp = _plan_fp(first)
    # enough reflective localCheckpoint calls to pass the inflation
    # threshold as well as advance the RDD counter
    for _ in range(20):
        assert _plan_fp(q15(spark, SF_DIR)) == fp


def test_lambda_variables_fingerprint_by_first_appearance(spark):
    lsh = entrymod.queries()["pipeline_dedup_minhash_lsh"]
    before = _plan_fp(lsh(spark, SF_DIR))
    # every higher-order function call draws fresh lambda variable ids
    arr = spark.range(1).select(F.array(F.lit(1), F.lit(2)).alias("a"))
    for _ in range(10):
        arr.select(F.transform("a", lambda x: x + 1),
                   F.aggregate("a", F.lit(0), lambda acc, y: acc + y))
    assert _plan_fp(lsh(spark, SF_DIR)) == before


def test_distinct_lambda_variables_stay_distinct(spark):
    arr = spark.range(1).select(F.array(F.lit(1), F.lit(2)).alias("a"),
                                F.array(F.lit(3)).alias("b"))

    def nested(pick):
        return arr.select(F.transform(
            "a", lambda x: F.transform("b", lambda x2: pick(x, x2))))

    # both variables print as x_N: the outer one and the inner one must
    # not fold into one name
    outer = nested(lambda x, x2: x)
    inner = nested(lambda x, x2: x2)
    assert _plan_fp(outer) != _plan_fp(inner)
