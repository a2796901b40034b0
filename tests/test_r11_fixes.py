"""Round-11 hardening: pin-mode durability config,
JPEG bit-reader marker handling, stub fallback honoring, and the
file_prune_fraction date-probe interval fix."""

from __future__ import annotations

import datetime as _dt

import pandas as pd
import pytest

from sql_to_ibis_spark.operators import multimodal
from sql_to_ibis_spark.sources import layout
from tests.conftest import compare_frames

# the total-over-groups shape (agg_share_of_total): pins its grouped
# frame when SPARK_GRAFT_TOTAL_PIN=1
SHARE_OF_TOTAL = """
    SELECT l_returnflag,
      round(CAST(sum(l_extendedprice) AS double)
            / (SELECT sum(l_extendedprice) FROM lineitem), 6) AS revenue_share
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""

CTE_ATTACH = """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
        CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS decimal(18,4)))
             AS double) AS total_revenue
      FROM lineitem
      GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
    ORDER BY s.s_suppkey
"""


# ------------------------------------------------------------- pin mode

def test_pin_mode_persist_matches_checkpoint(engine, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_TOTAL_PIN", "1")
    monkeypatch.delenv("SPARK_GRAFT_PIN_MODE", raising=False)
    ck_df = engine.query(SHARE_OF_TOTAL)
    # checkpointed: the lineage is cut at a LogicalRDD
    assert "LogicalRDD" in ck_df._jdf.queryExecution().analyzed().toString()
    ck = ck_df.toPandas()
    ck_cte = engine.query(CTE_ATTACH).toPandas()
    monkeypatch.setenv("SPARK_GRAFT_PIN_MODE", "persist")
    ps_df = engine.query(SHARE_OF_TOTAL)
    # persisted: the pinned frame reads from the cache
    assert "InMemoryRelation" in \
        ps_df._jdf.queryExecution().optimizedPlan().toString()
    compare_frames(ps_df.toPandas(), ck, ordered=True)
    compare_frames(engine.query(CTE_ATTACH).toPandas(), ck_cte, ordered=True)


def test_pin_mode_persist_keeps_lineage(engine, monkeypatch):
    # persist keeps the full lineage: the analyzed plan of the pinned
    # branch must NOT contain a LogicalRDD (the checkpoint's lineage cut)
    monkeypatch.setenv("SPARK_GRAFT_PIN_MODE", "persist")
    plan = engine.query(CTE_ATTACH)._jdf.queryExecution() \
        .analyzed().toString()
    assert "LogicalRDD" not in plan


def test_pin_mode_invalid_raises(engine, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_PIN_MODE", "bogus")
    with pytest.raises(ValueError, match="SPARK_GRAFT_PIN_MODE"):
        engine.query(CTE_ATTACH)


# --------------------------------------------------- JPEG bit reader

def test_bitreader_marker_is_not_entropy_data():
    # 0xFF followed by a marker byte (0xD9 EOI): reads past it must pad
    # with zeros, never consume 0xD9 as literal data or IndexError
    r = multimodal._BitReader(bytes([0b10110000, 0xFF, 0xD9]))
    assert r.read(4) == 0b1011
    assert r.read(4) == 0
    for _ in range(8):
        assert r.read(8) == 0  # sticky EOS padding, no IndexError
    assert r.eos


def test_bitreader_truncated_stream_pads():
    r = multimodal._BitReader(b"\xa5")
    assert r.read(8) == 0xA5
    assert r.read(16) == 0
    assert r.eos


def test_bitreader_stuffed_ff_still_unstuffs():
    r = multimodal._BitReader(bytes([0xFF, 0x00, 0x42]))
    assert r.read(8) == 0xFF
    assert r.read(8) == 0x42
    assert not r.eos


# ------------------------------------------------ JPEG stub fallback

def test_unsupported_jpeg_stubs_when_requested(spark):
    # progressive-SOF JPEG magic: decode_jpeg_gray raises
    # NotImplementedError; with use_stub_decoder=True the row must fall
    # back to the deterministic stub instead of failing the batch
    blob = b"\xff\xd8\xff\xc2" + bytes(40)
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "blob": [blob]}))
    with pytest.raises(Exception):
        multimodal.decode_images(df).collect()
    row = multimodal.decode_images(df, use_stub_decoder=True).collect()[0]
    n = len(blob)
    assert (row.width, row.height, row.channels) == \
        (16 + n % 64, 16 + (n // 64) % 64, 3)
    assert row.mean_pixel == pytest.approx((n % 251) / 7.0)


# ------------------------------------- date-probe pruning diagnostic

def test_file_prune_fraction_date_probe_is_whole_day(spark, tmp_path):
    # one file entirely inside 2020-01-01 but starting AFTER midnight,
    # one file on 2020-01-02: a date probe for Jan 1 must count file A
    # as a hit (it contains rows on that date) and prune file B
    a = tmp_path / "a"
    b = tmp_path / "b"
    spark.createDataFrame(pd.DataFrame({"ts": pd.to_datetime(
        ["2020-01-01 10:00", "2020-01-01 23:00"])})) \
        .coalesce(1).write.parquet(str(a))
    spark.createDataFrame(pd.DataFrame({"ts": pd.to_datetime(
        ["2020-01-02 01:00", "2020-01-02 02:00"])})) \
        .coalesce(1).write.parquet(str(b))
    assert layout.file_prune_fraction(str(a), "ts", _dt.date(2020, 1, 1)) \
        == 1.0
    assert layout.file_prune_fraction(str(b), "ts", _dt.date(2020, 1, 1)) \
        == 0.0
    # datetime probes keep exact containment semantics
    assert layout.file_prune_fraction(
        str(a), "ts", _dt.datetime(2020, 1, 1, 12)) == 1.0
    assert layout.file_prune_fraction(
        str(a), "ts", _dt.datetime(2020, 1, 1, 2)) == 0.0
