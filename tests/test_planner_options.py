"""Strict parsing of the planner switches (no Spark needed): every gate
field reads ``""``/``"0"``/``"1"`` as auto/off/force and rejects
anything else by name, and ``PIN_MODE`` accepts only its two modes."""

from __future__ import annotations

import pytest

from sql_to_ibis_spark.plans.options import (
    PlannerOptions,
    env_name,
    gate_fields,
)


@pytest.mark.parametrize("field", gate_fields())
@pytest.mark.parametrize("raw,want", [("", None), ("0", False), ("1", True)])
def test_gate_parses(field, raw, want):
    opts = PlannerOptions.from_env({env_name(field): raw})
    assert getattr(opts, field) is want
    # no other field moves
    others = {f: getattr(opts, f) for f in gate_fields() if f != field}
    assert set(others.values()) == {None}


@pytest.mark.parametrize("field", gate_fields())
@pytest.mark.parametrize("raw", ["yes", "2", "true"])
def test_gate_rejects_other_values(field, raw):
    with pytest.raises(ValueError, match=env_name(field)):
        PlannerOptions.from_env({env_name(field): raw})


def test_unset_is_all_auto():
    assert PlannerOptions.from_env({}) == PlannerOptions()
    assert all(getattr(PlannerOptions(), f) is None for f in gate_fields())


def test_pin_mode():
    assert PlannerOptions.from_env({}).pin_mode == "checkpoint"
    assert PlannerOptions.from_env(
        {"SPARK_GRAFT_PIN_MODE": "Persist"}).pin_mode == "persist"
    with pytest.raises(ValueError, match="SPARK_GRAFT_PIN_MODE"):
        PlannerOptions.from_env({"SPARK_GRAFT_PIN_MODE": "bogus"})


def test_options_are_frozen():
    with pytest.raises(AttributeError):
        PlannerOptions().eager_agg = True
