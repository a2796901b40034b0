"""Planner switches, parsed once per query: the only ``os.environ`` reads
under ``plans/``. Each rewrite gate is a ``bool | None`` field read from
``SPARK_GRAFT_`` + the field name upper-cased: unset or ``""`` → None
(the stats decide), ``"0"`` → False (the pass is off), ``"1"`` → True
(force past the stats gate; for a pass with no force arm, the same as
unset). Any other value raises ``ValueError`` naming the variable.
"""

from __future__ import annotations

import os
from collections.abc import Mapping
from dataclasses import dataclass, fields


def env_name(field_name: str) -> str:
    return "SPARK_GRAFT_" + field_name.upper()


@dataclass(frozen=True)
class PlannerOptions:
    # passes with a force arm: =1 skips their stats gates
    constraint_rewrite: bool | None = None     # both flag-join size gates
    distinct_on_agg: bool | None = None        # heap gate; =0 window form
    eager_agg: bool | None = None
    exists_dedup_rewrite: bool | None = None
    left_fact_agg: bool | None = None
    neq_exists_collapse: bool | None = None
    prepart_agg: bool | None = None
    semi_build_keyset: bool | None = None
    semijoin_reduction: bool | None = None     # both size gates
    total_pin: bool | None = None
    # passes that can only be switched off: =1 is the same as unset
    cte_scalar_attach: bool | None = None
    eager_agg_fold_in: bool | None = None
    group_total_rewrite: bool | None = None
    grouping_preagg: bool | None = None
    parse_per_distinct: bool | None = None
    set_count_distinct: bool | None = None
    shared_window_decorrelate: bool | None = None
    stats_broadcast: bool | None = None
    view_merge: bool | None = None
    window_decorrelate: bool | None = None
    # durability of pinned frames: "checkpoint" or "persist" (Compiler._pin)
    pin_mode: str = "checkpoint"

    @classmethod
    def from_env(cls, environ: Mapping[str, str] | None = None
                 ) -> PlannerOptions:
        environ = os.environ if environ is None else environ
        gates = {}
        for f in gate_fields():
            name, raw = env_name(f), environ.get(env_name(f), "")
            if raw not in ("", "0", "1"):
                raise ValueError(f"{name} must be unset, '', '0' (off) or "
                                 f"'1' (force), got {raw!r}")
            gates[f] = None if raw == "" else raw == "1"
        pin_mode = environ.get("SPARK_GRAFT_PIN_MODE", "").lower()
        if pin_mode not in ("", "checkpoint", "persist"):
            raise ValueError(f"SPARK_GRAFT_PIN_MODE must be 'checkpoint' "
                             f"or 'persist', got {pin_mode!r}")
        return cls(pin_mode=pin_mode or "checkpoint", **gates)


def gate_fields() -> tuple[str, ...]:
    """The tri-state rewrite switches, by field name."""
    return tuple(f.name for f in fields(PlannerOptions) if f.name != "pin_mode")
