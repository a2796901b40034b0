"""Every ``SPARK_GRAFT_*`` switch the engine reads must be exercised.

A switch no test or oracle sweep ever sets is a plan path nobody checks:
either give it a test or delete it. Deployment settings (core count, the
Spark UI) pick no plan and are exempt.
"""

from __future__ import annotations

import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent
NAME = re.compile(r"\bSPARK_GRAFT_[A-Z0-9_]+\b")
DEPLOYMENT = {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_UI"}


def _names(paths) -> set[str]:
    out: set[str] = set()
    for p in paths:
        out |= set(NAME.findall(p.read_text(encoding="utf-8")))
    return out


def test_every_engine_switch_is_set_somewhere():
    read = _names((ROOT / "sql_to_ibis_spark").rglob("*.py"))
    assert read, "no SPARK_GRAFT_* names found in the package"
    here = pathlib.Path(__file__).resolve()
    users = [p for p in (ROOT / "tests").rglob("*.py")
             if p.resolve() != here]
    users.append(ROOT / "scripts" / "check_oracle.py")
    exercised = _names(users)
    missing = sorted(read - exercised - DEPLOYMENT)
    assert not missing, (
        f"switches read by the engine but set by no test and not by "
        f"scripts/check_oracle.py: {missing}")
