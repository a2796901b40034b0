"""Every ``SPARK_GRAFT_*`` switch the engine reads must be exercised,
and every switch a test or the oracle sweep sets must still be read.

A switch no test or oracle sweep ever sets is a plan path nobody checks:
either give it a test or delete it. Deployment settings (core count, the
Spark UI) pick no plan and are exempt. A switch that a test sets but
nothing reads any more is a stale toggle: the test runs the default path
while its name claims another.
"""

from __future__ import annotations

import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent
NAME = re.compile(r"\bSPARK_GRAFT_[A-Z0-9_]+\b")
DEPLOYMENT = {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_UI"}
# read by tests/conftest.py itself: which test tables to use
TEST_ONLY = {"SPARK_GRAFT_TEST_SF_DIR"}


def _names(paths) -> set[str]:
    out: set[str] = set()
    for p in paths:
        out |= set(NAME.findall(p.read_text(encoding="utf-8")))
    return out


def _setters() -> list[pathlib.Path]:
    here = pathlib.Path(__file__).resolve()
    paths = [p for p in (ROOT / "tests").rglob("*.py")
             if p.resolve() != here]
    paths.append(ROOT / "scripts" / "check_oracle.py")
    return paths


def _package_names() -> set[str]:
    return _names((ROOT / "sql_to_ibis_spark").rglob("*.py"))


def test_every_engine_switch_is_set_somewhere():
    import __spark_entry__ as entrymod

    read = _package_names()
    assert read, "no SPARK_GRAFT_* names found in the package"
    exercised = _names(_setters()) | set(entrymod.FORCED_GATE_ENV)
    missing = sorted(read - exercised - DEPLOYMENT)
    assert not missing, (
        f"switches read by the engine but set by no test, not by "
        f"scripts/check_oracle.py and not in FORCED_GATE_ENV: {missing}")


def test_every_set_switch_is_read():
    import __spark_entry__ as entrymod

    package = _package_names()
    read = package | _names([ROOT / "__spark_entry__.py", ROOT / "bench.py"])
    stale = sorted((_names(_setters()) - read - TEST_ONLY)
                   | (set(entrymod.FORCED_GATE_ENV) - package))
    assert not stale, (
        f"switches named under tests/ or in scripts/check_oracle.py that "
        f"neither the package, __spark_entry__.py nor bench.py reads, or "
        f"in FORCED_GATE_ENV and not read by the package: {stale}")
