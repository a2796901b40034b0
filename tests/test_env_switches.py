"""Every planner switch must be exercised, every switch a test or the
oracle sweep sets must still be read, and the planner reads the
environment in one place only.

The planner switches are the fields of ``PlannerOptions``. A switch no
test or oracle sweep ever sets is a plan path nobody checks: either give
it a test or delete it. A switch counts as set only where a string
literal is exactly its name (a docstring or comment mention does not
count), or where it is a key of ``FORCED_GATE_ENV``. ``OFF_GATE_ENV``
sets every switch by construction, so it does not count. Deployment
settings (core count, the Spark UI) pick no plan and are exempt. A
switch that a test sets but nothing reads any more is a stale toggle:
the test runs the default path while its name claims another.
"""

from __future__ import annotations

import ast
import dataclasses
import pathlib
import re

from sql_to_ibis_spark.plans.options import PlannerOptions, env_name

ROOT = pathlib.Path(__file__).resolve().parent.parent
NAME = re.compile(r"SPARK_GRAFT_[A-Z0-9_]+")
DEPLOYMENT = {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_UI"}
# read by tests/conftest.py itself: which test tables to use
TEST_ONLY = {"SPARK_GRAFT_TEST_SF_DIR"}
PLANNER = {env_name(f.name) for f in dataclasses.fields(PlannerOptions)}


def _literals(paths) -> set[str]:
    """``SPARK_GRAFT_*`` names that some string literal spells exactly."""
    out: set[str] = set()
    for p in paths:
        tree = ast.parse(p.read_text(encoding="utf-8"), filename=str(p))
        out |= {n.value for n in ast.walk(tree)
                if isinstance(n, ast.Constant) and isinstance(n.value, str)
                and NAME.fullmatch(n.value)}
    return out


def _setters() -> list[pathlib.Path]:
    here = pathlib.Path(__file__).resolve()
    paths = [p for p in (ROOT / "tests").rglob("*.py")
             if p.resolve() != here]
    paths.append(ROOT / "scripts" / "check_oracle.py")
    return paths


def test_every_engine_switch_is_set_somewhere():
    import __spark_entry__ as entrymod

    exercised = _literals(_setters()) | set(entrymod.FORCED_GATE_ENV)
    missing = sorted(PLANNER - exercised)
    assert not missing, (
        f"planner switches set by no string literal under tests/ or in "
        f"scripts/check_oracle.py, and not in FORCED_GATE_ENV: {missing}")


def test_every_set_switch_is_read():
    import __spark_entry__ as entrymod

    read = PLANNER | _literals([*(ROOT / "sql_to_ibis_spark").rglob("*.py"),
                                ROOT / "__spark_entry__.py",
                                ROOT / "bench.py"])
    stale = sorted((_literals(_setters()) - read - TEST_ONLY)
                   | (set(entrymod.FORCED_GATE_ENV) - PLANNER))
    assert not stale, (
        f"switches set under tests/ or in scripts/check_oracle.py that "
        f"neither the planner, the package, __spark_entry__.py nor "
        f"bench.py reads, or in FORCED_GATE_ENV and not a planner "
        f"switch: {stale}")


def _env_reads(path: pathlib.Path) -> set[str]:
    """``SPARK_GRAFT_*`` names ``path`` reads with ``os.environ.get``,
    ``os.environ[...]`` or ``os.getenv``."""

    def is_environ(n: ast.AST) -> bool:
        return isinstance(n, ast.Attribute) and n.attr == "environ"

    out: set[str] = set()
    for n in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
        key = None
        if isinstance(n, ast.Call) and n.args and isinstance(
                n.func, ast.Attribute) and (
                (n.func.attr == "get" and is_environ(n.func.value))
                or n.func.attr == "getenv"):
            key = n.args[0]
        elif isinstance(n, ast.Subscript) and is_environ(n.value):
            key = n.slice
        if isinstance(key, ast.Constant) and isinstance(key.value, str) \
                and NAME.fullmatch(key.value):
            out.add(key.value)
    return out


def test_every_entry_knob_is_set_somewhere():
    # a knob __spark_entry__.py reads but no test, script, benchmark or
    # bench.py sets is a set-up path nobody runs
    setters = [p for d in ("tests", "scripts", "perfbench")
               for p in (ROOT / d).rglob("*.py")
               if p.resolve() != pathlib.Path(__file__).resolve()]
    setters.append(ROOT / "bench.py")
    unset = sorted(_env_reads(ROOT / "__spark_entry__.py")
                   - PLANNER - _literals(setters))
    assert not unset, (
        f"__spark_entry__.py reads {unset}, which no string literal under "
        f"tests/, scripts/, perfbench/ or in bench.py sets")


def test_planner_reads_env_only_in_options():
    plans = ROOT / "sql_to_ibis_spark" / "plans"
    readers = sorted(p.name for p in plans.glob("*.py")
                     if "os.environ" in p.read_text(encoding="utf-8"))
    assert readers == ["options.py"], readers
    # outside plans/ the package names only deployment settings
    other = _literals(p for p in (ROOT / "sql_to_ibis_spark").rglob("*.py")
                      if p.parent != plans)
    assert other <= DEPLOYMENT, sorted(other - DEPLOYMENT)
