"""The engine's PySpark worker daemon (``sql_to_ibis_spark/worker_daemon.py``):
zipimport re-reads an archive only when it changed, the test session's
workers run the daemon, and a driver outside the repo can still start it."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from sql_to_ibis_spark import worker_daemon

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PATCHED = (3, 10) <= sys.version_info[:2] < (3, 13)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


@pytest.mark.skipif(not PATCHED, reason="zipimport is left alone outside 3.10-3.12")
def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"m1": "X = 1\n"})
    # put the stock zipimport back when the test ends
    monkeypatch.setattr(zipimport, "_read_directory", zipimport._read_directory)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.syspath_prepend(archive)
    worker_daemon.install()
    reads = []
    read = zipimport._read_directory

    def counted(path):
        reads.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    try:
        import m1
        assert m1.X == 1
        assert reads == [archive]           # the zipimporter's own read

        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads == [archive]           # unchanged: no re-read

        _write_zip(archive, {"m1": "X = 1\n", "m2": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads == [archive, archive]  # rewritten: read again
        import m2
        assert m2.Y == 2
    finally:
        for name in ("m1", "m2"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


@pytest.mark.skipif(not PATCHED, reason="zipimport is left alone outside 3.10-3.12")
def test_session_workers_run_the_engines_daemon(spark):
    def report(batches):
        import zipimport
        for _ in batches:
            yield pd.DataFrame(
                {"module": [zipimport.zipimporter.invalidate_caches.__module__]})

    rows = spark.range(4).mapInPandas(report, "module string").collect()
    assert rows
    assert {r.module for r in rows} == {"sql_to_ibis_spark.worker_daemon"}


FOREIGN_DRIVER = """
import sys
sys.path.insert(0, {root!r})
from sql_to_ibis_spark import get_spark

def double(batches):
    for b in batches:
        yield b * 2

spark = get_spark(app_name="foreign-cwd")
ids = sorted(r.id for r in spark.range(5).mapInPandas(double, "id long").collect())
spark.stop()
print(ids)
"""


def test_driver_outside_the_repo_starts_the_daemon(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "2"
    proc = subprocess.run(
        [sys.executable, "-c", FOREIGN_DRIVER.format(root=ROOT)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.strip().splitlines()[-1] == "[0, 2, 4, 6, 8]"
