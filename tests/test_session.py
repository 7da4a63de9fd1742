"""Spark-free checks of the session factory's driver heap default and of
the lazy package imports a forked Python worker pays for."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

from btrblocks_spark import session

_GIB = 1 << 30


def test_default_driver_memory_is_half_of_ram_capped_at_16g():
    assert session.default_driver_memory(15 * _GIB) == "7680m"
    assert session.default_driver_memory(4 * _GIB) == "2048m"
    assert session.default_driver_memory(32 * _GIB) == "16384m"
    assert session.default_driver_memory(256 * _GIB) == "16384m"


def test_default_driver_memory_reads_physical_pages(monkeypatch):
    pages = {"SC_PHYS_PAGES": 3 * _GIB // 4096, "SC_PAGE_SIZE": 4096}
    monkeypatch.setattr(session.os, "sysconf", pages.__getitem__)
    assert session.default_driver_memory() == "1536m"

    def unavailable(name):
        raise ValueError(name)

    monkeypatch.setattr(session.os, "sysconf", unavailable)
    assert session.default_driver_memory() == "16384m"


def test_driver_memory_override_wins(monkeypatch):
    """``SPARK_GRAFT_DRIVER_MEM`` is passed to the builder as is; without
    it the sized default is. The builder is captured, no JVM starts."""
    seen = {}

    class Builder:
        def master(self, _m):
            return self

        def appName(self, _n):
            return self

        def config(self, key, value):
            seen[key] = value
            return self

        def getOrCreate(self):
            return None

    class FakeSession:
        builder = Builder()

    monkeypatch.setattr(session, "SparkSession", FakeSession)
    monkeypatch.setattr(session, "default_driver_memory", lambda: "1234m")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    session.get_spark(cpus=2)
    assert seen["spark.driver.memory"] == "3g"
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM")
    session.get_spark(cpus=2)
    assert seen["spark.driver.memory"] == "1234m"


def test_datasource_import_loads_no_writer_and_no_pandas():
    """Unpickling ``BtrBlocksDataSource`` in a worker imports its module;
    the lazy package ``__init__``s keep that from importing the writer,
    the other engine modules and pandas."""
    code = (
        "import sys\n"
        "import btrblocks_spark.sources.btr_datasource\n"
        "print(sorted(m for m in ('pandas', 'btrblocks_spark.format.writer',"
        " 'btrblocks_spark.tables') if m in sys.modules))\n"
        "import btrblocks_spark.sources as s, btrblocks_spark.format as f\n"
        "print(s.BtrBlocksDataSource.name(), f.write_table.__module__)\n"
    )
    repo = str(Path(__file__).resolve().parents[1])
    env = {**os.environ, "PYTHONPATH": repo}
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=repo, env=env,
        capture_output=True, text=True, check=True,
    ).stdout.splitlines()
    assert out == ["[]", "btrblocks btrblocks_spark.format.writer"]
