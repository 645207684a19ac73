"""The session posture is declared once (`session.POSTURE`) and applied
identically by both entry points, and importing the package has no side
effects on the interpreter or the environment Spark workers inherit."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from financial_arbitrage_data_pipeline_spark.session import POSTURE, driver_memory

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_package_import_leaves_sys_path_and_pythonpath_alone():
    probe = (
        "import json, os, sys\n"
        "before = (list(sys.path), os.environ.get('PYTHONPATH'))\n"
        "import financial_arbitrage_data_pipeline_spark.operators\n"
        "after = (list(sys.path), os.environ.get('PYTHONPATH'))\n"
        "print(json.dumps([before, after]))\n"
    )
    # A fresh interpreter whose PYTHONPATH is only the repo root: the test
    # process's own environment may already carry changes an import made.
    out = subprocess.run(
        [sys.executable, "-c", probe],
        cwd=ROOT,
        env={**os.environ, "PYTHONPATH": ROOT},
        capture_output=True,
        text=True,
        check=True,
    )
    before, after = json.loads(out.stdout.strip().splitlines()[-1])
    assert after == before


def test_configure_matches_get_spark_posture(spark):
    """The driver's vanilla-session path (`_configure`) must end with the
    same value as the `get_spark` session for every posture key."""
    from __spark_entry__ import _configure

    vanilla = spark.newSession()
    for key in POSTURE:
        vanilla.conf.unset(key)
    _configure(vanilla)
    got = {key: vanilla.conf.get(key) for key in POSTURE}
    want = {key: spark.conf.get(key) for key in POSTURE}
    assert got == want


def test_default_driver_memory_fits_physical_ram(monkeypatch):
    """Without an override the driver heap is derived from the machine:
    never more than its physical RAM (a constant 16g exceeds it on
    smaller machines), never more than 16g."""
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    mem = driver_memory()
    assert mem.endswith("g")
    assert 1 <= int(mem[:-1]) <= 16
    assert int(mem[:-1]) * 2**30 <= phys
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert driver_memory() == "3g"
