"""Package shipping and the import graph of the streaming hot path.

Neither test needs a SparkSession: ``ship_package`` only talks to
``spark.sparkContext``, and the import guard runs in a fresh interpreter.
"""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile
import zipfile
from types import SimpleNamespace

from logspout_kinesis_tests_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_ship_package_ignores_stale_zip_at_pid_path(monkeypatch, tmp_path):
    """A zip an earlier process left under this PID's name must not be
    shipped: a recycled PID would otherwise run that process's code."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(session, "_SHIPPED", set())
    monkeypatch.setattr(session, "_ZIP_PATH", None)
    stale = tmp_path / f"logspout_kinesis_tests_spark_{os.getpid()}.zip"
    with zipfile.ZipFile(stale, "w") as z:
        z.writestr("logspout_kinesis_tests_spark/session.py", "STALE = True\n")

    shipped: list[str] = []
    sc = SimpleNamespace(applicationId="app-test", addPyFile=shipped.append)
    session.ship_package(SimpleNamespace(sparkContext=sc))
    session.ship_package(SimpleNamespace(sparkContext=sc))  # once per app

    assert len(shipped) == 1
    with open(session.__file__, "rb") as f:
        current = f.read()
    with zipfile.ZipFile(shipped[0]) as z:
        assert z.read("logspout_kinesis_tests_spark/session.py") == current


HOT_PATH = [
    "logspout_kinesis_tests_spark.streaming.sink",
    "logspout_kinesis_tests_spark.streaming.pull_source",
    "logspout_kinesis_tests_spark.streaming.pipeline",
    "logspout_kinesis_tests_spark.streaming.joins",
    "logspout_kinesis_tests_spark.operators.etl",
]

HEAVY = [
    "pandas",
    "logspout_kinesis_tests_spark.operators.multimodal",
    "logspout_kinesis_tests_spark.operators.ann",
    "logspout_kinesis_tests_spark.operators.dedup",
    "logspout_kinesis_tests_spark.streaming.batch_apply",
    "logspout_kinesis_tests_spark.streaming.stateful",
]


def test_hot_path_imports_skip_heavy_modules():
    """Python workers unpickle the sink and pull-source functions by
    reference, so whatever their modules import, every worker imports."""
    code = (
        "import importlib, sys\n"
        f"for m in {HOT_PATH!r}: importlib.import_module(m)\n"
        f"print(sorted(m for m in {HEAVY!r} if m in sys.modules))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=REPO,  # ``-c`` puts the cwd on sys.path
        capture_output=True,
        text=True,
        timeout=120,
        check=True,
    )
    assert out.stdout.strip() == "[]"
