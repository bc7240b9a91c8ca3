"""Session defaults: what a DataFrame build costs on the driver,
measured as py4j commands, and what the Python workers can import."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest
from py4j.clientserver import JavaClient

SF0001 = "/root/testdata/sf0.001"


def test_build_sends_no_origin_commands(spark, monkeypatch):
    """``get_spark`` turns off PySpark's DataFrame origin capture, so
    building the flagship query sends no ``PySparkCurrentOrigin``
    set/clear per Column call (with it on, a cold build sends about 90)."""
    import __spark_entry__ as entry

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    sent: list[str] = []
    real = JavaClient.send_command

    def spy(self, command, *args, **kwargs):
        sent.append(command)
        return real(self, command, *args, **kwargs)

    monkeypatch.setattr(JavaClient, "send_command", spy)
    entry.flagship(spark, SF0001)
    monkeypatch.undo()
    assert sent, "the spy saw no py4j command"
    assert [c for c in sent if "PySparkCurrentOrigin" in c] == []


# A driver started outside the checkout: the checkout only on its own
# sys.path, no PYTHONPATH.  One one-task fold that names ``core``
# reports which engine modules its fresh worker imported.
_FRESH_DRIVER = """
import json, sys
sys.path.insert(0, {root!r})
from bubbles_spark.ops import core
from bubbles_spark.session import get_spark

spark = get_spark("fresh_driver", master="local[1]", shuffle_partitions=1)

def fold(pdf):
    import sys
    import pandas as pd
    core._q_halfup(pdf["v"].to_numpy())
    return pd.DataFrame({{"m": sorted(m for m in sys.modules if m.startswith("bubbles_spark"))}})

rows = core._one_task_fold(spark.range(3).selectExpr("CAST(id AS DOUBLE) AS v"), "m string", fold).collect()
print(json.dumps([r.m for r in rows]))
spark.stop()
"""


@pytest.fixture(scope="module")
def fresh_worker_modules(tmp_path_factory):
    """The engine modules a fresh worker imported to run one fold, as
    printed by a driver started from a temp directory."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _FRESH_DRIVER.format(root=root)],
        cwd=tmp_path_factory.mktemp("cwd"),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    return proc


def test_worker_imports_the_engine_from_any_directory(fresh_worker_modules):
    """``get_spark`` hands the workers the package's directory, so a
    Python task runs although neither the driver's cwd nor
    ``PYTHONPATH`` holds the checkout."""
    proc = fresh_worker_modules
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "ModuleNotFoundError" not in proc.stderr


def test_fold_naming_core_imports_no_other_op_module(fresh_worker_modules):
    """The ``ops`` package loads its modules lazily: a fresh worker
    that unpickles a fold naming ``core`` imports ``core`` alone."""
    proc = fresh_worker_modules
    assert proc.returncode == 0, proc.stderr[-3000:]
    modules = json.loads(proc.stdout.strip().splitlines()[-1])
    assert "bubbles_spark.ops.core" in modules
    assert [m for m in modules if m.startswith("bubbles_spark.ops.")] == ["bubbles_spark.ops.core"]
