"""The engine's Python worker daemon (``bubbles_spark._pyworker``): a
zip archive's directory is re-read only when the archive changed."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from bubbles_spark import _pyworker

eager_reread = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="CPython 3.12+ re-reads zip directories lazily; the rule is not installed",
)


def _write_zip(path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)


@eager_reread
def test_rule_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {"pyworker_zmod_a.py": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    # the archive's importer leaves the process with the test
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    assert importlib.import_module("pyworker_zmod_a").X == 1

    reads: list[str] = []
    real = zipimport._read_directory

    def spy(path):
        reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", spy)
    # restored at teardown, with the rule the test installs below
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.setattr(_pyworker, "_read_as", {})

    # the stock importer re-reads the archive on every invalidation
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == 1

    assert _pyworker.install()
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == 0

    # a rewritten archive is read again and its new member imports
    _write_zip(archive, {"pyworker_zmod_a.py": "X = 1\n", "pyworker_zmod_b.py": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == 1
    assert importlib.import_module("pyworker_zmod_b").Y == 2
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == 1
    for mod in ("pyworker_zmod_a", "pyworker_zmod_b"):
        sys.modules.pop(mod)


def test_importing_the_daemon_module_is_light():
    """The daemon forks workers from the stock daemon's state: importing
    the module loads neither pandas nor pyarrow, installs nothing and
    starts no daemon."""
    code = (
        "import json, sys, threading, zipimport\n"
        "stock = zipimport.zipimporter.invalidate_caches\n"
        "import bubbles_spark._pyworker\n"
        "print(json.dumps({\n"
        "  'heavy': sorted(m for m in sys.modules if m.split('.')[0] in ('pandas', 'pyarrow')),\n"
        "  'daemon': 'pyspark.daemon' in sys.modules,\n"
        "  'installed': zipimport.zipimporter.invalidate_caches is not stock,\n"
        "  'threads': threading.active_count(),\n"
        "}))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        capture_output=True, text=True, timeout=60, check=True,
    )
    assert json.loads(out.stdout) == {
        "heavy": [], "daemon": False, "installed": False, "threads": 1
    }


@eager_reread
def test_session_workers_run_the_rule(spark):
    def probe(batches):
        import zipimport

        import pandas as pd

        for _ in batches:
            yield pd.DataFrame({"m": [zipimport.zipimporter.invalidate_caches.__module__]})

    rows = spark.range(1, numPartitions=1).mapInPandas(probe, "m string").collect()
    assert [r.m for r in rows] == ["bubbles_spark._pyworker"]
