"""The package's stat-gated ``zipimporter.invalidate_caches`` (Spark-free).

PySpark's worker calls ``importlib.invalidate_caches()`` before every task;
importing this package makes that call re-read a zip archive on
``sys.path`` only when the archive changed on disk. These tests drive the
fix with a temporary zip holding a package, and pin the route by which it
reaches a Python worker: unpickling an engine UDF imports the package.
"""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import uuid
import zipfile
import zipimport

import pytest

import kafka2iceberg_spark
from kafka2iceberg_spark import _stat_gated_zip_invalidate

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GATED = sys.version_info < (3, 12)


def _write_zip(path, pkg: str, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{pkg}/__init__.py", "")
        for name, src in modules.items():
            zf.writestr(f"{pkg}/{name}.py", src)


@pytest.mark.skipif(not GATED, reason="zipimport re-reads lazily on >= 3.12")
def test_unchanged_zip_is_not_reread_and_changed_zip_is(tmp_path, monkeypatch):
    pkg = f"zpkg_{uuid.uuid4().hex}"
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, pkg, {"a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module(f"{pkg}.a").X == 1
    importlib.invalidate_caches()  # each importer's first call reads

    reads = []
    real = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()
    assert archive not in reads

    st = os.stat(archive)
    _write_zip(archive, pkg, {"a": "X = 1\n", "b": "Y = 2\n"})
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    importlib.invalidate_caches()
    assert archive in reads
    assert importlib.import_module(f"{pkg}.b").Y == 2
    for name in (f"{pkg}.a", f"{pkg}.b", pkg):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)


def test_installer_is_idempotent():
    installed = zipimport.zipimporter.invalidate_caches
    assert getattr(installed, "stat_gated", False) == GATED
    _stat_gated_zip_invalidate()
    kafka2iceberg_spark._stat_gated_zip_invalidate()
    assert zipimport.zipimporter.invalidate_caches is installed


def test_installer_does_nothing_on_python_312(monkeypatch):
    original = getattr(
        zipimport.zipimporter.invalidate_caches,
        "__wrapped__",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    monkeypatch.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    _stat_gated_zip_invalidate()
    assert zipimport.zipimporter.invalidate_caches is original


def test_unpickling_an_engine_udf_installs_the_fix():
    """A worker that has not imported the package gets the fix from the
    first engine UDF it unpickles: the pairs group function's closure
    resolves the package's module-level helpers by reference."""
    from pyspark import cloudpickle

    from kafka2iceberg_spark import state

    payload = cloudpickle.dumps(state._pair_group_fn(1_800_000))
    code = (
        "import pickle, sys, zipimport\n"
        "assert 'kafka2iceberg_spark' not in sys.modules\n"
        "pickle.loads(sys.stdin.buffer.read())\n"
        "print(getattr(zipimport.zipimporter.invalidate_caches,"
        " 'stat_gated', False))\n"
    )
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        input=payload,
        capture_output=True,
        env=env,
        check=True,
    )
    assert out.stdout.decode().split() == [str(GATED)]
