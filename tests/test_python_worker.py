"""The Python-worker daemon of get_spark sessions (gearpump_spark.pyworker).

On CPython < 3.13 a zipimporter re-reads its archive's directory on
``importlib.invalidate_caches()`` only when the archive changed. get_spark
sessions fork their Python workers from that daemon, also when the driver
runs from another directory; sessions built elsewhere keep Spark's own.
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

from gearpump_spark import pyworker

DAEMON_KEY = "spark.python.daemon.module"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_archive(path, module, body):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{module}.py", body)


@pytest.fixture
def zip_reads(monkeypatch):
    """Archives passed to zipimport._read_directory, in call order; the
    stdlib invalidate_caches is put back after the test."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    reads = []
    read_directory = zipimport._read_directory

    def counted(archive):
        reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return reads


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="3.13 defers the re-read itself")
def test_unchanged_archive_is_not_read_again(tmp_path, monkeypatch, zip_reads):
    module = f"zmod_{uuid.uuid4().hex}"
    archive = str(tmp_path / "mods.zip")
    _write_archive(archive, module, "VALUE = 1\n")
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, module, raising=False)
    assert importlib.import_module(module).VALUE == 1
    assert pyworker.keep_zip_caches()

    importlib.invalidate_caches()  # the first call stamps the archive
    del zip_reads[:]
    for _ in range(3):
        importlib.invalidate_caches()
    assert archive not in zip_reads

    _write_archive(archive, module, "VALUE = 2  # rewritten\n")
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert zip_reads.count(archive) == 1
    del sys.modules[module]
    assert importlib.import_module(module).VALUE == 2


def test_stdlib_method_kept_from_3_13(monkeypatch, zip_reads):
    stdlib = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(sys, "version_info", (3, 13, 0))
    assert not pyworker.keep_zip_caches()
    assert zipimport.zipimporter.invalidate_caches is stdlib


def test_get_spark_workers_run_the_daemon(spark):
    assert spark.sparkContext.getConf().get(DAEMON_KEY) == "gearpump_spark.pyworker"

    def report(batches):
        import pandas as pd

        code = zipimport.zipimporter.invalidate_caches.__code__
        for _ in batches:
            yield pd.DataFrame(
                {"fn": [code.co_name], "file": [os.path.basename(code.co_filename)]}
            )

    rows = spark.range(0, 8, 1, 2).mapInPandas(report, "fn string, file string").collect()
    expected = (
        ("invalidate_caches", "zipimport.py")
        if sys.version_info >= (3, 13)
        else ("_invalidate_if_changed", "pyworker.py")
    )
    assert {(r.fn, r.file) for r in rows} == {expected}


def _run(probe, cwd, env):
    out = subprocess.run(
        [sys.executable, "-c", probe],
        cwd=cwd,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return out.stdout.splitlines()


def test_session_built_elsewhere_keeps_spark_daemon():
    probe = (
        "from pyspark.sql import SparkSession\n"
        "from gearpump_spark.session import ensure_runtime_conf\n"
        "from gearpump_spark.stream import GearContext\n"
        "spark = (SparkSession.builder.master('local[1]')"
        ".config('spark.driver.memory', '512m')"
        ".config('spark.ui.enabled', 'false').getOrCreate())\n"
        "ensure_runtime_conf(GearContext(spark).spark)\n"
        f"print('DAEMON', spark.sparkContext.getConf().get({DAEMON_KEY!r}, None))\n"
        "spark.stop()\n"
    )
    lines = _run(probe, ROOT, {**os.environ, "PYTHONPATH": ROOT})
    assert "DAEMON None" in lines


def test_python_udf_runs_from_another_cwd(tmp_path):
    """The daemon is imported by module name; the worker finds it from any
    cwd, with PYTHONPATH unset."""
    probe = (
        "import sys\n"
        f"sys.path.insert(0, {ROOT!r})\n"
        "from gearpump_spark.session import get_spark\n"
        "spark = get_spark('cwd-probe', cpus=1)\n"
        "df = spark.range(0, 10, 1, 2)\n"
        "print('ROWS', df.mapInPandas(lambda it: it, df.schema).count())\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "512m"
    assert "ROWS 10" in _run(probe, str(tmp_path), env)
