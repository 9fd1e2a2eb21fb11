"""The Python-worker daemon's stat-guarded zip invalidation.

The guard unit tests call ``_guarded_invalidate_caches`` directly on a
``zipimporter`` over a zip in ``tmp_path`` (no Spark, nothing patched);
the worker tests check what the daemon installs in real Python workers.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from bigdata_hwk_spark import worker_daemon
from bigdata_hwk_spark.worker_daemon import _guarded_invalidate_caches

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
EAGER = sys.version_info < (3, 13)  # the stock method re-reads `_files`
needs_eager = pytest.mark.skipif(
    not EAGER, reason="CPython 3.13+ re-reads lazily; no guard is installed"
)


def _write_zip(path, source: str) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("guardmod.py", source)


def _exec(importer: zipimport.zipimporter) -> dict:
    """Run ``guardmod`` from ``importer`` without touching sys.modules."""
    ns: dict = {}
    exec(importer.get_code("guardmod"), ns)
    return ns


@needs_eager
def test_unchanged_archive_is_not_read_again(tmp_path):
    path = str(tmp_path / "a.zip")
    _write_zip(path, "X = 1\n")
    zi = zipimport.zipimporter(path)
    _guarded_invalidate_caches(zi)  # first call: a stock read, stamp recorded
    files = zi._files
    other = zipimport.zipimporter(path)
    for _ in range(3):
        _guarded_invalidate_caches(zi)
        _guarded_invalidate_caches(other)
    assert zi._files is files
    assert other._files is files  # importers of one archive share its read
    assert _exec(zi)["X"] == 1


@needs_eager
def test_rewritten_archive_is_read_again(tmp_path):
    path = str(tmp_path / "b.zip")
    _write_zip(path, "X = 1\n")
    zi = zipimport.zipimporter(path)
    _guarded_invalidate_caches(zi)
    before = zi._files
    _write_zip(path, "X = 2  # a longer module at the same path\nY = 3\n")
    _guarded_invalidate_caches(zi)
    assert zi._files is not before
    fresh = _exec(zipimport.zipimporter(path))
    assert (fresh["X"], fresh["Y"]) == (2, 3)
    assert _exec(zi)["X"] == 2


@needs_eager
def test_deleted_archive_matches_stock_method(tmp_path):
    guarded_path = str(tmp_path / "c.zip")
    stock_path = str(tmp_path / "d.zip")
    for p in (guarded_path, stock_path):
        _write_zip(p, "X = 1\n")
    guarded = zipimport.zipimporter(guarded_path)
    stock = zipimport.zipimporter(stock_path)
    _guarded_invalidate_caches(guarded)
    os.remove(guarded_path)
    os.remove(stock_path)
    _guarded_invalidate_caches(guarded)
    worker_daemon._stock_invalidate_caches(stock)
    assert guarded._files == stock._files == {}
    assert guarded_path not in zipimport._zip_directory_cache
    assert stock_path not in zipimport._zip_directory_cache
    assert guarded_path not in worker_daemon._READS


def test_importing_the_module_patches_nothing():
    assert zipimport.zipimporter.invalidate_caches is not _guarded_invalidate_caches


@needs_eager
def test_workers_run_the_guard(spark):
    """Each worker has the guard installed, and a repeated per-task
    ``importlib.invalidate_caches()`` re-reads none of its zips."""

    def facts(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        for _ in batches:
            installed = zipimport.zipimporter.invalidate_caches
            guard = installed.__name__ == "_guarded_invalidate_caches" and (
                installed.__code__.co_filename.endswith("worker_daemon.py")
            )
            zips = [
                f
                for f in sys.path_importer_cache.values()
                if isinstance(f, zipimport.zipimporter)
            ]
            importlib.invalidate_caches()
            ids = [id(f._files) for f in zips]
            importlib.invalidate_caches()
            kept = ids == [id(f._files) for f in zips]
            yield pd.DataFrame(
                {"guard": [guard], "kept": [kept], "n_zip": [len(zips)]}
            )

    rows = (
        spark.range(2, numPartitions=2)
        .mapInPandas(facts, "guard boolean, kept boolean, n_zip int")
        .collect()
    )
    assert len(rows) == 2
    for r in rows:
        assert r.guard
        assert r.kept
        assert r.n_zip >= 1


def test_daemon_imports_from_another_cwd(tmp_path):
    """A Spark application started outside the repository (no PYTHONPATH)
    still starts the daemon: the workers import it through
    ``spark.executorEnv.PYTHONPATH``."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from bigdata_hwk_spark.session import get_spark

        def facts(batches):
            import zipimport
            for pdf in batches:
                pdf["guard"] = (
                    zipimport.zipimporter.invalidate_caches.__name__
                    == "_guarded_invalidate_caches"
                )
                yield pdf

        spark = get_spark(master="local[1]", shuffle_partitions=1)
        rows = spark.range(1).mapInPandas(facts, "id long, guard boolean").collect()
        print("ROWS", [(r.id, r.guard) for r in rows])
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.pop("SPARK_MASTER", None)
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert f"ROWS [(0, {EAGER})]" in out.stdout


_INSTALL_PROBE = """
import importlib, sys, zipfile
repo, zpath = sys.argv[1], sys.argv[2]
sys.path.insert(0, repo)
from bigdata_hwk_spark import worker_daemon

def write(x):
    with zipfile.ZipFile(zpath, "w") as zf:
        zf.writestr("probemod.py", "X = %r\\n" % x)

write(1)
sys.path.insert(0, zpath)
import probemod
installed = worker_daemon._install_guard()
importlib.invalidate_caches()
importlib.invalidate_caches()
write("rewritten")
importlib.invalidate_caches()
del sys.modules["probemod"]
import probemod
print("PROBE", sys.version_info[:2] < (3, 13), installed, probemod.X)
"""


@pytest.mark.parametrize("interpreter", ["current", "python3.12", "python3.13"])
def test_install_step_per_interpreter(tmp_path, interpreter):
    """The daemon's install step installs the guard exactly where the stock
    method re-reads eagerly, and per-task invalidation plus a rewritten
    archive still import correctly, under each CPython found."""
    exe = sys.executable if interpreter == "current" else shutil.which(interpreter)
    if exe is None or subprocess.run([exe, "-c", ""], capture_output=True).returncode:
        pytest.skip(f"{interpreter} is not runnable here")
    out = subprocess.run(
        [exe, "-c", _INSTALL_PROBE, REPO, str(tmp_path / "probe.zip")],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    eager, installed, x = out.stdout.split()[1:]
    assert installed == eager
    assert x == "rewritten"
