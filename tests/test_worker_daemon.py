"""The Python worker daemon: the session's workers run it, and its patched
``zipimporter.invalidate_caches`` skips only Spark's own archives.

Also the session's default local core count."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from big_data_engineering_financial_analysis_spark import session, worker_daemon


def test_session_workers_run_the_package_daemon(spark):
    def probe(_):
        import zipimport

        yield zipimport.zipimporter.invalidate_caches.__qualname__

    got = set(spark.sparkContext.parallelize(range(4), 4).mapPartitions(probe).collect())
    assert got == {worker_daemon.invalidate_unless_spark_archive.__qualname__}


def test_workers_start_outside_the_checkout(tmp_path):
    # a driver that finds the package through sys.path alone, run from a
    # directory the workers' ``python -m`` cannot import it from
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        f"import sys; sys.path.insert(0, {root!r})\n"
        "from big_data_engineering_financial_analysis_spark import get_spark\n"
        "s = get_spark('outside', cpus=1)\n"
        "print(s.sparkContext.parallelize([1, 2], 1).map(lambda x: x + 1).collect())\n"
        "s.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "512m"
    out = subprocess.run([sys.executable, "-c", code], cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300)
    assert out.stdout.strip().splitlines()[-1:] == ["[2, 3]"], out.stderr[-2000:]


def test_import_does_not_patch_zipimport():
    assert zipimport.zipimporter.invalidate_caches is worker_daemon._invalidate_zip


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def _reloads(path, monkeypatch) -> bool:
    """Import a module from a fresh zip at ``path``, add a second module to
    the zip, run ``importlib.invalidate_caches()`` under the daemon's patch,
    and report whether the second module is importable."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_unless_spark_archive)
    first, added = f"wd_{path.parent.name}_a", f"wd_{path.parent.name}_b"
    path.parent.mkdir(parents=True, exist_ok=True)
    _write_zip(path, [first])
    monkeypatch.setattr(sys, "path", [str(path)] + sys.path)
    try:
        assert importlib.import_module(first).NAME == first
        _write_zip(path, [first, added])
        with pytest.raises(ModuleNotFoundError):
            importlib.import_module(added)
        importlib.invalidate_caches()
        try:
            return importlib.import_module(added).NAME == added
        except ModuleNotFoundError:
            return False
    finally:
        sys.path_importer_cache.pop(str(path), None)
        sys.modules.pop(first, None)
        sys.modules.pop(added, None)


def test_user_zip_outside_spark_dirs_is_still_invalidated(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_HOME", str(tmp_path / "spark"))
    assert _reloads(tmp_path / "files" / "user.zip", monkeypatch)


@pytest.mark.parametrize("archive", ["python/lib/pyspark.zip", "jars/spark-core.jar"])
def test_spark_archive_is_skipped(tmp_path, monkeypatch, archive):
    # SPARK_HOME may be a symlink to the install, while the JVM names the
    # jar by its resolved path
    (tmp_path / "spark-install").mkdir()
    (tmp_path / "spark").symlink_to(tmp_path / "spark-install")
    monkeypatch.setenv("SPARK_HOME", str(tmp_path / "spark"))
    assert not _reloads(tmp_path / "spark-install" / archive, monkeypatch)


def test_nothing_is_skipped_without_spark_home(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_HOME", raising=False)
    assert worker_daemon.spark_archive_dirs() == ()
    assert _reloads(tmp_path / "spark" / "python" / "lib" / "pyspark.zip", monkeypatch)


def test_default_cpus_are_the_usable_cores(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert session._local_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session._local_cpus() == 3
