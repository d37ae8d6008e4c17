"""The fork-free ``file:`` file system that ``get_spark`` registers.

Without the native libhadoop, Hadoop's local file system forks ``chmod``
for every file it creates and ``readlink`` for every ``FileContext``
rename.  ``localfs/`` makes those calls in-process; these tests check that
a streaming checkpoint then forks neither, that files come out as
Hadoop's own file system writes them, that a JVM which cannot load the
jar keeps Hadoop's file system, and that the jar is built from the
sources beside it.
"""

from __future__ import annotations

import json
import os
import shutil
import stat
import subprocess
import sys
import zipfile

import pyspark
import pytest

from big_data_engineering_financial_analysis_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: Hadoop's own FileContext file system (core-default.xml's value)
STOCK_FC = "org.apache.hadoop.fs.local.LocalFs"


def _run_driver(code: str, tmp_path, env_extra: dict[str, str] | None = None, submit: bool = False) -> subprocess.CompletedProcess:
    """Run ``code`` as a driver outside the checkout: with ``python -c``,
    or with ``spark-submit``, which launches the JVM before Python."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "512m"
    # the workers, and spark-submit's driver, run this interpreter itself,
    # not a launcher script found on PATH
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    env.update(env_extra or {})
    code = f"import sys; sys.path.insert(0, {ROOT!r})\n" + code
    cmd = [sys.executable, "-c", code]
    if submit:
        (tmp_path / "driver.py").write_text(code)
        home = os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__)
        cmd = [os.path.join(home, "bin", "spark-submit"), "--master", "local[1]", "--driver-memory", "512m", str(tmp_path / "driver.py")]
    return subprocess.run(cmd, cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300)


def _logging_stand_ins(bin_dir, log) -> None:
    """``chmod`` and ``readlink`` in ``bin_dir`` that append their call to
    ``log`` and then run the real tool."""
    bin_dir.mkdir()
    for tool in ("chmod", "readlink"):
        real = shutil.which(tool)
        path = bin_dir / tool
        path.write_text(f'#!/bin/sh\necho "{tool} $*" >> "{log}"\nexec "{real}" "$@"\n')
        path.chmod(0o755)


def test_streaming_checkpoint_forks_no_chmod_or_readlink(tmp_path):
    # three micro-batches of dedup -> enrich with a file checkpoint: the
    # state store's delta files, the offset, commit and source logs
    src = tmp_path / "src"
    src.mkdir()
    for b in range(3):
        rows = [
            {"stock_symbol": s, "local_time": f"2024-01-01 00:{b * 5 + m:02d}:00", "open": 1.0,
             "high": 1.0, "low": 1.0, "close": 1.0 + m, "volume": 1.0}
            for s in ("BTCIRT", "ETHIRT") for m in range(5)
        ]
        part = src / f"part-{b}.json"
        part.write_text("".join(json.dumps(r) + "\n" for r in rows))
        os.utime(part, (1_700_000_000 + b,) * 2)  # the file source takes the oldest first
    log = tmp_path / "forks.log"
    _logging_stand_ins(tmp_path / "bin", log)
    code = (
        "from big_data_engineering_financial_analysis_spark import get_spark\n"
        "from big_data_engineering_financial_analysis_spark.sources.kafka import parse_candle_json\n"
        "from big_data_engineering_financial_analysis_spark.streaming.pipeline import dedup_stream, enrich_stream\n"
        "spark = get_spark('nofork', cpus=2)\n"
        f"raw = spark.readStream.schema('value string').option('maxFilesPerTrigger', 1).text({str(src)!r})\n"
        "q = (enrich_stream(dedup_stream(parse_candle_json(raw))).writeStream.format('memory')\n"
        f"     .queryName('nofork_out').option('checkpointLocation', {str(tmp_path / 'ckpt')!r}).start())\n"
        "q.processAllAvailable()\n"
        "batches = sum(1 for p in q.recentProgress if p['numInputRows'] > 0)\n"
        "q.stop()\n"
        "print(batches, spark.sql('SELECT count(*) FROM nofork_out').first()[0])\n"
        "spark.stop()\n"
    )
    out = _run_driver(code, tmp_path, {"PATH": f"{tmp_path / 'bin'}{os.pathsep}{os.environ['PATH']}"})
    assert out.stdout.strip().splitlines()[-1:] == ["3 30"], out.stderr[-2000:]
    assert (tmp_path / "ckpt" / "state" / "0" / "0" / ".1.delta.crc").is_file()  # checksums still written
    forks = log.read_text().splitlines() if log.exists() else []
    assert forks == [], f"{len(forks)} forks, first: {forks[:5]}"


@pytest.mark.parametrize("launch", ["vanilla-session-first", "spark-submit"])
def test_a_jvm_without_the_jar_keeps_hadoops_file_system(tmp_path, launch):
    # get_spark must not name a class that the driver JVM cannot load: one
    # that a vanilla session launched (pyspark keeps using it after that
    # session stops), or one that spark-submit launched without the jar
    vanilla = launch == "vanilla-session-first"
    code = (
        "from pyspark.sql import SparkSession\n"
        "from big_data_engineering_financial_analysis_spark import get_spark\n"
        + "SparkSession.builder.master('local[1]').config('spark.ui.enabled', 'false').getOrCreate().stop()\n" * vanilla
        + "s = get_spark('no-jar', cpus=1)\n"
        "jvm, conf = s._jvm, s._jsc.hadoopConfiguration()\n"
        "print(jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI('file:///'), conf).getClass().getName())\n"
        f"s.range(5).write.parquet({str(tmp_path / 'out')!r})\n"
        f"print(s.read.parquet({str(tmp_path / 'out')!r}).count())\n"
        "s.stop()\n"
    )
    out = _run_driver(code, tmp_path, submit=not vanilla)
    lines = out.stdout.strip().splitlines()
    assert lines[-1:] == ["5"], out.stderr[-2000:]
    assert not lines[-2].startswith("bdefa.")


def _jpath(spark, path):
    return spark._jvm.org.apache.hadoop.fs.Path(str(path))


def _stock_conf(spark):
    """The session's Hadoop conf without the shim: the service loader's
    ``file:`` FileSystem, Hadoop's ``LocalFs``."""
    conf = spark._jvm.org.apache.hadoop.conf.Configuration(spark._jsc.hadoopConfiguration())
    conf.unset("fs.file.impl")
    conf.set("fs.AbstractFileSystem.file.impl", STOCK_FC)
    return conf


@pytest.fixture(scope="module")
def file_systems(spark):
    """(shim, stock) pairs of a FileSystem and a FileContext in the session's JVM."""
    jvm = spark._jvm
    uri = jvm.java.net.URI("file:///")
    shim, stock = spark._jsc.hadoopConfiguration(), _stock_conf(spark)
    fs = (jvm.org.apache.hadoop.fs.FileSystem.newInstance(uri, shim), jvm.org.apache.hadoop.fs.FileSystem.newInstance(uri, stock))
    fc = (jvm.org.apache.hadoop.fs.FileContext.getFileContext(uri, shim), jvm.org.apache.hadoop.fs.FileContext.getFileContext(uri, stock))
    yield fs, fc
    for f in fs:
        f.close()


def test_session_registers_the_shim(spark, file_systems):
    (fs, stock_fs), (fc, stock_fc) = file_systems
    assert spark.conf.get("spark.driver.extraClassPath").split(os.pathsep)[-1] == session.LOCALFS_JAR
    assert fs.getClass().getName() == session.LOCALFS_CONF["spark.hadoop.fs.file.impl"]
    assert fc.getDefaultFileSystem().getClass().getName() == session.LOCALFS_CONF["spark.hadoop.fs.AbstractFileSystem.file.impl"]
    assert not stock_fs.getClass().getName().startswith("bdefa.")
    assert spark._jvm.java.lang.Class.forName("org.apache.hadoop.fs.LocalFileSystem").isInstance(stock_fs)
    assert stock_fc.getDefaultFileSystem().getClass().getName() == STOCK_FC


def _mode(path) -> int:
    return stat.S_IMODE(os.stat(path).st_mode)


def _fc_create(spark, fc, path):
    jvm = spark._jvm
    flags = jvm.java.util.EnumSet.of(jvm.org.apache.hadoop.fs.CreateFlag.CREATE)
    opts = spark.sparkContext._gateway.new_array(jvm.org.apache.hadoop.fs.Options.CreateOpts, 1)
    opts[0] = jvm.org.apache.hadoop.fs.Options.CreateOpts.createParent()
    out = fc.create(_jpath(spark, path), flags, opts)
    out.write(b"abc")
    out.close()


@pytest.mark.parametrize("api", ["FileSystem", "FileContext"])
def test_created_files_match_hadoops(spark, file_systems, tmp_path, api):
    # same mode bits on the file, its new parent directory and its .crc
    fss, fcs = file_systems
    for name, fs, fc in zip(("shim", "stock"), fss, fcs):
        path = tmp_path / name / "d" / "f"
        if api == "FileSystem":
            out = fs.create(_jpath(spark, path))
            out.write(b"abc")
            out.close()
        else:
            _fc_create(spark, fc, path)
    shim, stock = tmp_path / "shim" / "d", tmp_path / "stock" / "d"
    assert sorted(os.listdir(shim)) == sorted(os.listdir(stock)) == [".f.crc", "f"]
    for rel in (".", "f", ".f.crc"):
        assert _mode(shim / rel) == _mode(stock / rel), rel
    assert (shim / ".f.crc").read_bytes() == (stock / ".f.crc").read_bytes()


@pytest.mark.parametrize("mode", [0o640, 0o1777], ids=["0640", "1777"])
def test_set_permission_matches_hadoops(spark, file_systems, tmp_path, mode):
    # 0o1777: a sticky bit, which java.nio cannot set
    jvm = spark._jvm
    for name, fs in zip(("shim", "stock"), file_systems[0]):
        d = tmp_path / name
        d.mkdir()
        fs.setPermission(_jpath(spark, d), jvm.org.apache.hadoop.fs.permission.FsPermission(f"{mode:o}"))
        assert _mode(d) == mode, name


def test_set_permission_keeps_a_directorys_setgid_bit(spark, file_systems, tmp_path):
    # a numeric chmod keeps a directory's setgid bit; java.nio would clear it
    jvm = spark._jvm
    for name, fs in zip(("shim", "stock"), file_systems[0]):
        d = tmp_path / name
        d.mkdir()
        os.chmod(d, 0o2755)
        fs.setPermission(_jpath(spark, d), jvm.org.apache.hadoop.fs.permission.FsPermission("750"))
    assert _mode(tmp_path / "shim") == _mode(tmp_path / "stock")


def test_link_status_matches_hadoops(spark, file_systems, tmp_path):
    (tmp_path / "target").write_text("x")
    (tmp_path / "link").symlink_to(tmp_path / "target")
    (fs, stock_fs), (fc, stock_fc) = file_systems
    for path in (tmp_path / "link", f"file:{tmp_path / 'link'}", tmp_path / "target"):
        for shim, stock in ((fs, stock_fs), (fc, stock_fc)):
            got, want = (x.getFileLinkStatus(_jpath(spark, path)) for x in (shim, stock))
            assert got.isSymlink() == want.isSymlink(), path
            assert got.toString() == want.toString(), path
    link = fc.getFileLinkStatus(_jpath(spark, tmp_path / "link"))
    assert link.isSymlink() and link.getSymlink().toUri().getPath() == str(tmp_path / "target")
    with pytest.raises(Exception, match="FileNotFoundException"):
        fs.getFileLinkStatus(_jpath(spark, tmp_path / "missing"))


def test_rename_onto_a_file_matches_hadoops(spark, file_systems, tmp_path):
    # Hive's ProxyLocalFileSystem, the service loader's file: class in a
    # Spark build with Hive, never renames onto a file
    outcome = []
    for name, fs in zip(("shim", "stock"), file_systems[0]):
        d = tmp_path / name
        d.mkdir()
        (d / "a").write_text("a")
        (d / "b").write_text("b")
        renamed = fs.rename(_jpath(spark, d / "a"), _jpath(spark, d / "b"))
        outcome.append((renamed, {p.name: p.read_text() for p in d.iterdir()}))
    assert outcome[0] == outcome[1]


@pytest.mark.skipif(shutil.which("javac") is None, reason="no javac to rebuild the jar with")
def test_jar_is_built_from_its_sources(tmp_path):
    jar = tmp_path / "localfs.jar"
    subprocess.run([sys.executable, os.path.join(ROOT, "tools", "build_localfs_jar.py"), "--out", str(jar)], check=True, capture_output=True, timeout=300)
    with zipfile.ZipFile(jar) as built, zipfile.ZipFile(session.LOCALFS_JAR) as committed:
        classes = sorted(n for n in built.namelist() if n.endswith(".class"))
        assert classes == sorted(n for n in committed.namelist() if n.endswith(".class"))
        assert len(classes) == 4
        for name in classes:
            assert built.read(name) == committed.read(name), name
