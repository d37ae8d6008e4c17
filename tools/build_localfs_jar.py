"""Rebuild the package's fork-free ``file:`` file system jar from its sources.

Usage::

    python tools/build_localfs_jar.py              # rewrite the package's jar
    python tools/build_localfs_jar.py --out X.jar  # write it elsewhere

Compiles ``localfs/src`` with ``javac --release 17`` against the jars of
the Spark install (``$SPARK_HOME``, else pyspark's own) and stores the
class files in a jar with fixed timestamps: the same compiler gives the
same bytes.  ``session.get_spark`` puts the jar on the driver's class path.
"""

from __future__ import annotations

import argparse
import os
import subprocess
import sys
import tempfile
import zipfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from big_data_engineering_financial_analysis_spark.session import LOCALFS_JAR  # noqa: E402

SRC = Path(LOCALFS_JAR).parent / "src"

#: every entry's timestamp: the earliest a zip can hold
ZIP_EPOCH = (1980, 1, 1, 0, 0, 0)

MANIFEST = b"Manifest-Version: 1.0\r\nCreated-By: tools/build_localfs_jar.py\r\n\r\n"


def spark_jars() -> str:
    import pyspark

    return os.path.join(os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__), "jars", "*")


def compile_classes() -> dict[str, bytes]:
    """The class files of ``SRC``, by their jar entry name."""
    sources = sorted(str(p) for p in SRC.rglob("*.java"))
    with tempfile.TemporaryDirectory() as out:
        subprocess.run(
            ["javac", "--release", "17", "-nowarn", "-cp", spark_jars(), "-d", out, *sources],
            check=True,
        )
        return {p.relative_to(out).as_posix(): p.read_bytes() for p in sorted(Path(out).rglob("*.class"))}


def write_jar(classes: dict[str, bytes], path: str) -> None:
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as jar:
        for name, data in [("META-INF/MANIFEST.MF", MANIFEST), *sorted(classes.items())]:
            jar.writestr(zipfile.ZipInfo(name, ZIP_EPOCH), data, zipfile.ZIP_DEFLATED)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", default=LOCALFS_JAR, help="jar to write (default: the package's)")
    args = ap.parse_args(argv)
    classes = compile_classes()
    write_jar(classes, args.out)
    print(f"{args.out}: {len(classes)} classes")
    return 0


if __name__ == "__main__":
    sys.exit(main())
