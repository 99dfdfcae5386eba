#!/usr/bin/env python
"""Rebuild the engine's JVM jar from ``activedata_etl_spark/jvm/*.java``.

Usage: python tools/build_jvm.py

Compiles with ``javac --release 17`` against pyspark's own jars and writes
the class files to ``session.JVM_JAR`` as a stored (uncompressed) zip whose
entries are sorted and carry fixed timestamps and modes, so the same JDK
rebuilds the same bytes.  The jar is committed: sessions only put it on the
classpath, and a host with only a JRE has no ``javac``.
"""

from __future__ import annotations

import glob
import os
import subprocess
import sys
import tempfile
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from activedata_etl_spark.session import JVM_JAR  # noqa: E402


def main() -> int:
    import pyspark

    sources = sorted(glob.glob(os.path.join(os.path.dirname(JVM_JAR), "*.java")))
    classpath = os.path.join(os.path.dirname(pyspark.__file__), "jars", "*")
    with tempfile.TemporaryDirectory(prefix="build_jvm_") as out:
        subprocess.run(["javac", "--release", "17", "-cp", classpath,
                        "-d", out, *sources], check=True)
        classes = sorted(
            os.path.relpath(os.path.join(d, f), out)
            for d, _, files in os.walk(out) for f in files)
        with zipfile.ZipFile(JVM_JAR, "w", zipfile.ZIP_STORED) as jar:
            for rel in classes:
                info = zipfile.ZipInfo(rel.replace(os.sep, "/"),
                                       date_time=(1980, 1, 1, 0, 0, 0))
                info.external_attr = 0o644 << 16
                with open(os.path.join(out, rel), "rb") as f:
                    jar.writestr(info, f.read())
    print(f"wrote {JVM_JAR}: {', '.join(classes)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
