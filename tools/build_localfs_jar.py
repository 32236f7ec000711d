"""Build the engine's local file system jar from its Java source.

``data_engineer_capstone_spark/jvm/PosixLocalFileSystem.java`` is compiled
with ``javac --release 17`` against the installed pyspark's jars and packed
with ``jar --date`` (fixed entry times, no manifest, sorted entries), so a
rebuild with the same JDK reproduces the committed jar. Run it after
editing the source and commit both.

Usage:
    python tools/build_localfs_jar.py                   # rewrite the committed jar
    python tools/build_localfs_jar.py --out /tmp/fs.jar
"""

from __future__ import annotations

import argparse
import os
import subprocess
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_engineer_capstone_spark.session import LOCALFS_JAR  # noqa: E402

SOURCE = os.path.join(os.path.dirname(LOCALFS_JAR), "PosixLocalFileSystem.java")
JAR_DATE = "2000-01-01T00:00:00Z"


def build(out: str) -> None:
    import pyspark

    classpath = os.path.join(os.path.dirname(pyspark.__file__), "jars", "*")
    with tempfile.TemporaryDirectory() as classes:
        subprocess.run(["javac", "--release", "17", "-cp", classpath, "-d", classes, SOURCE],
                       check=True)
        entries = sorted(os.path.relpath(os.path.join(d, f), classes)
                         for d, _, files in os.walk(classes) for f in files)
        cmd = ["jar", "--create", "--no-manifest", f"--date={JAR_DATE}", "--file", out]
        for e in entries:
            cmd += ["-C", classes, e]
        subprocess.run(cmd, check=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=LOCALFS_JAR)
    build(ap.parse_args().out)


if __name__ == "__main__":
    main()
