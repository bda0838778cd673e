"""Build file of the benchmark: compiles the program (``src/main/scala``)
together with the benchmark's own harness (``perfbench/scala``) into
``.bench_build/classes`` with the Scala compiler that ships in Spark's
jar directory, and packs them into ``.bench_build/program.jar`` (the
JVM's class-data sharing archives classes from jars only). The build is
skipped when a stamp of every source file's bytes matches the last
successful build.

Usage (from the repository root):  python3 perfbench/build.py
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "scala")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")


def build_dir():
    return os.path.join(ROOT, ".bench_build")


def jar_path():
    return os.path.join(build_dir(), "program.jar")


def archive_path():
    """The class-data sharing archive run.py dumps for this build."""
    return os.path.join(build_dir(), "classes.jsa")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    the program's own build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        m = None
        if os.path.exists(sbt):
            with open(sbt) as f:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if not m:
            raise SystemExit("no Spark jars: set SPARK_HOME or declare unmanagedBase in build.sbt")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        raise SystemExit(f"no Spark jars under {jars}")
    return jars


def _sources():
    files = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"missing source directory {os.path.relpath(d, ROOT)}")
        for dirpath, _, names in os.walk(d):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    if not files:
        raise SystemExit("no Scala sources to build")
    return sorted(files)


def _stamp(files):
    h = hashlib.sha256()
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def ensure(log=sys.stderr):
    """Compile if needed; return the classpath entries of the program,
    every jar named in a fixed order (a class-data sharing archive holds
    only for the exact classpath it was dumped with)."""
    jars = spark_jars()
    files = _sources()
    out = build_dir()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    stamp = _stamp(files)
    cp = [jar_path()] + sorted(glob.glob(os.path.join(jars, "*.jar")))
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp and os.path.exists(jar_path()):
                return cp
    for stale in (stamp_file, jar_path(), archive_path(), archive_path() + ".failed"):
        if os.path.exists(stale):
            os.remove(stale)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    args_file = os.path.join(out, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(files) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", os.path.join(jars, "*"), "@" + args_file]
    print(f"[perfbench] compiling {len(files)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit(f"compilation failed (exit {r.returncode})")
    if os.path.isdir(RESOURCES):
        shutil.copytree(RESOURCES, classes, dirs_exist_ok=True)
    with zipfile.ZipFile(jar_path() + ".tmp", "w", zipfile.ZIP_DEFLATED) as z:
        for dirpath, _, names in sorted(os.walk(classes)):
            if dirpath != classes:
                z.write(dirpath, os.path.relpath(dirpath, classes) + "/")
            for n in sorted(names):
                p = os.path.join(dirpath, n)
                z.write(p, os.path.relpath(p, classes))
    os.replace(jar_path() + ".tmp", jar_path())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


if __name__ == "__main__":
    ensure()
    print(jar_path())
