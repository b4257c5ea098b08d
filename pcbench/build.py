"""Build file of the benchmark: compiles the program's sources and the
benchmark harness from source with scalac, against the Spark jars the
program's own build uses.

The classes land in pcbench/build/<key>/, where <key> hashes every
source file, so a checkout builds once and rebuilds when any source
changes. Run it alone with `python3 pcbench/build.py`.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
HARNESS_SRC = BENCH / "src"
BUILD = BENCH / "build"


def spark_jars():
    """SPARK_HOME/jars, else the unmanagedBase of the program's build.sbt."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
    if not m:
        raise SystemExit("cannot locate the Spark jars: set SPARK_HOME")
    return Path(m.group(1))


def sources():
    return sorted(PROGRAM_SRC.rglob("*.scala")) + sorted(HARNESS_SRC.rglob("*.scala"))


def source_key():
    h = hashlib.sha256()
    for f in sources() + [Path(__file__)]:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def classpath(classes):
    return os.pathsep.join([str(classes), str(spark_jars() / "*")])


def build():
    """Returns the classes directory, compiling first if it is stale."""
    key = source_key()[:16]
    classes = BUILD / key
    if (classes / "BUILD_OK").exists():
        return classes
    if BUILD.exists():
        shutil.rmtree(BUILD)
    staging = BUILD / (key + ".partial")
    staging.mkdir(parents=True)
    jars = spark_jars()
    compiler = [str(next(jars.glob(f"scala-{p}-2.13*.jar"))) for p in ("compiler", "library", "reflect")]
    srcs = [str(s) for s in sources()]
    print(f"[pcbench] compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    done = subprocess.run(["java", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(compiler),
                           "scala.tools.nsc.Main", "-nowarn", "-classpath", str(jars / "*"),
                           "-d", str(staging)] + srcs, stdout=sys.stderr)
    if done.returncode != 0:
        raise SystemExit(f"[pcbench] compile failed (scalac exit {done.returncode})")
    (staging / "BUILD_OK").write_text(key + "\n")
    staging.rename(classes)
    return classes


if __name__ == "__main__":
    print(build())
