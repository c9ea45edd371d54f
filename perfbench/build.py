"""Build file of the benchmark: compiles the program's sources together
with the benchmark's own, straight from source, with the Scala compiler
that ships among the Spark jars the program's build.sbt names.

    python3 perfbench/build.py        # compile if any source changed

Output goes to perfbench/.build/ (classes plus a stamp of the sources it
was built from). Exits non-zero if the program's sources or its build.sbt
are missing.
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
BUILD = BENCH / ".build"
CLASSES = BUILD / "classes"
STAMP = BUILD / "stamp"


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """The jar directory the program's build.sbt compiles against."""
    sbt = ROOT / "build.sbt"
    if not sbt.is_file():
        raise BuildError(f"no build.sbt at {ROOT}: not a checkout of the program")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
    jars = Path(m.group(1)) if m else Path(os.environ.get("SPARK_HOME", "")) / "jars"
    if not jars.is_dir():
        raise BuildError(f"Spark jar directory {jars} not found")
    return jars


def sources() -> list:
    prog = ROOT / "src" / "main" / "scala"
    if not prog.is_dir():
        raise BuildError(f"program sources {prog} not found")
    own = BENCH / "src"
    return sorted(prog.rglob("*.scala")) + sorted(own.rglob("*.scala"))


def classpath() -> str:
    return os.pathsep.join([str(CLASSES), str(BENCH / "conf"), str(spark_jars() / "*")])


def build(log=sys.stderr) -> str:
    """Compile if needed; return the runtime classpath."""
    srcs = sources()
    jars = spark_jars()
    digest = hashlib.sha256()
    for f in srcs:
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp = digest.hexdigest()
    if STAMP.is_file() and STAMP.read_text() == stamp and CLASSES.is_dir():
        return classpath()
    shutil.rmtree(BUILD, ignore_errors=True)
    CLASSES.mkdir(parents=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in srcs) + "\n")
    print(f"[perfbench] compiling {len(srcs)} sources", file=log, flush=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", str(jars / "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-deprecation:false", "-d", str(CLASSES), f"@{argfile}"]
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise BuildError(f"scalac failed with exit code {r.returncode}")
    STAMP.write_text(stamp)
    return classpath()


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
