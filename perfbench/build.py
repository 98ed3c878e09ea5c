"""Build file of the benchmark package: compiles the engine (src/main/scala)
and the harness (perfbench/harness) from source, in one scalac run, into
.bench_build/perfbench/classes.

The compiler is the scala-compiler jar in Spark's jar directory, i.e. the
same classpath the project itself compiles against (build.sbt's
`unmanagedBase`), so the build needs neither sbt nor a network. A build is
skipped when the hash of every source file matches the last one.

    python3 perfbench/build.py        # prints the classes directory
"""
import hashlib
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build" / "perfbench"
CLASSES = OUT / "classes"


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """Spark's jar directory, as build.sbt names it."""
    sbt = ROOT / "build.sbt"
    if not sbt.is_file():
        raise BuildError(f"{sbt} not found: run from a checkout of the repository")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
    if not m or not Path(m.group(1)).is_dir():
        raise BuildError("build.sbt names no existing unmanagedBase jar directory")
    return Path(m.group(1))


def sources() -> list:
    srcs = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not srcs:
        raise BuildError("no engine sources under src/main/scala")
    return srcs + sorted((ROOT / "perfbench" / "harness").glob("*.scala"))


def classpath() -> str:
    return f"{CLASSES}:{spark_jars()}/*"


def ensure() -> Path:
    """Compiles when any source changed; returns the classes directory."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(str(s.relative_to(ROOT)).encode())
        h.update(s.read_bytes())
    stamp = h.hexdigest()
    stamp_file = CLASSES / ".stamp"
    if stamp_file.is_file() and stamp_file.read_text() == stamp:
        return CLASSES
    shutil.rmtree(CLASSES, ignore_errors=True)
    CLASSES.mkdir(parents=True)
    argfile = OUT / "scalac.args"
    argfile.write_text("\n".join(str(s) for s in srcs) + "\n")
    jars = f"{spark_jars()}/*"
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", jars,
           "scala.tools.nsc.Main",
           "-nowarn", "-d", str(CLASSES), "-classpath", jars, f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(CLASSES, ignore_errors=True)
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    stamp_file.write_text(stamp)
    return CLASSES


if __name__ == "__main__":
    try:
        print(ensure())
    except BuildError as e:
        sys.exit(f"build: {e}")
