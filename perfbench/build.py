"""Build file of the intake benchmark.

Compiles the library (`src/main/scala`) together with the benchmark's
own Scala sources (`perfbench/scala`) with the Scala compiler that
ships in Spark's jars directory, into `.bench_build/classes` of the
checkout. A stamp over every source file skips the compile when
nothing changed.

    python3 perfbench/build.py
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
OUT = ROOT / ".bench_build"
SCALA = "2.13.17"


def spark_jars() -> Path:
    """Spark's jars directory: $SPARK_HOME/jars, else the one the
    repository's own build declares as its unmanaged base."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    raise SystemExit("perfbench: Spark jars not found; set SPARK_HOME")


def library_dirs() -> tuple:
    src = ROOT / "src" / "main" / "scala"
    res = ROOT / "src" / "main" / "resources"
    if not src.is_dir():
        raise SystemExit(f"perfbench: library sources missing under {ROOT}")
    return src, res


def sources() -> list:
    src, _ = library_dirs()
    return sorted(src.rglob("*.scala")) + sorted((BENCH / "scala").rglob("*.scala"))


def _stamp(files: list, jars: Path) -> str:
    h = hashlib.sha256(f"{SCALA}\n{jars}\n".encode())
    for f in files + [Path(__file__)]:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build() -> tuple:
    """Compile if needed; return (classes dir, runtime classpath)."""
    jars = spark_jars()
    files = sources()
    _, resources = library_dirs()
    classes = OUT / "classes"
    stamp_file = OUT / "classes.stamp"
    stamp = _stamp(files, jars)
    cp = os.pathsep.join([str(classes), str(resources), f"{jars}/*"])
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classes, cp
    OUT.mkdir(exist_ok=True)
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    compiler = os.pathsep.join(
        str(jars / f"scala-{p}-{SCALA}.jar") for p in ("compiler", "library", "reflect"))
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr, flush=True)
    res = subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", compiler,
         "scala.tools.nsc.Main",
         "-nowarn", "-encoding", "UTF-8", "-classpath", f"{jars}/*",
         "-d", str(tmp), f"@{argfile}"],
        stdout=sys.stderr, stderr=sys.stderr)
    if res.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({res.returncode})")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    return classes, cp


if __name__ == "__main__":
    print(build()[0])
