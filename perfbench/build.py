"""Compile the engine and the benchmark into one class directory.

Compiles every Scala source under ``src/main/scala`` (the engine) and
``perfbench/src`` (the benchmark and its self-test) with the Scala
compiler that ships in Spark's jar directory.
The output lands in ``.bench_build/classes-<hash>`` at the repository
root, keyed by a hash of every source file, so an unchanged tree is
compiled once.

    python3 perfbench/build.py

prints the class directory. ``run.py`` calls ``build()`` itself.
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


class BuildError(RuntimeError):
    pass


def spark_jars() -> Path:
    """Spark's jar directory: $SPARK_HOME/jars, else the build's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  sbt.read_text() if sbt.is_file() else "")
    if m and Path(m.group(1)).is_dir():
        return Path(m.group(1))
    raise BuildError("Spark jars not found: set SPARK_HOME")


def sources() -> list:
    roots = [ROOT / "src" / "main" / "scala", BENCH / "src"]
    if not roots[0].is_dir():
        raise BuildError(f"engine sources missing: {roots[0]}")
    return sorted(p for r in roots for p in r.rglob("*.scala"))


def classpath(classes: Path) -> str:
    return f"{classes}{os.pathsep}{spark_jars() / '*'}"


def build() -> Path:
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    classes = OUT / f"classes-{h.hexdigest()[:16]}"
    if (classes / ".complete").exists():
        return classes
    tmp = OUT / f"tmp-classes-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    jars = str(spark_jars() / "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-cp", jars, "scala.tools.nsc.Main",
           "-classpath", jars, "-d", str(tmp), "-nowarn", f"@{argfile}"]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    argfile.unlink()
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac failed with code {r.returncode}")
    (tmp / ".complete").touch()
    for old in OUT.glob("classes-*"):
        shutil.rmtree(old, ignore_errors=True)
    tmp.rename(classes)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build failed: {e}")
