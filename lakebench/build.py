"""Build file of the benchmark: compiles the program and the benchmark's
JVM side from source.

The program (`src/main/scala`, plus `src/main/resources`) and the
benchmark's Scala sources (`lakebench/src`: workloads, span recorder and
Spark listener) are compiled in one pass by the Scala compiler that ships
among the Spark jars, into `.bench_build/classes`. The jar directory is the
one the repo's `build.sbt` names as `unmanagedBase` (or `$SPARK_HOME/jars`).
A digest of every input is stamped next to the classes; an unchanged tree
is not rebuilt.

Usage: python3 lakebench/build.py   (prints the run classpath)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path


def spark_jars(root: Path) -> Path:
    if os.environ.get("SPARK_HOME"):
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = root / "build.sbt"
        if not sbt.is_file():
            raise RuntimeError("build.sbt not found: cannot locate the Spark jars")
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if not m:
            raise RuntimeError("build.sbt names no unmanagedBase jar directory")
        jars = Path(m.group(1))
    if not any(jars.glob("scala-compiler-*.jar")):
        raise RuntimeError(f"no Scala compiler among the jars in {jars}")
    return jars


def sources(root: Path) -> list:
    prog = root / "src" / "main" / "scala"
    if not prog.is_dir():
        raise RuntimeError("src/main/scala not found: nothing to build")
    srcs = sorted(prog.rglob("*.scala")) + sorted((root / "lakebench" / "src").rglob("*.scala"))
    res = root / "src" / "main" / "resources"
    return srcs + (sorted(p for p in res.rglob("*") if p.is_file()) if res.is_dir() else [])


def build(root: Path) -> str:
    """Compile if the inputs changed; return the run classpath."""
    jars = spark_jars(root)
    inputs = sources(root)
    digest = hashlib.sha256()
    for p in inputs:
        digest.update(str(p.relative_to(root)).encode() + b"\0" + p.read_bytes() + b"\0")
    stamp = digest.hexdigest()
    out = root / ".bench_build"
    classes = out / "classes"
    stamp_file = out / "stamp"
    classpath = f"{classes}{os.pathsep}{jars}/*"
    if stamp_file.is_file() and stamp_file.read_text() == stamp and classes.is_dir():
        return classpath
    staging = out / "classes.tmp"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir(parents=True)
    scala = [p for p in inputs if p.suffix == ".scala"]
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in scala) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(staging), f"@{argfile}"]
    proc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if proc.returncode != 0:
        raise RuntimeError(f"compilation failed (exit {proc.returncode})")
    res = root / "src" / "main" / "resources"
    for p in inputs:
        if p.suffix != ".scala":
            target = staging / p.relative_to(res)
            target.parent.mkdir(parents=True, exist_ok=True)
            shutil.copyfile(p, target)
    shutil.rmtree(classes, ignore_errors=True)
    staging.rename(classes)
    stamp_file.write_text(stamp)
    return classpath


if __name__ == "__main__":
    try:
        print(build(Path(__file__).resolve().parent.parent))
    except RuntimeError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(2)
