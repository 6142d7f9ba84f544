#!/usr/bin/env python3
"""Build file of the flow benchmark.

Compiles the engine (`src/main/scala`) together with the benchmark's own
sources (`perfbench/src`) with the Scala compiler that ships in Spark's
jar directory, and packs the classes into one jar (a jar, not a class
directory, so the JVM's class-data-sharing archive can hold them).
Nothing outside the checkout is written; the output lands in
`$CARGO_TARGET_DIR/perfbench` (default `.bench_build/perfbench`). A stamp
over every source's path and content skips the compile when nothing
changed.

    python3 perfbench/build.py        # prints the jar
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]


def spark_jars() -> Path:
    """Spark's jar directory, which also holds the Scala compiler:
    `$SPARK_HOME/jars`, else the first `jars` directory beside a
    `spark-submit` on PATH."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        str(Path(d, "spark-submit").resolve().parent.parent)
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if Path(d, "spark-submit").is_file()]
    for home in homes:
        jars = Path(home) / "jars"
        if any(jars.glob("scala-compiler-*.jar")):
            return jars
    sys.exit("build: no Spark jar directory with a Scala compiler; set SPARK_HOME")


def out_dir() -> Path:
    base = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    if not base.is_absolute():
        base = ROOT / base
    return base / "perfbench"


def sources() -> list:
    for d in SOURCE_DIRS:
        if not d.is_dir():
            sys.exit(f"build: missing source directory {d.relative_to(ROOT)}")
    return sorted(p for d in SOURCE_DIRS for p in d.rglob("*.scala"))


def build() -> Path:
    """Compile if any source changed; return the jar. A recompile also
    removes the class-data-sharing archives made from the old jar."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256(str(jars).encode())
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = h.hexdigest()
    out = out_dir()
    jar, stamp_file = out / "perfbench.jar", out / "stamp"
    if stamp_file.exists() and stamp_file.read_text() == stamp and jar.is_file():
        return jar
    staging = out / "classes.tmp"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir(parents=True)
    cp = f"{jars}/*"
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(staging), "-classpath", cp] + [str(p) for p in srcs]
    print(f"build: compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        shutil.rmtree(staging, ignore_errors=True)
        sys.exit("build: compile failed")
    for old in [jar, stamp_file, *out.glob("*.jsa")]:
        old.unlink(missing_ok=True)
    tmp = out / "perfbench.jar.tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as z:
        for f in sorted(staging.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(staging).as_posix())
    shutil.rmtree(staging)
    tmp.rename(jar)
    stamp_file.write_text(stamp)
    return jar


if __name__ == "__main__":
    print(build())
