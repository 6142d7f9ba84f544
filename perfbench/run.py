#!/usr/bin/env python3
"""Flow benchmark of the gordospark engine: one workload, one seed.

    python3 perfbench/run.py --workload fleet_build --seed 1 --seconds 5 --trace 0

Builds the engine and the benchmark from source (see build.py), then runs
the workload in one JVM (Spark `local[4]`). The JVM prints its summary on
stderr and the result as the last line of stdout:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer ones.
Inputs, models and checkpoints live in a fresh directory under
`.bench_out/`, removed when the run ends; a traced run also leaves its
spans in `.bench_out/trace-<workload>-<seed>.json`.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
import build  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("fleet_build", "serve_score", "stream_score", "curate_dedup")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    jar = build.build()
    out = ROOT / ".bench_out"
    work = out / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    # class-data sharing: the first run of a workload in a build dumps the
    # classes it loaded into an archive, and later runs map it in place of
    # loading and verifying some ten thousand Spark classes again
    cds = jar.parent / f"classes-{a.workload}.jsa"
    cds_tmp = jar.parent / f"classes-{a.workload}.jsa.{os.getpid()}"
    share = (f"-XX:SharedArchiveFile={cds}" if cds.is_file()
             else f"-XX:ArchiveClassesAtExit={cds_tmp}")
    # a fixed heap (-Xms = -Xmx) keeps the peak RSS free of heap-resizing
    # decisions; -XX:-UsePerfData keeps the JVM from writing to /tmp; JVM
    # log lines go to stderr, so the result stays the last stdout line
    cmd = (["java", "-Xms3g", "-Xmx3g", "-Xss8m", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            "-Xlog:disable", "-Xlog:all=error:stderr", share]
           + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
           + [f"-Dlog4j2.configurationFile={ROOT / 'perfbench' / 'log4j2.properties'}",
              f"-Djava.io.tmpdir={work / 'tmp'}",
              "-cp", f"{jar}:{build.spark_jars()}/*",
              "perfbench.Main", a.workload, str(a.seed), str(a.seconds),
              str(a.trace), str(work), str(out)])
    (work / "tmp").mkdir()
    proc = subprocess.Popen(cmd, cwd=work, start_new_session=True)
    code = 1
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"run: JVM exceeded {JVM_TIMEOUT_S}s, killed", file=sys.stderr)
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if cds_tmp.is_file():
            if code == 0:
                cds_tmp.rename(cds)
            else:
                cds_tmp.unlink()
    return code


if __name__ == "__main__":
    sys.exit(main())
