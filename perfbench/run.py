"""Run one benchmark workload of graft and print its result.

    python3 perfbench/run.py --workload cdc_sync --seed 1 --seconds 20 --trace 0

Builds the program from source on first use (perfbench/build.py), then
runs graftbench.Main on the plain JVM with the compiled classes and the
Spark jars on the classpath, so its stdout arrives raw: one `metric`
line per metric, one `ops` line, and the JSON result as the last line.
The JVM's stderr (Spark's log, its own warnings and any failed check)
goes to .bench_build/perfbench/logs/. Exits non-zero, printing no
result, if the build or the run fails.

The first successful untraced run of a workload on a build also
writes a class-data-sharing archive of the classes it loaded (JDK
dynamic CDS) beside the build's jar; later runs of that workload map
it instead of loading and verifying those classes again. That takes
~6 s off each later run, most of it in set-up (Spark's session starts
in ~3.5 s instead of ~7 s on 4 vCPUs); the writing run takes ~50 s
longer: class loading is slower while the JVM records it, and the
archive is written as the JVM exits.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("cdc_sync", "ingest_batch")
HEAP = "3g"
# JIT: each run is one short-lived JVM whose work is mostly Spark's
# per-job planning and freshly generated code. With the default tiered
# JIT, C2 compilation takes a run's first commit from ~24 s to ~45-57 s
# of CPU on 4 vCPUs, and how much of it lands inside the timed commit
# varies run to run. C1 alone compiles quickly and cheaply: commits and
# passes are faster and steadier; a serve is ~30% slower than with C2.
# Spark on JDK 17 outside spark-submit needs these module openings
# (org.apache.spark.launcher.JavaModuleOptions).
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
         "java.base/java.lang.reflect", "java.base/java.io",
         "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent",
         "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
         "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()

    jar = build.ensure()
    jars = build.spark_jars()
    out = build.OUT
    archive = jar.parent / f"{a.workload}.jsa"
    dump = jar.parent / f"{a.workload}-{os.getpid()}.jsa.tmp"
    tmp = out / "tmp" / f"{a.workload}-{a.seed}-{os.getpid()}"
    tmp.mkdir(parents=True, exist_ok=True)
    logs = out / "logs"
    logs.mkdir(parents=True, exist_ok=True)
    log = logs / f"{a.workload}-seed{a.seed}-trace{a.trace}.log"
    cmd = ["java", f"-Xmx{HEAP}", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
           # C1 only, see JIT above; C1 alone defaults to a 48 MB code
           # cache, which Spark's generated code can fill, and a full
           # cache stops the JIT or fails the run
           "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=256m",
           # the JVM's own warnings to stderr: stdout carries the result
           "-Xlog:disable", "-Xlog:all=warning:stderr",
           f"-XX:SharedArchiveFile={archive}" if archive.is_file()
           else f"-XX:ArchiveClassesAtExit={dump}" if a.trace == 0
           else "-Xshare:auto"]
    for o in OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", f"{jar}:{jars}/*", "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--out", str(out)]
    with open(log, "wb") as err:
        try:
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err,
                               cwd=build.ROOT, timeout=a.seconds + 150)
        except subprocess.TimeoutExpired:
            dump.unlink(missing_ok=True)
            sys.stderr.write(f"run timed out; log: {log}\n")
            return 1
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    lines = r.stdout.decode(errors="replace").splitlines()
    if r.returncode != 0 or not lines:
        dump.unlink(missing_ok=True)
        sys.stderr.write(f"run failed (exit {r.returncode}); log: {log}\n")
        sys.stderr.write(log.read_text(errors="replace")[-3000:])
        return 1
    if dump.is_file():
        os.replace(dump, archive)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stderr.write("malformed result line\n")
        return 1
    for line in lines:
        print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
