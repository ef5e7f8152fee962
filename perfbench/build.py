"""Build file of the benchmark package: compiles graft's main sources
(src/main/scala) and the benchmark's own sources (perfbench/src) with
the Scala 2.13 compiler that ships among the Spark jars (the jar
directory of $SPARK_HOME, else the one graft's build.sbt uses), and
packs the classes into .bench_build/perfbench/classes-<digest>/app.jar.
The digest covers every source file, so an unchanged tree is never
compiled twice. The classes go on the JVM's class path as a jar, not
a directory, because the JVM's class-data-sharing archive that run.py
keeps beside the jar covers classes from jars only.

    python3 perfbench/build.py      # prints the path of app.jar
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build" / "perfbench"
SCALA = "2.13.17"


def spark_jars() -> Path:
    """$SPARK_HOME/jars, else the jar directory graft's build.sbt
    declares as its unmanagedBase."""
    if os.environ.get("SPARK_HOME"):
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = ROOT / "build.sbt"
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      sbt.read_text() if sbt.is_file() else "")
        if not m:
            sys.exit("build: set SPARK_HOME or declare unmanagedBase in build.sbt")
        jars = Path(m.group(1))
    if not (jars / f"scala-compiler-{SCALA}.jar").is_file():
        sys.exit(f"build: no scala-compiler-{SCALA}.jar under {jars}")
    return jars


def sources() -> list:
    main = ROOT / "src" / "main" / "scala"
    bench = ROOT / "perfbench" / "src"
    if not main.is_dir():
        sys.exit(f"build: graft sources not found at {main}")
    files = sorted(main.rglob("*.scala")) + sorted(bench.rglob("*.scala"))
    if not files:
        sys.exit("build: no sources")
    return files


def ensure() -> Path:
    """Compile and pack if needed; return the path of app.jar."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256(SCALA.encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    classes = OUT / f"classes-{h.hexdigest()[:16]}"
    if (classes / ".done").is_file():
        return classes / "app.jar"
    tmp = OUT / f"tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    compiler = ":".join(str(jars / f"scala-{j}-{SCALA}.jar")
                        for j in ("compiler", "library", "reflect"))
    out = tmp / "out"
    out.mkdir()
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", f"{jars}/*", "-d", str(out), f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit("build: compilation failed")
    argfile.unlink()
    with zipfile.ZipFile(tmp / "app.jar", "w", zipfile.ZIP_STORED) as jar:
        for f in sorted(out.rglob("*.class")):
            jar.write(f, f.relative_to(out).as_posix())
    shutil.rmtree(out)
    (tmp / ".done").write_text("ok\n")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    for old in OUT.glob("classes-*"):
        if old != classes:
            shutil.rmtree(old, ignore_errors=True)
    return classes / "app.jar"


if __name__ == "__main__":
    print(ensure())
