#!/usr/bin/env python3
"""Build the program and the benchmark with scalac, outside sbt.

Compiles `src/main/scala` (the program) and `perfbench/src` (the benchmark,
against the program's classes) with the Scala compiler that ships in the
Spark jars. Output goes to `.bench_build/perfbench/classes/{program,bench}`
under the repository root. A stamp holding a hash of every source file skips
the build when nothing changed; a file lock serialises concurrent builds.

    python3 perfbench/build.py        # prints the classpath to run with
"""
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
OUT = ROOT / ".bench_build" / "perfbench"
SPARK_JARS = Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"


def sources(base):
    return sorted(p for p in base.rglob("*.scala") if p.is_file())


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def scalac(files, classpath, dest):
    if dest.exists():
        shutil.rmtree(dest)
    dest.mkdir(parents=True)
    argfile = dest.parent / (dest.name + ".args")
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={OUT}", "-cp", f"{SPARK_JARS}/*",
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath,
           "-d", str(dest), f"@{argfile}"]
    subprocess.run(cmd, check=True, stdout=sys.stderr)


def build():
    """Builds if needed; returns the runtime classpath."""
    program = sources(ROOT / "src" / "main" / "scala")
    bench = sources(BENCH / "src")
    if not program:
        raise SystemExit("perfbench: no program sources under src/main/scala")
    if not any(SPARK_JARS.glob("spark-core_*.jar")):
        raise SystemExit(f"perfbench: no Spark jars under {SPARK_JARS}")
    OUT.mkdir(parents=True, exist_ok=True)
    classes = OUT / "classes"
    with open(OUT / ".lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        for name, files, cp in (
                ("program", program, f"{SPARK_JARS}/*"),
                ("bench", program + bench, f"{classes / 'program'}:{SPARK_JARS}/*")):
            want = stamp(files)
            mark = classes / f"{name}.stamp"
            if not mark.exists() or mark.read_text() != want:
                if mark.exists():
                    mark.unlink()
                scalac(files if name == "program" else bench, cp, classes / name)
                mark.write_text(want)
    return f"{classes / 'bench'}:{classes / 'program'}:{SPARK_JARS}/*"


if __name__ == "__main__":
    print(build())
