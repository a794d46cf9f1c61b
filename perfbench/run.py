#!/usr/bin/env python3
"""Run one benchmark workload on the compiled program.

    python3 perfbench/run.py --workload trickle --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark first when their sources changed (see
build.py; build time is not part of any metric), then launches one JVM on the
compiled classes and the Spark jars, with a fixed heap and `local[k]`,
k = min(4, nproc). Work directories live under `.bench_build/perfbench/work`
and are removed afterwards; the per-run record (all metrics, per-op samples,
errors) and, for traced runs, the spans go to `.bench_build/perfbench/records`.

The last stdout line is the JSON result. The exit code is 0 only when every
op succeeded and every output check passed.

Test-only options: `--size tiny` shrinks every workload; `--fault` injects
`throw` (one op throws), `mirror_file` (a live mirror data file is deleted
before the checks) or `wrong_rows` (one expected row count is off by one).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("trickle", "backfill", "query_mix")
HEAP = "3g"
TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these when started outside spark-submit
# (org.apache.spark.launcher.JavaModuleOptions)
OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--size", default="full", choices=("full", "tiny"))
    ap.add_argument("--fault", default="none",
                    choices=("none", "throw", "mirror_file", "wrong_rows"))
    a = ap.parse_args()

    classpath = build.build()
    out = build.OUT
    work = out / "work" / f"{a.workload}-{os.getpid()}"
    record = out / "records" / f"{a.workload}-seed{a.seed}-trace{a.trace}.json"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cores = max(1, min(4, len(os.sched_getaffinity(0))))
    # C1 only: in a run of under a minute, C2 compilation of Spark's code
    # paths took more CPU than the timed work itself and was the main noise
    # in the CPU metrics (19 s of JIT during 14 s of query_mix work)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
           "-XX:TieredStopAtLevel=1", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={build.BENCH / 'log4j2.properties'}", *OPENS,
           "-cp", classpath, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", a.trace, "--work", str(work), "--record", str(record),
           "--data", str(build.BENCH / "data"), "--cores", str(cores),
           "--size", a.size, "--fault", a.fault]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(f"perfbench: {a.workload} did not finish within {TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = stdout.strip().splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stderr.write(stdout)
        sys.exit(f"perfbench: {a.workload} printed no result (exit {proc.returncode})")
    print("\n".join(lines))
    sys.exit(proc.returncode if proc.returncode else (0 if result["correct"] else 1))


if __name__ == "__main__":
    main()
