"""Run one benchmark workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library and the benchmark if a source changed (see build.py),
then runs perfbench.Main in one JVM with Spark local[nproc]. Its report
goes to standard output; the last line is the result
object. Spark's log goes to perfbench/out/<workload>-<seed>-trace<t>.log.
Exits non-zero, printing no result, when the build, the run or the result
file fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

import build

WORKLOADS = ("lag_features", "ingest_update")
RUN_LIMIT_S = 170          # the whole run, build excluded
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        classes = build.build()
        jars = build.spark_home() / "jars" / "*"
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    bench = build.BENCH_DIR
    work = bench / ".work"
    out = bench / "out"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out.mkdir(exist_ok=True)
    tag = f"{args.workload}-{args.seed}-trace{args.trace}"
    result_file = work / "result.json"
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", f"{classes}{os.pathsep}{jars}",
           "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--cores", str(nproc()), "--work", str(work),
           "--result", str(result_file),
           "--trace-file", str(out / f"{tag}.spans.jsonl")]
    log_path = out / f"{tag}.log"
    deadline = time.monotonic() + RUN_LIMIT_S
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                                text=True, start_new_session=True)
        try:
            report, _ = proc.communicate(
                timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            print(f"perfbench: run exceeded {RUN_LIMIT_S} s; log at {log_path}",
                  file=sys.stderr)
            return 3
    try:
        sys.stdout.write(report)
        if proc.returncode != 0 or not result_file.is_file():
            tail = log_path.read_text()[-3000:]
            print(f"perfbench: run exited {proc.returncode}; log tail:\n{tail}",
                  file=sys.stderr)
            return 4
        result = json.loads(result_file.read_text())
        print(json.dumps(result), flush=True)
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
