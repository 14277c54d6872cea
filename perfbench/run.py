#!/usr/bin/env python3
"""Runs one graft benchmark workload with one seed.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --record      # re-record the corpus expected results

Builds graft and the harness first when their sources changed (see build.py), then
runs the workload in one JVM on local[<cores>]. Prints the workload's figures by name
and, as the last line, one JSON object with `correct`, `attempted`, `failed` and
`metrics`: the end-to-end metrics with `--trace 0`, the per-layer metrics with
`--trace 1`. Exits non-zero when the build fails, an output check fails, or the run
exceeds its time limit. All files it writes live under `.bench_build/`; the
workload's temporary inputs and tables are removed when the run ends.
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

WORKLOADS = ["lake-history", "corpus-sf0.01", "cell-pipeline"]
RUN_LIMIT_S = 170      # a run with nothing to compile
BUILD_LIMIT_S = 880    # a run that compiles first
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=16)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()
    if not args.record and not args.workload:
        ap.error("--workload is required")

    t0 = time.monotonic()
    try:
        classpath, built = build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    deadline = t0 + (BUILD_LIMIT_S if built else RUN_LIMIT_S)

    out = build.OUT
    work = out / f"work-{os.getpid()}"
    logs = out / "logs"
    logs.mkdir(parents=True, exist_ok=True)
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    cmd = (["java", "-Xmx2g", "-Xss8m", f"-Djava.io.tmpdir={work / 'tmp'}"]
           + [a for p in JVM_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--repo", str(build.ROOT), "--work", str(work), "--cpus", str(cpus)])
    if args.record:
        cmd += ["--record", str(out / "record")]
        name = "record"
    else:
        cmd += ["--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace)]
        name = f"{args.workload}-seed{args.seed}-trace{args.trace}"

    log_path = logs / f"{name}.log"
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                start_new_session=True)
        try:
            stdout, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            print(f"run exceeded its time limit; JVM log: {log_path}", file=sys.stderr)
            return 3
        finally:
            shutil.rmtree(work, ignore_errors=True)

    lines = stdout.rstrip("\n").splitlines()
    if args.record:
        print(stdout, end="")
        return proc.returncode
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            result = None
    if result is None:
        print(stdout, end="")
        print(f"no result from the harness (exit {proc.returncode}); JVM log: {log_path}",
              file=sys.stderr)
        return proc.returncode or 4
    print("\n".join(lines))
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
