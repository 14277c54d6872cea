#!/usr/bin/env python3
"""Runs the benchmark over several workloads and seeds and collects the results.

    python3 perfbench/sweep.py --out runs/parent.jsonl [--workloads lake-history,...]
                               [--seeds 1-10] [--trace 0|1|both] [--seconds 16]

Appends one JSON line per run to --out: {"workload", "seed", "trace", "exit",
"result"}, where "result" is the run's last output line (null when the run printed
none). Feed one or two such files to compare.py.
"""
import argparse
import json
import subprocess
import sys
from pathlib import Path

from run import WORKLOADS

HERE = Path(__file__).resolve().parent


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--workloads", default=",".join(WORKLOADS))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", default="0", choices=["0", "1", "both"])
    ap.add_argument("--seconds", default="16")
    args = ap.parse_args()
    traces = [0, 1] if args.trace == "both" else [int(args.trace)]
    out = Path(args.out)
    out.parent.mkdir(parents=True, exist_ok=True)
    for w in args.workloads.split(","):
        for s in seeds(args.seeds):
            for t in traces:
                proc = subprocess.run(
                    [sys.executable, str(HERE / "run.py"), "--workload", w, "--seed", str(s),
                     "--seconds", args.seconds, "--trace", str(t)],
                    stdout=subprocess.PIPE, text=True)
                lines = proc.stdout.strip().splitlines()
                try:
                    result = json.loads(lines[-1]) if lines else None
                except json.JSONDecodeError:
                    result = None
                rec = {"workload": w, "seed": s, "trace": t, "exit": proc.returncode,
                       "lines": lines[:-1], "result": result}
                with out.open("a") as f:
                    f.write(json.dumps(rec) + "\n")
                ok = result is not None and result.get("correct")
                print(f"{w} seed {s} trace {t}: exit {proc.returncode}{'' if ok else ' (INCORRECT OR NO RESULT)'}",
                      flush=True)


if __name__ == "__main__":
    main()
