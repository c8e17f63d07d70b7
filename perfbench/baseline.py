"""Record a baseline: every workload once untraced and once traced on the
same seed, with each run's process wall time and the traced/untraced wall
ratio (the tracing overhead) per workload.

    python3 perfbench/baseline.py OUT.json [--seed 1] [--seconds 10]

Run from the repository root, on a quiet host.
"""

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402


def once(workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace)],
                       capture_output=True, text=True)
    wall = time.time() - t0
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{workload} trace={trace} failed (exit {p.returncode})")
    return wall, json.loads(p.stdout.strip().splitlines()[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    a = ap.parse_args()
    out = {"seed": a.seed, "seconds": a.seconds, "cpus": run.CPUS,
           "host_cpus": os.cpu_count(), "workloads": {}}
    for w in run.WORKLOADS:
        wall0, untraced = once(w, a.seed, a.seconds, 0)
        wall1, traced = once(w, a.seed, a.seconds, 1)
        out["workloads"][w] = {
            "untraced_wall_s": round(wall0, 3), "traced_wall_s": round(wall1, 3),
            "tracing_overhead": round(wall1 / wall0, 3),
            "untraced": untraced, "traced": traced,
        }
        print(w, out["workloads"][w]["tracing_overhead"], flush=True)
    with open(a.out, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
