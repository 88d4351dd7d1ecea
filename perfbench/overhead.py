"""Tracing overhead: the traced end-to-end numbers minus the untraced ones.

    python3 perfbench/overhead.py --workload ann_serve --seed 1 --seconds 5

Runs perfbench/run.py twice on the same seed, once with --trace 0 and once
with --trace 1, and prints each end-to-end metric of both runs and their
difference (traced - untraced, and as a share of the untraced value).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _run(args, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=os.path.dirname(HERE), capture_output=True, text=True, check=True).stdout
    lines = out.strip().splitlines()
    if trace == 0:
        return {k: v["value"] for k, v in json.loads(lines[-1])["metrics"].items()}
    tag = f"[{args.workload}] traced end-to-end: "
    return json.loads(next(line[len(tag):] for line in lines if line.startswith(tag)))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=5)
    args = ap.parse_args()
    plain, traced = _run(args, 0), _run(args, 1)
    for k in plain:
        d = traced[k] - plain[k]
        print(f"{k}: untraced={plain[k]:.6g} traced={traced[k]:.6g} overhead={d:+.6g} ({d / plain[k]:+.1%})")


if __name__ == "__main__":
    main()
