"""Tracing overhead: the same workload and seed, untraced then traced.

    python3 perfbench/overhead.py --workload api_sf0.01 --seed 1 --seconds 20

Prints the traced op p50 minus the untraced op p50, absolute and as a
share of the untraced value.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys


def _run(args, trace: int) -> dict:
    cmd = [
        sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py"),
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(trace),
    ]
    out = subprocess.run(cmd, check=True, stdout=subprocess.PIPE, text=True).stdout
    return json.loads(out.strip().splitlines()[-1])["metrics"]


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=20)
    args = p.parse_args()
    untraced = _run(args, 0)["op_p50_s"]["value"]
    traced = _run(args, 1)["trace.op_p50_s"]["value"]
    print(json.dumps({
        "workload": args.workload, "seed": args.seed,
        "untraced_op_p50_s": untraced, "traced_op_p50_s": traced,
        "overhead_s": traced - untraced, "overhead_frac": (traced - untraced) / untraced,
    }))


if __name__ == "__main__":
    main()
