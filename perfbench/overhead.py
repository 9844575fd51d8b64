"""Tracing overhead: one untraced and one traced run of a workload.

    python3 perfbench/overhead.py WORKLOAD [--seed N] [--seconds S]

Prints one JSON line with the untraced ``op_p50_s``, the traced run's
``trace.op_p50_s`` and their ratio minus one.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _result(workload: str, seed: int, seconds: float, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, check=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])["metrics"]


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("workload")
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--seconds", type=float, default=6.0)
    a = p.parse_args()
    plain = _result(a.workload, a.seed, a.seconds, 0)["op_p50_s"]["value"]
    traced = _result(a.workload, a.seed, a.seconds, 1)["trace.op_p50_s"]["value"]
    print(json.dumps({
        "workload": a.workload, "seed": a.seed, "untraced_op_p50_s": plain,
        "traced_op_p50_s": traced, "overhead_ratio": traced / plain - 1.0,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
