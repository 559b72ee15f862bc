"""Tracing overhead: run one workload untraced and traced on the same
seed, and print traced minus untraced for the timings both report.

    python3 perfbench/overhead.py --workload jx_mix --seed 1 --seconds 10
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))

# end-to-end numbers the traced run reports as traced.<name>
METRICS = ("first_op_s", "op_p50_s", "ops_per_s", "rows_per_s", "cpu_s_per_op", "peak_rss_mb")


def _run(args, trace: int) -> dict:
    """The run's metrics, plus the unbounded ones its stderr host line logs."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, capture_output=True, text=True, check=True)
    out = {k: v["value"] for k, v in json.loads(p.stdout.strip().splitlines()[-1])["metrics"].items()}
    host = next(json.loads(ln)["host"] for ln in p.stderr.splitlines() if ln.startswith('{"host"'))
    out.update({k: host[k] for k in METRICS if k in host})
    return out


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    args = p.parse_args()
    plain, traced = _run(args, 0), _run(args, 1)
    for name in METRICS:
        a, b = plain[name], traced[f"traced.{name}"]
        print(f"{name:14s} untraced {a:11.3f}  traced {b:11.3f}  traced - untraced {b - a:+11.3f} ({(b - a) / a:+.1%})")
    print(f"{'trace.self_s':14s} {traced['trace.self_s']:.4f} s in span bookkeeping")
    return 0


if __name__ == "__main__":
    sys.exit(main())
