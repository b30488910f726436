"""Tracing overhead: run one workload untraced and traced on the same seed and
report, for each end-to-end metric, how much the traced run differs.

    python3 perfbench/overhead.py --workload poll_cycles --seed 1 --seconds 6

The traced run's end-to-end figures are read from the trace file it writes.
One pair of runs is one sample: repeat on several seeds before reading much
into a difference smaller than the workload's run-to-run spread.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        check=True, capture_output=True, text=True,
    ).stdout.strip().splitlines()
    return {"info": json.loads(out[-2]), "result": json.loads(out[-1])}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, required=True)
    args = ap.parse_args()
    plain = _run(args.workload, args.seed, args.seconds, 0)["result"]["metrics"]
    traced_run = _run(args.workload, args.seed, args.seconds, 1)
    with open(traced_run["info"]["trace_file"]) as fh:
        traced = json.load(fh)["end_to_end"]
    report = {
        name: {
            "untraced": m["value"],
            "traced": traced[name],
            "overhead": traced[name] / m["value"] - 1.0 if m["value"] else None,
        }
        for name, m in plain.items()
    }
    print(json.dumps({"workload": args.workload, "seed": args.seed, "metrics": report}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
