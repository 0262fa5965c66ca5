"""Tracing overhead: the traced run's end-to-end figures minus the untraced
run's, for one workload and seed.

    python3 perfbench/overhead.py --workload crawl_wire --seed 1 --seconds 20

Runs ``perfbench/run.py`` with ``--trace 0`` and then ``--trace 1`` (same
workload, seed and seconds) and prints one JSON object: for each end-to-end
metric but ``setup_s``, the untraced value, the traced value
(``trace.<metric>``) and traced minus untraced. Run from the root of a
checkout; exits non-zero if either run fails a gate.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
METRICS = ("items_per_s", "op_s_p50")


def _run(args, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    args = ap.parse_args()
    plain, traced = _run(args, 0), _run(args, 1)
    report = {}
    for k in METRICS:
        a, b = plain["metrics"][k]["value"], traced["metrics"][f"trace.{k}"]["value"]
        report[k] = {"unit": plain["metrics"][k]["unit"], "untraced": a, "traced": b,
                     "overhead": b - a}
    print(json.dumps({"workload": args.workload, "seed": args.seed, "metrics": report}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
