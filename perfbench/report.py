"""Run every workload of BENCHMARK.json once and print its metrics.

    python3 perfbench/report.py --seed 1               # end-to-end
    python3 perfbench/report.py --seed 1 --trace 1     # per-layer

Run from the root of a checkout. Each workload runs in its own
`perfbench/run.py` process. One line per metric gives the workload, the
metric, its value and its unit; the end-to-end report adds `fail_frac`
from the run details. The last line is one JSON object
{workload: {metric: {"value", "unit"}}}. The exit code is 1 if a run
failed or an output mismatched its oracle.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    report, ok = {}, True
    for w in (w["name"] for w in bench["workloads"]):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            cwd=ROOT, stdout=subprocess.PIPE, text=True,
        )
        lines = p.stdout.strip().splitlines()
        if p.returncode or len(lines) < 2:
            print(f"{w}: run failed with exit code {p.returncode}", flush=True)
            ok = False
            continue
        details, result = json.loads(lines[-2]), json.loads(lines[-1])
        ok = ok and result["correct"]
        metrics = dict(result["metrics"])
        if not args.trace:
            metrics["fail_frac"] = {"value": details["fail_frac"], "unit": "ratio"}
        report[w] = metrics
        for name, m in metrics.items():
            print(f"{w:12s} {name:32s} {m['value']:>14.6g} {m['unit']}", flush=True)
    print(json.dumps(report))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
