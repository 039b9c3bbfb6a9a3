"""Run one workload once per seed and summarize each metric's spread.

    python3 perfbench/repeat.py --workload burst_96 --seeds 1-10 \\
        --seconds 8 --trace 0 --out perfbench/baseline/burst_96.t0.json

For each metric: the median, the quartiles (``statistics.quantiles(n=4)``)
and the spread, (Q3 - Q1) / median. The runs are sequential; each is a
fresh ``run.py`` process, as the benchmark's own runs are.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds, default=seeds("1-10"))
    ap.add_argument("--seconds", required=True)
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out")
    args = ap.parse_args()

    runs = []
    for seed in args.seeds:
        t0 = time.time()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"),
             "--workload", args.workload, "--seed", str(seed),
             "--seconds", args.seconds, "--trace", args.trace],
            capture_output=True, text=True, cwd=os.path.dirname(HERE))
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if lines else None
        runs.append({"seed": seed, "rc": proc.returncode,
                     "wall_s": round(time.time() - t0, 1),
                     "result": result})
        print(f"seed {seed}: rc={proc.returncode} "
              f"wall={runs[-1]['wall_s']}s", file=sys.stderr)
        if result is None:
            print(proc.stderr[-2000:], file=sys.stderr)

    summary = {}
    ok = [r["result"] for r in runs if r["result"]]
    for name in (ok[0]["metrics"] if ok else {}):
        values = [r["metrics"][name]["value"] for r in ok]
        med = statistics.median(values)
        q1, _, q3 = (statistics.quantiles(values, n=4) if len(values) > 1
                     else (med, med, med))
        summary[name] = {"unit": ok[0]["metrics"][name]["unit"],
                         "median": med, "q1": q1, "q3": q3,
                         "spread": (q3 - q1) / med if med else None}
    report = {"workload": args.workload, "seconds": args.seconds,
              "trace": args.trace, "runs": runs, "summary": summary}
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
    for name, s in summary.items():
        spread = "-" if s["spread"] is None else f"{s['spread']:.3f}"
        print(f"{name:28s} median {s['median']:.4g} {s['unit']:14s} "
              f"spread {spread}")
    return 0 if all(r["rc"] == 0 for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
