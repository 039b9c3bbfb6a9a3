"""Burst-drain benchmark for the complete-mode watcher.

Stages N tiny same-schema submissions in a landing dir BEFORE the
drain, so all N complete in ONE epoch, then times a cold-JVM
`run_watcher.py --complete` drain end-to-end. This is the regime the
batched completion groups exist for (BENCH_NOTES r13: 24 submissions
189.5 s per-submission vs 58.6 s batched).

    python tools/bench_watch_burst.py [N] [--runs R]
"""

from __future__ import annotations

import argparse
import os
import shutil
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def stage(root: str, n: int) -> None:
    for i in range(n):
        d = os.path.join(root, f"sub{i:03d}")
        os.makedirs(d)
        with open(os.path.join(d, "demographic.csv"), "w") as f:
            f.write("Research_Participant_ID,Age,Race\n"
                    f"14_{i:06d},30,White\n14_9{i:05d},999,Race_X\n")
        with open(os.path.join(d, "biospecimen.csv"), "w") as f:
            f.write("Research_Participant_ID,Biospecimen_ID,"
                    "Biospecimen_Type\n"
                    f"14_{i:06d},14_{i:06d}_001,PBMC\n")
        with open(os.path.join(d, "submission.csv"), "w") as f:
            f.write("key,LabX\np,9\nb,9\n")


def drain(root: str) -> float:
    out = tempfile.mkdtemp(prefix="burst_out_")
    cp = tempfile.mkdtemp(prefix="burst_cp_")
    cmd = [sys.executable, os.path.join(REPO, "tools", "run_watcher.py"),
           root, "--complete",
           "--sheets", "submission.csv,demographic.csv,biospecimen.csv",
           "--cbc", "LabX=14", "--out", out, "--checkpoint", cp,
           "--timeout", "900"]
    t0 = time.monotonic()
    try:
        r = subprocess.run(cmd, capture_output=True, text=True,
                           timeout=1200)
        wall = time.monotonic() - t0
        if r.returncode != 0:
            print(r.stdout[-2000:], r.stderr[-2000:])
            raise SystemExit(f"drain rc={r.returncode}")
        line = [ln for ln in r.stdout.splitlines() if "rows this run" in ln]
        print(f"  {wall:7.1f} s   {line[-1] if line else '?'}")
        return wall
    finally:
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(cp, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("n", nargs="?", type=int, default=24)
    ap.add_argument("--runs", type=int, default=2)
    args = ap.parse_args()

    root = tempfile.mkdtemp(prefix="burst_landing_")
    try:
        stage(root, args.n)
        walls = []
        for _ in range(args.runs):
            # fresh checkpoint per run = a full cold re-drain
            walls.append(drain(root))
        print(f"best-of-{args.runs}: {min(walls):.1f} s (n={args.n})")
        return 0
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
