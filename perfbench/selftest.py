"""Determinism self-test for the traced run.

    python3 perfbench/selftest.py --workload live_tail --seed 7 --seed2 8

Runs ``run.py --trace 1`` twice with one seed and checks that every call
and job count repeats exactly and every byte count within 1% (manifests
embed commit timestamps), then runs the workload once more on a second
seed, which must still pass the correctness gate.  Runs are sequential
child processes; each is waited for.  Exits 0 when all checks hold.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
COUNT_UNITS = {"count", "jobs/call", "calls/commit", "jobs/commit", "events"}
BYTE_UNITS = {"B/commit", "B/call", "B/event"}


def run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=os.path.dirname(HERE), capture_output=True,
                       text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{' '.join(cmd)} exited {p.returncode}")
    return json.loads(lines[-1])


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seed2", type=int, default=8)
    ap.add_argument("--seconds", type=int, default=30)
    args = ap.parse_args()

    a = run(args.workload, args.seed, args.seconds, 1)
    b = run(args.workload, args.seed, args.seconds, 1)
    bad = []
    for name, ma in a["metrics"].items():
        va, vb, unit = ma["value"], b["metrics"][name]["value"], ma["unit"]
        if unit in COUNT_UNITS and va != vb:
            bad.append(f"{name}: {va} != {vb} {unit}")
        if unit in BYTE_UNITS and abs(va - vb) > 0.01 * max(abs(va), 1):
            bad.append(f"{name}: {va} vs {vb} {unit} (>1%)")
        print(f"{name:52s} {va:>14.6g} {vb:>14.6g} {unit}")
    c = run(args.workload, args.seed2, args.seconds, 0)
    for r, label in ((a, "first"), (b, "second"), (c, f"seed {args.seed2}")):
        if not r["correct"]:
            bad.append(f"{label} run failed its correctness gate")
    for line in bad:
        print("MISMATCH", line)
    print("selftest", args.workload, "FAIL" if bad else "OK")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
