#!/usr/bin/env python3
"""Count repeatability: run a workload traced twice with one seed and
compare the per-operation counts (jobs, stages, tasks, scanned files,
shuffle bytes) of the timed passes.

    python3 perfbench/repeat.py --workload verbs --seed 1 [--seconds 15]

Prints every count that differs and exits nonzero if any count outside
the listed exceptions differs.  Exceptions: shuffle bytes (the skipping
reads of `verbs` scan a layout each run rebuilds with sampled range bounds)
and `ingest` (the work per trigger depends on how file listing splits the
feed into triggers).
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
EXACT = ("jobs", "stages", "tasks", "scan_files")
LOOSE = ("shuffle_write", "shuffle_read")


def traced(workload, seed, seconds, dest):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", "1"]
    subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL)
    src = os.path.join(BENCH, "work", "trace", f"{workload}-{seed}.counts.json")
    shutil.copy(src, dest)
    return json.load(open(dest))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=15)
    a = ap.parse_args()
    base = os.path.join(BENCH, "work", "trace", f"{a.workload}-{a.seed}")
    one = traced(a.workload, a.seed, a.seconds, base + ".counts.1.json")
    two = traced(a.workload, a.seed, a.seconds, base + ".counts.2.json")
    bad = 0
    for op in sorted(set(one) & set(two)):
        for k in EXACT + LOOSE:
            if one[op][k] != two[op][k]:
                strict = k in EXACT and a.workload != "ingest"
                bad += strict
                print(f"{op} {k}: {one[op][k]} vs {two[op][k]}"
                      f"{'' if strict else ' (listed exception)'}")
    print(f"{len(set(one) & set(two))} operations compared, "
          f"{bad} unexplained differences")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
