#!/usr/bin/env python3
"""Self-test: the benchmark's checks must catch a wrong output.

Runs every workload briefly with --corrupt 1, which alters outputs before
they are checked (one tick window's VWAP; in batch_mix one node of every
graph operator's output and one column of one query's output), and fails
unless each run reports correct=false and a nonzero failed count.

    python3 perfbench/selftest.py
"""
import json
import subprocess
import sys
from pathlib import Path

RUN = str(Path(__file__).resolve().parent / "run.py")
WORKLOADS = ("tick_ingest", "batch_mix")


def main():
    ok = True
    for w in WORKLOADS:
        p = subprocess.run(
            [sys.executable, RUN, "--workload", w, "--seed", "1",
             "--seconds", "2", "--trace", "0", "--corrupt", "1"],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        if p.returncode != 0:
            print(f"{w}: run failed\n{p.stderr[-2000:]}")
            ok = False
            continue
        res = json.loads(p.stdout.strip().splitlines()[-1])
        caught = res["correct"] is False and res["failed"] > 0
        print(f"{w}: attempted={res['attempted']} failed={res['failed']} "
              f"correct={res['correct']} -> "
              f"{'caught' if caught else 'NOT CAUGHT'}")
        ok &= caught
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
