#!/usr/bin/env python3
"""Smoke test: every workload (gated or not) end to end on the tiny
fixture, untraced and traced, checking each run's result line against
BENCHMARK.json.

    python3 perfbench/smoke.py [workload ...]
"""
import json
import os
import subprocess
import sys

import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(names):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
            1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    bad = 0
    for w in names or workloads.WORKLOADS:
        for trace in (0, 1):
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", "1", "--seconds", "3", "--trace", str(trace), "--scale", "smoke"],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                timeout=300)
            problems = []
            try:
                res = json.loads(p.stdout.strip().splitlines()[-1])
            except (IndexError, ValueError):
                res, problems = {}, [f"exit {p.returncode}, no result line"]
            if res:
                if not res["correct"] or res["failed"] or res["attempted"] < 1:
                    problems.append(f"correct={res['correct']} failed={res['failed']}")
                got = {k: v["unit"] for k, v in res["metrics"].items()}
                if got != want[trace]:
                    problems.append(f"metrics differ from BENCHMARK.json: "
                                    f"{sorted(set(got) ^ set(want[trace]))}")
            print(f"{w:14s} trace={trace} {'ok' if not problems else 'FAIL ' + '; '.join(problems)}")
            bad += bool(problems)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
