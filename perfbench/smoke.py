#!/usr/bin/env python3
"""The benchmark's own smoke check, on sf0.001 inputs.

  python3 perfbench/smoke.py [workload ...]

For every workload of BENCHMARK.json it makes one untraced and one traced
run and checks that each emits exactly the declared metric names with
their units and no failed op; then one run with a deliberately corrupted
expected result, which must come out with failed > 0 and ok_frac < 1.
Exits 1 and lists the problems if any check fails.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace, corrupt=False):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", str(trace), "--smoke"]
    p = subprocess.run(cmd + (["--corrupt"] if corrupt else []), cwd=ROOT,
                       capture_output=True, text=True, timeout=600)
    if p.returncode != 0 or not p.stdout.strip():
        return None, f"exit {p.returncode}: {p.stderr[-1500:]}"
    return json.loads(p.stdout.strip().splitlines()[-1]), None


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    declared = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
                1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    names = sys.argv[1:] or [w["name"] for w in bench["workloads"]]
    problems = []
    for w in names:
        for trace in (0, 1):
            res, err = run(w, trace)
            if err:
                problems.append(f"{w} trace={trace}: {err}")
                continue
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != declared[trace]:
                problems.append(f"{w} trace={trace}: metrics differ from "
                                f"BENCHMARK.json: {sorted(set(got) ^ set(declared[trace]))}")
            if res["failed"] or not res["correct"]:
                problems.append(f"{w} trace={trace}: {res['failed']} failed ops")
        res, err = run(w, 0, corrupt=True)
        if err:
            problems.append(f"{w} corrupt: {err}")
        elif res["failed"] == 0 or res["metrics"]["ok_frac"]["value"] >= 1:
            problems.append(f"{w} corrupt: a corrupted expectation went unnoticed")
        print(f"{w}: {'ok' if not any(p.startswith(w) for p in problems) else 'FAILED'}",
              flush=True)
    for p in problems:
        print(p)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
