"""Self-check of the benchmark's counters. Run from the repo root:

    python3 perfbench/selfcheck.py [--seed 7] [--seconds 6] [workload ...]

Runs each workload (default: all four) twice with --trace 1 and the same
seed, and fails unless
  - both runs check every output (`correct` is true),
  - the deterministic counters repeat exactly: scheduler.jobs,
    functions.wasm.invocations, functions.proc.round_trips and
    functions.codec.payload_bytes_per_row,
  - on udf_lifecycle, functions.module.parsed_count is 0 at the end (each
    cycle also fails its operation if a module is still parsed after its
    DROP).
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ["udf_batch", "sql_relational", "pipeline_jobs", "udf_lifecycle"]
EXACT = ["scheduler.jobs", "functions.wasm.invocations", "functions.proc.round_trips",
         "functions.codec.payload_bytes_per_row"]


def run(workload, seed, seconds):
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                          "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
                         stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        return None
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=int, default=6)
    ap.add_argument("workloads", nargs="*", default=WORKLOADS)
    a = ap.parse_args()
    problems = []
    for w in a.workloads:
        r1, r2 = run(w, a.seed, a.seconds), run(w, a.seed, a.seconds)
        if r1 is None or r2 is None:
            problems.append(f"{w}: run failed")
            continue
        for i, r in enumerate((r1, r2), 1):
            if not r["correct"]:
                problems.append(f"{w}: run {i} failed {r['failed']} of {r['attempted']} operations")
        for k in EXACT:
            v1, v2 = r1["metrics"][k]["value"], r2["metrics"][k]["value"]
            status = "same" if v1 == v2 else "DIFFERS"
            print(f"{w:15s} {k:40s} {v1!r:>14} {v2!r:>14} {status}")
            if v1 != v2:
                problems.append(f"{w}: {k} {v1} != {v2}")
        if w == "udf_lifecycle":
            for r in (r1, r2):
                if r["metrics"]["functions.module.parsed_count"]["value"] != 0:
                    problems.append(f"{w}: modules still parsed after the last DROP")
    for p in problems:
        print("FAIL", p)
    print("selfcheck:", "ok" if not problems else f"{len(problems)} problems")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
