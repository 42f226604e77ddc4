#!/usr/bin/env python3
"""Self-test of the benchmark at toy size (a 300-document corpus).

    python3 perfbench/selftest.py

For every workload in BENCHMARK.json it checks that an untraced run emits
every end-to-end metric and a traced run every per-layer metric, each with
the unit BENCHMARK.json gives, and that both runs answer correctly. Then it
checks that a run whose golden list was deliberately corrupted reports a
wrong answer and exits non-zero. Takes a few minutes; exits 1 on any
failure.
"""
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(workload, trace, *extra):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace), "--toy", *extra],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems = []
    for w in (x["name"] for x in bench["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            rc, res = run(w, trace)
            if rc != 0 or res is None or res["correct"] is not True or res["failed"] != 0:
                problems.append(f"{w} trace={trace}: exit {rc}, result {res and {k: res[k] for k in ('correct', 'attempted', 'failed')}}")
                continue
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if set(got) != set(want):
                problems.append(f"{w} trace={trace}: missing {sorted(set(want) - set(got))}, "
                                f"unexpected {sorted(set(got) - set(want))}")
            bad = sorted(k for k in want if k in got and got[k] != want[k])
            if bad:
                problems.append(f"{w} trace={trace}: wrong units for {bad}")
            print(f"ok: {w} trace={trace} ({len(got)} metrics)", flush=True)
    w = bench["workloads"][0]["name"]
    rc, res = run(w, 0, "--corrupt-golden")
    if rc == 0 or res is None or res["correct"] is not False or res["failed"] < 1:
        problems.append(f"corrupted golden list not caught: exit {rc}, result "
                        f"{res and {k: res[k] for k in ('correct', 'attempted', 'failed')}}")
    else:
        print(f"ok: corrupted golden list caught ({res['failed']} failed, exit {rc})")
    for p in problems:
        print("FAIL:", p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
