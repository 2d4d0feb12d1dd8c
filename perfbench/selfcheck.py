#!/usr/bin/env python3
"""Self-check of the benchmark at tiny input sizes.

    python3 perfbench/selfcheck.py

Runs every workload of BENCHMARK.json untraced and traced on tiny inputs. It
checks that the result line has exactly the keys correct, attempted, failed
and metrics, that the outputs were correct, and that every end-to-end
(untraced) or per-layer (traced) metric is printed with its declared unit
and a numeric value. Prints each violation and exits 1 if there was any.
Takes a few minutes: each run still starts Spark and pays its cold first
pass.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    problems = []
    for w in bench["workloads"]:
        for trace, declared in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            cmd = bench["command"] + ["--workload", w["name"], "--seed", "7",
                                      "--seconds", "2", "--trace", str(trace),
                                      "--scale", "tiny"]
            r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                               stderr=subprocess.DEVNULL, text=True, timeout=900)
            tag = f"{w['name']} trace={trace}"
            lines = r.stdout.strip().splitlines()
            if r.returncode != 0 or not lines:
                problems.append(f"{tag}: exit {r.returncode}, no result")
                continue
            res = json.loads(lines[-1])
            if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
                problems.append(f"{tag}: result keys {sorted(res)}")
            if res.get("correct") is not True or res.get("failed") != 0:
                problems.append(f"{tag}: outputs not correct: {lines[-2][:400]}")
            got = res.get("metrics", {})
            want = {m["name"]: m["unit"] for m in declared}
            for name, unit in want.items():
                m = got.get(name)
                if m is None:
                    problems.append(f"{tag}: {name} missing")
                elif m.get("unit") != unit or not isinstance(m.get("value"), (int, float)):
                    problems.append(f"{tag}: {name} printed as {m}, want unit {unit}")
            for name in set(got) - set(want):
                problems.append(f"{tag}: {name} printed but not declared")
            print(f"{tag}: {len(got)} metrics checked", file=sys.stderr)
    for p in problems:
        print(p)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
