#!/usr/bin/env python3
"""Smoke test of the benchmark: each workload for one round at sf0.001.

    python3 perfbench/smoke_test.py [--workload NAME ...]

For each workload (default: those in BENCHMARK.json) it runs run.py once
untraced (one round) and once traced (two rounds, the least a traced run
makes). It asserts that the exit code is 0, that the outputs check out,
and that every end-to-end (untraced) or per-layer (traced) metric in
BENCHMARK.json is printed with its unit.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", action="append",
                    help="workload to run (repeatable); default: every one in BENCHMARK.json")
    workloads = ap.parse_args().workload or [w["name"] for w in spec["workloads"]]
    failures = []
    for workload in workloads:
        for tr, kind in ((0, "end_to_end"), (1, "per_layer")):
            cmd = spec["command"] + ["--workload", workload, "--seed", "1", "--seconds", "1",
                                     "--trace", str(tr), "--sf", "sf0.001"]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            lines = proc.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if lines else {}
            problems = []
            if proc.returncode != 0:
                problems.append(f"exit code {proc.returncode}: {proc.stderr[-2000:]}")
            elif not result.get("correct"):
                problems.append(f"outputs wrong: {lines[-2] if len(lines) > 1 else ''}")
            got = result.get("metrics", {})
            for m in spec[kind]:
                v = got.get(m["name"])
                if not (isinstance(v, dict) and isinstance(v.get("value"), (int, float))
                        and v.get("unit") == m["unit"]):
                    problems.append(f"metric {m['name']} [{m['unit']}] missing: {v}")
            status = "ok" if not problems else "FAIL"
            print(f"{status} {workload} trace={tr}", flush=True)
            failures += [f"{workload} trace={tr}: {p}" for p in problems]
    for f in failures:
        print(f, file=sys.stderr)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
