#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the program and the
runner from source (sbt, into target/ and perfbench/target/); later runs
reuse the build while the sources are unchanged. Each run gets a fresh
java.io.tmpdir, Spark local dir and working directory under .perfbench/,
removed afterwards, so every run stages its fixtures cold.

The last line of stdout is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer metrics
and writes the run's spans to .perfbench/spans/. perfbench/README.md
defines every metric.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys

import layers

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

WORKLOADS = ("dashboard", "warehouse_load", "store_maintenance")
JVM_LIMIT_S = 165
# the root build.sbt's javaOptions (Spark on JDK 17 needs the --add-opens),
# plus a fixed time zone and Spark bound to the loopback interface
JAVA_OPTS = [
    "-Xmx3g",
    "-XX:-UsePerfData",
    "-Duser.timezone=UTC",
    "-Dspark.sql.session.timeZone=UTC",
    "-Dspark.ui.enabled=false",
    "-Dspark.driver.host=127.0.0.1",
    "-Dspark.driver.bindAddress=127.0.0.1",
] + [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", p + "=ALL-UNNAMED")]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_stamp():
    """Hash of every file the build reads, so a stale build is rebuilt."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(d):
            files += [os.path.join(d, f) for f in os.listdir(d)
                      if f.endswith((".sbt", ".scala", ".properties"))]
    for r in roots:
        for dirpath, _, names in os.walk(r):
            files += [os.path.join(dirpath, n) for n in names]
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the program and the runner; return the runtime classpath."""
    out = os.path.join(STATE, "build")
    stamp_file, cp_file = os.path.join(out, "stamp"), os.path.join(out, "classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            if f.read() == stamp:
                return g.read()
    os.makedirs(os.path.join(out, "tmp"), exist_ok=True)
    # dependencies come from the local caches only
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    proc = subprocess.run(
        ["sbt", "-batch", "-no-colors", "-J-XX:-UsePerfData",
         f"-Djava.io.tmpdir={os.path.join(out, 'tmp')}",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=840)
    cp = [ln.strip() for ln in proc.stdout.splitlines()
          if ln.startswith(os.path.join(HERE, "target"))]
    if proc.returncode != 0 or not cp:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        die("build failed")
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1]


# ------------------------------------------------------------------ run

def run_jvm(classpath, args, data, extra):
    """Run the JVM runner in a fresh, private directory; return its result."""
    run_dir = os.path.join(STATE, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "local", "cwd"):
        os.makedirs(os.path.join(run_dir, d))
    result_file = os.path.join(run_dir, "result.json")
    log_file = os.path.join(STATE, "last_jvm.log")
    cmd = (["java"] + JAVA_OPTS + [
        f"-Djava.io.tmpdir={run_dir}/tmp",
        f"-Dspark.local.dir={run_dir}/local",
        f"-Dspark.sql.warehouse.dir={run_dir}/cwd/spark-warehouse",
        f"-Dderby.system.home={run_dir}/cwd",
        "-cp", classpath, "perfbench.Runner",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", data, "--out", result_file,
    ] + extra)
    proc = None
    try:
        with open(log_file, "w") as log:
            proc = subprocess.Popen(cmd, cwd=os.path.join(run_dir, "cwd"),
                                    stdin=subprocess.DEVNULL, stdout=log, stderr=log)
            try:
                code = proc.wait(timeout=JVM_LIMIT_S)
            except subprocess.TimeoutExpired:
                die(f"runner exceeded {JVM_LIMIT_S} s (log: {log_file})", 3)
        if code != 0 or not os.path.exists(result_file):
            with open(log_file) as f:
                sys.stderr.write(f.read()[-4000:])
            die(f"runner exited with {code} (log: {log_file})", 3)
        with open(result_file) as f:
            return json.load(f)
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)


# -------------------------------------------------------------- metrics

def nearest_rank(values, q):
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def check_outputs(res, expected):
    """Failed untimed calls: throws, and row count or hash mismatches."""
    failures = []
    for c in res["checks"]:
        want = expected.get(c["cell"])
        if "error" in c:
            failures.append(f"{c['cell']}: threw {c['error']}")
        elif want is None:
            failures.append(f"{c['cell']}: no expected output recorded")
        elif (c["rows"], c["hash"]) != (want["rows"], want["hash"]):
            failures.append(f"{c['cell']}: rows={c['rows']} hash={c['hash']}, "
                            f"expected rows={want['rows']} hash={want['hash']}")
    return failures


def end_to_end(res):
    """The end-to-end metrics (name -> value) and the sample counts."""
    # a call that threw is timed only when no call succeeded
    lat = [c["end_ms"] - c["start_ms"] for c in res["calls"] if c["error"] is None] or \
        [c["end_ms"] - c["start_ms"] for c in res["calls"]]
    rounds = [(r["end_ms"] - r["start_ms"]) / 1000 for r in res["rounds"]]
    metrics = {
        "setup_s": (res["timed_start_ms"] - res["process_start_ms"]) / 1000,
        "round_s": statistics.median(rounds),
        "latency_p50_ms": statistics.median(lat),
    }
    # a p90 needs at least 10 samples beyond it
    if len(lat) >= 100:
        metrics["latency_p90_ms"] = nearest_rank(lat, 0.9)
    return metrics, {"rounds": len(rounds), "calls": len(res["calls"])}


def per_layer(res, spans_file):
    """The per-layer metrics of a traced run, and the cells whose counts drift."""
    t = layers.Trace(res)
    metrics = {**t.per_round(), **layers.setup_layer(res),
               "box.probe_ms": statistics.mean(res["probe_ms"]),
               "trace.round_s": statistics.median(
                   (r["end_ms"] - r["start_ms"]) / 1000 for r in res["rounds"])}
    layers.write_spans(t.spans(), spans_file)
    return metrics, t.drifting_cells()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", default="sf0.01", help="data scale under perfbench/data")
    ap.add_argument("--record-expected", action="store_true",
                    help="run no timed round; record the check pass's outputs as expected")
    args = ap.parse_args()
    # on SIGTERM, unwind through the finally blocks that stop the runner JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    for f in ("build.sbt", "src/main/scala/graft/SparkEntry.scala", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, f)):
            die(f"{f} not found: run from the root of a full checkout of the repository")
    data = os.path.join(HERE, "data", args.sf)
    expected_file = os.path.join(HERE, "expected", f"{args.sf}.json")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    classpath = build()

    # a traced run needs two rounds for the count-repeatability self-check
    extra = ["--min-rounds", str(1 + args.trace)]
    if args.record_expected:
        extra += ["--max-rounds", "0"]
    res = run_jvm(classpath, args, data, extra)
    if args.record_expected:
        record(res, expected_file)
        return

    with open(expected_file) as f:
        expected = json.load(f)
    failures = [f"{e['fn']}: threw {e['error']}" for e in res["setup_errors"]]
    failures += check_outputs(res, expected)
    failures += [f"{c['cell']} (round {c['round']}): threw {c['error']}"
                 for c in res["calls"] if c["error"] is not None]
    attempted = len(res["setup_fns"]) + len(res["checks"]) + len(res["calls"])
    for msg in failures:
        print(f"FAILED {msg}", file=sys.stderr)

    e2e, counts = end_to_end(res)
    summary = {"workload": args.workload, "seed": args.seed, "trace": args.trace, **counts,
               "failed_frac": len(failures) / attempted, "failed_cells": failures,
               "probe_ms": res["probe_ms"]}
    if args.trace:
        spans_file = os.path.join(STATE, "spans", f"{args.workload}-seed{args.seed}.jsonl")
        layer_metrics, drift = per_layer(res, spans_file)
        for cell, keys in drift.items():
            print(f"DRIFT {cell}: {', '.join(keys)} differ across rounds", file=sys.stderr)
        # the traced run's own end-to-end values; against untraced runs
        # they show the tracing overhead
        summary.update(spans=spans_file, drifting_cells=drift, traced_end_to_end=e2e,
                       per_layer=layer_metrics)
        metrics, units = layer_metrics, {m["name"]: m["unit"] for m in spec["per_layer"]}
    else:
        summary.update(e2e)
        metrics, units = e2e, {m["name"]: m["unit"] for m in spec["end_to_end"]}
    # a metric nothing computed is left out of the result, not read as 0
    missing = [k for k in units if k not in metrics]
    if missing:
        print(f"NOT COMPUTED {', '.join(missing)}", file=sys.stderr)
    print(json.dumps(summary))
    print(json.dumps({
        "correct": not failures, "attempted": attempted, "failed": len(failures),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()
                    if k in metrics}}))


def record(res, expected_file):
    """Store each cell's output in the check pass as its expected output."""
    errors = [f"{c['cell']}: {c['error']}" for c in res["checks"] if "error" in c]
    got = {c["cell"]: (c["rows"], c["hash"]) for c in res["checks"] if "rows" in c}
    if errors:
        die("cannot record expected outputs:\n  " + "\n  ".join(errors), 1)
    existing = {}
    if os.path.exists(expected_file):
        with open(expected_file) as f:
            existing = json.load(f)
    existing.update({cell: {"rows": n, "hash": h} for cell, (n, h) in got.items()})
    os.makedirs(os.path.dirname(expected_file), exist_ok=True)
    with open(expected_file, "w") as f:
        json.dump(dict(sorted(existing.items())), f, indent=1)
        f.write("\n")
    print(f"recorded {len(got)} cells into {expected_file}", file=sys.stderr)


if __name__ == "__main__":
    main()
