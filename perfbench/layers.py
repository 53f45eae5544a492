"""Per-layer metrics and spans from a traced run (run.py --trace 1).

The runner records its own spans (fixture staging, the warm and check pass,
rounds, calls split into build and exec) and, through Spark listeners,
every job (tagged with its phase, round and cell), stage with its task
totals, SQL execution, planning phases and streaming trigger. This module
joins them into one span tree (run -> setup -> fixtures -> setup function
-> job -> stage, and run -> round -> call -> build/exec -> job -> stage),
computes self times, and reduces the timed rounds to per-round totals.
"""
import json
import os

# per-stage task totals recorded by Recorder.scala, summed per round
STAGE_COUNTERS = {
    "exec.run_ms": "run_ms", "exec.gc_ms": "gc_ms",
    "scan.bytes": "in_bytes", "scan.records": "in_records",
    "shuffle.write_bytes": "shuffle_write_bytes", "shuffle.read_bytes": "shuffle_read_bytes",
    "shuffle.fetch_wait_ms": "fetch_wait_ms", "shuffle.spill_bytes": "spill_bytes",
    "write.bytes": "out_bytes", "write.records": "out_records",
}
TRIGGER_COUNTERS = {
    "stream.trigger_ms": "trigger_ms", "stream.add_batch_ms": "add_batch_ms",
    "stream.wal_commit_ms": "wal_commit_ms", "stream.commit_offsets_ms": "commit_offsets_ms",
    "stream.query_planning_ms": "query_planning_ms",
}
PLAN_PHASES = ("analysis_ms", "optimization_ms", "planning_ms")
# counts that must repeat exactly in every round, per cell; shuffle bytes
# may drift within graft.Bench's +-0.5 % band
EXACT_COUNTS = ("jobs", "tasks", "sql_executions", "scan_bytes", "write_bytes")


def union_ms(intervals, lo, hi):
    """Length of the union of [a, b] intervals, clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


class Trace:
    def __init__(self, res):
        ev = res["trace"]
        self.res = res
        jobs = {}
        for j in ev["jobs"]:
            jobs.setdefault(j["job"], {}).update(j)
        for j in jobs.values():
            phase, rnd, what = (j.get("tag") or "||").split("|")
            j["phase"], j["round"], j["cell"] = phase, int(rnd or -2), what
        self.jobs = sorted(jobs.values(), key=lambda j: j["job"])
        stage_job = {}
        for j in self.jobs:
            for s in j.get("stages", []):
                stage_job.setdefault(s, j)
        self.stages = [s for s in ev["stages"] if s["stage"] in stage_job]
        for s in self.stages:
            s["job"] = stage_job[s["stage"]]
        self.sql = ev["sql"]
        self.plans = ev["plans"]
        self.triggers = ev["triggers"]

    # ----------------------------------------------------------- selection

    def in_call(self, call):
        """(jobs, stages, sql executions, plans, triggers) of one timed call."""
        mine = lambda j: j["phase"] in ("build", "exec") and j["round"] == call["round"] \
            and j["cell"] == call["cell"]
        inside = lambda t: call["start_ms"] <= t <= call["end_ms"]
        return ([j for j in self.jobs if mine(j)],
                [s for s in self.stages if mine(s["job"])],
                [e for e in self.sql if inside(e["start_ms"])],
                [p for p in self.plans if inside(p["end_ms"])],
                [t for t in self.triggers if inside(t["start_ms"])])

    def call_counts(self, call):
        jobs, stages, sql, _, _ = self.in_call(call)
        total = lambda k: sum(s[k] for s in stages)
        return {"jobs": len(jobs), "tasks": total("tasks"), "sql_executions": len(sql),
                "scan_bytes": total("in_bytes"), "write_bytes": total("out_bytes"),
                "shuffle_write_bytes": total("shuffle_write_bytes")}

    # ------------------------------------------------------------- metrics

    def per_round(self):
        """Per-layer metrics, each a mean over the timed rounds.

        A layer the workload does not touch reads 0 because its counters
        sum over no event; a composed cell the workload does not run is
        set to 0 explicitly.
        """
        res = self.res
        composed = res["composed_cells"]
        cores = res["cores"]
        rounds = res["rounds"]
        n = len(rounds)
        m = {}

        def add(name, value):
            m[name] = m.get(name, 0) + value / n

        for r, rnd in enumerate(rounds):
            lo, hi = rnd["start_ms"], rnd["end_ms"]
            wall = hi - lo
            calls = [c for c in res["calls"] if c["round"] == r]
            parts = [self.in_call(c) for c in calls]
            jobs = [j for p in parts for j in p[0]]
            stages = [s for p in parts for s in p[1]]
            sql = [e for p in parts for e in p[2]]
            plans = [e for p in parts for e in p[3]]
            triggers = [t for p in parts for t in p[4]]
            run_ms = sum(s["run_ms"] for s in stages)
            busy = union_ms([(s["submit_ms"], s["complete_ms"]) for s in stages], lo, hi)
            add("sched.jobs", len(jobs))
            add("sched.stages", len(stages))
            add("sched.tasks", sum(s["tasks"] for s in stages))
            add("sched.busy_ms", busy)
            add("sched.driver_gap_ms", wall - busy)
            add("sched.core_util", run_ms / (wall * cores))
            add("exec.cpu_ms", sum(s["cpu_ns"] for s in stages) / 1e6)
            for name, key in STAGE_COUNTERS.items():
                add(name, sum(s[key] for s in stages))
            add("plan.executions", len(sql))
            for k in PLAN_PHASES:
                add(f"plan.{k}", sum(e[k] for e in plans))
            add("cell.build_ms", sum(c["built_ms"] - c["start_ms"] for c in calls
                                     if c["error"] is None))
            add("cell.exec_ms", sum(c["end_ms"] - c["built_ms"] for c in calls
                                    if c["error"] is None))
            add("stream.triggers", len(triggers))
            for name, key in TRIGGER_COUNTERS.items():
                add(name, sum(t[key] for t in triggers))
            for c, (cjobs, _, _, cplans, _) in zip(calls, parts):
                if c["cell"] in composed:
                    add(f"cell.{c['cell']}.wall_ms", c["end_ms"] - c["start_ms"])
                    add(f"cell.{c['cell']}.jobs", len(cjobs))
                    add(f"cell.{c['cell']}.plan_ms",
                        sum(e[k] for e in cplans for k in PLAN_PHASES))
        m["sched.tasks_per_stage"] = m["sched.tasks"] / m["sched.stages"] if m["sched.stages"] else 0.0
        for c in composed:
            if c not in res["cells"]:
                for k in ("wall_ms", "jobs", "plan_ms"):
                    m[f"cell.{c}.{k}"] = 0.0
        return m

    def drifting_cells(self):
        """Cells whose counts did not repeat across the timed rounds."""
        by_cell = {}
        for c in self.res["calls"]:
            if c["error"] is None:
                by_cell.setdefault(c["cell"], []).append(self.call_counts(c))
        drift = {}
        for cell, counts in sorted(by_cell.items()):
            base = counts[0]
            bad = sorted({k for cur in counts[1:] for k in EXACT_COUNTS if cur[k] != base[k]} |
                         {"shuffle_write_bytes" for cur in counts[1:]
                          if abs(cur["shuffle_write_bytes"] - base["shuffle_write_bytes"])
                          > max(1, base["shuffle_write_bytes"] // 200)})
            if bad:
                drift[cell] = bad
        return drift

    # --------------------------------------------------------------- spans

    def spans(self):
        """The span tree with self times: a list of dicts."""
        res = self.res
        out = []

        def span(sid, parent, name, start, end, **attrs):
            out.append(dict(id=sid, parent=parent, name=name, start_ms=start, end_ms=end,
                            **attrs))

        span("run", None, "run", res["process_start_ms"],
             max(r["end_ms"] for r in res["rounds"]))
        span("session", "run", "session", res["process_start_ms"], res["session_ready_ms"])
        setup = [s for s in res["spans"] if s["parent"] == "setup"]
        span("setup", "run", "setup", min(s["start_ms"] for s in setup),
             max(s["end_ms"] for s in setup))
        for s in res["spans"]:
            span(s["name"], s["parent"], s["name"].split("/")[-1], s["start_ms"], s["end_ms"])
        for j in self.jobs:
            if j["phase"] == "setup":
                parent = f"fixtures/{j['cell']}"
            elif j["phase"] == "warm":
                parent = "warm"
            elif j["phase"] in ("build", "exec"):
                parent = f"round{j['round']}/{j['cell']}/{j['phase']}"
            else:
                parent = "run"
            span(f"job{j['job']}", parent, f"job {j['job']}", j["start_ms"],
                 j.get("end_ms", j["start_ms"]), ok=j.get("ok"))
        for s in self.stages:
            span(f"stage{s['stage']}.{s['attempt']}", f"job{s['job']['job']}",
                 f"stage {s['stage']}", s["submit_ms"], s["complete_ms"],
                 tasks=s["tasks"], run_ms=s["run_ms"])
        for r, rnd in enumerate(res["rounds"]):
            span(f"round{r}", "run", f"round {r}", rnd["start_ms"], rnd["end_ms"])
        for c in res["calls"]:
            cid = f"round{c['round']}/{c['cell']}"
            span(cid, f"round{c['round']}", c["cell"], c["start_ms"], c["end_ms"],
                 error=c["error"])
            # a call whose build threw has no exec span
            built = c["built_ms"] if c["built_ms"] is not None else c["end_ms"]
            span(f"{cid}/build", cid, "build", c["start_ms"], built)
            if c["built_ms"] is not None:
                span(f"{cid}/exec", cid, "exec", c["built_ms"], c["end_ms"])
        children = {}
        for s in out:
            children.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
        for s in out:
            s["self_ms"] = (s["end_ms"] - s["start_ms"]) - union_ms(
                children.get(s["id"], []), s["start_ms"], s["end_ms"])
        return out


def setup_layer(res):
    """setup.* metrics; a setup function the workload does not call reads 0."""
    dur = {s["name"]: (s["end_ms"] - s["start_ms"]) / 1000 for s in res["spans"]}
    m = {"setup.session_s": (res["session_ready_ms"] - res["process_start_ms"]) / 1000,
         "setup.fixtures_s": dur["fixtures"],
         "setup.warm_s": dur["warm"]}
    for fn in res["all_setup_fns"]:
        m[f"setup.{fn}_s"] = dur[f"fixtures/{fn}"] if fn in res["setup_fns"] else 0.0
    return m


def write_spans(spans, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for s in spans:
            f.write(json.dumps(s) + "\n")
