"""Turns the driver's ``run.json`` into spans and metrics.

Spans: one ``query`` span per execution with ``release``, ``build`` and
``execute`` children; ``job``, ``stage``, ``action`` and ``batch``
spans from Spark's listeners.  A Spark-side span is attached to the
execution phase named by its job group when it has one, and otherwise
to the phase whose interval holds its start: with one client, only one
phase runs at a time.  A span's self time is its duration minus the
part of it that the named kinds of child span cover.

Per-layer metrics are totals over the timed passes divided by the
number of passes, so a count that each pass repeats reads the same in
every run, whatever the number of passes.
"""
import bisect
import math
import statistics

MIB = float(1 << 20)
PHASES = ("release", "build", "execute")
# Stage task sums, in the order Driver.Recorder keeps them.
SUMS = ("tasks", "failed", "run_ms", "cpu_ns", "shuffle_w", "shuffle_r", "fetch_wait_ms",
        "spill", "in_rows", "in_bytes", "out_bytes", "gc_ms", "sched_ms")


def wall(e):
    return (e["execute"][1] - e["release"][0]) / 1000.0


def spans(run):
    """All spans of a run, parents resolved."""
    out, phase_ids = [], set()
    for e in run["execs"]:
        out.append({"id": e["qid"], "parent": None, "kind": "query", "name": e["name"],
                    "start": e["release"][0], "end": e["execute"][1], "pass": e["pass"],
                    "ok": e["ok"]})
        for p in PHASES:
            sid = f'{e["qid"]}:{p}'
            phase_ids.add(sid)
            out.append({"id": sid, "parent": e["qid"], "kind": p, "name": e["name"],
                        "start": e[p][0], "end": e[p][1], "pass": e["pass"]})
    phase_spans = sorted((s for s in out if s["kind"] in PHASES), key=lambda s: s["start"])
    starts = [s["start"] for s in phase_spans]

    def by_time(t):
        i = bisect.bisect_right(starts, t) - 1
        if i >= 0 and t <= phase_spans[i]["end"]:
            return phase_spans[i]["id"]
        return None

    for j in run.get("jobs", []):
        parent = j["group"] if j["group"] in phase_ids else by_time(j["start"])
        out.append({"id": f'job{j["id"]}', "parent": parent, "kind": "job", "name": j["group"],
                    "start": j["start"], "end": j["end"], "ok": j["ok"]})
    for s in run.get("stages", []):
        out.append({"id": f'stage{s["id"]}.{s["attempt"]}', "parent": by_time(s["start"]),
                    "kind": "stage", "name": str(s["id"]), "start": s["start"], "end": s["end"],
                    **dict(zip(SUMS, s["sums"]))})
    for k, a in enumerate(run.get("actions", [])):
        out.append({"id": f"action{k}", "parent": by_time(a["start"]), "kind": "action",
                    "name": a["func"], "start": a["start"], "end": a["start"] + a["plan_ms"],
                    "plan_ms": a["plan_ms"], "write_path": a["write_path"]})
    for b in run.get("batches", []):
        d = b["duration_ms"]
        out.append({"id": f'batch{b["run"]}.{b["batch"]}', "parent": by_time(b["start"]),
                    "kind": "batch", "name": b["run"], "start": b["start"],
                    "end": b["start"] + d.get("triggerExecution", 0), "duration_ms": d,
                    "rows": b["rows"], "state_rows": b["state_rows"],
                    "state_bytes": b["state_bytes"]})
    return out


def covered(lo, hi, intervals):
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for s, e in sorted(intervals):
        s, e = max(s, cur), min(e, hi)
        if e > s:
            total += e - s
            cur = e
    return total


def self_time(span, children):
    """Span duration minus the part its children cover, in seconds."""
    d = span["end"] - span["start"]
    return (d - covered(span["start"], span["end"], [(c["start"], c["end"]) for c in children])) / 1000.0


def _median(xs):
    return statistics.median(xs) if xs else None


def timed_passes(run):
    passes = {}
    for e in run["execs"]:
        if e["pass"] >= 0:
            passes.setdefault(e["pass"], []).append(e)
    return passes


def failures(run, defects):
    """Timed executions that threw, or whose result differs from the
    warm-up result or (for a query in ``defects``) from the oracle."""
    return [e for e in run["execs"] if e["pass"] >= 0 and (not e["ok"] or e["name"] in defects)]


def end_to_end(run):
    """Metrics a user of the system sees; timings only from successful
    executions, so a failure can never read as a fast run."""
    passes = timed_passes(run)
    clean = [sum(wall(e) for e in es) for es in passes.values() if all(e["ok"] for e in es)]
    per_query = {}
    for es in passes.values():
        for e in es:
            if e["ok"]:
                per_query.setdefault(e["name"], []).append(wall(e))
    names = {e["name"] for e in run["execs"]}
    geo = None
    if per_query and set(per_query) == names:
        geo = math.exp(statistics.fmean(math.log(_median(v)) for v in per_query.values()))
    return {
        "setup_s": ((run["ready_ms"] - run["launch_ms"]) + (run["warm"][1] - run["warm"][0])) / 1000.0,
        "mix_s": _median(clean),
        "query_geomean_s": geo,
        # After the first pass, so the value does not depend on the
        # number of timed passes.
        "heap_retained_mb": run["heap_retained_bytes"] / MIB,
    }, {"mix_s": len(clean), "query_geomean_s": min(map(len, per_query.values()), default=0),
        "passes": len(passes)}


def per_layer(run, sp):
    """Per-layer metrics of a traced run, per timed pass."""
    passes = timed_passes(run)
    n = max(1, len(passes))
    timed = {e["qid"] for es in passes.values() for e in es}
    by_id = {s["id"]: s for s in sp}
    kids = {}
    for s in sp:
        kids.setdefault(s["parent"], []).append(s)

    def phase(s):  # the phase kind a Spark-side span is attached to, if timed
        p = by_id.get(s["parent"])
        return p["kind"] if p and p["parent"] in timed else None

    def of(kind, ph=None):
        return [s for s in sp if s["kind"] == kind and phase(s) and (ph is None or phase(s) == ph)]

    ph_spans = {p: [s for s in sp if s["kind"] == p and s["parent"] in timed] for p in PHASES}
    dur = {p: sum(s["end"] - s["start"] for s in v) / 1000.0 for p, v in ph_spans.items()}
    query_s = sum(dur.values())
    stages = of("stage")
    tot = {k: sum(s[k] for s in stages) for k in SUMS}
    jobs, actions, batches = of("job"), of("action"), of("batch")
    build_actions = of("action", "build")
    ckpt = [a for a in build_actions if a["write_path"] in run.get("ckpt_bytes", {})]
    streams = [s for s in ph_spans["build"] if any(c["kind"] == "batch" for c in kids.get(s["id"], []))]
    last_batch = {b["name"]: b for b in sorted(batches, key=lambda b: b["start"])}
    dsum = lambda *keys: sum(b["duration_ms"].get(k, 0) for b in batches for k in keys) / 1000.0 / n
    with_data = [b for b in batches if b["rows"] > 0]
    timed_execs = [e for es in passes.values() for e in es]
    m = {
        # operators: graft's builders behind Q.spark
        "build_s": dur["build"] / n,
        "build_share": dur["build"] / query_s if query_s else 0.0,
        "build_self_s": sum(self_time(s, [c for c in kids.get(s["id"], []) if c["kind"] == "job"])
                            for s in ph_spans["build"]) / n,
        "build_jobs": len(of("job", "build")) / n,
        "build_actions": len(build_actions) / n,
        "ckpt_writes": len(ckpt) / n,
        "ckpt_mb": sum(run["ckpt_bytes"][a["write_path"]] for a in ckpt) / MIB / n,
        # plans: Catalyst and graft's extensions, over every action
        "plan_s": sum(a["plan_ms"] for a in actions) / 1000.0 / n,
        "actions": len(actions) / n,
        # exec: the result's own action
        "exec_s": dur["execute"] / n,
        "exec_self_s": sum(self_time(s, [c for c in kids.get(s["id"], []) if c["kind"] == "job"])
                           for s in ph_spans["execute"]) / n,
        "exec_jobs": len(of("job", "execute")) / n,
        # spark.scheduler
        "jobs": len(jobs) / n,
        "stages": len(stages) / n,
        "tasks": tot["tasks"] / n,
        "task_run_s": tot["run_ms"] / 1000.0 / n,
        "task_cpu_s": tot["cpu_ns"] / 1e9 / n,
        "task_busy": tot["run_ms"] / 1000.0 / (query_s * run["cpus"]) if query_s else 0.0,
        "sched_delay_s": tot["sched_ms"] / 1000.0 / n,
        "task_failures": tot["failed"] / n,
        # spark.shuffle
        "shuffle_write_mb": tot["shuffle_w"] / MIB / n,
        "shuffle_read_mb": tot["shuffle_r"] / MIB / n,
        "fetch_wait_s": tot["fetch_wait_ms"] / 1000.0 / n,
        "spill_mb": tot["spill"] / MIB / n,
        # spark.io
        "input_rows": tot["in_rows"] / n,
        "input_mb": tot["in_bytes"] / MIB / n,
        "output_mb": tot["out_bytes"] / MIB / n,
        # Core: caches and scratch
        "release_s": dur["release"] / n,
        "cached_mb": max((e["cached_bytes"] for e in timed_execs), default=0) / MIB,
        "scratch_dirs": sum(e["new_tmp"] for e in timed_execs) / max(1, len(timed_execs)),
        "scratch_mb": (run["scratch_bytes"][1] - run["scratch_bytes"][0]) / MIB / n,
        # streaming: micro-batches and the replay harness around them
        "batches": len(with_data) / n,
        "triggers": len(batches) / n,
        "batch_data_ratio": len(with_data) / len(batches) if batches else 0.0,
        "batch_p50_s": (_median([b["end"] - b["start"] for b in batches]) or 0.0) / 1000.0,
        "batch_add_s": dsum("addBatch"),
        "batch_plan_s": dsum("queryPlanning"),
        "batch_wal_s": dsum("walCommit"),
        "batch_offsets_s": dsum("latestOffset", "getBatch", "commitOffsets"),
        "state_rows": sum(b["state_rows"] for b in last_batch.values()) / n,
        "state_mb": sum(b["state_bytes"] for b in last_batch.values()) / MIB / n,
        "replay_self_s": sum(self_time(s, [c for c in kids[s["id"]] if c["kind"] == "batch"])
                             for s in streams) / n,
        # jvm: GC of the one JVM that runs driver and tasks
        "gc_s": sum(p["gc_ms"] for p in run["passes"]) / 1000.0 / n,
    }
    return m


def per_query(run, sp):
    """Per-execution rows for the layer table and the accounting checks."""
    kids = {}
    for s in sp:
        kids.setdefault(s["parent"], []).append(s)
    rows = []
    for e in run["execs"]:
        jobs = {p: [c for c in kids.get(f'{e["qid"]}:{p}', []) if c["kind"] == "job"] for p in PHASES}
        rows.append({"qid": e["qid"], "name": e["name"], "pass": e["pass"], "ok": e["ok"],
                     "wall_s": wall(e),
                     "build_s": (e["build"][1] - e["build"][0]) / 1000.0,
                     "exec_s": (e["execute"][1] - e["execute"][0]) / 1000.0,
                     "jobs": sum(len(v) for v in jobs.values()),
                     "build_jobs": len(jobs["build"]),
                     "build_self_s": self_time({"start": e["build"][0], "end": e["build"][1]}, jobs["build"]),
                     "exec_self_s": self_time({"start": e["execute"][0], "end": e["execute"][1]}, jobs["execute"]),
                     "batches": sum(1 for c in kids.get(f'{e["qid"]}:build', [])
                                    if c["kind"] == "batch" and c["rows"] > 0),
                     "ckpt_writes": sum(1 for c in kids.get(f'{e["qid"]}:build', [])
                                        if c["kind"] == "action" and c["write_path"] in run.get("ckpt_bytes", {})),
                     "rows": e["rows"]})
    return rows
