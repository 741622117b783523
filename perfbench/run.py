#!/usr/bin/env python3
"""Benchmark of graft's public query surface on seeded, generated inputs.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds graft and the driver from source (``build.py``), generates the
workload's tables from the seed (``gen.py``), runs one driver JVM
(``driver/Driver.scala``) and checks the warm-up results against the
DuckDB oracle (``oracle.py``); every timed execution is checked against
the warm-up result inside the driver.  With ``--trace 0`` it reports
the end-to-end metrics, with ``--trace 1`` the per-layer metrics of
``metrics.py`` and the run's spans (``.bench_out/<run>/spans.json``).
The last line of standard output is the JSON result.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402
from workloads import HEAP, WORKLOADS, cpus  # noqa: E402

# What spark-submit adds for Spark on JDK 17 (as graft's build.sbt does).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
JVM_TIMEOUT_S = 150
# Untimed passes before the timed ones. Pass times fall by a third or
# more over the first three passes (the JIT), and how fast they fall
# depends on how busy the host is; after that they level off.
WARMUP_PASSES = 3
# A run times a fixed number of passes: --seconds divided by a typical
# warm pass on a 4-core box (3.5-4.5 s on every workload), and at least
# 3. Not as many as fit, so the count does not grow with the run's speed.
PASS_S = 4.0
MIN_PASSES = 3


def units():
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def run_driver(queries, data, passes, trace, out, classes):
    """Run the driver JVM once; return its run.json."""
    shutil.rmtree(out, ignore_errors=True)
    tmp, local = os.path.join(out, "tmp"), os.path.join(out, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    # Everything the JVM writes stays under `out`: no perf-data file in
    # the system temp dir, and graft's, Spark's and Hadoop's scratch here.
    cmd = (["java", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.hadoop.hadoop.tmp.dir={tmp}"]
           + ADD_OPENS
           + ["-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]),
              "perfbench.Driver", f"data={data}", f"queries={','.join(queries)}",
              f"warmup={WARMUP_PASSES}", f"passes={passes}", f"trace={int(trace)}", f"cpus={cpus()}", f"out={out}",
              f"local_dir={local}", f"launch_ms={time.time() * 1000.0}"])
    log_path = os.path.join(out, "driver.log")
    with open(log_path, "w") as log:
        try:
            rc = subprocess.run(cmd, stdout=log, stderr=log, timeout=JVM_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    # Scratch dirs of graft (temp root) and Spark (local dirs) are freed
    # when the JVM exits; clear anything left so checkouts do not grow.
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(local, ignore_errors=True)
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        raise RuntimeError(f"driver failed ({rc}); log at {log_path}")
    with open(os.path.join(out, "run.json")) as f:
        return json.load(f)


def oracle_defects(run, data, out):
    """Queries whose warm-up result differs from DuckDB's: name -> reason."""
    exp = oracle.expected(data, run["oracle"])
    names = dict.fromkeys(e["name"] for e in run["execs"])
    bad = {}
    for name in names:
        reason = (oracle.compare(os.path.join(out, "results", name), exp[name])
                  if name in exp else "no oracle SQL")
        if reason:
            bad[name] = reason
    return bad


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    w = WORKLOADS[a.workload]
    unit = units()

    classes = build.build(ROOT)
    data = gen.generate(os.path.join(ROOT, ".bench_data", f"seed{a.seed}-x{w['scale']}"),
                        a.seed, w["scale"])
    out = os.path.join(ROOT, ".bench_out", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    passes = max(MIN_PASSES, int(a.seconds // PASS_S))
    run = run_driver(w["queries"], data, passes, a.trace, out, classes)

    defects = oracle_defects(run, data, out)
    timed = [e for e in run["execs"] if e["pass"] >= 0]
    failed = metrics.failures(run, defects)
    e2e, samples = metrics.end_to_end(run)
    for name, reason in sorted(defects.items()):
        print(f"defect: {name}: result differs from the DuckDB oracle: {reason}")
    for e in timed:
        if not e["ok"]:
            print(f"failed: {e['qid']} {e['name']}: {e['error']}")
    print(f"{a.workload} seed={a.seed} passes={samples['passes']} attempted={len(timed)} "
          f"failed={len(failed)} fail_ratio={len(failed) / max(1, len(timed)):.4f}")
    for k, v in e2e.items():
        n = samples.get(k, 1)
        print(f"  {k:<16} {v if v is None else round(v, 4)!s:>10} {unit[k]:<4} samples={n}")

    if a.trace:
        sp = metrics.spans(run)
        with open(os.path.join(out, "spans.json"), "w") as f:
            json.dump(sp, f)
        layer = metrics.per_layer(run, sp)
        for k, v in layer.items():
            print(f"  {k:<18} {round(v, 4):>12}")
        rows = metrics.per_query(run, sp)
        for name in dict.fromkeys(r["name"] for r in rows):
            rs = [r for r in rows if r["name"] == name and r["pass"] >= 0]
            if rs:
                med = lambda k: sorted(r[k] for r in rs)[len(rs) // 2]  # noqa: E731
                print(f"  query {name:<26} wall={med('wall_s'):.3f} build={med('build_s'):.3f} "
                      f"exec={med('exec_s'):.3f} jobs={med('jobs')} build_jobs={med('build_jobs')} "
                      f"ckpt_writes={med('ckpt_writes')} batches={med('batches')} rows={med('rows')}")
    values = layer if a.trace else e2e

    ok = not failed and all(v is not None for v in values.values())
    print(json.dumps({"correct": ok, "attempted": len(timed), "failed": len(failed),
                      "metrics": {k: {"value": v, "unit": unit[k]} for k, v in values.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
