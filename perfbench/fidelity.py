#!/usr/bin/env python3
"""Fidelity check of the generator against a reference table set.

    python3 perfbench/fidelity.py <reference_dir> [seed]

Runs every workload's queries once (traced, one timed pass) on tables
generated at scale 1 and on the reference tables (the sf0.1 set), and
prints, per query, build_jobs, ckpt_writes, batches and result rows on
both, flagging any that differ by more than 10%.
"""
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
from run import ROOT, run_driver  # noqa: E402
from workloads import DEFAULT_SEED, WORKLOADS  # noqa: E402

KEYS = ("build_jobs", "ckpt_writes", "batches", "rows")


def counts(data, queries, out, classes):
    run = run_driver(queries, data, 1, True, out, classes)
    rows = metrics.per_query(run, metrics.spans(run))
    return {r["name"]: r for r in rows if r["pass"] == 0}


def main(ref, seed):
    classes = build.build(ROOT)
    data = gen.generate(os.path.join(ROOT, ".bench_data", f"seed{seed}-x1.0"), seed, 1.0)
    bad = 0
    for wl, w in WORKLOADS.items():
        got = counts(data, w["queries"], os.path.join(ROOT, ".bench_out", f"fidelity-{wl}-gen"), classes)
        want = counts(ref, w["queries"], os.path.join(ROOT, ".bench_out", f"fidelity-{wl}-ref"), classes)
        for q in w["queries"]:
            cells = []
            for k in KEYS:
                g, r = got[q][k], want[q][k]
                off = abs(g - r) > 0.10 * max(abs(r), 1e-9)
                bad += off
                cells.append(f"{k}={g}/{r}{' !' if off else ''}")
            print(f"{wl:<12} {q:<26} " + " ".join(cells))
    print(f"{bad} count(s) off by more than 10% (generated/reference)")
    return 1 if bad else 0


if __name__ == "__main__":
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], int(sys.argv[2]) if len(sys.argv) > 2 else DEFAULT_SEED))
