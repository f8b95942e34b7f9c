#!/usr/bin/env python3
"""Traced-run report: runs every workload in perfbench/workloads.json once
with --trace 1 and writes perfbench/TRACE_REPORT.md.

  python3 perfbench/report.py [--seed N] [--seconds S]

For each workload the report gives each layer's self time as a share of
the warm pass wall, the share no layer accounts for, the tracing overhead,
exec.task_s as a share of pass wall, and every layer metric of the run.
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LAYERS = ["queries", "catalyst", "plans", "exec", "pipelines"]


def traced(workload, seed, seconds):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
                       cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        sys.exit(f"{workload}: traced run failed ({p.returncode})")
    return json.loads(lines[-2]), json.loads(lines[-1])


def fmt(v):
    return f"{v:.4g}" if isinstance(v, float) else str(v)


def main():
    with open(os.path.join(HERE, "workloads.json")) as f:
        cfg = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=cfg["default_seed"])
    ap.add_argument("--seconds", type=int, default=20)
    a = ap.parse_args()

    out = ["# Traced-run report", "",
           f"`python3 perfbench/report.py --seed {a.seed} --seconds {a.seconds}`: one traced "
           "run per workload. Shares are of the median traced warm-pass wall. A layer's share "
           "is its self time; `unattributed` is time inside operations that no span covers; "
           "`between` is pass wall outside every operation (trace collection between "
           "operations); `covered` sums the layers only. `trace.overhead_frac` compares traced "
           "with untraced warm passes of the same run, the first warm pass left out of both.",
           ""]
    runs = {}
    for w in cfg["workloads"]:
        t = time.time()
        rec, res = traced(w, a.seed, a.seconds)
        runs[w] = (rec, res, time.time() - t)

    env = next(iter(runs.values()))[0]["env"]
    out += [f"Recorded on {env['nproc']} CPUs ({env['local']}), Spark {env['spark_version']}, "
            f"JDK {env['jdk']}, max heap {env['max_heap_mb']:.0f} MB.", ""]
    out += ["| workload | " + " | ".join(LAYERS) + " | unattributed | between | covered | "
            "trace.overhead_frac | exec.task_s / pass wall | correct |",
            "|---" * (len(LAYERS) + 7) + "|"]
    for w, (rec, res, _) in runs.items():
        sh = rec["self_share"]
        out.append(f"| {w} | " + " | ".join(f"{sh.get(k, 0.0):.3f}" for k in LAYERS)
                   + f" | {sh.get('unattributed', 0.0):.3f} | "
                   f"{1 - sh['covered'] - sh.get('unattributed', 0.0):.3f} | {sh['covered']:.3f} | "
                   f"{rec['layers']['trace.overhead_frac']:.3f} | "
                   f"{rec['layers']['exec.task_share']:.3f} | {res['correct']} |")
    out.append("")
    covered = min(rec["self_share"]["covered"] for rec, _, _ in runs.values())
    out.append(f"Least covered share: {covered:.3f} (layer self times must cover 0.9 of "
               "pass wall).")
    if {"headline_floor", "headline_scale"} <= runs.keys():
        share = {w: runs[w][0]["layers"]["exec.task_share"]
                 for w in ("headline_floor", "headline_scale")}
        out.append(f"exec.task_s share of pass wall, headline_scale over headline_floor: "
                   f"{share['headline_scale'] / share['headline_floor']:.2f} (the workloads "
                   "separate the layers when it is at least 2).")
    out.append("")
    for w, (rec, res, wall) in runs.items():
        out += [f"## {w}", "",
                f"seed {rec['seed']}, inputs {json.dumps(rec['env']['inputs'])}, "
                f"run wall {wall:.0f} s, load {rec['env']['load_avg_start'][0]:.2f}"
                f" -> {rec['env']['load_avg_end'][0]:.2f}, cpu {json.dumps(rec['env']['cpu'])}.",
                "", "| metric | value |", "|---|---|"]
        out += [f"| {k} | {fmt(v)} |" for k, v in sorted(rec["layers"].items())]
        out.append("")
    with open(os.path.join(HERE, "TRACE_REPORT.md"), "w") as f:
        f.write("\n".join(out))
    print("\n".join(out[:15 + len(runs)]))


if __name__ == "__main__":
    main()
