#!/usr/bin/env python3
"""Tracing overhead and layer reconciliation.

    python3 perfbench/overhead.py

For each workload of ``BENCHMARK.json`` runs ``PAIRS`` pairs of untraced
and traced runs (same seed within a pair) and prints, per operation on
average:

* the untraced and traced wall time, and the overhead (traced - untraced);
* the sum of the traced spans (construct + plan + exec for the query
  workloads; read + translate + map + write for etl_workbook) and its
  difference from the untraced wall time, which should lie within the
  overhead.

Reads the per-run records ``run.py`` keeps under
``.bench_build/perfbench/runs``. Run from the root of the checkout.
"""
import glob
import json
import os
import statistics
import subprocess

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUNS = os.path.join(ROOT, ".bench_build", "perfbench", "runs")
PAIRS = 3


def run(cfg, workload, seed, trace):
    before = set(glob.glob(os.path.join(RUNS, "*.json")))
    subprocess.run(cfg["command"] + ["--workload", workload, "--seed", str(seed),
                                     "--seconds", str(cfg["run_seconds"]),
                                     "--trace", str(trace)],
                   cwd=ROOT, check=True, capture_output=True, timeout=900)
    (new,) = set(glob.glob(os.path.join(RUNS, "*.json"))) - before
    with open(new) as fh:
        return json.load(fh)["ops"]


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        cfg = json.load(fh)
    for w in (w["name"] for w in cfg["workloads"]):
        plain, traced, spans = [], [], []
        for i in range(PAIRS):
            ops0 = run(cfg, w, 500 + i, 0)
            ops1 = run(cfg, w, 500 + i, 1)
            plain.append(statistics.mean(o["wall_s"] for o in ops0))
            traced.append(statistics.mean(o["wall_s"] for o in ops1))
            spans.append(statistics.mean(sum(s["s"] for s in o["spans"]) for o in ops1))
        u, t, s = (statistics.median(x) for x in (plain, traced, spans))
        print(f"{w:14s} per op: untraced {u:.3f}s traced {t:.3f}s "
              f"overhead {t - u:+.3f}s ({(t - u) / u:+.1%}); "
              f"span sum {s:.3f}s, span sum - untraced {s - u:+.3f}s")


if __name__ == "__main__":
    main()
