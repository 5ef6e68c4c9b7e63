#!/usr/bin/env python3
"""Steadiness check: run workloads repeatedly and report the spread.

    python3 perfbench/steady.py --set K [--runs 10]

Runs set ``K``: every workload ``--runs`` times with seeds
``1000*K + 1 .. 1000*K + runs``, workloads interleaved so a slow spell of
the machine hits all of them. Each run's JSON line is appended to
``.bench_build/perfbench/steady.jsonl``. Take the sets at different times
with separate invocations; ``--runs 0`` only reports.

The report covers every set in that file. For every metric it prints, per
set, the median and quartiles (``statistics.quantiles(n=4)``), the spread
(quartile distance over median) and the drift of the set's median from set
0's, each against the metric's bound in ``BENCHMARK.json``. Run from the
root of the checkout.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
LOG = os.path.join(os.path.dirname(HERE), ".bench_build", "perfbench", "steady.jsonl")


def bench():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


def one(cfg, workload, seed):
    t0 = time.time()
    proc = subprocess.run(
        cfg["command"] + ["--workload", workload, "--seed", str(seed),
                          "--seconds", str(cfg["run_seconds"]), "--trace", "0"],
        capture_output=True, text=True, timeout=900)
    wall = time.time() - t0
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    res.update(workload=workload, seed=seed, run_wall_s=wall,
               at=time.strftime("%Y-%m-%d %H:%M:%S", time.localtime(t0)))
    with open(LOG, "a") as fh:
        fh.write(json.dumps(res) + "\n")
    return res


def stats(vals):
    q1, med, q3 = statistics.quantiles(vals, n=4)
    return statistics.median(vals), q1, q3, (q3 - q1) / statistics.median(vals)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--set", type=int, required=True)
    ap.add_argument("--runs", type=int, default=10)
    a = ap.parse_args()
    cfg = bench()
    names = [w["name"] for w in cfg["workloads"]]
    bounds = {m["name"]: m["bound"] for m in cfg["end_to_end"]}
    os.makedirs(os.path.dirname(LOG), exist_ok=True)
    for i in range(a.runs):
        for w in names:
            r = one(cfg, w, 1000 * a.set + i + 1)
            print(f"set {a.set} {w} seed {r['seed']}: correct={r['correct']} "
                  f"{r['attempted']}/{r['failed']} wall {r['run_wall_s']:.1f}s "
                  + " ".join(f"{m}={v['value']:.4g}" for m, v in r["metrics"].items()),
                  flush=True)

    with open(LOG) as fh:
        log = [json.loads(line) for line in fh]
    sets = sorted({r["seed"] // 1000 for r in log})
    print()
    for k in sets:
        at = [r["at"] for r in log if r["seed"] // 1000 == k and "at" in r]
        if at:
            print(f"set {k}: {min(at)} .. {max(at)}")
    for w in names:
        runs = {k: [r for r in log if r["workload"] == w and r["seed"] // 1000 == k]
                for k in sets}
        for m in bounds:
            b = bounds[m]
            base = None
            for k in sets:
                med, q1, q3, spread = stats([r["metrics"][m]["value"] for r in runs[k]])
                base = med if base is None else base
                print(f"{w:14s} {m:12s} set {k} (n={len(runs[k])}): median {med:.4g} "
                      f"q1 {q1:.4g} q3 {q3:.4g} spread {spread:.3f} drift {med / base - 1:+.3f} "
                      f"(bound {b}, bound/3 {b / 3:.3f})")
        rs = [r for k in sets for r in runs[k]]
        walls = [r["run_wall_s"] for r in rs]
        fails = {(r["failed"], r["attempted"]) for r in rs}
        print(f"{w:14s} run wall median {statistics.median(walls):.1f}s max {max(walls):.1f}s; "
              f"(failed, attempted) seen: {sorted(fails)}; "
              f"all correct: {all(r['correct'] for r in rs)}")


if __name__ == "__main__":
    main()
