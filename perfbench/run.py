#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. Builds the engine plus the
benchmark's JVM program once per source tree (keyed by a hash of every source
file, so classes from another tree are never timed), makes the workload's
inputs from the seed, runs the JVM directly on the built classpath, checks
the outputs apart from the program and prints one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.
Everything it writes goes under ``.bench_build/perfbench`` in the checkout.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
JVM_TIMEOUT_S = 150

# One or two short queries from every operator-module registry, at sf0.01.
QUERY_LATENCY = [
    "q3_shipping_priority",                               # Relational
    "p_clean_messy",                                      # Cleaning
    "d4_stratified_sample",                               # Enrichment
    "t6_vocab_topk",                                      # TextAnalysis
    "dd1_exact_dedup",                                    # Dedup
    "sim1_cosine_topk",                                   # Similarity
    "ev3_sessions",                                       # Events
    "mm4_image_stats",                                    # Multimodal
    "dq1_constraint_report",                              # Quality
    "gr5_components",                                     # Graph
    "ab1_welch_readout",                                  # Stats
    "ev4_asof_join",                                      # AsOf
    "er1_record_linkage",                                 # Linkage
    "agg1_topk_typed",                                    # TypedAgg
    "skew1_salted_sum",                                   # Skew
    "pipe4_report_card",                                  # Pipelines
    "lake1_partitioned_roundtrip",                        # Lake (writes)
]
# Heavy LLM-data operators at sf0.1, plus the cleaning pass over one
# large text column. Left out: operators whose DuckDB oracle cannot run in
# a run's budget at sf0.1 (pipe1, pipe3, dd3, dd5, dd7, dd9, dd11: their
# candidate-pair CTEs alone take minutes).
CORPUS_BATCH = ["t30_boilerplate", "sim8_kmeans", "dd4_simhash",
                "t26_ngram_novelty", "clean_documents_text"]
ETL_WORKBOOKS = 3
ETL_ROWS = 300

WORKLOADS = {
    "etl_workbook": None,
    "query_latency": (0.01, QUERY_LATENCY),
    "corpus_batch": (0.1, CORPUS_BATCH),
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_hash():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Classpath for the current source tree, building it when needed."""
    key = source_hash()
    dest = os.path.join(WORK, "build", key)
    cp_file = os.path.join(dest, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    log(f"building source tree {key}")
    # Offline build: only the local caches, through the user's sbt
    # repositories file when there is one.
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "").split()
    opts += [o for o in ["-Dsbt.offline=true"] if o not in opts]
    if os.path.exists(os.path.expanduser("~/.sbt/repositories")):
        opts += [o for o in ["-Dsbt.override.build.repos=true"] if o not in opts]
    env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "clean", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=840)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        raise SystemExit("perfbench: build failed")
    line = [ln for ln in proc.stdout.splitlines() if "scala-2.13/classes" in ln][-1]
    built = os.path.join(HERE, "target", "scala-2.13", "classes")
    # Keep a private copy of the classes so a later build of another tree
    # cannot change what this key points at.
    shutil.rmtree(dest, ignore_errors=True)
    shutil.copytree(built, os.path.join(dest, "classes"))
    cp = line.strip().replace(built, os.path.join(dest, "classes"))
    with open(cp_file + ".tmp", "w") as fh:
        fh.write(cp)
    os.replace(cp_file + ".tmp", cp_file)
    return cp


def make_inputs(workload, seed, warm=False):
    """The workload's inputs for ``seed``; reused while the seed repeats.

    ``warm=True`` gives the set-up's small fixed warm-up workbook."""
    import gen
    if workload == "etl_workbook":
        spec = [0, 1, 20] if warm else [seed, ETL_WORKBOOKS, ETL_ROWS]
        d = os.path.join(WORK, "inputs", "etl-warm" if warm else "etl")
    else:
        spec = [seed, WORKLOADS[workload][0]]
        d = os.path.join(WORK, "inputs", workload)
    marker = os.path.join(d, "inputs.json")
    if os.path.exists(marker):
        with open(marker) as fh:
            m = json.load(fh)
        if m["spec"] == spec:
            return d, m["expected"]
    shutil.rmtree(d, ignore_errors=True)
    expected = None
    if workload == "etl_workbook":
        expected = [{"path": p, "rows": rows} for p, rows in gen.workbooks(d, *spec)]
    else:
        gen.tables(d, spec[1], seed)
    with open(marker, "w") as fh:
        json.dump({"spec": spec, "expected": expected}, fh)
    return d, expected


def run_jvm(cp, workload, ops, data, warmup, out, trace):
    """Run ``perfbench.Main`` once and return its ``result.json``."""
    jvm = os.path.join(WORK, "jvm")
    shutil.rmtree(jvm, ignore_errors=True)
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(jvm, sub))
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    # A fixed-size heap with a fixed young generation under the parallel
    # collector: the resident set then grows with what the program keeps,
    # not with the collector's adaptive sizing.
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:+UseParallelGC"]
    for p in opens:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={jvm}/tmp", f"-Dspark.local.dir={jvm}/local",
            f"-Dspark.sql.warehouse.dir={jvm}/warehouse",
            f"-Dderby.system.home={jvm}/tmp", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main", "--workload", workload,
            "--ops", ",".join(ops), "--data", data, "--warmup", warmup, "--out", out,
            "--trace", str(trace)]
    shutil.rmtree(out, ignore_errors=True)
    with open(os.path.join(WORK, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=jvm, stdin=subprocess.DEVNULL,
                                stdout=logf, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("perfbench: JVM timed out")
    shutil.rmtree(jvm, ignore_errors=True)  # lake scratch, spill, temp files
    if proc.returncode != 0:
        with open(os.path.join(WORK, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"perfbench: JVM exited with {proc.returncode}")
    with open(os.path.join(out, "result.json")) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: no engine sources (src/main/scala) next to the benchmark")
    sys.path.insert(0, HERE)
    import check

    cp = build()
    data, expected = make_inputs(a.workload, a.seed)
    if a.workload == "etl_workbook":
        ops = [e["path"] for e in expected]
        warmup = make_inputs(a.workload, a.seed, warm=True)[1][0]["path"]
    else:
        ops = WORKLOADS[a.workload][1]
        warmup = data
    out = os.path.join(WORK, "out")
    t0 = time.time()
    res = run_jvm(cp, a.workload, ops, data, warmup, out, a.trace)
    log(f"jvm {time.time() - t0:.1f}s, batch {res['batch_s']:.2f}s")
    if res["batch_s"] > a.seconds:
        log(f"WARNING the timed round took {res['batch_s']:.1f}s, "
            f"more than --seconds {a.seconds:g}")
    keep = os.path.join(WORK, "runs")
    os.makedirs(keep, exist_ok=True)
    shutil.copy(os.path.join(out, "result.json"),
                os.path.join(keep, f"{a.workload}-{int(time.time() * 1000)}-t{a.trace}.json"))

    records = res["ops"]
    failed = [r for r in records if r["error"]]
    for r in failed:
        log(f"FAILED {r['name']}: {r['error']}")
    problems = []
    if a.workload == "etl_workbook":
        schema = json.load(open(os.path.join(data, "schema.json")))
        rows = {e["path"]: e["rows"] for e in expected}
        for r in records:
            if r["error"]:
                continue
            base = os.path.splitext(os.path.basename(r["name"]))[0]
            why = check.check_workbook(
                os.path.join(out, f"{base}.xlsx"), rows[r["name"]], schema)
            if why:
                problems.append(f"{base}: {why}")
    else:
        oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
        oracle["clean_documents_text"] = check.CLEAN_TEXT_SQL
        ok_ops = {r["name"] for r in records if not r["error"]}
        oracle = {k: v for k, v in oracle.items() if k in ok_ops}
        missing = ok_ops - set(oracle)
        problems += [f"{op}: no oracle SQL" for op in sorted(missing)]
        bad = check.check_queries(data, os.path.join(out, "results"), oracle)
        problems += [f"{op}: {why}" for op, why in sorted(bad.items())]
    for p in problems:
        log(f"CHECK {p}")

    if a.trace:
        m = dict(res["trace"]["metrics"])
        m["session.start_s"] = res["session_start_s"]
        m["jvm.gc_s"] = res["gc_s"]
        m["jvm.heap_peak_mb"] = res["heap_peak_mb"]
        with open(os.path.join(WORK, "trace.json"), "w") as fh:
            json.dump(res, fh)
        metrics = {k: {"value": v, "unit": unit(k)} for k, v in sorted(m.items())}
    else:
        metrics = {
            "setup_s": {"value": res["setup_s"], "unit": "s"},
            "batch_s": {"value": res["batch_s"], "unit": "s"},
            "op_p50_s": {"value": statistics.median(r["wall_s"] for r in records),
                         "unit": "s"},
            "peak_rss_mb": {"value": res["peak_rss_mb"], "unit": "MB"},
        }
    print(json.dumps({"correct": not problems, "attempted": len(records),
                      "failed": len(failed), "metrics": metrics}))


def unit(name):
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("core_util"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
