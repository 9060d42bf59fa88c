#!/usr/bin/env python3
"""Benchmark of the graft engine: two workloads, end-to-end and per-layer.

Run from the root of a checkout:

    python3 perfbench/run.py --workload llm_curation --seed 1 --seconds 5 --trace 0

It builds the engine and the harness in `perfbench/jvm` from source (sbt;
the class directories are copied to `.bench_build/<source hash>/` and reused
while the sources are unchanged), makes the workload's inputs from `--seed`,
runs one JVM (`local[N]`, N = usable CPUs, one client in a closed loop),
checks every output, and prints one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones; with `--trace 1`
the per-layer ones (see BENCHMARK.json). Each run also leaves a full record
under `.bench_work/results/` for `perfbench/diff.py`, and a traced run leaves
its spans next to it.
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
sys.path.insert(0, HERE)

import check  # noqa: E402
import datagen  # noqa: E402
import duckdb  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
JVM_DIR = os.path.join(HERE, "jvm")
DEADLINE_S = 170

# llm_curation reads the engine's reference tables at scale 0.01 (copied
# into perfbench/data); its seed shuffles the op order of every pass.
# climate_medallion's raw text is generated from the seed.
TABLES = os.path.join(HERE, "data", "sf0.01")
CLIMATE = {"years": (1990, 2012), "stations": 200}
WORKLOADS = ("climate_medallion", "llm_curation")

JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]

def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Content hash of everything the build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(JVM_DIR, "src"), os.path.join(JVM_DIR, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(JVM_DIR, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness; return the runtime classpath.

    sbt compiles into the root build's `target/`, which every other sbt
    command in the checkout overwrites, so the class directories are copied
    to `.bench_build/<source hash>/` and the classpath points at the copy."""
    home = os.path.join(BUILD, source_stamp()[:20])
    cp_file = os.path.join(home, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cp = f.read()
        if all(os.path.exists(e) for e in cp.split(os.pathsep)):
            return cp
    # offline, no sbt server, and sbt's temporary files inside the checkout
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", ""), "-Dsbt.offline=true",
                                "-Dsbt.server.autostart=false",
                                f"-Djava.io.tmpdir={tmp}"]).strip()
    log("building engine and harness with sbt")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=JVM_DIR, env=env, stdin=subprocess.DEVNULL,
        capture_output=True, text=True, timeout=840)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("build failed")
    cp = [ln for ln in p.stdout.splitlines() if ln and not ln.startswith("[")][-1]
    shutil.rmtree(home, ignore_errors=True)
    entries = []
    for i, e in enumerate(cp.split(os.pathsep)):
        if os.path.isdir(e):
            shutil.copytree(e, os.path.join(home, f"classes{i}"))
            e = os.path.join(home, f"classes{i}")
        entries.append(e)
    cp = os.pathsep.join(entries)
    with open(cp_file, "w") as f:  # written last: marks the copy complete
        f.write(cp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def make_inputs(workload, seed, work):
    """The input directory, and the climate job's fixed check fixture."""
    if workload == "llm_curation":
        return TABLES, TABLES
    data, check_data = os.path.join(work, "input"), os.path.join(work, "check_input")
    first, last = CLIMATE["years"]
    datagen.write_climate(data, seed, first, last, CLIMATE["stations"])
    datagen.write_climate(check_data, check.CHECK_SEED, *check.CHECK_CLIMATE)
    return data, check_data


def run_jvm(classpath, args, work, budget_s):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # a fixed-size heap under the parallel collector: peak RSS then tracks
    # retained data instead of when the heap happened to grow
    cmd += ["-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
            "-cp", classpath, "perfbench.Main"]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(os.path.join(work, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                             stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("benchmark JVM exceeded its time budget")
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"benchmark JVM exited with {rc}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(rec):
    warm = [p["wall_s"] for p in rec["passes"] if p["pass"] > 0 and not p["traced"]]
    ops = [o["build_s"] + o["exec_s"] for o in rec["ops"]
           if o["pass"] > 0 and not o["traced"]]
    cold = [p["wall_s"] for p in rec["passes"] if p["pass"] == 0]
    m = {"setup_s": rec["setup"]["total_s"],
         "cold_pass_s": cold[0],
         "pass_s": median(warm),
         "peak_rss_mb": rec["peak_rss_mb"]}
    # op latency goes to the record only: the median of a handful of
    # unlike ops jumps between them and spread wider than any bound
    return m, {"warm_passes": len(warm), "op_p50_s": median(ops), "op_samples": len(ops)}


def per_layer(rec, work):
    """Per-layer metrics: per traced warm pass, medians across passes."""
    climate = rec["workload"] == "climate_medallion"
    traced = sorted({o["pass"] for o in rec["ops"] if o["traced"]})
    per_pass = []
    for p in traced:
        ops = [o for o in rec["ops"] if o["pass"] == p and o["traced"]]
        wall = next(x["wall_s"] for x in rec["passes"] if x["pass"] == p)
        c = {k: sum(o["counters"][k] for o in ops) for k in ops[0]["counters"]}
        e = {k: sum(o["extra"].get(k, 0.0) for o in ops)
             for k in ("run_s", "parquet_s", "csv_s", "written_mb")}
        per_pass.append({
            "queries.build_s": 0.0 if climate else sum(o["build_s"] for o in ops),
            "queries.build_jobs": 0 if climate else c["build_jobs"],
            "queries.build_input_mb": 0.0 if climate else c["build_input"] / 1e6,
            "plans.analysis_ms": c["analysis_ms"],
            "plans.optimization_ms": c["optimization_ms"],
            "plans.planning_ms": c["planning_ms"],
            "plans.query_executions": c["query_executions"],
            "functions.codegen_fallback_nodes": c["codegen_fallback"],
            "functions.wscg_stages": c["wscg"],
            "exec.jobs": c["jobs"], "exec.stages": c["stages"],
            "exec.tasks": c["tasks"], "exec.task_s": c["task_ms"] / 1e3,
            "exec.cpu_s": c["cpu_ns"] / 1e9,
            "exec.cpu_util": c["cpu_ns"] / 1e9 / (wall * rec["cores"]),
            "exec.gc_s": c["gc_ms"] / 1e3,
            "exec.shuffle_write_mb": c["shuffle_write"] / 1e6,
            "exec.shuffle_read_mb": c["shuffle_read"] / 1e6,
            "exec.spill_mb": c["spill"] / 1e6,
            "exec.input_mb": c["input"] / 1e6,
            "exec.task_failures": c["task_failures"],
            "pipeline.run_s": e["run_s"],
            "sources.parquet_write_s": e["parquet_s"],
            "sources.csv_write_s": e["csv_s"],
            "sources.written_mb": e["written_mb"],
        })
    m = {k: median([pp[k] for pp in per_pass]) for k in per_pass[0]}
    setup = rec["setup"]
    m["core.table_load_ms"] = median(rec["table_load_ms"])
    m["ext.prebuild_s"] = setup["prebuild_s"]
    m["ext.indexes_built"] = setup["indexes_built"]
    m["ext.indexes_reused"] = setup["indexes_reused"]
    untraced = [p["wall_s"] for p in rec["passes"] if p["pass"] > 0 and not p["traced"]]
    traced_w = [p["wall_s"] for p in rec["passes"] if p["traced"]]
    m["trace.overhead_s"] = median(traced_w) - median(untraced)
    m["pipeline.fact_rows"] = m["pipeline.extreme_rows"] = 0
    if climate:
        con = duckdb.connect()
        for key, table in (("pipeline.fact_rows", "fact"), ("pipeline.extreme_rows", "extremes")):
            m[key] = con.sql(f"SELECT count(*) FROM read_parquet("
                             f"'{work}/gold/{table}/*.parquet')").fetchone()[0]
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit("run from the root of a checkout of the engine (build.sbt, src/)")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    classpath = build()
    t_run = time.time()
    work = os.path.join(WORK, f"{a.workload}-{a.seed}-t{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    data, check_data = make_inputs(a.workload, a.seed, work)
    rec = run_jvm(classpath, {
        "workload": a.workload, "data": data, "check-data": check_data,
        "work": work, "seconds": a.seconds, "trace": a.trace,
        "cores": cores(), "seed": a.seed}, work,
        max(30, DEADLINE_S - (time.time() - t_run)))
    failures = check.run_checks(rec, work, data, HERE, ROOT)
    for name, why in sorted(failures.items()):
        log(f"check failed: {name}: {why}")
    # a failed check fails every timed run of its op; the climate checks
    # cover the whole pass, which is that workload's op
    climate = rec["workload"] == "climate_medallion"
    attempted = len(rec["ops"])
    failed = sum(1 for o in rec["ops"]
                 if not o["ok"] or o["name"] in failures or (climate and failures))
    m, extra = end_to_end(rec)
    layers = per_layer(rec, work) if a.trace else None
    values, declared = (layers, bench["per_layer"]) if a.trace else (m, bench["end_to_end"])
    line = {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {d["name"]: {"value": values[d["name"]], "unit": d["unit"]}
                        for d in declared}}
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    detail = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "seconds": a.seconds, "cores": rec["cores"], "end_to_end": m,
              "per_layer": layers, "extra": extra, "failures": failures,
              "failed_frac": failed / attempted, "attempted": attempted,
              "failed": failed, "setup": rec["setup"], "passes": rec["passes"],
              "ops": [{k: o[k] for k in ("name", "pass", "traced", "build_s", "exec_s")}
                      for o in rec["ops"]],
              "wall_s": time.time() - t_start}
    with open(os.path.join(results, f"{a.workload}.{a.seed}.t{a.trace}.json"), "w") as f:
        json.dump(detail, f, indent=1)
    if a.trace:
        shutil.copy(os.path.join(work, "spans.jsonl"),
                    os.path.join(results, f"{a.workload}.{a.seed}.spans.jsonl"))
    if failed == 0:  # a failed run keeps its inputs, dumps and log
        shutil.rmtree(work, ignore_errors=True)
    log(f"{a.workload} seed {a.seed}: failed {failed}/{attempted}, "
        + ", ".join(f"{k}={v:.4g}" for k, v in {**m, **extra}.items())
        + f", wall {time.time() - t_start:.1f} s")
    print(json.dumps(line))


if __name__ == "__main__":
    main()
