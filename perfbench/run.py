#!/usr/bin/env python3
"""graft benchmark: one workload, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. Builds the benchmark (an sbt
project in this directory that depends on the checkout's graft sources)
when the sources changed since the last build, generates the workload's
inputs from the seed, measures set-up time, runs the workload in one JVM
for as many iterations as take about --seconds on a 4-core host, checks
every output against the generator's
expectations or DuckDB oracles, and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones in BENCHMARK.json;
with --trace 1 the run is traced and the metrics are the per-layer ones.
Everything else -- raw samples, provenance, the workload-specific figures
and, when traced, the spans -- goes to .bench_build/results/.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

import gates
import gen
import metrics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("pipeline_catchup", "table_upsert", "catalog_mix")
RUN_CAP_S = 170     # a run must end within 180 s

# Workload sizes. A pipeline partition is a day of motor policies; the
# table is `policies` with its batch size, its step cycle (a range delete
# with a scan, then five merges) and its untimed warm-up steps; the catalog's
# tables are generated once per checkout at CATALOG_SF (the seed only
# shuffles query order, so it does not need fresh data).
PIPELINE_ROWS, PIPELINE_WARMUP_RUNS = 5_000, 5
TABLE_ROWS, TABLE_BATCH, TABLE_CYCLE, TABLE_WARMUP_STEPS = 10_000, 200, 6, 2
CATALOG_SF, CATALOG_LIGHT_REPS = 0.01, 2
GEN_VERSION = "1"
# Seconds one timed iteration takes on a 4-core host (a due run, a window
# of TABLE_CYCLE steps, a catalog pass). A run does a fixed number of them,
# as many as fill --seconds at this pace: a run on a slow host then does
# the same work, not fewer and less warmed-up iterations.
NOMINAL_ITERATION_S = {"pipeline_catchup": 1.5, "table_upsert": 19.0, "catalog_mix": 8.5}


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def source_files():
    """Every file the build depends on, relative to the checkout root."""
    out = []
    for base in ("src/main", "project", "perfbench/src", "perfbench/project"):
        for d, subdirs, files in os.walk(os.path.join(ROOT, base)):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            out += [os.path.relpath(os.path.join(d, f), ROOT) for f in sorted(files)]
    return out + ["build.sbt", "perfbench/build.sbt"]


def tree_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode() + b"\0")
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile graft and the benchmark with sbt; returns the classpath.
    Skipped when nothing the build reads has changed and every classpath
    entry is still there."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        raise SystemExit("perfbench: no graft sources beside perfbench/ -- "
                         "run from the root of a graft checkout")
    stamp = tree_hash(source_files())
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    cp = g.read()
                if all(os.path.exists(e) for e in cp.split(os.pathsep)):
                    return cp, stamp
    os.makedirs(BUILD, exist_ok=True)
    log("building (sbt)...")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as blog:
        p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, stdout=subprocess.PIPE, stderr=blog, text=True,
                           timeout=880)
    # `export` prints the classpath as the one line without a log prefix
    cps = [ln.strip() for ln in p.stdout.splitlines()
           if ln.strip() and not ln.startswith("[") and "perfbench" in ln]
    if p.returncode != 0 or not cps:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit(f"perfbench: build failed (sbt exit {p.returncode})")
    cp = cps[-1]
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f}s")
    return cp, stamp


# A fixed heap, and the throughput collector: it runs no concurrent GC
# threads beside the four task threads on a four-core host, which cut the
# pipeline's run-to-run spread by about a third against the default G1.
JVM_OPTS = ["-Xms3g", "-Xmx3g", "-XX:+UseParallelGC"]
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def java_cmd(cp, work, args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return [java, *opens, *JVM_OPTS, f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main", *args]


MARKS = {"PERFBENCH READY": "session_s", "PERFBENCH TIMED": "setup_s"}


def run_jvm(cp, work, args, deadline):
    """Runs the workload JVM to its end; returns its exit code and the
    seconds from spawn until each of its marks: `session_s` when its
    session was ready (JVM start, class loading, SparkContext and
    SparkSession with graft's extensions), `setup_s` when its timed loop
    began (that, plus the workload's untimed cold operation and warm-up)."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    marks = {}
    with open(os.path.join(work, "run.stdout"), "w") as out, \
            open(os.path.join(work, "run.stderr"), "w") as err:
        t0 = time.perf_counter()
        p = subprocess.Popen(java_cmd(cp, work, args), stdout=subprocess.PIPE,
                             stderr=err, text=True, cwd=work)

        def read():
            for line in p.stdout:
                mark = MARKS.get(line.strip())
                if mark and mark not in marks:
                    marks[mark] = time.perf_counter() - t0
                out.write(line)
        reader = threading.Thread(target=read, daemon=True)
        reader.start()
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
            reader.join(timeout=10)
    return rc, marks


def timed_iterations(workload, seconds):
    return max(1, math.ceil(seconds / NOMINAL_ITERATION_S[workload] - 1e-9))


def generate(workload, work, seed, iterations):
    """Writes the run's inputs under `work`; returns what the gates need."""
    if workload == "pipeline_catchup":
        # the cold first run, the warm-up runs, then one day per iteration
        days = 1 + PIPELINE_WARMUP_RUNS + iterations
        return {"expected": gen.write_pipeline(work, seed, days, PIPELINE_ROWS)}, \
            {"warmup-runs": PIPELINE_WARMUP_RUNS}
    if workload == "table_upsert":
        steps = TABLE_WARMUP_STEPS + TABLE_CYCLE * iterations
        gen.write_table(work, seed, TABLE_ROWS, TABLE_BATCH, TABLE_CYCLE, TABLE_CYCLE, steps)
        return {"stream": (seed, TABLE_ROWS, TABLE_BATCH, TABLE_CYCLE, TABLE_CYCLE)}, \
            {"cycle": TABLE_CYCLE, "warmup-steps": TABLE_WARMUP_STEPS}
    data = os.path.join(BUILD, "catalog", f"sf{CATALOG_SF}-v{GEN_VERSION}")
    if not os.path.isfile(os.path.join(data, "done")):
        shutil.rmtree(data, ignore_errors=True)
        gen.write_catalog_tables(data, CATALOG_SF)
        open(os.path.join(data, "done"), "w").close()
    shutil.copytree(data, os.path.join(work, "catalog"))
    return {"data": os.path.join(work, "catalog"), "data_version": os.path.basename(data),
            "oracle_cache": os.path.join(BUILD, "catalog", "oracle-cache")}, \
        {"light-reps": CATALOG_LIGHT_REPS}


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM: SystemExit unwinds through the
    # wait in run_jvm, whose cleanup kills and reaps it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_start = time.time()
    deadline = t_start + RUN_CAP_S

    cp, stamp = build()
    build_s = time.time() - t_start
    deadline += build_s  # a build counts against its own allowance
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    t0 = time.time()
    iterations = timed_iterations(a.workload, a.seconds)
    gate_input, extra = generate(a.workload, work, a.seed, iterations)
    gen_s = time.time() - t0

    args = ["--workload", a.workload, "--seed", str(a.seed), "--iterations", str(iterations),
            "--trace", str(a.trace), "--work", work, "--cores", str(cores)]
    for k, v in extra.items():
        args += [f"--{k}", str(v)]
    rc, marks = run_jvm(cp, work, args, deadline)
    res_file = os.path.join(work, "result.json")
    if rc != 0 or not os.path.isfile(res_file):
        with open(os.path.join(work, "run.stderr")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: workload JVM failed ({rc}); see {work}")
    with open(res_file) as f:
        res = json.load(f)
    spans = None
    if a.trace:
        with open(os.path.join(work, "spans.json")) as f:
            spans = json.load(f)

    t0 = time.time()
    problems = res["errors"] + gates.check(a.workload, work, res, gate_input)
    gate_s = time.time() - t0
    attempted, failed = res["attempted"], res["failed"]
    correct = not problems and failed == 0

    e2e = metrics.end_to_end(res, marks)
    detail = metrics.detail(a.workload, res, gate_input, marks)
    layers = metrics.per_layer(a.workload, res, spans, cores, gate_input) if a.trace else None
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    wanted = bench["per_layer"] if a.trace else bench["end_to_end"]
    values = layers if a.trace else e2e
    out = {"correct": correct, "attempted": attempted, "failed": failed,
           "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                       for m in wanted}}

    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "correct": correct, "problems": problems[:50], "attempted": attempted,
        "failed": failed, "end_to_end": e2e, "detail": detail, "per_layer": layers,
        "provenance": {
            "git_sha": git_sha(), "source_sha256": stamp, "cores": cores,
            "spark_version": res.get("spark_version"), "jvm_options": JVM_OPTS,
            "spark_conf": res.get("conf"),
            "extra_conf_overlay": os.environ.get("SPARK_GRAFT_EXTRA_CONF"),
            "input": metrics.input_sizes(a.workload, work, gate_input),
            "sizes": {"timed_iterations": iterations,
                      "pipeline_rows": PIPELINE_ROWS, "pipeline_warmup_runs": PIPELINE_WARMUP_RUNS,
                      "table_rows": TABLE_ROWS,
                      "table_batch": TABLE_BATCH, "table_cycle": TABLE_CYCLE,
                      "table_warmup_steps": TABLE_WARMUP_STEPS,
                      "catalog_sf": CATALOG_SF, "catalog_light_reps": CATALOG_LIGHT_REPS},
            "host_seconds": {"build": build_s, "generate": gen_s, "gates": gate_s,
                             "total": time.time() - t_start},
        },
        "samples": res["samples"], "iterations": res["iterations"], "timed_s": res["timed_s"],
    }
    rdir = os.path.join(BUILD, "results")
    os.makedirs(rdir, exist_ok=True)
    stem = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    with open(os.path.join(rdir, stem + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    if spans is not None:
        shutil.copy(os.path.join(work, "spans.json"), os.path.join(rdir, stem + ".spans.json"))
    for p in problems[:10]:
        log("problem:", p)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
