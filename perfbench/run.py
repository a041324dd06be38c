#!/usr/bin/env python3
"""Benchmark of record for the graft engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the engine and the benchmark from source on first use (into
`.bench_build/`), runs one workload in a fresh JVM at local[nproc] with a
fixed heap, checks every output, and prints one JSON object as the last
line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics named in
BENCHMARK.json; with --trace 1 they are its per-layer metrics, computed
from spans the benchmark records around each call into an engine layer.
Exits non-zero when an output check fails, and without a result when the
sources it builds from are missing. Every run also leaves its full record
(samples, errors, spans, environment) under `.bench_build/perfbench/runs/`.
See perfbench/README.md.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import re
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
BUILD = os.path.join(REPO, ".bench_build", "perfbench")

WORKLOADS = ("weather_etl", "retrieval_serve", "corpus_maintain", "curate_10x")
HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spans recorded around calls into the engine's layers. Each yields
# `<span>.wall_s`, `.jobs`, `.task_s` and `.gap_s` (medians per op).
LAYER_SPANS = (
    "weather.runEtlFromJson", "ml.predict", "weather.latest",
    "operators.AnnIndex.probe", "operators.RetrievalOps.bm25TopKFromState",
    "operators.IngestPipeline.tick", "operators.AnnIndex.appendBatch",
    "streaming.PostingsStream.applyBatch", "operators.TakedownOps.retract",
    "streaming.PostingsStream.readTf", "takedown.visible",
    "operators.PipelineOps.trainingManifest",
    "operators.BpeOps.tokenCountsPerDoc",
)

ADD_OPENS = [
    "java.base/" + p + "=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
]


def die(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The Spark jar directory the repository's own build declares."""
    sbt = os.path.join(REPO, "build.sbt")
    if not os.path.isfile(sbt):
        die("build.sbt not found: the engine sources are not in this checkout")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    if not m:
        die("build.sbt declares no unmanagedBase jar directory")
    return m.group(1)


def sources():
    main = sorted(glob.glob(os.path.join(REPO, "src/main/scala/**/*.scala"),
                            recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"),
                             recursive=True))
    res = sorted(p for p in glob.glob(os.path.join(REPO, "src/main/resources/**"),
                                      recursive=True) if os.path.isfile(p))
    if not main:
        die("src/main/scala not found: the engine sources are not in this checkout")
    if not bench:
        die("benchmark sources not found")
    return main, bench, res


def scalac(jars, cp, out, files, log):
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", cp] + files
    p = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                       timeout=BUILD_TIMEOUT_S)
    if p.returncode != 0:
        die("compile failed, see " + log.name)


def build(jars):
    """Compile engine and benchmark once per source fingerprint; a build
    of other sources left in the build directory is removed."""
    main, bench, res = sources()
    h = hashlib.sha256()
    for p in main + bench + res:
        h.update(os.path.relpath(p, REPO).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.isfile(os.path.join(out, "OK")):
            t0 = time.time()
            for old in glob.glob(os.path.join(BUILD, "classes-*")):
                shutil.rmtree(old, ignore_errors=True)
            tmp = out + ".tmp"
            os.makedirs(os.path.join(tmp, "main"))
            os.makedirs(os.path.join(tmp, "bench"))
            with open(os.path.join(BUILD, "build.log"), "w") as log:
                scalac(jars, os.path.join(jars, "*"),
                       os.path.join(tmp, "main"), main, log)
                scalac(jars, os.path.join(tmp, "main") + os.pathsep +
                       os.path.join(jars, "*"), os.path.join(tmp, "bench"),
                       bench, log)
            shutil.copytree(os.path.join(REPO, "src/main/resources"),
                            os.path.join(tmp, "main"), dirs_exist_ok=True)
            os.rename(tmp, out)
            open(os.path.join(out, "OK"), "w").close()
            print("perfbench: built in %.1f s" % (time.time() - t0),
                  file=sys.stderr)
    return out


def proc_stat_busy():
    """Busy jiffies of the whole box (user+nice+system+irq+softirq+steal)."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[0] + v[1] + v[2] + sum(v[5:8])


def run_jvm(args, classes, jars, work, out):
    """One JVM run of the workload; returns its exit code (None when it
    was killed at the timeout) and the environment record: nproc, the
    1-minute load at start, and CPU the rest of the box used meanwhile."""
    cores = len(os.sched_getaffinity(0))
    cp = os.pathsep.join([os.path.join(classes, "bench"),
                          os.path.join(classes, "main"), os.path.join(jars, "*")])
    for d in ("warehouse", "spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cmd = ["java"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", o]
    # -UsePerfData: the JVM would otherwise write a perf-data file outside
    # the checkout
    cmd += ["-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+UseG1GC", "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
            "-Dspark.local.dir=" + os.path.join(work, "spark-local"),
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-cp", cp, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out,
            "--expect", os.path.join(HERE, "expected", args.workload + ".txt")]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
    env.pop("SPARK_GRAFT_STREAM_SHUFFLE", None)
    load1 = os.getloadavg()[0]
    busy0, self0 = proc_stat_busy(), resource.getrusage(resource.RUSAGE_CHILDREN)
    t0 = time.time()
    p = subprocess.Popen(cmd, env=env, stdout=sys.stderr, stderr=sys.stderr,
                         start_new_session=True)
    try:
        code = p.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        code = None
    wall = time.time() - t0
    busy1, self1 = proc_stat_busy(), resource.getrusage(resource.RUSAGE_CHILDREN)
    self_cpu = (self1.ru_utime + self1.ru_stime) - (self0.ru_utime + self0.ru_stime)
    return code, {
        "nproc": cores, "load1_at_start": load1, "wall_s": wall,
        "self_cpu_s": self_cpu,
        "box_minus_self_cpu_s": (busy1 - busy0) / os.sysconf("SC_CLK_TCK") - self_cpu,
        "heap": HEAP, "exit_code": code,
    }


def end_to_end(rec):
    ops = rec["op_s"]
    fig = rec["figures"]
    return {
        "setup_s": rec["setup_s"],
        "op_p50_s": statistics.median(ops),
        "items_per_s": rec["items_per_op"] * len(ops) / sum(ops),
        "old_gen_peak_mb": rec["old_gen_peak_mb"],
        "store_amp": fig["store_bytes"] / max(1.0, fig["input_bytes"]),
    }


def union_len(iv):
    """Total length of the union of [a, b] intervals."""
    tot, end = 0.0, None
    for a, b in sorted(iv):
        if end is None or a > end:
            tot += b - a
            end = b
        elif b > end:
            tot += b - end
            end = b
    return tot


def span_table(rec):
    """Per span name, the median over timed ops of: wall, Spark jobs
    started under it, their summed task time, the part of the wall with
    no job running (gap), self time (wall minus child spans), stages,
    shuffle bytes and planning time."""
    tr = rec["trace"]
    spans, jobs, plans = tr["spans"], tr["jobs"], tr["plans"]
    stages = {s["id"]: s for s in tr["stages"]}
    for j in jobs:
        st = [stages[i] for i in j["stages"] if i in stages]
        j["task_s"] = sum(s["run_ms"] for s in st) / 1e3
        j["n_stages"] = len(st)
        j["shuffle_mb"] = sum(s["shuffle_bytes"] for s in st) / 1e6
        j["end"] = max(j["end"], j["start"])
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    ops = {s["op"] for s in spans if re.fullmatch(r"op\d+", s["op"])}
    table = {}
    for name in sorted({s["name"] for s in spans if s["op"] in ops}):
        rows = []
        for o in ops:
            ss = [s for s in spans if s["op"] == o and s["name"] == name]
            if not ss:
                continue
            iv = [(s["start"], s["end"]) for s in ss]

            def inside(t):
                return any(a <= t <= b for a, b in iv)
            js = [j for j in jobs if inside(j["start"])]
            busy = [(max(a, j["start"]), min(b, j["end"]))
                    for a, b in iv for j in js if min(b, j["end"]) > max(a, j["start"])]
            kids = [(c["start"], c["end"]) for s in ss for c in children.get(s["id"], [])]
            wall = sum(b - a for a, b in iv) / 1e3
            rows.append({
                "calls": len(ss), "wall_s": wall, "jobs": len(js),
                "task_s": sum(j["task_s"] for j in js),
                "gap_s": wall - union_len(busy) / 1e3,
                "self_s": wall - union_len(kids) / 1e3,
                "stages": sum(j["n_stages"] for j in js),
                "shuffle_mb": sum(j["shuffle_mb"] for j in js),
                "plan_ms": sum(p["ms"] for p in plans if inside(p["t"])),
            })
        table[name] = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    return table


def per_layer(rec, table):
    out = {}
    for name in LAYER_SPANS:
        row = table.get(name, {})
        for k in ("wall_s", "jobs", "task_s", "gap_s"):
            out[name + "." + k] = row.get(k, 0.0)
    op = table.get("op", {})
    cores = rec["cores"]
    out.update({
        "trace.op_p50_s": statistics.median(rec["op_s"]),
        "spark.jobs": op.get("jobs", 0),
        "spark.stages": op.get("stages", 0),
        "spark.plan_ms": op.get("plan_ms", 0.0),
        "spark.task_util": op.get("task_s", 0.0) / max(1e-9, op.get("wall_s", 0.0) * cores),
        "spark.shuffle_mb": op.get("shuffle_mb", 0.0),
        "jvm.gc_ms": statistics.median(rec["op_gc_ms"]),
        "jvm.alloc_mb": statistics.median(rec["op_alloc_mb"]),
    })
    setup = rec["setup_phases"]
    spans = rec["trace"]["spans"]

    def setup_span(n):
        return sum(s["end"] - s["start"] for s in spans if s["name"] == n) / 1e3
    fig = rec["figures"]
    vis = rec["op_extra"].get("takedown_visible_s")
    out.update({
        "setup.session_s": setup.get("session", 0.0),
        "setup.train_s": setup_span("setup.train"),
        "setup.index_build_s": setup_span("setup.index_build"),
        "setup.warmup_s": setup.get("warmup", 0.0),
        "serve.ann_recall_at_5": fig.get("ann_recall_at_5", 0.0),
        "maint.takedown_visible_p50_s": statistics.median(vis) if vis else 0.0,
        "maint.store_written_mb": fig.get("store_written_mb", 0.0),
        "spark.speedup_vs_1core": fig.get("speedup_vs_1core", 0.0),
        "error_rate": rec["failed"] / rec["attempted"],
    })
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()

    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    jars = spark_jars()
    classes = build(jars)
    stamp = "%s-s%d-t%d-%d" % (args.workload, args.seed, args.trace, os.getpid())
    work = os.path.join(BUILD, "work", stamp)
    runs = os.path.join(BUILD, "runs")
    os.makedirs(runs, exist_ok=True)
    out = os.path.join(work, "record.json")
    try:
        code, envrec = run_jvm(args, classes, jars, work, out)
        if not os.path.isfile(out):
            die("run produced no record (exit %s)" % code, 3)
        with open(out) as f:
            rec = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    rec["env"] = envrec
    correct = rec["failed"] == 0 and not rec["errors"] and code == 0
    if not rec["op_s"]:
        values = {}
    elif args.trace:
        rec["span_table"] = span_table(rec)
        values = per_layer(rec, rec["span_table"])
    else:
        values = end_to_end(rec)
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
               for m in wanted}
    rec["metrics"] = values
    with open(os.path.join(runs, stamp + ".json"), "w") as f:
        json.dump(rec, f)
    for e in rec["errors"]:
        print("FAILED %(what)s: %(class)s: %(message)s" % e)
    print("env: nproc=%(nproc)d load1=%(load1_at_start).2f "
          "box_minus_self_cpu_s=%(box_minus_self_cpu_s).1f wall_s=%(wall_s).1f" % envrec)
    print(json.dumps({"correct": correct, "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
