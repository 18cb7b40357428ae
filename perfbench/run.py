"""Crawl-graph benchmark: seeded page table -> ingest -> PageRank, components,
PLP, triangles and a resumed durable PageRank, every result checked against a
computation made apart from the program.

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The program is compiled from the checkout's own
sources (perfbench/build.py), the page table is generated from the seed
(perfbench/gen.py, cached, never timed), and one JVM runs the operations at
local[<cpus>] in whole rounds until --seconds have passed. The last line of stdout
is one JSON object: correct, attempted, failed and metrics (end-to-end metrics with
--trace 0, per-layer Spark counters with --trace 1).
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

import build
import checks
import gen

WORKLOADS = {
    # name: (generator shape, pages)
    "crawl": ("crawl", 10000),
    "crawl-hubs": ("hubs", 10000),
}
# Seed-independent graph that plp_converge runs on (see README: the PLP fault).
FIXED = ("oscillating", 400, 0)
# A run must end within 180 s; a healthy one takes about a third of this.
JVM_TIMEOUT_S = 165
# C2 compiles at a tenth of the usual invocation counts, so the warm-up leaves the
# first measured round near steady state instead of mid-way through JIT warm-up.
JVM_FLAGS = ["-Xmx4g", "-Xss8m", "-XX:CompileThresholdScaling=0.1"]

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def cpus():
    try:
        return max(1, len(os.sched_getaffinity(0)))
    except AttributeError:
        return max(1, os.cpu_count() or 1)


def table(out_root, shape, pages, seed):
    d = os.path.join(out_root, "data", "%s-%d-%d" % (shape, pages, seed))
    return gen.generate(shape, pages, seed, d)


def run_jvm(classes, work, kv, cores):
    """Starts the benchmark JVM; returns (BENCH records, seconds from process start
    to the READY line)."""
    cmd = ["java"] + JVM_FLAGS
    cmd += [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
    cmd += ["-Dlog4j2.configurationFile=file:" + os.path.join(build.HERE, "log4j2.properties"),
            "-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
            "graftbench.CrawlBench"]
    cmd += ["%s=%s" % kv_ for kv_ in sorted(kv.items())] + ["cores=%d" % cores]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    log_path = os.path.join(work, "jvm.log")
    records = []
    ready_s = None
    with open(log_path, "w") as log:
        t0 = time.monotonic()
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True, env=env,
                             start_new_session=True)
        timer = threading.Timer(JVM_TIMEOUT_S, lambda: os.killpg(p.pid, signal.SIGKILL))
        timer.start()
        try:
            for line in p.stdout:
                if not line.startswith("BENCH "):
                    continue
                rec = json.loads(line[6:])
                if "event" in rec:
                    rec["t"] = time.monotonic() - t0
                    if rec["event"] == "ready":
                        ready_s = rec["t"]
                records.append(rec)
            rc = p.wait()
        finally:
            timer.cancel()
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if rc != 0 or ready_s is None or not any(r.get("event") == "done" for r in records):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit("run: benchmark JVM failed (exit %s)" % rc)
    return records, ready_s


def median_of(recs, op, key="s"):
    vals = [r[key] for r in recs if r.get("op") == op]
    return statistics.median(vals) if vals else None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # A terminated run still stops its JVM (run_jvm's finally).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    shape, pages = WORKLOADS[a.workload]

    classes = build.build()
    out_root = build.build_dir()
    pages_path, truth_path = table(out_root, shape, pages, a.seed)
    fixed_path, fixed_truth = table(out_root, *FIXED)

    work = os.path.join(out_root, "work", "%s-%d" % (a.workload, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        records, setup_s = run_jvm(classes, work, {
            "pages": pages_path, "fixed": fixed_path, "work": work,
            "seconds": a.seconds, "trace": a.trace}, cpus())
        ops = [r for r in records if "op" in r]
        verdicts = checks.check_run(work, ops, truth_path, fixed_truth)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = len(verdicts)
    failed = sum(1 for v in verdicts if not v.ok)
    for v in verdicts:
        if not v.ok:
            sys.stderr.write("FAILED %s: %s\n" % (v.name, v.detail))
    # A failed operation is counted in `failed`; `correct` speaks of the others,
    # so it only turns false when a check could not be made at all.
    correct = all(v.ok or v.expected_fault for v in verdicts)

    if a.trace:
        metrics = layer_metrics(ops)
    else:
        untraced = [r for r in ops if not r.get("traced")]
        pr_s = median_of(untraced, "pagerank")
        eps = statistics.median(
            r["m"] * r["iterations"] / r["s"] for r in untraced if r["op"] == "pagerank")
        metrics = {
            "setup_s": (setup_s, "s"),
            "ingest_s": (median_of(untraced, "ingest"), "s"),
            "pagerank_s": (pr_s, "s"),
            "pagerank_eps": (eps, "edges/s"),
            "components_s": (median_of(untraced, "components"), "s"),
            "plp_s": (median_of(untraced, "plp"), "s"),
            "plp_converge_s": (median_of(untraced, "plp_converge"), "s"),
            "triangles_s": (median_of(untraced, "triangles"), "s"),
            "resume_s": (median_of(untraced, "resume"), "s"),
            "graph_cache_mb": (median_of(untraced, "ingest", "graph_cache_mb"), "MB"),
        }
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


def layer_metrics(ops):
    """Per-layer metrics from the traced rounds (medians over rounds)."""
    traced = [r for r in ops if r.get("traced")]
    out = {}
    units = {"jobs": "count", "stages": "count", "tasks": "count", "task_s": "s",
             "cpu_s": "s", "gc_s": "s", "idle_s": "s", "shuffle_write_mb": "MB",
             "shuffle_read_mb": "MB", "spill_mb": "MB", "skew": "ratio"}
    for op in checks.CALLS:
        rs = [r for r in traced if r["op"] == op]
        for c, u in units.items():
            out["%s.%s" % (op, c)] = (statistics.median(r["c." + c] for r in rs), u)
    extra = {
        "pagerank.iterations": ("pagerank", "iterations", "count"),
        "components.rounds": ("components", "rounds", "count"),
        "plp_converge.rounds": ("plp_converge", "rounds", "count"),
        "plp_converge.updated_last": ("plp_converge", "updated_last", "count"),
        "ingest.dictionary_s": ("ingest_detail", "dictionary_s", "s"),
        "ingest.links": ("ingest_detail", "links", "count"),
        "model.undirected_s": ("ingest_detail", "undirected_s", "s"),
        "iterate.checkpoint_mb": ("iterate", "checkpoint_mb", "MB"),
        "iterate.checkpoint_files": ("iterate", "checkpoint_files", "count"),
        "resume.iterations_redone": ("resume", "iterations_redone", "count"),
    }
    for name, (op, key, u) in extra.items():
        out[name] = (statistics.median(r[key] for r in traced if r["op"] == op), u)
    ing = [r for r in traced if r["op"] == "ingest"]
    links = out["ingest.links"][0]
    out["ingest.edges_per_link"] = (statistics.median(r["m"] for r in ing) / links, "ratio")
    # Tracing overhead: the traced rounds' total minus the untraced rounds', same
    # process (a traced round runs after an untraced one, so a warm-up trend left
    # after set-up counts against tracing).
    totals = {}
    for r in ops:
        if r["op"] in checks.CALLS:
            totals.setdefault((r["round"], r["traced"]), 0.0)
            totals[(r["round"], r["traced"])] += r["s"]
    t1 = statistics.median(v for (_, tr), v in totals.items() if tr)
    t0 = statistics.median(v for (_, tr), v in totals.items() if not tr)
    out["trace.overhead_s"] = (t1 - t0, "s")
    return out


if __name__ == "__main__":
    main()
