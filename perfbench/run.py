#!/usr/bin/env python3
"""Layered crawl benchmark for the graft engine.

Usage (from the repository root):
  python3 perfbench/run.py --workload crawl-polite --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source when they are stale, runs one
workload in one JVM at local[4], checks every operation's output against the
values in pinned.json, and prints one JSON line: {"correct", "attempted",
"failed", "metrics"}. --trace 0 gives the end-to-end metrics, --trace 1 the
per-layer metrics of a traced run. --record-pins rewrites pinned.json from the
observed outputs instead of checking them (done once at the commit the pins
describe).
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "runtime-classpath.txt")
STAMP = os.path.join(TARGET, "source-stamp.txt")
PINNED = os.path.join(BENCH, "pinned.json")
WORKLOADS = ("crawl-bulk", "crawl-polite", "queries")
JVM_TIMEOUT_S = 170

# query name prefix -> family (the operator module each family exercises);
# the rest are crawl operations
FAMILIES = [
    ("d", "dedup"), ("o2_", "dedup"),
    ("m1_", "similarity"), ("m2_", "similarity"), ("m3_", "similarity"),
    ("m4_", "similarity"), ("n", "similarity"),
    ("r5_", "sinks"), ("r6_", "sinks"), ("w1_", "sinks"),
    ("r", "restructure"),
    ("t", "text"), ("c3_", "text"),
    ("q", "relational"), ("u", "relational"), ("f13_", "relational"),
    ("x13_", "relational"),
]
FAMILY_NAMES = sorted({f for _, f in FAMILIES} | {"crawlops"})


def family(query):
    return next((f for p, f in FAMILIES if query.startswith(p)), "crawlops")


def source_stamp():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"),
              os.path.join(ROOT, "project", "build.properties"),
              os.path.join(BENCH, "build.sbt"),
              os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, fs in os.walk(top):
            inputs += [os.path.join(d, f) for f in fs]
    for p in sorted(inputs):
        h.update(os.path.relpath(p, ROOT).encode())
        if os.path.isfile(p):
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == stamp:
                return
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("perfbench: engine sources (src/main/scala) not found")
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     "-Dsbt.repository.config=" + repos]
        env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(TARGET, exist_ok=True)
    log = os.path.join(TARGET, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.autostart=false", "writeClasspath"],
            cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(CLASSPATH):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        sys.exit("perfbench: build failed")
    with open(STAMP, "w") as f:
        f.write(stamp)


# Spark on JDK 17 outside spark-submit (as the engine's own build.sbt sets)
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def run_jvm(workload, seconds, trace, work):
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    cmd += ["-Xmx3g", "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false",
            "-cp", cp, "perfbench.Main", workload, str(seconds),
            "1" if trace else "0", work, os.path.join(BENCH, "data")]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True)
    try:
        out, err = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        sys.exit("perfbench: benchmark JVM timed out")
    if proc.returncode != 0:
        sys.stderr.write(err[-4000:])
        sys.exit("perfbench: benchmark JVM failed (exit %d)" % proc.returncode)
    return [json.loads(l[len("PERFBENCH "):]) for l in out.splitlines()
            if l.startswith("PERFBENCH ")]


def by_kind(records, kind):
    return [r for r in records if r["kind"] == kind]


def check(workload, records, pins):
    """Returns (attempted, failed, observed pins)."""
    attempted = failed = 0
    observed = {}
    keys = ("waves", "fetched", "deduped", "errors", "seen_digest",
            "trace_digest")
    for c in by_kind(records, "crawl"):
        got = {k: c[k] for k in keys}
        observed[workload] = got
        attempted += 1
        if got != pins.get(workload) or not c["resume_same"]:
            failed += 1
    queries = {}
    for q in by_kind(records, "query"):
        pin = pins.get("queries", {}).get(q["name"]) or [None, None]
        attempted += 1
        if "error" in q:
            failed += 1
        elif "hash" in q:  # the measured pass hashes values, later passes count
            queries[q["name"]] = [q["rows"], q["hash"]]
            failed += [q["rows"], q["hash"]] != pin
        else:
            failed += q["rows"] != pin[0]
    if queries:
        observed["queries"] = queries
    for d in by_kind(records, "functions_digest"):
        observed["functions_digest"] = d["digest"]
        attempted += 2
        failed += d["digest"] != pins.get("functions_digest")
        failed += any(h != d["seen_probe_urls"] for h in d["seen_probe_hits"])
    return attempted, failed, observed


def metric(value, unit):
    return {"value": value, "unit": unit}


def op_seconds(records, pass_):
    """Wall seconds of each operation tagged `pass_`: a crawl, or a pass
    over every query (the sum of its query times)."""
    crawls = [c["wall_s"] for c in by_kind(records, "crawl")
              if c["pass"] == pass_]
    if crawls:
        return crawls
    queries = [q["s"] for q in by_kind(records, "query") if q["pass"] == pass_]
    n = len({q["name"] for q in by_kind(records, "query")})
    return [sum(queries[i:i + n]) for i in range(0, len(queries), n)]


def end_to_end(workload, records):
    op_s = op_seconds(records, "measured")
    if workload == "queries":
        queries = by_kind(records, "query")
        n = len({q["name"] for q in queries})
        throughput = [n / s for s in op_s]
        step = [q["s"] for q in queries if q["pass"] == "measured"]
        restart = [s for r in by_kind(records, "restart") for s in r["s"]]
    else:
        crawls = [c for c in by_kind(records, "crawl")
                  if c["pass"] == "measured"]
        throughput = [(c["fetched"] + c["deduped"]) / c["wall_s"]
                      for c in crawls]
        step = [w for c in crawls for w in c["wave_s"]]
        restart = [s for c in crawls for s in c["resume_s"]]
    med = statistics.median
    return {
        "op_s": metric(med(op_s), "s"),
        "throughput_per_s": metric(med(throughput), "1/s"),
        "step_s_p50": metric(med(step), "s"),
        "restart_s": metric(med(restart), "s"),
        "setup_s": metric(med(by_kind(records, "setup")[0]["s"]), "s"),
    }


def per_layer(records, units):
    m = {}
    for r in by_kind(records, "layer"):
        for k, v in r["metrics"].items():
            m[k] = m.get(k, 0.0) + (v or 0.0)
    traced = [q for q in by_kind(records, "query") if q["pass"] == "traced"]
    waves = m.pop("waves", 0.0)
    steps = len(traced) or waves  # a step is a query, or a crawl's wave
    traced_s = {q["name"]: q["s"] for q in traced}
    for k in units:
        if k.startswith("query."):
            m[k] = traced_s.get(k[len("query."):-len("_s")], 0.0)
    for f in FAMILY_NAMES:
        m["queries.%s_s" % f] = sum(s for n, s in traced_s.items()
                                    if family(n) == f)
    jobs, tasks = m.pop("engine.jobs", 0.0), m.pop("engine.tasks", 0.0)
    m["engine.jobs_per_step"] = jobs / steps if steps else 0.0
    m["engine.tasks_per_step"] = tasks / steps if steps else 0.0
    m["jvm.rss_peak_mb"] = by_kind(records, "rss")[0]["peak_mb"]
    m["host.calib_ms"] = statistics.median(
        c["ms"] for c in by_kind(records, "calib"))
    # the traced operation against the untraced one right after it
    m["trace.overhead_ratio"] = op_seconds(records, "traced")[0] / \
        op_seconds(records, "after")[0]
    # a layer the workload never calls reports 0
    return {k: metric(m.get(k, 0.0), units[k]) for k in units}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-pins", action="store_true")
    a = ap.parse_args()
    # The workload identity (corpus, sizes, budgets, confs) fixes the inputs:
    # the pages generator takes no seed, so every seed runs the same inputs.
    build()
    work = os.path.join(TARGET, "work-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        records = run_jvm(a.workload, a.seconds, a.trace == 1, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    pins = json.load(open(PINNED)) if os.path.exists(PINNED) else {}
    attempted, failed, observed = check(a.workload, records, pins)
    if a.record_pins:
        pins.update(observed)
        with open(PINNED, "w") as f:
            json.dump(pins, f, indent=1, sort_keys=True)
            f.write("\n")
    # host speed beside every run, so a host swing is not read as a regression
    sys.stderr.write("perfbench: host.calib_ms=%.1f\n" % statistics.median(
        c["ms"] for c in by_kind(records, "calib")))
    if a.trace:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            units = {u["name"]: u["unit"] for u in json.load(f)["per_layer"]}
        metrics = per_layer(records, units)
    else:
        metrics = end_to_end(a.workload, records)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
