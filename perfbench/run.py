#!/usr/bin/env python3
"""Run one graft benchmark workload and print its metric line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --inputs NAME --seed N     # input checksum only

Run from the root of a graft checkout. The first call compiles graft's
sources together with the harness in perfbench/src into .bench_build/
(scalac from the Spark distribution the repository's build.sbt names);
later calls reuse the classes while the sources are unchanged. Each run
is one fresh JVM with local[nproc] Spark. The JVM writes a raw record
(samples, counts, spans, check results) under .bench_build/perfbench/runs/,
and this script reduces it to the metric line declared in BENCHMARK.json:
with --trace 0 the end-to-end metrics, with --trace 1 the per-layer ones.
The last line of stdout is the JSON result; everything else goes to
stderr. The exit code is 0 only when every output check passed.
"""

import argparse
import hashlib
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "src")
JVM_TIMEOUT_S = 170

# Kinds of timed op whose medians make up op_p50_ms, per workload.
PRIMARY_OPS = {
    "vector_serve": ["knn", "lsh", "ivf", "hnsw"],
    "curation_batch": ["pipeline"],
    "graph_supersteps": ["round"],
}
SEARCH_OPS = ["knn", "lsh", "ivf", "hnsw"]
# The CPU probe's time (Tracer.cpuCalibrationMs) on an idle 4-core host
# of the kind the benchmark was tuned on.
HOST_REF_MS = 100.0
# The workloads slow down faster than the probe: measured on the same
# seeds on a busy and a quiet host, their times grew as the probe's
# time to a power of 1.1-2.8 (median about 2). A power of 2 would
# amplify the probe's own noise, so the deflation uses 1.5.
HOST_EXPONENT = 1.5

# Spans that carry the standard quantities, and the set-up-only spans.
STANDARD_SPANS = [
    "Engine.GraftEngine.searchWithScores",
    "operators.Lsh.query",
    "operators.Ivf.query",
    "operators.Hnsw.serveQuery",
    "operators.Dedup.exactDupGroups",
    "operators.Dedup.minhashNearDups",
    "operators.Dedup.simhashPairsBanded",
    "operators.Dedup.lshEmbeddingPairs",
    "operators.Components.connectedComponents",
    "operators.Traversal.kCoreConvergedCensus",
    "operators.Traversal.bfsHops",
    "operators.PageRank.prepare",
    "operators.PageRank.iterate",
]
SETUP_SPANS = [
    "operators.Lsh.build",
    "operators.Ivf.build",
    "operators.Hnsw.buildAdjacency",
    "sources.KwiFormat.write",
]
# Per-layer counts the JVM measures directly (0 where a workload has none).
COUNTERS = [
    "operators.Lsh.query.fallback_ratio",
    "operators.Hnsw.serveQuery.adj_fetches",
    "operators.Hnsw.serveQuery.vec_fetches",
    "sources.KwiFormat.IndexedReader.get_us",
    "operators.Dedup.minhashNearDups.candidate_pairs",
    "operators.Dedup.minhashNearDups.accepted_ratio",
    "operators.Traversal.kCoreConvergedCensus.rounds",
    "functions.TextOps.shingles",
    "expressions.cosine_pairs",
    "expressions.cosine_mb",
    "bench.recall_at_10",
    "operators.Lsh.query.recall_at_10",
    "operators.Ivf.query.recall_at_10",
    "operators.Hnsw.serveQuery.recall_at_10",
    "bench.dup_recall",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def load_spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        fail("no BENCHMARK.json at the checkout root")
    with open(path) as f:
        return json.load(f)


# ---------------------------------------------------------------- build

def spark_jars_dir():
    """The Spark jar directory: $SPARK_JARS_DIR, else the unmanagedBase
    the repository's build.sbt compiles against."""
    env = os.environ.get("SPARK_JARS_DIR")
    if env:
        return env
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(sbt):
        fail("no build.sbt at the checkout root; run from a graft checkout")
    with open(sbt) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        fail("build.sbt names no unmanagedBase jar directory; set SPARK_JARS_DIR")
    return m.group(1)


def scala_sources():
    out = []
    for base in (PROGRAM_SRC, HARNESS_SRC):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compile graft + harness once per source state; return the class dir."""
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        fail("graft sources not found under src/main/scala; run from a graft checkout")
    jars = spark_jars_dir()
    if not os.path.isdir(jars):
        fail("Spark jar directory %s does not exist" % jars)
    srcs = scala_sources()
    h = hashlib.sha256()
    h.update(jars.encode())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.isdir(classes) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return classes, jars
    os.makedirs(BUILD, exist_ok=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    print("perfbench: compiling %d sources" % len(srcs), file=sys.stderr)
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
         "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile],
        stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0:
        fail("compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes, jars


ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def jvm(classes, jars, args, work, timeout):
    """Run the harness main in a fresh JVM; return its exit code."""
    os.makedirs(work, exist_ok=True)
    tmpdir = os.path.join(work, "tmp")
    os.makedirs(tmpdir, exist_ok=True)
    # no hsperfdata file: a run writes only inside the checkout
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m",
           "-Djava.io.tmpdir=" + tmpdir,
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
    cmd += ["--add-opens=java.base/%s=ALL-UNNAMED" % p for p in ADD_OPENS]
    cmd += ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "graft.perfbench.Main"]
    cmd += args
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=work,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        print("perfbench: run exceeded %d s and was killed" % timeout, file=sys.stderr)
        return -1
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


# ---------------------------------------------------------------- reduce

def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail_percentile(samples, p):
    """The p-th percentile (nearest rank), but only when at least ten
    samples lie beyond it; otherwise None."""
    n = len(samples)
    if n == 0:
        return None
    rank = math.ceil(p / 100.0 * n)  # 1-based nearest rank
    if n - rank < 10:
        return None
    return sorted(samples)[rank - 1]


def tail_latency(samples):
    """The highest of p99, p90 and p75 that has at least ten samples
    beyond it, as (percentile, value); (0, 0.0) when none has."""
    for p in (99, 90, 75):
        v = tail_percentile(samples, p)
        if v is not None:
            return p, v
    return 0, 0.0


def geomean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def ops_by_kind(raw, traced=None):
    """Per op kind, the latency of each op per unit of its work."""
    out = {}
    for kind, ms, tr, units in raw["ops"]:
        if traced is None or tr == traced:
            out.setdefault(kind, []).append(ms / units)
    return out


def host_factors(raw):
    """How slow the host ran during set-up and during the timed window:
    the mean time of the CPU probes around each phase (before set-up,
    between set-up and the window, after the window) over the probe's
    reference time, to the power HOST_EXPONENT."""
    before, ready, after = raw["calibration_ms"]
    return tuple(((a + b) / 2 / HOST_REF_MS) ** HOST_EXPONENT
                 for a, b in ((before, ready), (ready, after)))


def end_to_end(raw):
    """Times and rates are deflated by the host factor, so that a busier
    or slower host moves them less; the heap is as measured."""
    by_kind = ops_by_kind(raw)
    kinds = PRIMARY_OPS[raw["workload"]]
    fs, f = host_factors(raw)
    return {
        "setup_s": raw["setup_s"] / fs,
        "op_p50_ms": geomean([median(by_kind.get(k, [])) for k in kinds]) / f,
        "items_per_s": raw["items"] / raw["timed_wall_s"] * f,
        "retained_heap_mb": raw["retained_heap_mb"],
    }


def span_stats(spans):
    """Per span name: self time (span minus its children), jobs, task
    time, planning time and input records of every call."""
    child_ns = {}
    for s in spans:
        if s["parent"]:
            child_ns[s["parent"]] = child_ns.get(s["parent"], 0) + s["end_ns"] - s["start_ns"]
    out = {}
    for s in spans:
        self_ms = (s["end_ns"] - s["start_ns"] - child_ns.get(s["id"], 0)) / 1e6
        out.setdefault(s["name"], []).append(
            (self_ms, s["jobs"], s["task_ms"], s["plan_ms"], s["records_in"]))
    return out


def per_layer(raw):
    m = {}
    st = span_stats(raw["spans"])
    mean = lambda xs: sum(xs) / len(xs) if xs else 0.0
    for name in STANDARD_SPANS:
        calls = st.get(name, [])
        m[name + ".ms"] = median([c[0] for c in calls])
        m[name + ".plan_ms"] = mean([c[3] for c in calls])
        m[name + ".jobs"] = mean([c[1] for c in calls])
        m[name + ".task_ms"] = mean([c[2] for c in calls])
    for name in SETUP_SPANS:
        calls = st.get(name, [])
        m[name + ".ms"] = median([c[0] for c in calls])
        m[name + ".jobs"] = mean([c[1] for c in calls])
    k = raw.get("results_per_query", 10)
    for name in ("operators.Lsh.query", "operators.Ivf.query"):
        m[name + ".rows_per_result"] = mean([c[4] for c in st.get(name, [])]) / k

    for key in COUNTERS:
        m[key] = raw["counters"].get(key, 0.0)
    # one fingerprint head() per components round, plus the initial one
    cc = [s["heads"] for s in raw["spans"] if s["name"] == "operators.Components.connectedComponents"]
    m["operators.Components.connectedComponents.rounds"] = max(mean(cc) - 1, 0.0)
    kc = st.get("operators.Traversal.kCoreConvergedCensus", [])
    rounds = raw["counters"].get("operators.Traversal.kCoreConvergedCensus.rounds", 0.0)
    m["operators.Traversal.kCoreConvergedCensus.jobs_per_round"] = \
        mean([c[1] for c in kc]) / rounds if rounds else 0.0

    sp = raw["spark"]
    m["spark.job_wall_ms"] = median(sp["job_walls_ms"])
    m["spark.core_util"] = sp["task_ms_total"] / (sp["wall_s"] * 1000 * sp["cores"])
    m["spark.shuffle_write_mb"] = sp["shuffle_write_bytes"] / 1e6
    m["spark.spill_mb"] = sp["spill_bytes"] / 1e6
    m["spark.storage_mb_end"] = sp["storage_bytes_end"] / 1e6
    m["spark.persisted_rdds_end"] = sp["persisted_rdds_end"]
    m["jvm.gc_ms"] = raw["gc_ms"]
    m["bench.generate_s"] = raw["generate_s"]
    m["bench.host_calibration_ms"] = statistics.mean(raw["calibration_ms"])
    searches_ms = [ms for kind, ms, _, _ in raw["ops"] if kind in SEARCH_OPS]
    m["bench.searches"] = len(searches_ms)
    m["bench.search_tail_pct"], m["bench.search_tail_ms"] = tail_latency(searches_ms)
    m["bench.trace_overhead"] = trace_overhead(raw)
    return m


def trace_overhead(raw):
    """Traced ÷ untraced time of the same op kinds in one run (every
    other op of each kind is traced): the geometric mean over kinds of
    the ratio of median op times."""
    tr = ops_by_kind(raw, True)
    un = ops_by_kind(raw, False)
    ratios = [median(tr[k]) / median(un[k]) for k in tr if k in un and median(un[k]) > 0]
    return geomean(ratios) if ratios else 1.0


def metric_line(raw, spec, trace):
    table = spec["per_layer"] if trace else spec["end_to_end"]
    values = per_layer(raw) if trace else end_to_end(raw)
    metrics = {}
    for m in table:
        v = values.get(m["name"], 0.0)
        metrics[m["name"]] = {"value": float(v), "unit": m["unit"]}
    checks_ok = all(c["ok"] for c in raw["checks"])
    return {
        "correct": checks_ok and raw["failed"] == 0,
        "attempted": int(raw["attempted"]),
        "failed": int(raw["failed"]),
        "metrics": metrics,
    }


# ---------------------------------------------------------------- main

def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--inputs", help="print the input checksum of this workload")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    spec = load_spec()
    name = a.inputs or a.workload
    if name not in PRIMARY_OPS:
        fail("unknown workload %r; expected one of %s" % (name, ", ".join(PRIMARY_OPS)))
    classes, jars = build()
    if a.inputs:
        p = subprocess.run(
            ["java", "-XX:-UsePerfData", "-Xmx2g", "-cp", classes + os.pathsep + os.path.join(jars, "*"),
             "graft.perfbench.Main", "--inputs", name, "--seed", str(a.seed)],
            stdout=subprocess.PIPE, stderr=sys.stderr, text=True, timeout=JVM_TIMEOUT_S)
        if p.returncode != 0:
            sys.exit(1)
        print(p.stdout.strip())
        return
    runs = os.path.join(BUILD, "runs")
    tag = "%s-seed%d-trace%d" % (name, a.seed, a.trace)
    work = os.path.join(runs, tag + ".work")
    raw_path = os.path.join(runs, tag + ".json")
    shutil.rmtree(work, ignore_errors=True)
    if os.path.exists(raw_path):
        os.remove(raw_path)
    try:
        code = jvm(classes, jars,
                   ["--workload", name, "--seed", str(a.seed), "--seconds", str(a.seconds),
                    "--trace", str(a.trace), "--work", work, "--raw", raw_path],
                   work, JVM_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.isfile(raw_path):
        print("perfbench: the run failed (exit %s)" % code, file=sys.stderr)
        sys.exit(1)
    with open(raw_path) as f:
        raw = json.load(f)
    line = metric_line(raw, spec, a.trace == 1)
    for c in raw["checks"]:
        print("perfbench: check %-40s %s %s" % (c["name"], "ok" if c["ok"] else "FAILED",
                                                c["detail"]), file=sys.stderr)
    print("perfbench: inputs %s seed %d checksum %s" % (name, a.seed, raw["input_checksum"]),
          file=sys.stderr)
    print(json.dumps(line))
    sys.exit(0 if line["correct"] else 1)


if __name__ == "__main__":
    main()
