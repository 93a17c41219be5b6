#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload plan --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Builds the engine and the harness from
source on first use (sbt, offline, into .bench_build/), runs the benchmark
JVM (perfbench.Main) against the sf0.1 tables ($PERFBENCH_DATA, else
testdata/sf0.1 in the home directory or above the checkout), checks every
output against
DuckDB, and prints one line per metric followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(with spans and Spark listener counters over one extra traced pass). The
inputs, query list, metrics and spans of the run are also written to
.bench_out/. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import oracle

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
OUT = os.path.join(ROOT, ".bench_out")


def data_dir():
    """$PERFBENCH_DATA, else the first testdata/sf0.1 (TESTDATA.md) found
    in the home directory or in a directory above the checkout."""
    if os.environ.get("PERFBENCH_DATA"):
        return os.environ["PERFBENCH_DATA"]
    bases = [os.path.expanduser("~")]
    d = ROOT
    while os.path.dirname(d) != d:
        d = os.path.dirname(d)
        bases.append(d)
    for b in bases:
        if os.path.isdir(os.path.join(b, "testdata", "sf0.1")):
            return os.path.join(b, "testdata", "sf0.1")
    return os.path.join(bases[0], "testdata", "sf0.1")


DATA = data_dir()


def spark_home():
    """$SPARK_HOME, else the installation spark-submit on PATH belongs to."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit))) \
        if submit else ""


SPARK_HOME = spark_home()
WORKLOADS = ("plan", "olap", "iterative")
HEAP = "3g"
JVM_TIMEOUT_S = 160
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "documents", "embeddings")

JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                             recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"),
                              recursive=True))
    files += [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project/build.properties")]
    return files


def build():
    """Compile engine + harness with sbt unless the sources are unchanged
    since the last build. Returns the classes directory."""
    srcs = sources()
    if not any(p.startswith(os.path.join(ROOT, "src")) for p in srcs):
        fail("no engine sources under src/main/scala")
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    target = os.path.join(BUILD, "sbt")
    classes = os.path.join(target, "scala-2.13", "classes")
    stamp = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest \
            and os.path.isdir(classes):
        return classes, digest
    env = dict(os.environ, PERFBENCH_TARGET=target, SPARK_HOME=SPARK_HOME,
               COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.forcestart=false",
            "-Dsbt.log.noformat=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "sbt.log"), "w") as log:
        r = subprocess.run(["sbt", "--batch", "compile"], cwd=HERE, env=env,
                           stdout=log, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=840)
    if r.returncode != 0 or not os.path.isdir(classes):
        fail(f"build failed, see {os.path.join(BUILD, 'sbt.log')}")
    with open(stamp, "w") as f:
        f.write(digest)
    return classes, digest


def run_jvm(classes, args, work):
    """Run the benchmark JVM in its own process group; kill the group on
    timeout so no Spark thread outlives the benchmark."""
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] + opens + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dderby.system.home={work}",
        "-cp", f"{classes}:{os.path.join(SPARK_HOME, 'jars')}/*",
        "perfbench.Main"] + [str(a) for a in args])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"),
               SPARK_LOCAL_IP="127.0.0.1")
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=log,
                             stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        rc = "timeout"
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            pass
        finally:  # also on SIGTERM/SIGINT: never leave the JVM behind
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"benchmark JVM exited with {rc}")


def latency_tail(samples):
    """Highest percentile with at least ten samples beyond it: the latency
    with exactly ten samples above it. With fewer than 20 samples that
    rank lies at or under the median; then the tail is the slowest query's
    median latency (reported as percentile None). Returns (ms, percentile)."""
    lat = sorted(s["ms"] for s in samples)
    n = len(lat)
    if n >= 20:
        return lat[n - 11], round(100.0 * (n - 10) / n, 2)
    per_item = {}
    for s in samples:
        per_item.setdefault(s["item"], []).append(s["ms"])
    return max(statistics.median(v) for v in per_item.values()), None


def self_times(spans, nq):
    """Per span name: mean self time per query (ms), a span's duration
    minus the part its child spans cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    own = {}
    for s in spans:
        d = (s["end_ns"] - s["start_ns"]) / 1e6
        c = sum((k["end_ns"] - k["start_ns"]) / 1e6 for k in kids.get(s["id"], []))
        own[s["name"]] = own.get(s["name"], 0.0) + d - c
    return {k: v / nq for k, v in own.items()}


def table_inputs():
    import duckdb
    con = duckdb.connect()
    out = {}
    for t in TABLES:
        p = os.path.join(DATA, f"{t}.parquet")
        out[t] = {"rows": con.sql(f"SELECT count(*) FROM '{p}'").fetchone()[0],
                  "bytes": os.path.getsize(p)}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(3))
    for t in TABLES:
        if not os.path.exists(os.path.join(DATA, f"{t}.parquet")):
            fail(f"missing input table {t} under {DATA}")
    if not glob.glob(os.path.join(SPARK_HOME, "jars", "spark-sql_*.jar")):
        fail(f"no Spark jars under {SPARK_HOME}/jars")
    marks = [("start", time.time())]
    classes, build_id = build()
    marks.append(("build", time.time()))
    cores = len(os.sched_getaffinity(0))

    work = os.path.join(ROOT, ".bench_work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result_path = os.path.join(work, "result.json")
        run_jvm(classes, [a.workload, a.seed, a.seconds, a.trace, DATA, work,
                          result_path, cores], work)
        marks.append(("jvm", time.time()))
        with open(result_path) as f:
            res = json.load(f)
        checks = oracle.check_all(DATA, res["checks"], a.workload)
        marks.append(("check", time.time()))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's directory is still there
    harness = {name: round(t - marks[i][1], 3)
               for i, (name, t) in enumerate(marks[1:])}
    report(a, res, checks, cores, harness, build_id)


def report(a, res, checks, cores, harness, build_id):
    items = res["items"]
    bad_items = {i for i, why in checks.items() if why}
    samples = res["samples"]
    attempted = len(samples)
    failed = sum(1 for s in samples if not s["ok"] or s["item"] in bad_items)
    ok = [s for s in samples if s["ok"]]
    lat = [s["ms"] for s in ok]
    measured_s = sum(s["ms"] for s in samples) / 1e3

    # the seed must give the same query list and order on every run of
    # the same build
    digest = hashlib.sha256(json.dumps(
        [items, res["pass_order"]], sort_keys=True).encode()).hexdigest()
    os.makedirs(OUT, exist_ok=True)
    reg_path = os.path.join(OUT, "seed_digests.json")
    reg = json.load(open(reg_path)) if os.path.exists(reg_path) else {}
    key = f"{a.workload}:{a.seed}:{build_id[:16]}"
    repeatable = res["deterministic"] and reg.get(key, digest) == digest
    reg[key] = digest
    with open(reg_path, "w") as f:
        json.dump(reg, f, indent=1, sort_keys=True)

    correct = repeatable and not bad_items and failed == 0 and bool(lat)
    tail, tail_pct = latency_tail(ok) if ok else (0.0, None)
    setup = res["setup"]
    e2e = {
        "setup_s": (setup["setup_s"], "s"),
        "queries_per_s": ((len(lat) / measured_s) if measured_s else 0.0, "1/s"),
        "latency_p50_ms": (statistics.median(lat) if lat else 0.0, "ms"),
        "latency_tail_ms": (tail, "ms"),
        "success_frac": ((attempted - failed) / attempted if attempted else 0.0, "frac"),
        "peak_rss_mb": (res["peak_rss_kb"] / 1024.0, "MB"),
    }
    layer = {}
    if a.trace:
        lay = res["layer"]
        traced = res["traced"]
        nq = max(1, len(traced))
        own = self_times(res["spans"], nq)
        wall = lay.get("traced.wall_s", 0.0)
        last = max(s["pass"] for s in samples)
        around = (sum(s["ms"] for s in samples if s["pass"] == last)
                  + sum(s["ms"] for s in res["after"])) / 2
        traced_pass_ms = sum(s["ms"] for s in traced)
        per_query = lambda k: lay.get(k, 0.0) / nq
        gi = lay.get("rules.graft_invocations", 0.0)
        layer = {
            "stats.load_ms": (lay.get("stats.load_ms", 0.0), "ms"),
            "stats.calls": (lay.get("stats.calls", 0.0), "count"),
            "frontend.parse_ms": (own.get("frontend.parse", 0.0), "ms"),
            "hep.optimize_ms": (own.get("hep.optimize", 0.0), "ms"),
            "cascades.search_ms": (own.get("cascades.search", 0.0), "ms"),
            "cascades.memo_groups": (lay.get("cascades.memo_groups", 0.0), "count"),
            "cascades.memo_exprs": (lay.get("cascades.memo_exprs", 0.0), "count"),
            "cascades.winner_cost": (lay.get("cascades.winner_cost", 0.0), "cost"),
            "lower.ms": (own.get("lower", 0.0), "ms"),
            "catalyst.plan_ms": (own.get("catalyst.plan", 0.0), "ms"),
            "ops.build_ms": (own.get("ops.build", 0.0), "ms"),
            "execute_ms": (own.get("execute", 0.0), "ms"),
            "harness.self_ms": (own.get("query", 0.0), "ms"),
            "catalyst.analysis_ms": (per_query("catalyst.analysis_ms"), "ms"),
            "catalyst.optimization_ms": (per_query("catalyst.optimization_ms"), "ms"),
            "catalyst.planning_ms": (per_query("catalyst.planning_ms"), "ms"),
            "rules.graft_ms": (per_query("rules.graft_ms"), "ms"),
            "rules.graft_effective_frac": (
                lay.get("rules.graft_effective", 0.0) / gi if gi else 0.0, "frac"),
            "codegen.compiles": (lay.get("codegen.compiles", 0.0), "count"),
            "codegen.compile_ms": (lay.get("codegen.compile_ms", 0.0), "ms"),
            "codegen.setup_compiles": (setup["codegen_compiles"], "count"),
            "codegen.setup_compile_ms": (setup["codegen_compile_ms"], "ms"),
            "spark.jobs": (lay.get("spark.jobs", 0.0), "count"),
            "spark.stages": (lay.get("spark.stages", 0.0), "count"),
            "spark.tasks": (lay.get("spark.tasks", 0.0), "count"),
            "spark.driver_s": (lay.get("spark.driver_s", 0.0), "s"),
            "exec.run_s": (lay.get("exec.run_s", 0.0), "s"),
            "exec.cpu_s": (lay.get("exec.cpu_s", 0.0), "s"),
            "exec.gc_s": (lay.get("exec.gc_s", 0.0), "s"),
            "exec.busy_frac": (
                lay.get("exec.run_s", 0.0) / (wall * cores) if wall else 0.0, "frac"),
            "scan.rows": (lay.get("scan.rows", 0.0), "count"),
            "scan.bytes": (lay.get("scan.bytes", 0.0), "bytes"),
            "shuffle.read_bytes": (lay.get("shuffle.read_bytes", 0.0), "bytes"),
            "shuffle.write_bytes": (lay.get("shuffle.write_bytes", 0.0), "bytes"),
            "spill.bytes": (lay.get("spill.bytes", 0.0), "bytes"),
            "blocks.writes": (lay.get("blocks.writes", 0.0), "count"),
            "blocks.written_bytes": (lay.get("blocks.written_bytes", 0.0), "bytes"),
            "trace.overhead_frac": (
                traced_pass_ms / around - 1.0 if around else 0.0, "frac"),
        }

    inputs = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "nproc": cores, "heap_mb": res["heap_mb"],
        "data_dir": DATA, "tables": table_inputs(), "queries": items,
        "pass_order": res["pass_order"], "samples": len(lat),
        "latency_tail_percentile": tail_pct,
        "failed_frac": failed / attempted if attempted else 0.0,
        "check_failures": {items[i]["id"]: why for i, why in checks.items() if why},
        "run_errors": sorted({s.get("error", "") for s in samples if not s["ok"]}),
    }
    shown = layer if a.trace else e2e
    record = dict(inputs, metrics={k: v for k, (v, _) in e2e.items()},
                  samples=[[items[s["item"]]["id"], s["pass"], s["ms"], s["ok"]]
                           for s in samples],
                  per_layer={k: v for k, (v, _) in layer.items()},
                  setup=setup, harness_s=harness, spans=res["spans"] if a.trace else [])
    with open(os.path.join(OUT, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)

    print(f"workload={a.workload} seed={a.seed} nproc={cores} "
          f"heap_mb={res['heap_mb']} data={DATA} queries={len(items)} "
          f"samples={len(lat)} tail=" +
          (f"p{tail_pct}" if tail_pct else "slowest-query-median") +
          f" failed_frac={inputs['failed_frac']:.4f}")
    for why in list(inputs["check_failures"].items()) + [("run", e) for e in inputs["run_errors"]]:
        print(f"  FAIL {why[0]}: {str(why[1])[:300]}")
    for k, (v, unit) in shown.items():
        print(f"{k} {v:.6g} {unit}")
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in shown.items()}}))


if __name__ == "__main__":
    main()
