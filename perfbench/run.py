#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload kv_ops --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The first run builds the harness and the
engine from source with sbt (offline) into perfbench/target; later runs
reuse the build until a source file changes. Each run is one JVM on
local[nproc] driven by one client thread in a closed loop. The run's report,
JVM log and (traced) spans land in .bench_build/perfbench/runs/.

Inputs are the sf0.1 test tables: $SPARK_GRAFT_SF_DIR, as for graft.Bench,
else ~/testdata/sf0.1. Named-query outputs are checked against digests of
the DuckDB oracle (perfbench/digests.json, made by make_digests.py) with
tools/check.py's normalisation; kv_ops reads are checked inside the harness
against a shadow model of the table.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSPATH = os.path.join(BENCH, "target", "runtime-classpath.txt")
RUN_LIMIT_S = 170   # one run must end within 180 s
BUILD_LIMIT_S = 700  # the first run, which builds, within 900 s
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


sys.path.insert(0, os.path.join(ROOT, "tools"))
try:
    from check import norm  # the oracle gate's normalisation
except ImportError:
    fail("tools/check.py not found (run from a checkout root)")


def data_dir():
    d = os.environ.get("SPARK_GRAFT_SF_DIR") or os.path.join(
        os.path.expanduser("~"), "testdata", "sf0.1")
    if not os.path.isfile(os.path.join(d, "orders.parquet")):
        fail(f"no sf0.1 test tables in {d} (set SPARK_GRAFT_SF_DIR)")
    return d


def newest_source():
    newest = 0.0
    for top in (BENCH, ENGINE_SRC):
        for dirpath, dirnames, files in os.walk(top):
            dirnames[:] = [d for d in dirnames if d != "target"]
            for f in files:
                if f.endswith((".scala", ".sbt", ".properties")):
                    newest = max(newest, os.path.getmtime(os.path.join(dirpath, f)))
    return newest


def build():
    """Compile the harness with the engine's sources; return the classpath."""
    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources missing: {ENGINE_SRC} (run from a checkout root)")
    if os.path.isfile(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest_source():
        return open(CLASSPATH).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "writeClasspath"]
    log = os.path.join(OUT, "build.log")
    os.makedirs(OUT, exist_ok=True)
    with open(log, "w") as fh:
        rc = subprocess.run(cmd, cwd=BENCH, env=env, stdout=fh, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S).returncode
    if rc != 0 or not os.path.isfile(CLASSPATH):
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (exit {rc}); log: {log}")
    return open(CLASSPATH).read().strip()


def java_cmd(classpath, run_dir, main, args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(run_dir, "tmp")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # G1 with a fixed heap and young generation, not pre-touched: the pages
    # the run touches are then the 512 MB eden, the old regions its retained
    # objects need and native memory, not a size the collector's heuristics
    # picked for this run
    return [java, "-Xms3g", "-Xmx3g", "-Xmn512m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", *opens,
            "-cp", classpath, main, *args]


def run_jvm(classpath, args):
    run_dir = os.path.join(OUT, "runs", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    cmd = java_cmd(classpath, run_dir, "perfbench.Main", [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", data_dir(), "--out", run_dir])
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {RUN_LIMIT_S} s; log: {log}")
    report = os.path.join(run_dir, "report.json")
    if rc != 0 or not os.path.isfile(report):
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"harness failed (exit {rc}); log: {log}")
    shutil.rmtree(os.path.join(run_dir, "tmp"), ignore_errors=True)
    return run_dir, json.load(open(report))


def digest(df):
    """Order-free digest of a result: columns sorted by name, rows sorted."""
    cols = sorted(df.columns)
    rows = sorted(tuple(norm(v) for v in r) for r in df[cols].itertuples(index=False))
    h = hashlib.sha256(json.dumps([cols, rows]).encode())
    return {"columns": cols, "rows": len(rows), "sha256": h.hexdigest()}


def check_outputs(run_dir, names):
    """Compare each checked query's result with its oracle digest."""
    if not names:
        return []
    import duckdb
    want = json.load(open(os.path.join(BENCH, "digests.json")))["queries"]
    con = duckdb.connect()
    bad = []
    for n in names:
        try:
            got = digest(con.sql(
                f"SELECT * FROM '{run_dir}/check/{n}/*.parquet'").df())
        except Exception as e:  # a missing result is a failed check
            got = {"error": str(e)[:200]}
        if n not in want or got != want[n]:
            bad.append(f"{n}: result digest {got.get('sha256', got)} != oracle "
                       f"{want.get(n, {}).get('sha256')}")
    shutil.rmtree(os.path.join(run_dir, "check"), ignore_errors=True)
    return bad


def pct(xs, q):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, math.ceil(q * len(s)) - 1))]


def end_to_end(rep):
    timed = [o for o in rep["ops"] if o["pass"] >= 0]
    walls = [p["wall_s"] for p in rep["passes"]]
    # one "query" per named query, or per op kind in kv_ops
    key = (lambda o: o["kind"]) if rep["workload"] == "kv_ops" else (lambda o: o["name"])
    groups = {}
    for o in timed:
        groups.setdefault(key(o), []).append(o["s"])
    medians = [statistics.median(v) for v in groups.values()]
    return {
        "setup_s": (rep["setup"]["setup_s"], "s"),
        "pass_s": (statistics.median(walls), "s"),
        "query_geomean_s": (math.exp(sum(math.log(m) for m in medians) / len(medians)), "s"),
        "peak_rss_mb": (rep["peak_rss_mb"], "MB"),
    }


def kv_detail(rep):
    """kv_ops latency split by op class, with sample counts."""
    timed = [o for o in rep["ops"] if o["pass"] >= 0]
    classes = {"read": ("point", "slice", "show"),
               "write": ("upsert_hot", "upsert_new", "delete"), "scan": ("scan",)}
    out = {}
    for c, kinds in classes.items():
        xs = [o["s"] for o in timed if o["kind"] in kinds]
        if xs:
            out[f"{c}_p50_s"] = pct(xs, 0.5)
            if c != "scan":
                out[f"{c}_p90_s"] = pct(xs, 0.9)
            out[f"{c}_n"] = len(xs)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")
    classpath = build()
    run_dir, rep = run_jvm(classpath, args)
    bad_checks = check_outputs(run_dir, rep["checks"])
    attempted = len(rep["ops"]) + len(rep["checks"])
    failed = sum(1 for o in rep["ops"] if not o["ok"]) + len(bad_checks)
    for f in rep["failures"] + bad_checks:
        print(f"[perfbench] FAILED {f}", file=sys.stderr)

    if args.trace:
        got = {m["name"]: (m["value"], m["unit"]) for m in rep["layers"]}
        untraced = got["trace.untraced_pass_s"][0]
        got["trace.overhead_frac"] = (got["trace.overhead_s"][0] / untraced, "ratio")
        wanted = spec["per_layer"]
    else:
        got = end_to_end(rep)
        wanted = spec["end_to_end"]
    metrics = {}
    for m in wanted:
        if m["name"] not in got:
            fail(f"metric {m['name']} not measured")
        metrics[m["name"]] = {"value": got[m["name"]][0], "unit": m["unit"]}
    detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "passes": len(rep["passes"]), "timed_ops": sum(
                  1 for o in rep["ops"] if o["pass"] >= 0),
              "failed_frac": failed / max(1, attempted), "setup": rep["setup"]}
    if rep["workload"] == "kv_ops":
        detail.update(kv_detail(rep))
    if args.trace:
        detail["self_s"] = rep["self_s"]
    print("[perfbench] " + json.dumps(detail))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
