#!/usr/bin/env python3
"""The repository's benchmark: ingest pipeline, /decide serving and lake
queries, measured end to end and layer by layer. Definitions, metric
meanings and the layer → metric → workload map are in BENCHMARK.json.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the driver from source (perfbench/build.py), runs
one workload in one JVM and prints, last, one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the per-layer ones of
a traced run. The lines before it give the workload's own named
metrics. Each run works in an emptied .bench_build/runs/<run> directory
and leaves its artifact (checks, self-time report, Spark counters,
environment) there as artifact.json. Exits non-zero when a check fails
or the run cannot complete.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ["ingest_pipeline", "read_path"]
JVM_TIMEOUT_S = 160
HEAP = "4g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def check_lake(artifact):
    """Hash every lake query's result and compare with the stored
    DuckDB-oracle hash. Returns a list of mismatches."""
    import duckdb
    from rowhash import parquet_hash
    oracle = json.load(open(os.path.join(HERE, "lake_oracle.json")))
    con = duckdb.connect()
    bad = []
    for name, want in sorted(oracle.items()):
        path = os.path.join(artifact["detail"]["check_dir"], name)
        try:
            got, rows = parquet_hash(con, path)
        except Exception as e:  # missing or unreadable result
            bad.append(f"{name}: {e}")
            continue
        if got != want["sha256"]:
            bad.append(f"{name}: {rows} rows, hash differs from the oracle ({want['rows']} rows)")
    return bad


def run_one(workload, seed, seconds, trace, classpath):
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    work = os.path.join(build_dir, "runs", f"{workload}-s{seed}-t{trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", workload, str(seed), str(seconds),
            str(trace), work, os.path.join(HERE, "lake")]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                            stderr=open(os.path.join(work, "jvm.log"), "w"), text=True)
    try:
        stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit(f"{workload}: no result within {JVM_TIMEOUT_S} s (see {work}/jvm.log)")
    lines = [l for l in stdout.splitlines() if l.startswith("PERFBENCH ")]
    if proc.returncode != 0 or not lines:
        sys.exit(f"{workload}: the driver exited {proc.returncode} without a result "
                 f"(see {work}/jvm.log)")
    result = json.loads(lines[-1][len("PERFBENCH "):])
    artifact_path = os.path.join(work, "artifact.json")
    artifact = json.load(open(artifact_path))
    if workload == "read_path":
        bad = check_lake(artifact)
        artifact["checks"].append({"name": "query results == DuckDB oracle",
                                   "ok": not bad, "info": "; ".join(bad)})
        result["correct"] = result["correct"] and not bad
    artifact["result"] = result
    with open(artifact_path, "w") as f:
        json.dump(artifact, f, indent=1)
    for c in artifact["checks"]:
        if not c["ok"]:
            print(f"CHECK FAILED {workload}: {c['name']}: {c['info']}", file=sys.stderr)
    return result, artifact


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    import build
    t0 = time.time()
    classpath = build.classpath()
    print(f"build: {time.time() - t0:.1f} s", file=sys.stderr)

    names = WORKLOADS if a.workload == "all" else [a.workload]
    results = {}
    for w in names:
        result, artifact = run_one(w, a.seed, a.seconds, a.trace, classpath)
        results[w] = result
        if not a.trace:
            for k, m in [("setup_s", artifact["end_to_end"]["setup_s"])] + list(
                    artifact["named"].items()):
                print(f"{w} {k} {m['value']:.6g} {m['unit']}")
    ok = all(r["correct"] and r["failed"] == 0 for r in results.values())
    if a.workload == "all":
        print(json.dumps(results))
    else:
        print(json.dumps(results[a.workload]))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
