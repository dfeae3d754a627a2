#!/usr/bin/env python3
"""Repository benchmark: build -> store -> analyse workloads over the testdata.

Usage: python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
harness from source into .bench_build/ (sbt, offline); later runs reuse the
classes while the sources are unchanged. Each run starts one JVM with one
Spark session on local[min(4, nproc)] and one closed-loop client, measures
passes over the workload's op list for --seconds, checks every output outside
the timed region, prints one line per metric with its unit, writes a result
file no later run overwrites, and prints the result JSON as its last line.
With --trace 0 the JSON carries the end-to-end metrics, with --trace 1 the
per-layer metrics. WORKLOADS.md describes workloads, sizes and metrics.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "target" / "scala-2.13" / "classes"
TESTDATA = Path(os.environ.get("GRAFT_TESTDATA", Path.home() / "testdata"))
CPUS = min(4, os.cpu_count() or 1)
HEAP = "3g"
JVM_TIMEOUT_S = 150

# workload -> testdata scale it reads
WORKLOADS = {
    "ticker_build": "sf0.001",
    "analyst_session": "sf0.001",
}

# the metrics the result line carries: end_to_end untraced, per_layer traced
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
END_TO_END = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in SPEC["per_layer"]}

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for top in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in top.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes() + b"\0")
    return h.hexdigest()


def build():
    stamp_file = BUILD / "classes.stamp"
    stamp = source_stamp()
    if CLASSES.is_dir() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return
    BUILD.mkdir(exist_ok=True)
    print("perfbench: building program and harness with sbt", file=sys.stderr)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if r.returncode != 0:
        fail(f"build failed with exit code {r.returncode}")
    stamp_file.write_text(stamp)


def percentile(xs, p):
    """Nearest-rank percentile."""
    s = sorted(xs)
    k = max(0, min(len(s) - 1, -(-len(s) * p // 100) - 1))
    return s[int(k)]


def run_jvm(args, run_dir, data_dir):
    (run_dir / "tmp").mkdir(parents=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(run_dir / "spark-local"))
    cmd = ["java", f"-Xmx{HEAP}", "-XX:+UseG1GC",
           *[f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS],
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           f"-Dspark.hadoop.hadoop.tmp.dir={run_dir / 'tmp'}",
           "-cp", f"{CLASSES}{os.pathsep}{os.environ['SPARK_HOME']}/jars/*",
           "graft.perfbench.Main", args.workload, str(args.seed), str(args.seconds),
           str(args.trace), str(data_dir), str(run_dir), str(CPUS)]
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s")
    if code != 0:
        fail(f"benchmark JVM exited with code {code}")
    return json.loads((run_dir / "result.json").read_text())


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no program sources under {ROOT / 'src/main/scala/graft'}; run from a checkout root")
    if "SPARK_HOME" not in os.environ:
        fail("SPARK_HOME is not set; the build and the run take Spark's jars from it")
    data_dir = TESTDATA / WORKLOADS[args.workload]
    if not (data_dir / "orders.parquet").exists():
        fail(f"testdata missing: {data_dir}")
    build()

    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{time.strftime('%Y%m%dT%H%M%SZ', time.gmtime())}-{os.getpid()}"
    run_dir = BUILD / "runs" / run_id
    run_dir.mkdir(parents=True)
    try:
        t0 = time.monotonic()
        res = run_jvm(args, run_dir, data_dir)
        res["jvm_wall_s"] = time.monotonic() - t0
        import oracle
        verdict = oracle.check(data_dir, run_dir / "outputs", res["oracle"], res["twins"],
                               BUILD / "oracle-cache.json")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    # an output that fails its oracle or twin check fails every execution of
    # that op; a rows-only twin run only for the check fails nothing timed
    bad = {n: why for n, why in verdict.items() if why}
    ops = res["ops"]
    for op in ops:
        if op["error"] is None and op["name"] in bad:
            op["error"] = f"oracle check: {bad[op['name']]}"
    failed = sum(1 for op in ops if op["error"] is not None)
    attempted = len(ops)
    for n, why in sorted(bad.items()):
        print(f"perfbench: output check failed for {n}: {why}", file=sys.stderr)

    secs = [op["seconds"] for op in ops]
    m = {
        "setup_s": (res["setup_s"], "s"),
        "pass_s": (statistics.median(res["passes"]), "s"),
        "op_p50_s": (statistics.median(secs), "s"),
        "error_frac": (failed / attempted, "ratio"),
        "heap_peak_mb": (res["heap_peak_mb"], "MB"),
    }
    p90 = percentile(secs, 90)
    beyond = sum(1 for s in secs if s > p90)
    if beyond >= 10:
        m["op_p90_s"] = (p90, "s")
    if res["cells_per_pass"]:
        m["cells_per_s"] = (res["cells_per_pass"] / m["pass_s"][0], "cells/s")
    if res["read_op"]:
        m["store_read_s"] = (statistics.median(
            op["seconds"] for op in ops if op["name"] == res["read_op"]), "s")
    if res["store_bytes_per_row"]:
        m["store_bytes_per_row"] = (res["store_bytes_per_row"], "B/row")

    layers = {k: (v, PER_LAYER.get(k) or unit_of(k)) for k, v in res["layers"].items()}
    if args.trace:
        layers["trace.overhead_s"] = (statistics.median(res["passes"]) - res["untraced_pass_s"], "s")

    print(f"workload {args.workload} seed {args.seed} trace {args.trace} cpus {CPUS} "
          f"data {WORKLOADS[args.workload]} passes {len(res['passes'])} op_samples {len(secs)} "
          f"p90_samples_beyond {beyond} jvm_wall_s {res['jvm_wall_s']:.1f}")
    for k, (v, u) in m.items():
        print(f"metric {k} {v:.6g} {u}")
    for k, (v, u) in layers.items():
        if v is not None:
            print(f"layer {k} {v:.6g} {u}")

    wanted = PER_LAYER if args.trace else END_TO_END
    source = {**m, **layers}
    metrics = {k: {"value": source[k][0], "unit": u} for k, u in wanted.items() if k in source}
    missing = sorted(set(wanted) - set(metrics))
    correct = failed == 0 and not missing and not res["untimed_errors"]
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
    line = {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}

    results = BUILD / "results"
    results.mkdir(parents=True, exist_ok=True)
    record = dict(res, metrics_e2e={k: v[0] for k, v in m.items()},
                  oracle_verdict=verdict, result=line)
    with open(results / f"{run_id}.json", "x") as f:
        json.dump(record, f)
    print(json.dumps(line))


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ns_per_row"):
        return "ns/row"
    if name.endswith("bytes") or name.endswith("bytes_peak") or name.endswith("bytes_written"):
        return "B"
    return "count"


if __name__ == "__main__":
    sys.path.insert(0, str(HERE))
    sys.dont_write_bytecode = True
    main()
