#!/usr/bin/env python3
"""Run one benchmark measurement and print its result as the last line.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source (perfbench/build.py), runs
one workload in one JVM (perfbench.Main) with its inputs made from --seed,
and prints two lines: the full run record (every measured end-to-end
candidate, family metrics, contention diagnostics, output-check errors),
then the result object
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json, with --trace 1 its per-layer
metrics (a layer the workload does not exercise reads 0). A traced run also
leaves its spans in .bench_build/perfbench/records/. Exits 1 when an output
check failed or the run could not complete, and also when the JVM did not map
the build's class-data-sharing archive: its session start, part of setup_s,
would then not compare with that of other runs.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("query_mix", "operator_suite")
RUN_LIMIT_S = 170  # a run must end within 180 s, build excluded

def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    jar, jsa = build.build()
    t0 = time.monotonic()

    here = os.path.join(build.ROOT, "perfbench")
    runs = os.path.join(build.build_dir(), "perfbench", "runs")
    records = os.path.join(build.build_dir(), "perfbench", "records")
    name = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(runs, name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(records, exist_ok=True)
    out = os.path.join(records, name + ".json")

    jars = os.path.join(build.spark_jars(), "*")
    cds_log = os.path.join(work, "cds.log")
    cds = [f"-XX:SharedArchiveFile={jsa}", "-Xlog:cds=off", "-Xlog:cds+dynamic=off",
           f"-Xlog:cds=info:file={cds_log}"]
    cmd = ["java", *build.java_opens(), *cds, "-Xmx4g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp", "-Duser.timezone=UTC",
           f"-Dlog4j2.configurationFile={here}/log4j2.properties",
           "-cp", os.pathsep.join([jar, jars]), "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--out", out,
           "--data", os.path.join(here, "data"),
           "--fingerprints", os.path.join(here, "fingerprints.tsv")]
    env = dict(os.environ, SPARK_GRAFT_GATE_TMP=os.path.join(work, "tmp"),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(10, RUN_LIMIT_S - (time.monotonic() - t0)))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = None
    if rc != 0 or not os.path.exists(out):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        shutil.rmtree(work, ignore_errors=True)
        fail("the benchmark JVM timed out" if rc is None else f"the benchmark JVM exited with {rc}")
    # the JVM logs the mapping of the archive's regions, and a line starting
    # "UseSharedSpaces:" when it then rejects the archive and unmaps it
    with open(cds_log, errors="replace") as f:
        text = f.read()
    cds_mapped = "Mapped dynamic region" in text and "UseSharedSpaces:" not in text
    shutil.rmtree(work, ignore_errors=True)
    if not cds_mapped:
        fail("the JVM did not map the class-data-sharing archive, so setup_s would not "
             "compare with other runs")

    with open(out) as f:
        record = json.load(f)
    if args.trace:
        values = record["per_layer"]
        wanted = spec["per_layer"]
        metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in wanted}
    else:
        values = record["end_to_end"]
        missing = [m["name"] for m in spec["end_to_end"] if m["name"] not in values]
        if missing:
            fail(f"the run measured no {', '.join(missing)}")
        metrics = {m["name"]: {"value": values[m["name"]]["value"], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({k: record[k] for k in (
        "workload", "seed", "trace", "end_to_end", "family", "diagnostics", "op_kinds",
        "errors")}))
    result = {"correct": bool(record["correct"]), "attempted": int(record["attempted"]),
              "failed": int(record["failed"]), "metrics": metrics}
    print(json.dumps(result))
    sys.exit(0 if result["correct"] and result["failed"] == 0 else 1)


if __name__ == "__main__":
    main()
