#!/usr/bin/env python3
"""Validate the operator-suite queries against their DuckDB oracles once and
write perfbench/fingerprints.tsv, the fingerprints every benchmark run checks.

    python3 perfbench/validate_fingerprints.py

Steps: dump the suite's results with graft.Verify on perfbench/data;
compare each dump with its oracle in SparkEntry.oracleSql using
tools/check.py; then fingerprint each query live and from its checked dump
(perfbench.FingerprintMain), which must agree. Needs the repository checkout (tools/check.py) and DuckDB.
"""
import os
import re
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

QUERY_RE = re.compile(r'^\s+"(q_\w+)" -> "\w+"[,)]?$')


def suite_queries():
    with open(os.path.join(build.ROOT, "perfbench/src/OperatorSuite.scala")) as f:
        return [m.group(1) for line in f if (m := QUERY_RE.match(line))]


def main():
    jar, _ = build.build()
    here = os.path.join(build.ROOT, "perfbench")
    data = os.path.join(here, "data")
    out = os.path.join(build.build_dir(), "perfbench", "validate")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"))
    queries = suite_queries()
    assert len(queries) == 6, queries
    cp = os.pathsep.join([jar, os.path.join(build.spark_jars(), "*")])
    java = ["java", *build.java_opens(), "-Xmx4g", "-XX:-UsePerfData", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={out}/tmp",
            f"-Dlog4j2.configurationFile={here}/log4j2.properties", "-cp", cp]
    env = dict(os.environ, SPARK_GRAFT_GATE_TMP=os.path.join(out, "tmp"))
    dump = os.path.join(out, "dump")
    subprocess.run(java + ["graft.Verify", data, dump, *queries], env=env, check=True)
    check = subprocess.run(
        [sys.executable, os.path.join(build.ROOT, "tools/check.py"), data, dump],
        capture_output=True, text=True)
    print(check.stdout)
    oracled = {m.group(1) for m in re.finditer(r"^OK\s+(q_\w+) \(", check.stdout, re.M)}
    missing = [q for q in queries if q not in oracled]
    if check.returncode != 0 or missing:
        sys.exit(f"oracle check failed; not oracle-identical: {missing}")
    subprocess.run(java + ["perfbench.FingerprintMain", data, dump,
                           os.path.join(here, "fingerprints.tsv")], env=env, check=True)
    shutil.rmtree(out, ignore_errors=True)
    print("wrote perfbench/fingerprints.tsv")


if __name__ == "__main__":
    main()
