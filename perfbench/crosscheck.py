#!/usr/bin/env python3
"""Cross-checks the benchmark's expected gate digests against DuckDB.

    python3 perfbench/crosscheck.py

Run from the root of a graft checkout. For every gate in
perfbench/expected/digests.tsv it
  1. dumps the gate's output with graft.Verify over perfbench/data/sf0.01,
  2. compares that output with the gate's DuckDB oracle SQL, using
     tools/oracle_check.py (gates without an oracle report "no oracle"),
  3. digests the dumped output exactly as the benchmark does and compares
     it with the expected digest.
It prints one line per gate and exits non-zero if any oracle-backed gate
fails or any digest differs.
"""
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402  (the benchmark's build and paths)


def main():
    os.makedirs(run.OUT, exist_ok=True)
    classpath, _ = run.build()
    expected = {}
    with open(run.EXPECTED) as f:
        for line in f:
            if line.strip() and not line.startswith("#"):
                name, digest = line.rstrip("\n").split("\t")
                expected[name] = digest
    gates = sorted(expected)
    work = os.path.join(run.OUT, "crosscheck")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "verify")
    java = ["java", *run.OPENS, "-Xmx3g", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath]
    env = dict(os.environ, SPARK_GRAFT_VERIFY_ONLY=",".join(gates),
               SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))))
    with open(os.path.join(work, "verify.log"), "w") as log:
        subprocess.run(java + ["graft.Verify", run.DATA, out], env=env,
                       stdout=log, stderr=subprocess.STDOUT, check=True)
    oracle = subprocess.run(
        [sys.executable, os.path.join(run.ROOT, "tools", "oracle_check.py"),
         out, run.DATA], capture_output=True, text=True).stdout.splitlines()
    verdict = {}
    for line in oracle:
        parts = line.split()
        if len(parts) > 1 and parts[0] in ("PASS", "FAIL"):
            verdict[parts[1].rstrip(":")] = parts[0]
    digests = {}
    res = subprocess.run(java + ["perfbench.Main", "digest", out, *gates],
                         capture_output=True, text=True, check=True)
    for line in res.stdout.splitlines():
        if "\t" in line:
            name, digest = line.split("\t")
            digests[name] = digest
    bad = 0
    for g in gates:
        o = verdict.get(g, "no oracle")
        same = digests.get(g) == expected[g]
        bad += (o == "FAIL") + (not same)
        print(f"{g:32s} oracle {o:9s} digest {'matches' if same else 'DIFFERS'}")
    shutil.rmtree(work, ignore_errors=True)
    print(f"{len(gates)} gates, {sum(v == 'PASS' for k, v in verdict.items() if k in expected)}"
          f" oracle-backed and passing, {bad} problem(s)")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
