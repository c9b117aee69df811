#!/usr/bin/env python3
"""graft's benchmark: one run of one workload.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. The first run builds graft and the
harness from source with sbt (perfbench/build.sbt); later runs reuse the
build while no source changed. Every file the run writes stays under
`.bench_build/` in the checkout.

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics of
BENCHMARK.json with `--trace 0`, its per-layer metrics with `--trace 1`.
The command exits 1 when any output check failed (`correct` is false).
A traced run also leaves its spans in `.bench_build/perfbench/trace-*.json`.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
DATA = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected", "digests.tsv")
WORKLOADS = ("dashboard", "curation", "live_ingest")
# JDK 17 module opens Spark needs outside spark-submit (as graft's build.sbt).
OPENS = [f"--add-opens={m}=ALL-UNNAMED" for m in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")]
# A run must end within 180 s, or 900 s when it also builds.
RUN_LIMIT_S = 172
BUILD_LIMIT_S = 880


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    for top in ("build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src"):
        path = os.path.join(ROOT, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, cwd, limit_s, stdout, stderr, env=None):
    """Runs cmd in its own process group; kills the group on timeout and
    waits for it, so nothing outlives the run."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=stderr, env=env,
                         start_new_session=True)
    try:
        p.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    return p.returncode


def build():
    """Compiles graft and the harness unless the build is current; returns
    the runtime classpath and whether this call built it."""
    stamp = source_stamp()
    cp_file = os.path.join(OUT, "classpath.txt")
    stamp_file = os.path.join(OUT, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), False
    log = os.path.join(OUT, "build.log")
    with open(log, "w") as out:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "compile",
                        "export Runtime/fullClasspath"],
                       HERE, BUILD_LIMIT_S, out, subprocess.STDOUT)
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    if rc != 0 or not lines or os.pathsep not in lines[-1]:
        fail(f"build failed (exit {rc}); see {log}")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1], True


def cpu_times():
    """Total and stolen CPU jiffies of the host, or None off Linux. Steal is
    time the hypervisor gave to other tenants; it slows every timing."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return sum(fields), fields[7] if len(fields) > 7 else 0


def declared(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-digests", metavar="PATH",
                    help="also write every gate's digest to PATH")
    args = ap.parse_args()
    started = time.time()

    for need in ("build.sbt", "src/main/scala/graft", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a graft checkout")
    for tool in ("sbt", "java"):
        if shutil.which(tool) is None:
            fail(f"{tool} not on PATH")
    os.makedirs(OUT, exist_ok=True)
    classpath, built = build()

    work = os.path.join(OUT, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    trace_file = os.path.join(OUT, f"trace-{args.workload}-{args.seed}.json")
    cores = len(os.sched_getaffinity(0))
    cmd = ["java", *OPENS, "-Xmx3g", f"-Djava.io.tmpdir={work}/tmp",
           "-cp", classpath, "perfbench.Main", args.workload, str(args.seed),
           str(args.seconds), str(args.trace), str(cores), DATA, work,
           EXPECTED, trace_file]
    if args.record_digests:
        cmd.append(os.path.abspath(args.record_digests))
    stdout_path = os.path.join(work, "stdout.log")
    stderr_path = os.path.join(OUT, f"stderr-{args.workload}.log")
    limit = (BUILD_LIMIT_S if built else RUN_LIMIT_S) - (time.time() - started)
    cpu0 = cpu_times()
    with open(stdout_path, "w") as out, open(stderr_path, "w") as err:
        rc = run_group(cmd, ROOT, max(limit, 30), out, err)
    cpu1 = cpu_times()
    with open(stdout_path) as f:
        lines = f.read().splitlines()
    shutil.rmtree(work, ignore_errors=True)
    if rc is None:
        fail(f"run exceeded its time limit; see {stderr_path}")
    result = next((json.loads(l[len("PERFBENCH "):]) for l in reversed(lines)
                   if l.startswith("PERFBENCH ")), None)
    if rc != 0 or result is None:
        fail(f"harness exited {rc} without a result; see {stderr_path}")
    for l in lines:
        if l.startswith("[perfbench]"):
            print(l)
    if cpu0 and cpu1 and cpu1[0] > cpu0[0]:
        steal = (cpu1[1] - cpu0[1]) / (cpu1[0] - cpu0[0])
        print(f"[perfbench] host CPU steal during the run: {steal:.1%}")
    names = declared(args.trace == 1)
    if sorted(result["metrics"]) != sorted(names):
        fail("harness metrics differ from BENCHMARK.json: "
             f"{sorted(set(result['metrics']) ^ set(names))}")
    if not result["correct"]:
        print(f"[perfbench] OUTPUT CHECK FAILED: {result['failed']} of "
              f"{result['attempted']} attempts failed")
    metrics = {n: result["metrics"][n] for n in names}
    for n, m in metrics.items():
        print(f"[perfbench] {args.workload} {n} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": result["correct"],
                      "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    # A failed output check fails the command, after its result is printed.
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
