#!/usr/bin/env python3
"""Repo benchmark: the grocery and retail ETL chains, timed end to end and
per layer.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test [--seed <n>]

Workloads: grocery_ok, warehouse_jdbc, pipeline_faults (see README.md).

The first call builds the engine and the harness from source with sbt
(perfbench/build.sbt) and records the classpath; later calls reuse the
build while the sources are unchanged. Each call then starts one JVM,
which sets up the workload (setup_s: process start to session ready and
inputs prepared), runs it closed-loop for --seconds and at least the
workload's fixed number of runs, and checks its outputs.

The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. The lines before it are
a readable report. The exit code is 1 when an output check fails, and 2
when the build or the run could not complete (then no JSON is printed).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CLASSPATH_FILE = os.path.join(WORK, "classpath")
STAMP_FILE = os.path.join(WORK, "build.stamp")

BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 150
INITIAL_HEAP = "2g"

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
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def host_settings():
    """Cores and heap the way the repo's Tier-1 command derives them:
    nproc, and half of MemTotal clamped to 2..8 GiB."""
    cores = len(os.sched_getaffinity(0))
    heap_g = 2
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    heap_g = min(8, max(2, int(line.split()[1]) // 2097152))
    except OSError:
        pass
    return cores, f"{heap_g}g"


def source_files():
    roots = [os.path.join(HERE, "src"), os.path.join(ROOT, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties"),
             os.path.join(ROOT, "build.sbt")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt unless the recorded build matches the sources."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail("engine sources not found next to perfbench/ (run from a checkout of the repo)")
    stamp = fingerprint()
    if os.path.isfile(STAMP_FILE) and os.path.isfile(CLASSPATH_FILE):
        with open(STAMP_FILE) as f:
            if f.read().strip() == stamp:
                with open(CLASSPATH_FILE) as c:
                    return c.read().strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(WORK, "build.log")
    t0 = time.monotonic()
    with open(log, "w") as out:
        proc = subprocess.run(
            [sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S, text=True)
        out.write(proc.stdout)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        fail(f"build failed (log: {log})")
    cp = [ln for ln in proc.stdout.splitlines()
          if os.pathsep in ln and ".jar" in ln and not ln.startswith("[")]
    if not cp:
        fail(f"build printed no classpath (log: {log})")
    with open(CLASSPATH_FILE, "w") as f:
        f.write(cp[-1].strip())
    with open(STAMP_FILE, "w") as f:
        f.write(stamp)
    print(f"perfbench: built in {time.monotonic() - t0:.1f} s", file=sys.stderr)
    return cp[-1].strip()


def java_cmd(classpath, heap, extra):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # a fixed initial heap keeps G1 from resizing it through the first runs
    return [java, *opens, f"-Xms{INITIAL_HEAP}", f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}",
            "-cp", classpath, "perfbench.Main", *extra]


def run_jvm(cmd, log_name):
    """Start one benchmark JVM; return (seconds to READY, result dict or None,
    other PERFBENCH lines). The process is always waited for."""
    log = os.path.join(WORK, log_name)
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    ready_s, result, lines = None, None, []
    with open(log, "w") as err:
        t0 = time.monotonic()
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                                stderr=err, stdin=subprocess.DEVNULL, text=True)
        watchdog = threading.Timer(RUN_TIMEOUT_S, proc.kill)
        watchdog.start()
        try:
            for line in proc.stdout:
                if line.startswith("PERFBENCH READY"):
                    ready_s = time.monotonic() - t0
                elif line.startswith("PERFBENCH RESULT "):
                    result = json.loads(line[len("PERFBENCH RESULT "):])
                elif line.startswith("PERFBENCH "):
                    lines.append(line[len("PERFBENCH "):].rstrip())
            proc.wait()
        finally:
            watchdog.cancel()
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if proc.returncode != 0 and not lines:
        with open(log) as f:
            sys.stderr.write(f.read()[-3000:])
    return ready_s, result, lines, proc.returncode


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def report(workload, res, setup_s):
    print(f"workload {workload}: {res['runs']} runs ({res['warm_runs']} warm), "
          f"{res['attempted']} operations, {res['failed']} failed")
    e2e = res["e2e"]
    print(f"  setup_s     {setup_s:.3f} s  (1 sample)")
    print(f"  cold_run_s  {e2e['cold_run_s']:.3f} s  (1 sample); every run: "
          + " ".join(f"{x:.3f}" for x in res["run_samples_s"]))
    print(f"  run_s       {e2e['run_s']:.3f} s  (median of {res['warm_runs']} warm runs)"
          + "".join(f", {k} {v:.3f} s" for k, v in res["run_tail_s"].items()))
    print(f"  rows_per_s  {e2e['rows_per_s']:.1f} 1/s")
    print(f"  verdict_s   {e2e['verdict_s']:.4f} s  (median of {res['verdict_samples']} verdicts)"
          + "".join(f", {k} {v:.4f} s" for k, v in res["verdict_tail_s"].items()))
    print(f"  error_ratio {res['error_ratio']:.4f}  ({res['failed']}/{res['attempted']})")
    if workload == "pipeline_faults":
        c = res["counters"]
        print(f"  wrong_verdict_ratio {res['wrong_verdict_ratio']:.4f}  "
              f"({int(c.get('wrong_verdicts', 0))}/{int(c.get('scenario_runs', 0))}), "
              f"failure events {int(c.get('failure_events', 0))} "
              f"({int(c.get('invalid_failure_events', 0))} invalid JSON), "
              f"retries {int(c.get('retries', 0))}")
    for e in res["errors"]:
        print(f"  error: {e}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    os.makedirs(WORK, exist_ok=True)
    classpath = build()
    cores, heap = host_settings()
    jvm_work = os.path.join(WORK, "jvm")

    def fresh_work():
        shutil.rmtree(jvm_work, ignore_errors=True)
        os.makedirs(jvm_work)

    common = ["--seed", str(a.seed), "--work", jvm_work, "--cores", str(cores)]
    if a.self_test:
        fresh_work()
        _, _, lines, code = run_jvm(java_cmd(classpath, heap, ["--self-test", *common]),
                                    "selftest.log")
        print("\n".join(lines))
        sys.exit(0 if code == 0 and lines else 1)

    spec = load_spec()
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload!r}")
    args = ["--workload", a.workload, "--seconds", str(a.seconds),
            "--trace", str(a.trace), *common]
    fresh_work()
    setup_s, res, _, code = run_jvm(java_cmd(classpath, heap, args), "run.log")
    if setup_s is None or res is None or code != 0:
        fail(f"run failed (log: {os.path.join(WORK, 'run.log')})")
    shutil.rmtree(jvm_work, ignore_errors=True)

    report(a.workload, res, setup_s)
    if a.trace:
        layers = res["layers"]
        print(f"  tracing overhead {layers['tracing_overhead_ratio']:+.3f} "
              f"(median traced run ÷ median untraced run − 1), "
              f"misattributed jobs {int(layers['misattributed_jobs'])}")
        wanted = spec["per_layer"]
        values = {m["name"]: layers.get(m["name"], 0.0) for m in wanted}
    else:
        wanted = spec["end_to_end"]
        values = dict(res["e2e"], setup_s=setup_s)
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    correct = res["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
