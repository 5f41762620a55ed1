#!/usr/bin/env python3
"""Service benchmark of the engine.

Usage, from the root of a checkout:
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
  python3 perfbench/run.py --workload all [--seed N] [--seconds S]

NAME is one of dashboard_read, live_service, corpus_index (BENCHMARK.json
names the first two; corpus_index runs by hand, and its phase also runs in
the traced dashboard_read).
The first run builds the engine and the benchmark (perfbench/build.py).
The run prints a report (every metric with its unit and sample count, the
output checks, the input properties and the environment) and, as its last
line, one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the per-layer
ones. `--workload all` runs every workload untraced and traced and prints
every metric. Everything it writes stays under .bench_build/perfbench.
"""
import argparse
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
WORKLOADS = ["dashboard_read", "live_service", "corpus_index"]
TIMEOUT_S = 170

sys.path.insert(0, HERE)
import build  # noqa: E402

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def revision():
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], stdout=subprocess.PIPE,
                              stderr=subprocess.DEVNULL, text=True, check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return "sources-sha256:" + build.digest(build.sources())[:16]


def run_one(classes, workload, seed, seconds, trace, extra):
    """Runs one workload in its own JVM; returns (exit code, stdout lines)."""
    stem = f"{workload}-seed{seed}-trace{trace}-{os.getpid()}"
    work = os.path.join(OUT, "work", stem)
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d))
    os.makedirs(os.path.join(OUT, "logs"), exist_ok=True)
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars", "*")
    # -XX:-UsePerfData: the JVM would otherwise write its counters under /tmp
    cmd = (["java", "-Xmx2g", "-XX:+UseG1GC", "-XX:-UsePerfData"] +
           [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={work}/spark-local", f"-Dspark.sql.warehouse.dir={work}/warehouse",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.driver.host=127.0.0.1",
            "-Dspark.driver.bindAddress=127.0.0.1",
            # bounded job/stage history, so the after-GC heap is the engine's, not the status store's
            "-Dspark.ui.retainedJobs=100", "-Dspark.ui.retainedStages=100", "-Dspark.ui.retainedTasks=2000",
            "-Dspark.sql.ui.retainedExecutions=50",
            "-cp", os.pathsep.join([classes, jars]), "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", work] + extra)
    env = dict(os.environ, PERFBENCH_REVISION=revision())
    log_path = os.path.join(OUT, "logs", stem + ".log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=log,
                                text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            out = ""
            print(f"perfbench: {workload} did not finish within {TIMEOUT_S} s", file=sys.stderr)
            proc.returncode = 124
    shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
    return proc.returncode, out.splitlines()


def result_of(lines):
    """The result object from the last line, or None if it is not one."""
    if not lines:
        return None
    try:
        res = json.loads(lines[-1])
    except ValueError:
        return None
    keys = {"correct", "attempted", "failed", "metrics"}
    return res if isinstance(res, dict) and set(res) == keys else None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true", help="small inputs (self-test size)")
    ap.add_argument("--selftest", action="store_true",
                    help="also require every output check to fail on a wrong expectation")
    a = ap.parse_args()
    extra = (["--tiny"] if a.tiny else []) + (["--selftest"] if a.selftest else [])
    try:
        classes = build.build(OUT)
    except SystemExit as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    if a.workload == "all":
        worst = 0
        for w in WORKLOADS:
            for trace in (0, 1):
                t0 = time.time()
                code, lines = run_one(classes, w, a.seed, a.seconds, trace, extra)
                res = result_of(lines)
                print("\n".join(lines[:-1] if res else lines))
                print(f"# {w} trace={trace}: exit {code}, {time.time() - t0:.1f} s, "
                      f"correct={res and res['correct']}\n")
                worst = max(worst, code if res else 1)
        return worst

    code, lines = run_one(classes, a.workload, a.seed, a.seconds, a.trace, extra)
    res = result_of(lines)
    if res is None:
        print("\n".join(lines))
        print("perfbench: the run printed no result", file=sys.stderr)
        return code or 1
    print("\n".join(lines[:-1]))
    print(json.dumps(res, separators=(",", ":")))
    return code


if __name__ == "__main__":
    sys.exit(main())
