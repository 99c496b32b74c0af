#!/usr/bin/env python3
"""The repository benchmark: one workload per call, in a fresh JVM.

    python3 graftbench/run.py --workload etl_star --seed 1 --seconds 20 --trace 0

Run from the repository root. Compiles the engine and the benchmark if
needed (graftbench/build.py), then runs graftbench.Main on local[cpus].
Prints `# ...` information lines (environment, tail latency, failures,
self times) and, as the last line, one JSON object with `correct`,
`attempted`, `failed` and `metrics`. Exits non-zero without a result
when the build or the run fails.

Other modes:
    --self-test   show that the correctness gate catches perturbed outputs
    --record      re-record graftbench/expected.json from the current engine
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
sys.path.insert(0, HERE)
import build  # noqa: E402

ROOT = build.ROOT
WORK = os.path.join(build.BUILD, "work")
DEADLINE_S = 170  # a run must end within 180 s

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def heap_mb():
    """A quarter of RAM, between 1 and 4 GiB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return max(1024, min(4096, kb // 1024 // 4))
    except (OSError, StopIteration):
        return 2048


def commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
                           timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def steal_seconds():
    """CPU time the hypervisor took from this machine, all cpus (Linux)."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return float("nan")


def jvm_command(classes, tag, args):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    return [build.java(), "-Xmx%dm" % heap_mb(), "-XX:ReservedCodeCacheSize=1g", *opens,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Djava.io.tmpdir=" + tmp,
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Dgraftbench.commit=" + commit(), "-Dgraftbench.source=" + tag,
            "-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
            "graftbench.Main", *args]


def run_jvm(cmd):
    """Runs the JVM in its own process group; returns (code, stdout lines)."""
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print("[graftbench] run exceeded %d s and was stopped" % DEADLINE_S, file=sys.stderr)
        return 1, []
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out.splitlines()


def is_result(line):
    try:
        r = json.loads(line)
    except ValueError:
        return False
    return isinstance(r, dict) and set(r) == {"correct", "attempted", "failed", "metrics"}


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    if not (a.workload or a.self_test or a.record):
        ap.error("--workload is required")

    try:
        classes, tag = build.build()
    except build.BuildError as e:
        print("[graftbench] build failed: %s" % e, file=sys.stderr)
        return 2

    # Inputs and Spark scratch space of the previous run are not reused.
    for d in ("inputs", "spark-local", "etl-out", "tmp", "warehouse"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    # Seed-independent inputs are kept per build digest, for the most
    # recently used builds.
    cache = os.path.join(build.BUILD, "cache", tag)
    os.makedirs(cache, exist_ok=True)
    build.keep_recent(cache, os.path.join(build.BUILD, "cache", "*"))
    args = ["--work", WORK, "--cache", cache, "--expected", os.path.join(HERE, "expected.json"),
            "--cpus", str(cpus()), "--seed", str(a.seed)]
    if a.self_test:
        args += ["--self-test"]
    elif a.record:
        args += ["--record"]
    else:
        args += ["--workload", a.workload, "--seconds", str(a.seconds), "--trace", str(a.trace)]
    t0, steal0 = time.time(), steal_seconds()
    code, lines = run_jvm(jvm_command(classes, tag, args))
    steal = steal_seconds() - steal0
    for d in ("inputs", "spark-local", "etl-out", "tmp"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    if a.self_test or a.record:
        print("\n".join(lines))
        return code
    ok = code == 0 and lines and is_result(lines[-1])
    print("\n".join(l for l in lines if not is_result(l)))
    print("# run %.1f s, jvm exit %d, host steal %.1f cpu-s" % (time.time() - t0, code, steal))
    if not ok:
        print("[graftbench] no result: jvm exit code %d" % code, file=sys.stderr)
        return 1
    print(lines[-1])
    return 0


if __name__ == "__main__":
    sys.exit(main())
