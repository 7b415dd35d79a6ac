#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The first call compiles the engine and
the benchmark (perfbench/build.py); later calls reuse the classes until a
source changes. Everything the run writes stays under the checkout:
`.bench_build/` (classes), `.bench_work/run/` (inputs, lake, warehouse,
Spark scratch; wiped at the start of every run) and
`.bench_work/records/` (one JSON record and one log per run).
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

HEAP = "3g"
# Spark 4 on JDK 17 outside spark-submit needs these (the list build.sbt uses)
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
RUN_TIMEOUT_S = 170


def task_slots():
    """Leave one core to the Spark driver thread, JIT and GC threads."""
    return max(1, (os.cpu_count() or 2) - 1)


def java_cmd(root, cp, work, main, args):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
             "-XX:-UsePerfData"]
            + opens + [f"-Djava.io.tmpdir={tmp}", "-cp", cp, main] + args)


def run_jvm(cmd, root, log_path, timeout):
    """Run the JVM in its own process group; stdout lines are returned,
    stderr goes to `log_path`. Kills the whole group on timeout."""
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE, stderr=log,
                                env=env, start_new_session=True, text=True)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.communicate()
            raise SystemExit(f"perfbench: run exceeded {timeout} s; log: {log_path}")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    return proc.returncode, out.splitlines()


def tail(path, n=40):
    with open(path) as fh:
        return "".join(fh.readlines()[-n:])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    root = os.getcwd()
    cp = build.build(root)
    work_root = os.path.join(root, ".bench_work")
    work = os.path.join(work_root, "run")
    records = os.path.join(work_root, "records")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(records, exist_ok=True)

    if a.selftest:
        log = os.path.join(records, "selftest.log")
        code, lines = run_jvm(java_cmd(root, cp, work, "perfbench.SelfTest",
                                       ["--work", work, "--root", root]),
                              root, log, RUN_TIMEOUT_S)
        print("\n".join(lines))
        if code != 0:
            sys.stderr.write(tail(log))
        sys.exit(code)

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    log = os.path.join(records, tag + ".log")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--slots", str(task_slots()),
            "--heap", HEAP, "--record", os.path.join(records, tag + ".json")]
    code, lines = run_jvm(java_cmd(root, cp, work, "perfbench.Main", args),
                          root, log, RUN_TIMEOUT_S)
    result = None
    if code == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stderr.write(tail(log))
        raise SystemExit(f"perfbench: run failed (exit {code}); log: {log}")
    shutil.rmtree(work, ignore_errors=True)
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
