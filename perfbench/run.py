#!/usr/bin/env python3
"""Runs one workload of graft's pipeline benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Builds the program from source (perfbench/build.py), runs the workload in
one JVM with a local Spark session, and prints the result JSON object as the
last line of standard output. Everything the run writes stays under
`.bench_build/` in the checkout and is removed afterwards, apart from the
compiled classes.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ["detect_curate", "stream_intake"]
# the whole run, build excluded, must end well inside three minutes
RUN_TIMEOUT_S = 170
# Spark on JDK 17 needs these when not launched through spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def java_cmd(cp, work, main, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    return ([shutil.which("java") or "java", "-Xms3g", "-Xmx3g",
             "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             "-Dspark.ui.enabled=false", "-cp", cp] + opens + [main] + args)


def run_java(cmd, timeout):
    """Run the JVM, pass its output through, return (code, result line)."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    results = []

    def relay():
        for line in proc.stdout:
            line = line.rstrip("\n")
            try:
                obj = json.loads(line)
            except ValueError:
                obj = None
            if isinstance(obj, dict) and "correct" in obj:
                results.append(line)
            else:
                print(line, flush=True)

    reader = threading.Thread(target=relay, daemon=True)
    reader.start()
    try:
        code = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        print(f"run: timed out after {timeout} s", file=sys.stderr)
        proc.kill()
        code = 124
    proc.wait()
    reader.join(timeout=10)
    return code, (results[-1] if results else None)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    # multiplies the input sizes; for scaling checks, not for benchmark runs
    ap.add_argument("--scale", type=float, default=1.0)
    a = ap.parse_args()
    if not a.self_test and (a.workload is None or a.seed is None
                            or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    build_dir = os.path.join(ROOT, ".bench_build")
    cp = build.build(build_dir)
    work = os.path.join(build_dir, "work", f"{a.workload or 'self-test'}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    try:
        if a.self_test:
            code, _ = run_java(java_cmd(cp, work, "perfbench.SelfTest", []),
                               RUN_TIMEOUT_S)
            return code
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--work", work, "--scale", str(a.scale)]
        code, result = run_java(java_cmd(cp, work, "perfbench.Main", args),
                                RUN_TIMEOUT_S)
        if code != 0 or result is None:
            print(f"run: workload failed (exit {code})", file=sys.stderr)
            return code or 1
        print(result, flush=True)
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
