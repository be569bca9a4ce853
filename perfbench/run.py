#!/usr/bin/env python3
"""Run one benchmark workload from the repository root.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test

Builds the program and the benchmark from source when needed (build.py),
runs the workload in one JVM, and prints its result as the last line of
standard output: {"correct", "attempted", "failed", "metrics"}. With
--trace 1 the metrics are the per-layer ones and the spans are written to
<build dir>/trace/. Exits non-zero, printing no result, if anything fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
import build  # noqa: E402

TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def java(main, args, tmp):
    classes = build.build()
    cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
    flags = [f for p in ADD_OPENS for f in ("--add-opens", p + "=ALL-UNNAMED")]
    cmd = (["java"] + flags + [
        "--add-modules", "jdk.incubator.vector",
        "-Xmx3g", "-Xss8m",
        "-Djava.io.tmpdir=" + tmp,
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, main] + args)
    return subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                            start_new_session=True)


def wait(proc):
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, 9)
        proc.communicate()
        raise SystemExit("perfbench: run exceeded %d s" % TIMEOUT_S)
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", help="analytics: write the result hashes to this file")
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()

    out_dir = build.build_dir()
    tmp = os.path.join(out_dir, "tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    try:
        if a.self_test:
            code, out = wait(java("perfbench.SelfTest", [], tmp))
            sys.stdout.write(out)
            sys.exit(code)
        if not a.workload:
            ap.error("--workload is required")
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--out", out_dir, "--home", build.HERE]
        if a.record:
            args += ["--record", os.path.abspath(a.record)]
        code, out = wait(java("perfbench.Main", args, tmp))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    lines = out.splitlines()
    result = None
    for line in reversed(lines):
        try:
            obj = json.loads(line)
        except ValueError:
            continue
        if isinstance(obj, dict) and set(obj) == {"correct", "attempted", "failed", "metrics"}:
            result = line
            break
    for line in lines:
        if line != result:
            print(line, file=sys.stderr)
    if code != 0 or result is None:
        raise SystemExit("perfbench: the run failed (exit %d)" % code)
    print(result)


if __name__ == "__main__":
    main()
