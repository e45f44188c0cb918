#!/usr/bin/env python3
"""Outside-in cycle benchmark of the graft pipeline engine.

Builds the engine and the benchmark from source (perfbench/build.py), then runs
one workload in a single JVM with one local Spark session. The last line of
standard output is the JSON result.

Usage, from the root of a checkout:
  python3 perfbench/run.py --workload backfill|poll --seed N --seconds S --trace 0|1
  python3 perfbench/run.py --selftest     # the output checks must catch sabotage
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
HERE = os.path.dirname(os.path.abspath(__file__))


def run_jvm(classpath, bench_args, tag):
    """Runs one benchmark JVM in a fresh work dir; returns (exit code, stdout lines)."""
    work = os.path.abspath(os.path.join(build.BUILD_DIR, "work", f"{tag}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", "-Xmx3g", "-Xss8m",
           f"-Djava.io.tmpdir={work}/tmp",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graft.perfbench.PerfBench",
            "--work", work, "--out", os.path.abspath(os.path.join(build.BUILD_DIR, "out"))]
    cmd += bench_args
    lines = []
    try:
        with subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True) as proc:
            for line in proc.stdout:
                sys.stdout.write(line)
                sys.stdout.flush()
                lines.append(line.rstrip("\n"))
            code = proc.wait()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return code, lines


def result_of(lines):
    try:
        r = json.loads(lines[-1])
        return r if set(r) == {"correct", "attempted", "failed", "metrics"} else None
    except (IndexError, ValueError):
        return None


def selftest(classpath):
    """The checks must pass on clean tiny runs and fail on sabotaged ones."""
    cases = [
        ("backfill", "0", "none", True), ("backfill", "1", "none", True),
        ("backfill", "0", "sink-file", False),
        ("poll", "0", "none", True), ("poll", "1", "none", True),
        ("poll", "0", "duplicate-batch", False),
    ]
    ok = True
    for workload, trace, sabotage, want_clean in cases:
        code, lines = run_jvm(classpath, [
            "--workload", workload, "--seed", "7", "--seconds", "1",
            "--trace", trace, "--convs", "300", "--delta-convs", "20",
            "--sabotage", sabotage], f"selftest-{workload}")
        r = result_of(lines) if code == 0 else None
        good = r is not None and (r["failed"] == 0) == want_clean
        ok &= good
        print(f"selftest {workload} trace={trace} sabotage={sabotage}: "
              f"{'ok' if good else 'WRONG'} ({r and r['failed']} of "
              f"{r and r['attempted']} operations failed)")
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=["backfill", "poll"])
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    classpath = build.build()
    if a.selftest:
        return selftest(classpath)
    if a.workload is None or a.seed is None or a.seconds is None:
        ap.error("--workload, --seed and --seconds are required")
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace]
    code, lines = run_jvm(classpath, args, a.workload)
    if code == 0 and result_of(lines) is None:
        print("perfbench: the run printed no result", file=sys.stderr)
        return 1
    return code


if __name__ == "__main__":
    sys.exit(main())
