#!/usr/bin/env python3
"""Seeded benchmark of the transcript search engine (see README.md).

    python3 perfbench/run.py --workload serve_short --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root. The first run compiles the engine and the
benchmark (build.py); every run then starts one JVM that generates the
workload's inputs from the seed, drives the engine through its public calls,
checks the answers and prints one JSON result as the last line of stdout.
"""
import argparse
import os
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("serve_short", "serve_bulk")
# a run must end within 180 s; leave the JVM a margin for its shutdown
RUN_LIMIT_S = 170
# the first run of a build may take longer: it also writes the class-data
# sharing archive when the JVM exits
FIRST_RUN_LIMIT_S = 600
# Spark 4 on JDK 17 outside spark-submit needs these module openings
# (org.apache.spark.launcher.JavaModuleOptions)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def java_cmd(jar, main, args, cds=None):
    tmp = os.path.join(build.ROOT, ".bench_build", "tmp")
    os.makedirs(tmp, exist_ok=True)
    # JVM log lines (class-data sharing warnings among them) go to stderr,
    # so the result stays the last line of stdout; the heap is fixed and
    # touched at start, so no measured phase grows it or pays its
    # first-touch page faults
    return (["java", "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", "-XX:+UseTransparentHugePages", "-Xlog:disable", "-Xlog:all=warning:stderr",
             f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + ADD_OPENS + (cds or [])
            + ["-cp", os.pathsep.join(build.classpath(jar)), main] + args)


def sharing_archive(jar):
    """JVM flags for the class-data sharing archive of this jar. It halves
    JVM and Spark start-up and shortens the first build's class loading. The
    first run of a build writes it when it exits (no metric covers the JVM's
    start); every later run maps it. Returns (flags, archive being written
    or None)."""
    archive = jar[:-len(".jar")] + ".jsa"
    if os.path.isfile(archive):
        return [f"-XX:SharedArchiveFile={archive}"], None
    return [f"-XX:ArchiveClassesAtExit={archive}.tmp"], archive


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def run_jvm(cmd, limit_s):
    """Run the JVM in its own process group; kill the group on overrun or
    when this process is terminated, and wait for it to end."""
    signal.signal(signal.SIGTERM, _terminate)
    p = subprocess.Popen(cmd, cwd=build.ROOT, start_new_session=True)
    try:
        return p.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        print(f"perfbench: run exceeded {limit_s} s", file=sys.stderr)
        return 3
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1))
    ap.add_argument("--selftest", action="store_true",
                    help="run the generator and statistics self-tests instead")
    a = ap.parse_args()
    jar = build.build()
    if a.selftest:
        return run_jvm(java_cmd(jar, "perfbench.SelfTest", []), RUN_LIMIT_S)
    if None in (a.workload, a.seed, a.seconds, a.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")
    if a.seconds < 1:
        ap.error("--seconds must be >= 1")
    cds, writing = sharing_archive(jar)
    rc = run_jvm(java_cmd(jar, "perfbench.Main",
                          ["--workload", a.workload, "--seed", str(a.seed),
                           "--seconds", str(a.seconds), "--trace", str(a.trace)], cds),
                 FIRST_RUN_LIMIT_S if writing else RUN_LIMIT_S)
    if writing and rc == 0 and os.path.isfile(writing + ".tmp"):
        os.replace(writing + ".tmp", writing)
    return rc


if __name__ == "__main__":
    sys.exit(main())
