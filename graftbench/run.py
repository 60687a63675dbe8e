#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: search_waves, search_costly, analytics.

On first use it builds the benchmark (the repository's main sources plus
graftbench/src, with sbt) into graftbench/out/. Then it runs the driver JVM
on the tables in graftbench/data/sf0.01, relays its report, and prints the
driver's result object as the last line of standard output.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
CLASSPATH_FILE = os.path.join(OUT, "classpath.txt")
# The seed-42 scale-0.01 tables the registry's oracle check runs on.
DATA = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected_fingerprints.txt")
HEAP = "2g"
RUN_TIMEOUT_S = 170
# The module openings Spark needs on JDK 17 (as in the repository's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_checked(cmd, timeout, **kw):
    """Runs cmd to completion (killing it on timeout); returns its stdout.
    Standard error goes to graftbench/out/stderr.log unless redirected."""
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "stderr.log"), "w") as log:
        kw.setdefault("stderr", log)
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, **kw)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.communicate()
            fail(f"timed out after {timeout}s: {' '.join(cmd[:3])} ...")
    if proc.returncode != 0:
        sys.stdout.write(out)
        fail(f"exit code {proc.returncode}: {' '.join(cmd[:3])} ... (see graftbench/out/stderr.log)")
    return out


def build():
    """Compiles the benchmark once per checkout and records its classpath."""
    if os.path.exists(CLASSPATH_FILE):
        return
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # TMPDIR keeps sbt's launcher files inside the checkout too.
    env = dict(os.environ, COURSIER_MODE="offline", TMPDIR=tmp)
    env["SBT_OPTS"] = (env.get("SBT_OPTS") or (
        "-Dsbt.server.autostart=false -Dsbt.override.build.repos=true -Dsbt.repository.config="
        + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g")
        + f" -Djava.io.tmpdir={tmp}")
    out = run_checked(["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                      timeout=600, cwd=HERE, env=env, stderr=subprocess.STDOUT)
    cp = out.strip().splitlines()[-1].strip()
    if "graftbench" not in cp or ":" not in cp:
        sys.stdout.write(out)
        fail("could not read the classpath from sbt")
    os.makedirs(OUT, exist_ok=True)
    with open(CLASSPATH_FILE, "w") as f:
        f.write(cp)


def java_cmd(cores, *args):
    with open(CLASSPATH_FILE) as f:
        cp = f.read().strip()
    opens = [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", f"-Xmx{HEAP}", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
             "-Dlog4j2.level=ERROR"] + opens
            + ["-cp", cp, "graftbench.Main", "--cores", str(cores), "--out", OUT] + list(args))


def git_head():
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown (not a git checkout)"
    except (OSError, subprocess.SubprocessError):
        return "unknown (not a git checkout)"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--record-fingerprints", action="store_true",
                    help="fingerprint every analytics row and rewrite the expected file")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the repository sources (src/main/scala/graft) are not next to graftbench/")
    if not os.path.exists(os.path.join(DATA, "lineitem.parquet")):
        fail(f"the analytics tables are missing from {DATA}")
    cores = len(os.sched_getaffinity(0))
    build()
    shutil.rmtree(os.path.join(OUT, "tmp"), ignore_errors=True)
    if a.record_fingerprints:
        sys.stdout.write(run_checked(java_cmd(cores, "--record", EXPECTED, "--data", DATA),
                                     timeout=900))
        return
    out = run_checked(java_cmd(cores, "--workload", a.workload, "--seed", str(a.seed),
                               "--seconds", str(a.seconds), "--trace", a.trace,
                               "--data", DATA, "--expected", EXPECTED, "--head", git_head()),
                      timeout=RUN_TIMEOUT_S)
    shutil.rmtree(os.path.join(OUT, "tmp"), ignore_errors=True)
    lines = out.strip().splitlines()
    result = json.loads(lines[-1])
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
