#!/usr/bin/env python3
"""CDC pipeline benchmark: one command, one JVM, one workload per run.

    python3 perfbench/run.py --workload populate|serving --seed N \
        --seconds S --trace 0|1 [--scale full|smoke] [--corrupt-digest]

Run from the root of a checkout. The first run builds the harness together
with the program's sources (sbt, offline) into perfbench/target; later runs
reuse that build until a source file changes. The last line of standard
output is one JSON object with keys correct, attempted, failed and metrics:
the end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
The exit code is 0 only when every output checked correct.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
TARGET = BENCH / "target"
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
CLASSPATH = TARGET / "bench-classpath.txt"
STAMP = TARGET / "bench-build.stamp"
RUN_TIMEOUT_S = 170  # a run must end within 180 s; subprocess.run kills the JVM at the timeout

# Spark 4 on JDK 17 outside spark-submit needs these (the program's own
# build passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

# Each operation plans and code-generates fresh Spark queries, so at the
# default thresholds the JIT is still compiling after ~20 populate batches
# (batches drift from 2.0 s to 1.3 s). Lower thresholds let a run reach its
# steady state within the warm-up the run budget allows.
JIT = ["-XX:Tier3InvocationThreshold=50", "-XX:Tier3CompileThreshold=200",
       "-XX:Tier4InvocationThreshold=300", "-XX:Tier4CompileThreshold=600",
       "-XX:+UseParallelGC"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(os.path.realpath(submit)).parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        fail("no Spark distribution found: set SPARK_HOME")
    return home


def source_stamp():
    """Hash of every input of the build, so an edit forces a rebuild."""
    h = hashlib.sha256()
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (PROGRAM_SRC, BENCH / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(env):
    stamp = source_stamp()
    if CLASSPATH.is_file() and STAMP.is_file() and STAMP.read_text() == stamp:
        return CLASSPATH.read_text().strip()
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        opts += " -Dsbt.offline=true"
    sbt_env = dict(env, SBT_OPTS=opts.strip(), COURSIER_MODE="offline")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "printClasspath"],
        cwd=BENCH, env=sbt_env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-6000:])
        fail("build failed", proc.returncode or 1)
    found = [l[len("CLASSPATH="):] for l in proc.stdout.splitlines() if l.startswith("CLASSPATH=")]
    if not found:
        fail("build printed no classpath")
    TARGET.mkdir(parents=True, exist_ok=True)
    CLASSPATH.write_text(found[-1] + "\n")
    STAMP.write_text(stamp)
    return found[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["populate", "serving"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "smoke"], default="full")
    ap.add_argument("--corrupt-digest", action="store_true",
                    help="perturb the expected digests; the run must then fail")
    args = ap.parse_args()

    if not PROGRAM_SRC.is_dir():
        fail(f"program sources not found at {PROGRAM_SRC.relative_to(ROOT)}; "
             "run from the root of a full checkout")
    env = dict(os.environ, SPARK_HOME=spark_home())
    classpath = build(env)

    work = TARGET / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={work / 'tmp'}"] + JIT
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--scale", args.scale, "--work", str(work),
            "--spans", str(TARGET / "traces" / f"{args.workload}-seed{args.seed}.jsonl")]
    if args.corrupt_digest:
        cmd.append("--corrupt-digest")
    try:
        proc = subprocess.run(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True,
                              timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"the run did not finish within {RUN_TIMEOUT_S} s", 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = proc.stdout.splitlines()
    result = next((l for l in reversed(lines) if l.startswith('{"correct"')), None)
    for l in lines:
        if l is not result:
            print(l)
    if result is None:
        fail(f"the run printed no result (exit {proc.returncode})", proc.returncode or 1)
    print(result, flush=True)
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
