#!/usr/bin/env python3
"""Run one workload of the CDC-apply benchmark.

    python3 applybench/run.py --workload stream-fresh --seed 1 --seconds 10 --trace 0
    python3 applybench/run.py --selftest

Run from the repository root. Builds the engine (src/main) together with the
benchmark harness (applybench/src) with sbt when any source changed, then runs
the workload in one JVM. The last line of stdout is the result JSON; the full
report and traced spans go to applybench/out/<workload>-seed<n>-trace<t>/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = os.path.join(ROOT, "src", "main")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "applybench.stamp")
WORKLOADS = ("replay-bulk", "stream-fresh", "config-ops")
HEAP = "3g"
RUN_DEADLINE_S = 170
BUILD_DEADLINE_S = 840
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"applybench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    """$SPARK_HOME, or the Spark install that spark-submit on PATH belongs to."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return home


def source_files():
    files = []
    for top in (ENGINE, os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        for d, _, names in os.walk(top):
            if os.path.basename(d) == "target" or "/target/" in d + "/":
                continue
            files += [os.path.join(d, n) for n in names]
    return sorted(files + [os.path.join(HERE, "build.sbt")])


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    if not os.path.isdir(os.path.join(ENGINE, "scala")):
        fail(f"engine sources not found under {os.path.relpath(ENGINE)}; run from the repository root")
    want = digest(source_files())
    if os.path.exists(STAMP) and open(STAMP).read() == want and os.path.isdir(CLASSES):
        return
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    print("applybench: building engine + benchmark with sbt", file=sys.stderr)
    proc = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                            cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    stop_on_signal(proc)
    try:
        rc = proc.wait(timeout=BUILD_DEADLINE_S)
    except subprocess.TimeoutExpired:
        stop(proc)
        fail("build timed out")
    if rc != 0:
        fail(f"build failed (sbt exit {rc})")
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(STAMP, "w") as fh:
        fh.write(want)


def stop(proc):
    """Kill the child's whole process group and wait for it to end."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def stop_on_signal(proc):
    """If this runner is terminated, take the child (and its group) with it."""
    def handler(signum, _frame):
        stop(proc)
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, handler)
    signal.signal(signal.SIGINT, handler)


def java_cmd(main_args, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cp = os.pathsep.join([CLASSES, os.path.join(spark_home(), "jars", "*")])
    return cmd + ["-cp", cp, "applybench.Main"] + main_args


def run_jvm(main_args, work, timers):
    """Runs applybench.Main; `timers` turns on the engine's own GRAFT_TIMING
    timers, which a traced run records as spans."""
    env = {k: v for k, v in os.environ.items() if k != "GRAFT_TIMING"}
    if timers:
        env["GRAFT_TIMING"] = "1"
    proc = subprocess.Popen(java_cmd(main_args, work), cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True, start_new_session=True)
    stop_on_signal(proc)
    try:
        stdout, _ = proc.communicate(timeout=RUN_DEADLINE_S)
    except subprocess.TimeoutExpired:
        stop(proc)
        fail("run exceeded its deadline", code=3)
    return proc.returncode, stdout


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if not args.selftest and args.workload is None:
        ap.error("--workload is required")
    build()
    work = os.path.join(HERE, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if args.selftest:
            rc, stdout = run_jvm(["--selftest", "1", "--work", work], work, timers=True)
            sys.stdout.write(stdout)
            sys.exit(rc)
        out = os.path.join(HERE, "out", f"{args.workload}-seed{args.seed}-trace{args.trace}")
        launched = str(int(time.time() * 1000))
        rc, stdout = run_jvm(["--workload", args.workload, "--seed", str(args.seed),
                              "--seconds", str(args.seconds), "--trace", str(args.trace),
                              "--work", work, "--out", out, "--launched-ms", launched], work,
                             timers=args.trace == 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.startswith("RESULT ")]
    if not lines:
        fail(f"no result from the run (exit {rc})", code=rc or 1)
    result = json.loads(lines[-1][len("RESULT "):])
    print(json.dumps(result))
    sys.exit(0 if rc == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()
