#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Run from the repository root. Builds the program and the benchmark from
source into .bench_build/ (once per source state), then runs one workload
in a single JVM (perfbench.Main). Everything the run writes stays under
.bench_build/; the work directory is removed at the end. The last stdout
line is the result JSON; a failed output check exits non-zero.
"""
import argparse
import hashlib
import os
import signal
import subprocess
import sys
import shutil
import time

WORKLOADS = ["etl_incremental", "bulk_backfill", "curation_ann", "stream_admission"]
RUN_BUDGET_S = 170  # input generation plus the measured JVM, after the build
INPUT_CACHE = 12
DEADLINE = 0.0
OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
SOURCES = ["src/main/scala", "src/main/resources", "perfbench/src", "perfbench/build.sh"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    for root in SOURCES:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def spark_home():
    """The Spark distribution whose jars (Scala compiler included) build and run
    the program: SPARK_HOME, else the one `spark-submit` on PATH belongs to."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = submit and os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark distribution: set SPARK_HOME or put its bin/ on PATH")
    return home


def build():
    if not os.path.isdir("src/main/scala") or not os.path.isfile("perfbench/build.sh"):
        fail("program sources not found: run from the repository root of a full checkout")
    out = os.path.join(".bench_build", "perfbench-" + source_stamp())
    if not os.path.isdir(os.path.join(out, "classes")):
        print(f"perfbench: building into {out}", file=sys.stderr)
        r = subprocess.run(["bash", "perfbench/build.sh", out], stdout=sys.stderr,
                           env=dict(os.environ, SPARK_HOME=spark_home()))
        if r.returncode != 0:
            fail(f"build failed (exit {r.returncode})")
        for old in os.listdir(".bench_build"):
            if old.startswith("perfbench-") and os.path.join(".bench_build", old) != out:
                shutil.rmtree(os.path.join(".bench_build", old), ignore_errors=True)
    return os.path.join(out, "classes")


def prepare_inputs(classes, build_dir, workload, seed, work, log_path):
    """Seeded inputs, generated once per (source state, workload, seed) in a
    JVM of their own; the most recent INPUT_CACHE sets are kept."""
    cache = os.path.join(build_dir, "inputs")
    inputs = os.path.join(cache, f"{workload}-seed{seed}")
    if not os.path.isfile(os.path.join(inputs, "READY")):
        shutil.rmtree(inputs, ignore_errors=True)
        code, out = java(classes, "perfbench.GenMain",
                         ["--workload", workload, "--seed", str(seed), "--inputs", inputs, "--work", work],
                         work, False, log_path)
        if code != 0:
            fail(f"input generation failed (exit {code}); log: {log_path}")
        sys.stdout.write(out)
        open(os.path.join(inputs, "READY"), "w").close()
    os.utime(inputs)
    sets = sorted((os.path.getmtime(os.path.join(cache, d)), d) for d in os.listdir(cache))
    for _, old in sets[:-INPUT_CACHE]:
        shutil.rmtree(os.path.join(cache, old), ignore_errors=True)
    return inputs


def java(classes, main, args, work, trace, log_path, append=False):
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    props = [
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}",
        f"-Dderby.system.home={work}",
    ]
    if trace:
        props.append("-Dspark.sql.queryExecutionListeners=perfbench.CatalystListener")
    # a fixed heap and young generation keep peak RSS comparable between runs
    # no hsperfdata file: the JVM would write it outside the checkout
    cmd = (["java", "-XX:-UsePerfData", "-XX:+UseParallelGC", "-Xms2g", "-Xmx2g", "-Xmn512m", "-Xss16m"] + OPENS + props +
           ["-cp", f"{classes}:{spark_home()}/jars/*", main] + args)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(log_path, "a" if append else "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, env=env,
                                text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=max(1.0, DEADLINE - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"run exceeded {RUN_BUDGET_S} s; log: {log_path}")
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        fail("--workload is required")

    classes = build()
    global DEADLINE
    DEADLINE = time.monotonic() + RUN_BUDGET_S
    build_dir = os.path.dirname(classes)
    results = os.path.join(".bench_build", "results")
    # one fixed work directory: the generated config names warehouse paths in it
    work = os.path.abspath(os.path.join(".bench_build", "work"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(results, exist_ok=True)
    os.makedirs(work, exist_ok=True)
    try:
        if a.self_test:
            code, out = java(classes, "perfbench.StatsCheck", [], work, False,
                             os.path.join(results, "self-test.log"))
            sys.stdout.write(out)
            sys.exit(code)
        tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
        log_path = os.path.join(results, tag + ".log")
        inputs = prepare_inputs(classes, build_dir, a.workload, a.seed, work, log_path)
        code, out = java(classes, "perfbench.Main",
                         ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                          "--trace", str(a.trace), "--inputs", inputs, "--work", work, "--out", results],
                         work, a.trace == 1, log_path, append=True)
        lines = out.rstrip("\n").split("\n") if out else []
        result = lines[-1] if lines and lines[-1].startswith('{"correct"') else None
        for line in lines[:-1] if result else lines:
            print(line)
        if result is None:
            with open(log_path) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            fail(f"no result line (exit {code}); log: {log_path}")
        print(result)
        if code != 0:  # keep the failed run's log beside the next run's
            shutil.copy(log_path, os.path.join(results, f"{tag}-failed-{int(time.time())}.log"))
        sys.exit(0 if code == 0 else 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
