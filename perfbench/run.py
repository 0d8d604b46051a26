#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload ann_serve_ingest --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark's Scala program with sbt on first use
(or when a source file changed), then runs it in one JVM on local[nproc].
Prints its report and, as the last line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. Exits non-zero without a
result line when the build or the run fails. Everything it writes lands
under the build directory ($CARGO_TARGET_DIR, default .bench_build) and
perfbench/target, inside the checkout.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("ann_serve_ingest", "text_curate")
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark 4 on JDK 17 outside spark-submit needs these opens (the same
# list as the engine's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found: set SPARK_HOME")
    return home


def build(build_dir, env):
    """Compile once per source state; returns the runtime classpath."""
    stamp = os.path.join(build_dir, "build.stamp")
    cp_file = os.path.join(build_dir, "classpath.txt")
    digest = source_hash()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                with open(cp_file) as cf:
                    return cf.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    log = os.path.join(build_dir, "build.log")
    tmp = os.path.join(build_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    benv = dict(env)
    benv["SBT_OPTS"] = (env.get("SBT_OPTS", "") + f" -Djava.io.tmpdir={tmp}"
                        f" -Djna.tmpdir={tmp}").strip()
    with open(log, "w") as fh:
        code = run_bounded(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                           HERE, benv, fh, subprocess.STDOUT, BUILD_TIMEOUT_S)
    if code != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"build failed (exit {code}); log: {log}")
    with open(os.path.join(HERE, "target", "classpath.txt")) as fh:
        cp = fh.read().strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return cp


def run_bounded(cmd, cwd, env, stdout, stderr, timeout):
    """Run `cmd` in its own process group; kill the group on timeout and
    wait for it, so nothing outlives this script."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr,
                            start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def expected_metrics(trace):
    """Metric names BENCHMARK.json promises for this kind of run."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        spec = json.load(fh)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found under {os.path.relpath(ENGINE_SRC, os.getcwd())}")
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    cp = build(build_dir, env)

    work = os.path.join(build_dir, "work", str(os.getpid()))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    log = os.path.join(build_dir, "logs", f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work,
            "--out", os.path.join(build_dir, "results")]
    out_path = os.path.join(work, "stdout.txt")
    try:
        with open(out_path, "w") as out, open(log, "w") as err:
            code = run_bounded(cmd, ROOT, env, out, err, RUN_TIMEOUT_S)
        with open(out_path) as fh:
            lines = fh.read().splitlines()
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s; log: {log}")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    results = [l[len("RESULT "):] for l in lines if l.startswith("RESULT ")]
    for l in lines:
        if not l.startswith("RESULT "):
            print(l)
    if code != 0 or len(results) != 1:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"run failed (exit {code}); log: {log}")
    result = json.loads(results[0])
    want = expected_metrics(a.trace)
    if want is not None and sorted(result["metrics"]) != sorted(want):
        fail("metrics differ from BENCHMARK.json: "
             f"{sorted(set(result['metrics']) ^ set(want))}")
    sys.stdout.flush()
    print(json.dumps(result, separators=(",", ":")))


if __name__ == "__main__":
    main()
