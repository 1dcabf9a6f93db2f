#!/usr/bin/env python3
"""Benchmark entry point for the fancyragspark library.

    python3 perfbench/run.py --workload build_fresh --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run in a checkout builds the library
and the benchmark program with sbt (offline); later runs reuse that build as
long as no source file changed. Each run then starts one JVM that generates
its inputs from the seed, runs the workload, checks the outputs and writes
its result. The last line printed is the result as JSON.

Everything the run writes stays under .bench_build/ and the sbt target
directories of this checkout.
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
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("build_fresh", "build_fresh_noversion", "build_incremental", "ask_serving")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# The JDK 17 module opens Spark needs outside spark-submit; the same list as
# the library's build.sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Hash of every input of the build, to know when to rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def classpath():
    """Build with sbt when sources changed; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("library sources (build.sbt, src/main/scala) not found next to perfbench/")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    os.makedirs(STATE, exist_ok=True)
    digest = source_digest()
    stamp = os.path.join(STATE, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            saved = json.load(f)
        if saved.get("digest") == digest:
            return saved["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           "compile", "export Runtime/fullClasspath"]
    log_path = os.path.join(STATE, "build.log")
    with open(log_path, "w") as log:
        try:
            out = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log,
                                 text=True, timeout=BUILD_TIMEOUT_S, start_new_session=True)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log_path}")
        log.write(out.stdout)
    lines = [l for l in out.stdout.splitlines() if l.startswith("/")]
    if out.returncode != 0 or not lines:
        fail(f"build failed; see {log_path}")
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": lines[-1]}, f)
    return lines[-1]


def run_jvm(cp, args, work):
    result = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        "-Xmx4g",
        "-XX:ReservedCodeCacheSize=1g",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
        "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--work", work, "--result", result,
    ]
    log_path = os.path.join(STATE, "last-run.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log, text=True,
                                start_new_session=True)

        def stop():
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()

        def on_signal(*_):
            stop()
            sys.exit(1)

        # a run that is itself stopped takes its JVM with it
        signal.signal(signal.SIGTERM, on_signal)
        signal.signal(signal.SIGINT, on_signal)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            stop()
            fail(f"run exceeded {RUN_TIMEOUT_S} s; see {log_path}")
    sys.stdout.write(out)
    if proc.returncode != 0 or not os.path.exists(result):
        fail(f"benchmark program exited with {proc.returncode}; see {log_path}")
    with open(result) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    cp = classpath()
    work = os.path.join(STATE, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    res = run_jvm(cp, args, work)
    for p in res.get("problems", []):
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    if args.trace:
        shutil.copy(os.path.join(work, "spans.jsonl"), os.path.join(STATE, "spans.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
